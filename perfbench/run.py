#!/usr/bin/env python3
"""Benchmark of the syslog ingest engine, both halves: the declared SQL
queries over the log and corpus tables, and the UDP -> parse -> JDBC
ingest pipeline. See perfbench/README.md for workloads and metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) and keeps a copy of the compiled
classes under `.bench_build/<source digest>/`. The last line of stdout is
the result as one JSON object; the line before it stamps the box and
repeats every metric under the names the workload itself uses. The exit
code is non-zero when an output check fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

import metrics  # noqa: E402

# The SQL key subset is evenly spaced over the group's sorted key list
# (index floor(i * N / n)), so that one warm pass takes ~4 s on 4 cores and
# a whole run fits the time the benchmark is given.
WORKLOADS = {
    # Syslog, Relational, Bucketing, Aggregates, Windows, EventAnalytics,
    # Profiling, SketchTable and functions.Scalars: 10 of 115 keys
    "log-sql": {"kind": "sql", "keys": [
        "q_agg_approx_distinct", "q_agg_hll_union", "q_case_map", "q_except_all",
        "q_ip_funcs", "q_join_semi", "q_parse_sd_params", "q_severity_hourly",
        "q_udaf_topk", "q_win_moving_avg"]},
    "ingest-steady": {"kind": "ingest", "mode": "steady"},
    "ingest-burst": {"kind": "ingest", "mode": "burst"},
}

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# program's build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_HEAP = "-Xmx2g"
RUN_TIMEOUT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the build reads, so a cached build is reused
    only for the same sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "project"),):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, names in os.walk(d):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compile the program and the harness; return the runtime classpath.

    sbt compiles into `target/` directories that every build rewrites, so
    the class directories (every classpath entry inside the checkout) are
    copied into `.bench_build/<digest>/`, and the cached classpath names only
    those copies: a cached build always runs the classes compiled from the
    sources its digest names."""
    snap = os.path.join(ROOT, ".bench_build", digest)
    cp_file = os.path.join(snap, "classpath.txt")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.dirname(snap), exist_ok=True)
    log = os.path.join(os.path.dirname(snap), "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=fh, text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    with open(log, "a") as fh:
        fh.write(r.stdout)
    if r.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        fail(f"build failed, see {log}")
    tmp = snap + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = []
    for i, p in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.realpath(p).startswith(os.path.realpath(ROOT) + os.sep):
            name = f"{i}-{os.path.basename(p)}"
            (shutil.copytree if os.path.isdir(p) else shutil.copy2)(p, os.path.join(tmp, name))
            p = os.path.join(snap, name)
        cp.append(p)
    with open(os.path.join(tmp, "classpath.txt"), "w") as fh:
        fh.write(os.pathsep.join(cp))
    shutil.rmtree(snap, ignore_errors=True)
    os.replace(tmp, snap)
    return os.pathsep.join(cp)


def java_cmd(cp, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", JVM_HEAP, *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
             "-cp", cp, "perfbench.Harness"])


class Jvm:
    """The JVM under test, stopped and reaped whatever happens."""

    def __init__(self, cmd, work):
        self.out = open(os.path.join(work, "jvm.log"), "w")
        self.proc = subprocess.Popen(cmd, cwd=work, stdout=self.out,
                                     stderr=subprocess.STDOUT)

    def wait(self, timeout):
        try:
            return self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None

    def close(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.out.close()


def read_events(work):
    path = os.path.join(work, "events.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def jvm_tail(work):
    with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
        return "".join(fh.readlines()[-20:])


def run_sql(w, seed, seconds, trace, cp, work):
    import datagen
    data = os.path.join(work, "data")
    datagen.generate(data, seed)
    launch_ms = time.time() * 1000
    jvm = Jvm(java_cmd(cp, work) + ["sql", f"{launch_ms:.3f}", data, work,
                                    str(seconds), str(trace), *w["keys"]], work)
    try:
        rc = jvm.wait(RUN_TIMEOUT_S)
    finally:
        jvm.close()
    events = read_events(work)
    if rc != 0 or events is None:
        fail(f"harness exited with {rc}:\n{jvm_tail(work)}")
    checks = metrics.check_sql(events, work, data, HERE)
    return metrics.sql_metrics(events, checks, w["keys"], trace)


def udp_rcvbuf_errors():
    """The kernel's count of UDP datagrams dropped for a full receive buffer."""
    with open("/proc/net/snmp") as fh:
        rows = [l.split() for l in fh if l.startswith("Udp:")]
    return int(rows[1][rows[0].index("RcvbufErrors")])


def free_udp_port():
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def run_ingest(w, seed, seconds, trace, cp, work):
    port = free_udp_port()
    drops0 = udp_rcvbuf_errors()
    launch_ms = time.time() * 1000
    jvm = Jvm(java_cmd(cp, work) + ["ingest", f"{launch_ms:.3f}", work,
                                    str(seconds), str(trace), str(port)], work)
    gen = None
    try:
        ready = os.path.join(work, "ready.json")
        deadline = time.time() + 120
        while not os.path.exists(ready):
            if jvm.proc.poll() is not None or time.time() > deadline:
                fail(f"harness did not start the stream:\n{jvm_tail(work)}")
            time.sleep(0.02)
        t0_ms = json.load(open(ready))["t0_ms"]
        gen_out = os.path.join(work, "gen.json")
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"),
                                str(port), str(seed), w["mode"], str(t0_ms),
                                str(seconds), gen_out])
        if gen.wait(timeout=seconds + 60) != 0:
            fail("load generator failed")
        with open(os.path.join(work, "gen_done.tmp"), "w") as fh:
            json.dump({"sent": json.load(open(gen_out))["sent"]}, fh)
        os.replace(os.path.join(work, "gen_done.tmp"), os.path.join(work, "gen_done.json"))
        rc = jvm.wait(RUN_TIMEOUT_S)
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        jvm.close()
    events = read_events(work)
    if rc != 0 or events is None:
        fail(f"harness exited with {rc}:\n{jvm_tail(work)}")
    return metrics.ingest_metrics(events, work, udp_rcvbuf_errors() - drops0, trace)


def cpu_times():
    """(steal, total) jiffies over all CPUs since boot"""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def box_stamp(digest):
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for l in fh:
            if l.startswith("MemTotal:"):
                mem_kb = int(l.split()[1])
    jdk = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    m = re.search(r'version "([^"]+)"', jdk)
    head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                          text=True) if shutil.which("git") else None
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024,
            "jdk": m.group(1) if m else "unknown", "source_digest": digest,
            "git_head": head.stdout.strip() if head and head.returncode == 0 else None}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} holds no program sources (build.sbt, src/main/scala/graft)")
    digest = source_digest()
    cp = build(digest)
    w = WORKLOADS[a.workload]
    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        runner = run_sql if w["kind"] == "sql" else run_ingest
        steal0, total0 = cpu_times()
        res = runner(w, a.seed, a.seconds, a.trace, cp, work)
        steal1, total1 = cpu_times()
        # CPU time the hypervisor gave to other guests: host drift, measured
        res["box"]["steal_pct"] = 100 * (steal1 - steal0) / max(total1 - total0, 1)
        if a.trace:
            res["metrics"]["box.steal_pct"] = {"value": round(res["box"]["steal_pct"], 6),
                                               "unit": "%"}
        if a.trace:
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            res["spans"].write(os.path.join(out, f"spans-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "box": dict(box_stamp(digest), **res["box"]),
              "named": res["named"], "failures": res["failures"][:20]}
    print(json.dumps(detail))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.stdout.flush()
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
