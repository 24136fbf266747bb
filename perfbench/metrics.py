"""Output checks, spans and metrics for perfbench/run.py.

The JVM harness writes raw observations (`events.jsonl`, and for ingest the
committed rows); everything here is computed from them after the JVM has
exited, so none of it is timed.
"""
import datetime
import hashlib
import json
import math
import os
import re
import statistics

import numpy as np

# end-to-end metrics, reported by every workload (see README.md)
E2E_UNITS = {"setup_s": "s", "p50_ms": "ms", "tail_ms": "ms", "total_s": "s"}
LAYER_UNITS = {
    "operators.build_s": "s", "operators.build_self_s": "s",
    "operators.build_jobs": "count", "operators.build_share": "frac",
    "catalyst.plan_s": "s",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.driver_gap_s": "s", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.failed_tasks": "count",
    "sources.recv_ms_p50": "ms", "sources.recv_ms_p99": "ms",
    "sources.kernel_drops": "count", "sources.queue_ms_p50": "ms",
    "sources.queue_ms_p99": "ms", "sources.log_depth_max": "count",
    "sources.capped_batches": "count", "sources.rows_per_batch_p50": "count",
    "stream.batches": "count", "stream.idle_frac": "frac",
    "stream.trigger_ms_p50": "ms", "stream.trigger_ms_p99": "ms",
    "stream.planning_ms_p50": "ms", "stream.addbatch_ms_p50": "ms",
    "stream.addbatch_ms_p99": "ms", "stream.wal_ms_p50": "ms",
    "stream.batch_self_ms_p50": "ms",
    "gen.late_ms_p99": "ms", "box.floor_ms": "ms", "box.cpu_ms": "ms", "box.steal_pct": "%",
    "trace.overhead_pct": "%", "jvm.cpu_s": "s", "jvm.peak_rss_mb": "MB",
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# the order in which a micro-batch runs its timed phases
STREAM_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets"]
CAP_ROWS = 1000  # the program's default admission cap (rows per batch)


def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def med(xs):
    return float(statistics.median(xs)) if len(xs) else 0.0


def union_us(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Spans:
    """Spans of one traced run: name, start, end (µs since the epoch),
    parent and the key or batch they belong to."""

    def __init__(self):
        self.rows = []

    def add(self, name, start, end, parent=None, **attrs):
        self.rows.append(dict(id=len(self.rows), name=name, start_us=int(start),
                              end_us=int(end), parent=parent, **attrs))
        return len(self.rows) - 1

    def write(self, path):
        kids = {}
        for s in self.rows:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
        with open(path, "w") as fh:
            for s in self.rows:
                covered = union_us(kids.get(s["id"], []), s["start_us"], s["end_us"])
                s["self_us"] = s["end_us"] - s["start_us"] - covered
                fh.write(json.dumps(s) + "\n")


def _add_stages(acc, stages):
    """Add the task totals of `stages` to the exec.* metrics in `acc`."""
    acc["exec.stages"] += len(stages)
    acc["exec.tasks"] += sum(s["tasks"] for s in stages)
    acc["exec.task_run_s"] += sum(s["run_ms"] for s in stages) / 1e3
    acc["exec.task_cpu_s"] += sum(s["cpu_ns"] for s in stages) / 1e9
    acc["exec.gc_s"] += sum(s["gc_ms"] for s in stages) / 1e3
    acc["exec.shuffle_read_mb"] += sum(s["shuffle_read_b"] for s in stages) / 2**20
    acc["exec.shuffle_write_mb"] += sum(s["shuffle_write_b"] for s in stages) / 2**20
    acc["exec.spill_mb"] += sum(s["spill_b"] for s in stages) / 2**20


def _by(events, kind):
    return [e for e in events if e["ev"] == kind]


def _one(events, kind):
    found = _by(events, kind)
    return found[0] if found else {}


def _resources(events):
    r, box = _one(events, "resources"), _one(events, "box")
    return ({"cpu_s": r.get("cpu_s", 0.0), "peak_rss_mb": r.get("peak_rss_kb", 0) / 1024},
            {"floor_ms": box.get("floor_ms"), "cpu_ms": box.get("cpu_ms"),
             "spark": box.get("spark")})


def _layer(values):
    out = {k: 0.0 for k in LAYER_UNITS}
    out.update(values)
    return {k: {"value": round(float(v), 6), "unit": LAYER_UNITS[k]} for k, v in out.items()}


def _e2e(values):
    return {k: {"value": round(float(values[k]), 6), "unit": u} for k, u in E2E_UNITS.items()}


# ---- SQL -----------------------------------------------------------------

def _norm_cell(v):
    """scripts/selfcheck.py's cell normalisation"""
    import pandas as pd
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime().replace(tzinfo=None).isoformat(timespec="microseconds")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (int, bool, str)):
        return v
    if isinstance(v, np.ndarray):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, np.bool_):
        return bool(v)
    return str(v)


def _content(df):
    """row count and order-insensitive content hash of a result"""
    df = df[sorted(df.columns)]
    rows = sorted(repr(tuple(_norm_cell(v) for v in r)) for r in df.itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()


def check_sql(events, work, data, here):
    """Check every key's output: against the DuckDB oracle when the key has
    one, else against the schema and row count recorded in
    expected_schema.json (both keys group by event type, so the count does
    not depend on the seed). Returns {key: failure reason or None}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(here, "expected_schema.json")) as fh:
        schemas = json.load(fh)
    out = {}
    for e in _by(events, "check"):
        k = e["key"]
        if not e["ok"]:
            out[k] = e.get("error", "failed")
            continue
        try:
            spark_df = con.execute(f"SELECT * FROM '{work}/out/{k}/*.parquet'").df()
            if e.get("oracle"):
                duck_df = con.execute(e["oracle"]).df()
                if sorted(spark_df.columns) != sorted(duck_df.columns):
                    out[k] = f"columns {sorted(spark_df.columns)} != {sorted(duck_df.columns)}"
                    continue
                kinds = [c for c in spark_df.columns
                         if spark_df[c].dtype.kind != duck_df[c].dtype.kind]
                got, want = _content(spark_df), _content(duck_df)
                if kinds:
                    out[k] = f"dtype kinds differ in {kinds}"
                elif got != want:
                    out[k] = f"rows/hash {got[0]}/{got[1][:12]} != oracle {want[0]}/{want[1][:12]}"
                else:
                    out[k] = None
            else:
                schema = [list(r[:2]) for r in con.execute(
                    f"DESCRIBE SELECT * FROM '{work}/out/{k}/*.parquet'").fetchall()]
                want = schemas.get(k)
                if want is None:
                    out[k] = "no expected schema recorded"
                elif schema != want["columns"]:
                    out[k] = f"schema {schema} != {want['columns']}"
                elif len(spark_df) != want["rows"]:
                    out[k] = f"{len(spark_df)} rows, expected {want['rows']}"
                else:
                    out[k] = None
        except Exception as ex:  # a broken output is a failed check
            out[k] = f"check error: {ex}"
    return out


def _pass_totals(runs):
    out = {}
    for r in runs:
        out[r["pass"]] = out.get(r["pass"], 0.0) + (r["t2_us"] - r["t0_us"]) / 1e6
    return [round(out[p], 3) for p in sorted(out)]


def sql_metrics(events, checks, keys, trace):
    runs = _by(events, "key")
    failures = {k: why for k, why in checks.items() if why}
    for k in keys:
        if k not in checks:
            failures[k] = "no check result"
    for r in runs:
        if r.get("error"):
            failures.setdefault(r["key"], r["error"])
    ok = [k for k in keys if k not in failures]
    res, box = _resources(events)
    setup_s = _one(events, "setup").get("setup_s", 0.0)

    def per_key(rs):
        by = {}
        for r in rs:
            if r["key"] in ok:
                by.setdefault(r["key"], []).append((r["t2_us"] - r["t0_us"]) / 1e6)
        return {k: med(v) for k, v in by.items()}

    plain = per_key([r for r in runs if not r["traced"]])
    times = list(plain.values())
    named = {"setup_s": setup_s, "session_s": _one(events, "setup").get("session_s", 0.0),
             "suite_s": sum(times), "query_p50_s": med(times),
             "query_p90_s": pct(times, 90), "failed_frac": len(failures) / len(keys),
             "cpu_s": res["cpu_s"], "peak_rss_mb": res["peak_rss_mb"],
             "pass_s": _pass_totals(runs), "key_s": {k: round(v, 3) for k, v in plain.items()}}
    out = {"correct": not failures, "attempted": len(keys), "failed": len(failures),
           "failures": sorted(f"{k}: {v}" for k, v in failures.items()),
           "named": named, "box": box}
    if not trace:
        out["metrics"] = _e2e({"setup_s": setup_s, "p50_ms": named["query_p50_s"] * 1e3,
                               "tail_ms": named["query_p90_s"] * 1e3,
                               "total_s": named["suite_s"]})
        return out
    spans, layer = sql_spans([r for r in runs if r["traced"] and r["key"] in ok], events)
    pass_totals = {}
    for r in runs:
        pass_totals.setdefault((r["pass"], r["traced"]), 0.0)
        pass_totals[(r["pass"], r["traced"])] += (r["t2_us"] - r["t0_us"]) / 1e6
    traced = [v for (p, t), v in pass_totals.items() if t]
    untraced = [v for (p, t), v in pass_totals.items() if not t]
    if traced and untraced:
        layer["trace.overhead_pct"] = (med(traced) / med(untraced) - 1) * 100
    layer["box.floor_ms"], layer["box.cpu_ms"] = box["floor_ms"], box["cpu_ms"]
    layer["jvm.cpu_s"], layer["jvm.peak_rss_mb"] = res["cpu_s"], res["peak_rss_mb"]
    out["metrics"] = _layer(layer)
    out["spans"] = spans
    return out


def sql_spans(runs, events):
    """Spans of the traced passes (key > build | plan | exec > job) and the
    per-layer metrics, averaged over traced passes."""
    spans = Spans()
    jobs = [(j["start_ms"] * 1000, j["end_ms"] * 1000, j["id"]) for j in _by(events, "job")]
    stages = _by(events, "stage")
    qes = [e for e in _by(events, "qe") if e["phases"]]
    fails = [f["time_ms"] * 1000 for f in _by(events, "task_fail")]
    acc = {k: 0.0 for k in LAYER_UNITS}
    n_pass = len({r["pass"] for r in runs}) or 1
    key_total = 0.0
    for r in runs:
        t0, t1, t2 = r["t0_us"], r["t1_us"], r["t2_us"]
        key_total += (t2 - t0) / 1e6
        kid = spans.add("key", t0, t2, key=r["key"], **{"pass": r["pass"]})
        bid = spans.add("build", t0, t1, kid, key=r["key"])
        # the write's own query execution: planned after the frame is built
        mine = [q for q in qes if t1 / 1000 - 1 <= min(p[1] for p in q["phases"]) <= t2 / 1000]
        plan_end = t1
        for q in mine:
            ps, pe = min(p[1] for p in q["phases"]) * 1000, max(p[2] for p in q["phases"]) * 1000
            spans.add("plan", max(ps, t1), min(pe, t2), kid, key=r["key"])
            acc["catalyst.plan_s"] += (min(pe, t2) - max(ps, t1)) / 1e6
            plan_end = max(plan_end, min(pe, t2))
        eid = spans.add("exec", plan_end, t2, kid, key=r["key"])
        build_jobs = []
        for js, je, jid in jobs:
            if t0 / 1000 - 1 <= js / 1000 <= t2 / 1000:
                in_build = js < t1
                spans.add("job", js, je, bid if in_build else eid, key=r["key"], job=jid)
                if in_build:
                    build_jobs.append((js, je))
                    acc["operators.build_jobs"] += 1
                else:
                    acc["exec.jobs"] += 1
        acc["operators.build_s"] += (t1 - t0) / 1e6
        acc["operators.build_self_s"] += (t1 - t0 - union_us(build_jobs, t0, t1)) / 1e6
        acc["exec.wall_s"] += (t2 - plan_end) / 1e6
        ex = [s for s in stages if plan_end / 1000 - 1 <= s["submit_ms"] <= t2 / 1000]
        _add_stages(acc, ex)
        acc["exec.failed_tasks"] += sum(1 for f in fails if plan_end <= f <= t2)
        busy = union_us([(s["submit_ms"] * 1000, s["done_ms"] * 1000) for s in ex], plan_end, t2)
        acc["exec.driver_gap_s"] += (t2 - plan_end - busy) / 1e6
    layer = {k: v / n_pass for k, v in acc.items() if v}
    layer["operators.build_share"] = acc["operators.build_s"] / key_total if key_total else 0.0
    return spans, layer


# ---- ingest --------------------------------------------------------------

_SEQ = re.compile(r"^seq=(\d+) due=(\d+)")


def _epoch_ms(iso):
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000


def _offset(v):
    return 0 if v is None else int(str(v).strip('"'))


def ingest_metrics(events, work, kernel_drops, trace):
    with open(os.path.join(work, "gen.json")) as fh:
        gen = json.load(fh)
    recs = {r[0]: r for r in gen["records"]}
    warm = _one(events, "setup").get("warm_rows", 0)
    setup_s = _one(events, "setup").get("setup_s", 0.0)
    t0_ms = _one(events, "load_start").get("t0_ms", 0)
    res, box = _resources(events)

    # output checks: every committed row was sent, appears once and parsed
    # to what the generator encoded
    seen, bad = {}, []
    with open(os.path.join(work, "rows.jsonl")) as fh:
        rows = [json.loads(l) for l in fh if l.strip()]
    for row in rows:
        m = _SEQ.match(row["message"] or "")
        if not m:
            if not (row["message"] or "").startswith("warmup="):
                bad.append(f"unexpected row {row['message'][:60]!r}")
            continue
        seq = int(m.group(1))
        rec = recs.get(seq)
        if rec is None or rec[1] != int(m.group(2)):
            bad.append(f"seq {seq} was not sent")
        elif seq in seen:
            bad.append(f"seq {seq} committed twice")
        elif (row["severity"], row["categories"]) != (rec[3], rec[4]):
            bad.append(f"seq {seq} parsed to {row['severity']}/{row['categories']}, "
                       f"sent {rec[3]}/{rec[4]}")
        else:
            seen[seq] = row["ts_us"]
    sent = gen["sent"]

    # micro-batches after the warm-up, with the offsets each one read
    batches = []
    for e in _by(events, "progress"):
        p = e["progress"]
        src = p["sources"][0]
        b = {"id": p["batchId"], "start_ms": _epoch_ms(p["timestamp"]),
             "rows": p["numInputRows"], "d": p.get("durationMs", {}),
             "from": _offset(src.get("startOffset")), "to": _offset(src.get("endOffset")),
             "latest": _offset(src.get("latestOffset"))}
        b["end_ms"] = b["start_ms"] + b["d"].get("triggerExecution", 0)
        if b["rows"] > 0 and b["to"] > warm:
            batches.append(b)
    batches.sort(key=lambda b: b["id"])

    # rows reach the source's log in send order (one sender, one socket,
    # loopback), so the n-th committed row after the warm-up sits at offset
    # warm + n; the batch whose offset range holds it committed it
    lat, recv, queue, last_commit = [], [], [], {}
    order = sorted(seen)
    bi = 0
    for n, seq in enumerate(order):
        off = warm + n
        while bi < len(batches) and batches[bi]["to"] <= off:
            bi += 1
        if bi == len(batches) or batches[bi]["from"] > off:
            bad.append(f"seq {seq} at offset {off} is in no batch")
            continue
        b = batches[bi]
        rec = recs[seq]
        lat.append(b["end_ms"] - rec[1] / 1000)
        recv.append((seen[seq] - rec[2]) / 1000)
        queue.append(b["start_ms"] - seen[seq] / 1000)
        group = int((rec[1] / 1000 - t0_ms) // 30000)  # one burst per 30 s
        last_commit[group] = max(last_commit.get(group, 0), b["end_ms"])
    last_due = {}
    for r in gen["records"]:
        g = int((r[1] / 1000 - t0_ms) // 30000)
        last_due[g] = max(last_due.get(g, 0), r[1] / 1000)
    drains = [(last_commit[g] - last_due[g]) / 1000 for g in last_commit]

    good = len(seen)
    failures = bad[:]
    if good < sent:
        failures.append(f"{sent - good} of {sent} datagrams not committed")
    setup = _one(events, "setup")
    named = {"setup_s": setup_s, "session_s": setup.get("session_s", 0.0),
             "setup_idle_ms": setup.get("align_ms", 0) + setup.get("tick_wait_ms", 0),
             "lat_p50_ms": med(lat), "lat_p99_ms": pct(lat, 99),
             "drain_s": med(drains), "failed_frac": (sent - good + len(bad)) / sent,
             "cpu_s": res["cpu_s"], "peak_rss_mb": res["peak_rss_mb"],
             "sent": sent, "committed": good, "batches": len(batches),
             "gen_late_ms_p99": gen["late_ms_p99"]}
    out = {"correct": not bad, "attempted": sent,
           "failed": min(sent, sent - good + len(bad)), "failures": failures,
           "named": named, "box": box}
    if not trace:
        out["metrics"] = _e2e({"setup_s": setup_s, "p50_ms": named["lat_p50_ms"],
                               "tail_ms": named["lat_p99_ms"], "total_s": named["drain_s"]})
        return out

    spans = Spans()
    jobs = [(j["start_ms"] * 1000, j["end_ms"] * 1000, j["id"]) for j in _by(events, "job")]
    stages = _by(events, "stage")
    fails = [f["time_ms"] * 1000 for f in _by(events, "task_fail")]
    acc = {k: 0.0 for k in LAYER_UNITS}
    selfs, traced_trig, plain_trig, n_traced = [], [], [], 0
    for b in batches:
        s, e = b["start_ms"] * 1000, b["end_ms"] * 1000
        bid = spans.add("batch", s, e, batch=b["id"], rows=b["rows"])
        t, kids = s, {}
        for ph in STREAM_PHASES + sorted(set(b["d"]) - set(STREAM_PHASES) - {"triggerExecution"}):
            if ph in b["d"]:
                kids[ph] = spans.add(ph, t, t + b["d"][ph] * 1000, bid, batch=b["id"])
                t += b["d"][ph] * 1000
        selfs.append(b["d"].get("triggerExecution", 0) -
                     sum(v for k, v in b["d"].items() if k != "triggerExecution"))
        mine = [(js, je, jid) for js, je, jid in jobs if s <= js <= e]
        # the Spark listener is attached to odd batches only
        if b["id"] % 2 == 1:
            n_traced += 1
            traced_trig.append(b["d"].get("triggerExecution", 0))
            for js, je, jid in mine:
                spans.add("job", js, je, kids.get("addBatch", bid), batch=b["id"], job=jid)
            ex = [st for st in stages if s / 1000 - 1 <= st["submit_ms"] <= e / 1000]
            acc["exec.wall_s"] += b["d"].get("addBatch", 0) / 1e3
            acc["exec.jobs"] += len(mine)
            _add_stages(acc, ex)
            acc["exec.failed_tasks"] += sum(1 for f in fails if s <= f <= e)
            busy = union_us([(st["submit_ms"] * 1000, st["done_ms"] * 1000) for st in ex], s, e)
            acc["exec.driver_gap_s"] += (e - s - busy) / 1e6
        else:
            plain_trig.append(b["d"].get("triggerExecution", 0))
    # exec.* were seen on the traced half of the batches: scale to all
    scale = len(batches) / n_traced if n_traced else 0.0
    layer = {k: v * scale for k, v in acc.items() if v}
    d = lambda k: [b["d"].get(k, 0) for b in batches]  # noqa: E731
    busy_from = min((recs[s][2] / 1000 for s in order), default=t0_ms)
    busy_to = max((b["end_ms"] for b in batches), default=busy_from)
    layer.update({
        "catalyst.plan_s": sum(d("queryPlanning")) / 1e3,
        "sources.recv_ms_p50": med(recv), "sources.recv_ms_p99": pct(recv, 99),
        "sources.kernel_drops": kernel_drops,
        "sources.queue_ms_p50": med(queue), "sources.queue_ms_p99": pct(queue, 99),
        "sources.log_depth_max": max((b["latest"] - b["from"] for b in batches), default=0),
        "sources.capped_batches": sum(1 for b in batches
                                      if b["rows"] >= CAP_ROWS and b["latest"] > b["to"]),
        "sources.rows_per_batch_p50": med([b["rows"] for b in batches]),
        "stream.batches": len(batches),
        # backlog exists from the first measured datagram to the last commit
        "stream.idle_frac": 1 - sum(d("triggerExecution")) / max(busy_to - busy_from, 1),
        "stream.trigger_ms_p50": med(d("triggerExecution")),
        "stream.trigger_ms_p99": pct(d("triggerExecution"), 99),
        "stream.planning_ms_p50": med(d("queryPlanning")),
        "stream.addbatch_ms_p50": med(d("addBatch")),
        "stream.addbatch_ms_p99": pct(d("addBatch"), 99),
        "stream.wal_ms_p50": med(d("walCommit")),
        "stream.batch_self_ms_p50": med(selfs),
        "gen.late_ms_p99": gen["late_ms_p99"],
        "box.floor_ms": box["floor_ms"], "box.cpu_ms": box["cpu_ms"],
        "jvm.cpu_s": res["cpu_s"], "jvm.peak_rss_mb": res["peak_rss_mb"],
    })
    if traced_trig and plain_trig:
        layer["trace.overhead_pct"] = (med(traced_trig) / med(plain_trig) - 1) * 100
    out["metrics"] = _layer(layer)
    out["spans"] = spans
    return out
