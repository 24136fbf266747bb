#!/usr/bin/env bash
# Gate before ANY commit (and especially before an end-of-round snapshot):
# the tree must compile and the sf0.001 correctness loop must be green.
# Rounds 3 and 4 were lost to snapshotting a tree that didn't compile.
#
# Usage: scripts/precommit.sh [--full | --bench]
#   default: compile + sf0.001 Verify + selfcheck  (~2 min)
#   --full:  also sf0.01 Verify + selfcheck, the ScalaTest suite, and
#            the bench-regression gate (fresh sf0.1 bench vs the last
#            committed BENCH_LOCAL.json via benchdiff --factor auto —
#            fails on per-query regressions that survive both the
#            variance-range overlap and the global-factor strip)
#   --bench: the bench-regression gate alone (~6 min)
set -euo pipefail
cd /root/repo

bench_gate() {
  # fresh full bench vs the last COMMITTED BENCH_LOCAL.json. The
  # committed side is read from git (not the working tree) so the gate
  # can't be defeated by overwriting the baseline in the same commit.
  git show HEAD:BENCH_LOCAL.json > /tmp/bench_committed.json
  local load_before
  load_before=$(cut -d' ' -f1-3 /proc/loadavg)
  # core count follows the box (an override via SPARK_GRAFT_CPUS still
  # works); benchdiff refuses a baseline stamped with another count
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
    SPARK_GRAFT_BENCH_OUT=/tmp/bench_fresh.json \
    sbt -batch "runMain graft.Bench" > /tmp/bench_gate.log 2>&1
  # --max-factor bounds the auto strip: a uniform >1.25x move (which the
  # median strip would otherwise hide entirely) fails the gate and must be
  # adjudicated manually, keeping the "silent 1.5x can't land" promise for
  # commit-caused global slowdowns, not just per-query outliers.
  python3 scripts/benchdiff.py /tmp/bench_committed.json /tmp/bench_fresh.json \
    --factor auto --max-factor 1.25 --threshold 1.4
  # Gate passed: the fresh run IS the new canonical baseline. Refresh
  # BENCH_LOCAL.json automatically and append the box-state record PERF.md
  # used to carry by hand, so the next diff measures against the same box
  # state and the refresh provenance is in-repo, not in prose.
  cp /tmp/bench_fresh.json BENCH_LOCAL.json
  python3 - "$load_before" <<'PYEOF'
import json, subprocess, sys, datetime
d = json.load(open('BENCH_LOCAL.json'))
rev = subprocess.run(['git', 'rev-parse', '--short', 'HEAD'],
                     capture_output=True, text=True).stdout.strip()
note = {
    'ts': datetime.datetime.now(datetime.timezone.utc)
        .strftime('%Y-%m-%dT%H:%M:%SZ'),
    'head': rev,
    'loadavg_before': sys.argv[1],
    'total_sec': d.get('value'),
    'n_queries': len(d.get('queries', {})),
    'method': d.get('method'),
}
with open('BENCH_NOTES.log', 'a') as f:
    f.write(json.dumps(note, sort_keys=True) + '\n')
print(f"bench gate: baseline refreshed ({note['total_sec']} s / "
      f"{note['n_queries']} queries, load {note['loadavg_before']})")
PYEOF
}

if [[ "${1:-}" == "--bench" ]]; then
  bench_gate
  echo "precommit (bench gate): OK"
  exit 0
fi

python3 scripts/surveycheck.py

sbt -batch compile

rm -rf /tmp/precommit_vout
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/precommit_vout"
python3 scripts/selfcheck.py /root/testdata/sf0.001 /tmp/precommit_vout

# Plan-shape hygiene over EVERY declared query (plans only, never executes —
# cheap). Runs unconditionally so a query added to SparkEntry.queries can't
# land with an unallowlisted nested-loop join / cartesian / naive window
# (round 8 shipped exactly that regression).
sbt -batch "testOnly graft.PlanHygieneSpec graft.SourceHygieneSpec"

if [[ "${1:-}" == "--full" ]]; then
  rm -rf /tmp/precommit_vout01
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/precommit_vout01"
  python3 scripts/selfcheck.py /root/testdata/sf0.01 /tmp/precommit_vout01
  sbt -batch test
  bench_gate
fi

echo "precommit: OK"
