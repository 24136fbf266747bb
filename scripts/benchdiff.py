#!/usr/bin/env python3
"""Mechanical round-over-round bench comparison (dev tooling, not shipped).

Usage: benchdiff.py OLD.json NEW.json [--threshold 1.25] [--factor auto]

Inputs are either Bench's own JSON (BENCH_LOCAL.json, with `variance`) or
the driver's BENCH_r{N}.json wrapper (`{n, rc, cpus, sf, tail, parsed}`)
— the wrapper's `tail` is a bounded log tail, so its per-query map may be
TRUNCATED at the front; whatever `"q_*":sec` pairs survive are recovered
by regex and the comparison is marked partial. Per query the run-to-run
range is [min, min * spread] (spread = max/min across the interleaved
attempts; 1.0 when no variance field). A query is flagged ONLY when the
two ranges do not overlap — a min that moved inside either range is
machine noise, not a plan change — AND the slower side is above the
0.3 s floor where sub-100 ms jitter dominates.

--factor N divides every new-side number by N before comparing, for
adjudicating a uniform environment/data-generation shift (e.g. a testdata
regeneration that slowed every untouched query ~1.5x): pass the median
like-for-like ratio and only queries moving BEYOND the global factor
remain flagged. --factor auto computes that median from the shared
queries. Exits 1 on any regression, or when the new side names any
failed query (a query that threw has no time and must not pass as a
fast one), so precommit-style wiring can gate on it; 2 on incomparable
inputs.
"""
import argparse
import json
import re
import statistics
import sys

ap = argparse.ArgumentParser()
ap.add_argument("old")
ap.add_argument("new")
ap.add_argument("--threshold", type=float, default=1.25,
                help="extra ratio a non-overlapping move must exceed to be "
                     "flagged (default 1.25)")
ap.add_argument("--floor", type=float, default=0.5,
                help="ignore queries where both sides are below this many "
                     "seconds (default 0.5: min-of-2 variance badly "
                     "underestimates true spread for sub-half-second "
                     "queries — isolated re-runs of gate false-positives "
                     "showed 1.3-3.4x swings — and a real regression there "
                     "is <0.5%% of the suite total)")
ap.add_argument("--factor", default=None,
                help="divide new-side times by this global factor before "
                     "comparing ('auto' = median like-for-like ratio); use "
                     "to strip a uniform environment shift")
ap.add_argument("--accept", action="append", default=[],
                metavar="QUERY=REASON",
                help="adjudicated exception: a named query may regress this "
                     "run because the stated reason (e.g. a quality fix "
                     "whose cost is priced in PERF.md) — the move is "
                     "reported as ACCEPTED and does not fail the gate; the "
                     "reason is required so the acceptance is self-"
                     "documenting in the gate log")
ap.add_argument("--max-factor", type=float, default=None,
                help="with --factor auto: fail (exit 1) when the computed "
                     "median ratio exceeds this bound, so a commit-caused "
                     "UNIFORM slowdown can't hide behind the strip and must "
                     "be adjudicated manually")
args = ap.parse_args()


def load(path):
    """Normalize either Bench's own JSON or the driver wrapper to
    {queries, variance, value, method, sf, partial}."""
    d = json.load(open(path))
    if "queries" in d:
        d.setdefault("partial", False)
        return d
    # driver wrapper: prefer `parsed` (the full JSON line when the tail
    # caught it whole), else recover what the bounded tail kept
    p = d.get("parsed")
    if isinstance(p, dict) and "queries" in p:
        p.setdefault("partial", False)
        return p
    tail = d.get("tail", "")
    # Anchor recovery to the timings map: BENCH_LOCAL-style lines carry a
    # `variance` map sharing the same q_* keys, so scan only the region
    # after the LAST '"queries":{' and stop at '"variance"' — otherwise a
    # captured variance pair would silently replace a timing (last match
    # wins in the dict comprehension).
    region = tail
    qpos = tail.rfind('"queries":{')
    if qpos >= 0:
        region = tail[qpos + len('"queries":{'):]
    vpos = region.find('"variance"')
    if vpos >= 0:
        region = region[:vpos]
    qs = {k: float(v)
          for k, v in re.findall(r'"(q_[a-z0-9_]+)":([0-9.]+)', region)}
    if not qs:
        print(f"INCOMPARABLE: {path} has no queries map and no "
              f"recoverable q_* entries in its tail")
        sys.exit(2)
    # the totals line ({"metric":"total","value":N,...}) is short and
    # printed last, so it survives any tail bound
    val = None
    m = re.findall(r'"metric":"total","value":([0-9.]+)', tail)
    if m:
        val = float(m[-1])
    sf = d.get("sf")
    m = re.search(r'"sf":"([^"]+)"', tail)
    if m:
        sf = m.group(1)
    m = re.findall(r'"failed":\[([^\]]*)\]', tail)
    failed = re.findall(r'"([^"]+)"', m[-1]) if m else []
    return {"queries": qs, "variance": {}, "value": val, "sf": sf,
            "failed": failed, "partial": True}


old = load(args.old)
new = load(args.new)

mo, mn = old.get("method"), new.get("method")
if mo and mn and mo != mn:
    print(f"INCOMPARABLE: methods differ\n  old: {mo}\n  new: {mn}")
    sys.exit(2)
def sf_value(s):
    """Numeric scale factor from either the driver's float ('0.1') or
    Bench's dir path ('/root/testdata/sf0.1'); None when unparseable."""
    s = str(s)
    m = re.search(r'sf([0-9.]+)/?$', s)
    if m:
        s = m.group(1)
    try:
        return float(s)
    except ValueError:
        return None


if old.get("sf") != new.get("sf") and old.get("sf") and new.get("sf"):
    so, sn = sf_value(old["sf"]), sf_value(new["sf"])
    # exact numeric compare: substring containment let sf '1' match
    # '/root/testdata/sf0.1'
    if so is None or sn is None or so != sn:
        print(f"INCOMPARABLE: sf differs (old {old['sf']}, new {new['sf']})")
        sys.exit(2)

qo, qn = old["queries"], new["queries"]
vo, vn = old.get("variance", {}) or {}, new.get("variance", {}) or {}
shared = sorted(set(qo) & set(qn))

# The median like-for-like ratio IS the box-drift estimate: a uniform
# environment shift moves every untouched query by roughly this factor
# (r13's driver artifact ran a uniform 1.11x vs the gate's run of the
# SAME code). Always computed and reported; --factor auto additionally
# strips it so only movers BEYOND the drift flag.
drift = None
_ratios = [qn[k] / qo[k] for k in shared if qo[k] > 0]
if _ratios:
    drift = statistics.median(_ratios)

factor = 1.0
if args.factor == "auto":
    factor = drift if drift is not None else 1.0
    if args.max_factor is not None and factor > args.max_factor:
        print(f"UNIFORM SLOWDOWN: auto factor {factor:.3f}x exceeds "
              f"--max-factor {args.max_factor}x — a commit-caused global "
              f"regression is indistinguishable from machine drift at this "
              f"magnitude; adjudicate manually (isolated re-run, PERF.md "
              f"verdict) or pass an explicit --factor override")
        sys.exit(1)
elif args.factor is not None:
    factor = float(args.factor)

accepted_reasons = {}
for spec in args.accept:
    if "=" not in spec:
        print(f"--accept needs QUERY=REASON, got: {spec}", file=sys.stderr)
        sys.exit(2)
    q, reason = spec.split("=", 1)
    if not reason.strip():
        print(f"--accept {q}: empty reason refused", file=sys.stderr)
        sys.exit(2)
    accepted_reasons[q] = reason.strip()

added = sorted(set(qn) - set(qo))
removed = sorted(set(qo) - set(qn))
regressions, improvements, accepted = [], [], []
for k in shared:
    o, n = qo[k], qn[k] / factor
    o_hi = o * max(vo.get(k, 1.0), 1.0)
    n_hi = n * max(vn.get(k, 1.0), 1.0)
    if max(o, n) < args.floor:
        continue
    if n > o_hi * args.threshold:          # new min above old range: slower
        if k in accepted_reasons:
            accepted.append((k, o, n, n / o if o > 0 else float("inf")))
        else:
            regressions.append((k, o, n, n / o if o > 0 else float("inf")))
    elif n_hi * args.threshold < o:        # new range below old min: faster
        improvements.append((k, o, n, n / o if o > 0 else 0.0))

t_old, t_new = old.get("value"), new.get("value")
common_old = sum(qo[k] for k in shared)
common_new = sum(qn[k] for k in shared)
partial = old.get("partial") or new.get("partial")
note = " [PARTIAL: truncated driver tail(s); unrecovered queries excluded]" \
    if partial else ""
print(f"total: {t_old} s ({len(qo)} queries) -> "
      f"{t_new} s ({len(qn)} queries){note}")
if common_old:
    print(f"like-for-like ({len(shared)} shared): "
          f"{common_old:.1f} s -> {common_new:.1f} s "
          f"({common_new / common_old:.3f}x)")
if drift is not None:
    print(f"drift factor (median per-query ratio): {drift:.3f}x"
          + ("" if args.factor == "auto" else
             " [NOT stripped — pass --factor auto to flag only movers beyond it]"))
if factor != 1.0 and args.factor != "auto":
    print(f"global factor stripped from new side: {factor:.3f}x")
for label, rows in (("REGRESSION", regressions), ("improvement", improvements)):
    for k, o, n, r in rows:
        print(f"  {label} {k}: {o:.3f} s -> {n:.3f} s ({r:.2f}x"
              + (f" after /{factor:.2f}" if factor != 1.0 else "") + ")")
for k, o, n, r in accepted:
    print(f"  ACCEPTED {k}: {o:.3f} s -> {n:.3f} s ({r:.2f}x) — "
          f"{accepted_reasons[k]}")
stale = sorted(set(accepted_reasons) - {k for k, *_ in accepted})
if stale:
    print(f"  note: --accept entries that did not flag (drop them): {stale}")
if added:
    print(f"  added: {added}")
if removed and not partial:
    print(f"  removed: {removed}")
if not regressions and not improvements:
    print("  no per-query moves outside noise ranges")
failed = new.get("failed") or []
if failed:
    print(f"  FAILED on the new side ({len(failed)}): {failed}")
sys.exit(1 if regressions or failed else 0)
