"""Round-over-round bench diff: the regression-detection half of the
median-of-3 protocol (BASELINE.md §bench-protocol).

Usage: python tools/bench_compare.py OLD.json NEW.json [threshold_pct]

Reads two ``bench.py`` JSON lines, prints per-query deltas, and flags
queries whose median moved more than ``threshold_pct`` (default 15 —
just outside the ±10% residual noise of the median protocol). Exits 1
if any regression exceeds the threshold, so a round driver or CI step
can gate on it. Queries present in only one file (headline-set
changes) are listed separately and never counted as regressions.

The deltas are between raw medians, so they mean something only when
both runs were taken on the same machine under the same load. Only
``queries`` is read, so older records that carry extra fields load
unchanged.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    """Accept bench.py's raw one-line JSON (possibly preceded by
    stderr noise), the round driver's BENCH_r{N}.json wrapper (bench
    line under 'parsed'), or — when the wrapper is truncated
    (parsed: null, the r5/r6 failure mode) — the full-fidelity
    BENCH_QUERIES_r{N}.json sidecar bench.py writes beside it."""
    import os
    import re

    with open(path) as f:
        raw = f.read()
    try:
        doc = json.loads(raw)
    except json.JSONDecodeError:
        doc = json.loads(raw.strip().splitlines()[-1])
    if "queries" not in doc and isinstance(doc.get("parsed"), dict):
        doc = doc["parsed"]
    if "queries" not in doc:
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            sidecar = os.path.join(
                os.path.dirname(path), f"BENCH_QUERIES_r{m.group(1)}.json"
            )
            if os.path.exists(sidecar):
                with open(sidecar) as f:
                    side = json.load(f)
                # a sidecar stamped with a different round belongs to a
                # post-driver re-run (ADVICE r7: max+1 inference would
                # mint round+1) — refuse rather than silently pair
                # mismatched runs; rounds ≤7 predate the stamp.
                stamped = side.get("round")
                if stamped is not None and stamped != int(m.group(1)):
                    print(
                        f"# {sidecar} is stamped round {stamped}, wrapper "
                        f"is round {int(m.group(1))} — NOT substituting "
                        "(mismatched runs)"
                    )
                    return doc
                print(f"# {path} truncated — using sidecar {sidecar}")
                return side
    return doc


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    old, new = load(sys.argv[1]), load(sys.argv[2])
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 15.0
    oq, nq = old.get("queries", {}), new.get("queries", {})
    shared = sorted(set(oq) & set(nq))
    only_old, only_new = sorted(set(oq) - set(nq)), sorted(set(nq) - set(oq))

    regressions, improved = [], []
    print(f"{'query':<30} {'old':>7} {'new':>7} {'delta':>8}")
    for q in shared:
        a, b = oq[q], nq[q]
        pct = (b - a) / a * 100 if a else float("inf")
        mark = ""
        if pct > thresh:
            regressions.append((q, a, b, pct))
            mark = "  << REGRESSION"
        elif pct < -thresh:
            improved.append((q, a, b, pct))
            mark = "  (improved)"
        print(f"{q:<30} {a:>7.3f} {b:>7.3f} {pct:>+7.1f}%{mark}")

    tot_o = sum(oq[q] for q in shared)
    tot_n = sum(nq[q] for q in shared)
    if tot_o > 0:
        print(
            f"\nshared-query total: {tot_o:.2f}s -> {tot_n:.2f}s "
            f"({(tot_n - tot_o) / tot_o * 100:+.1f}%)"
        )
    else:
        print("\nno shared queries between the two runs — nothing to gate on")
    if only_old:
        print(f"dropped from headline: {only_old}")
    if only_new:
        print(f"new in headline: {only_new}")
    if regressions:
        print(f"\n{len(regressions)} regression(s) beyond +{thresh:.0f}%:")
        for q, a, b, pct in regressions:
            print(f"  {q}: {a:.3f}s -> {b:.3f}s ({pct:+.1f}%)")
        return 1
    print(f"\nno regressions beyond +{thresh:.0f}% "
          f"({len(improved)} improved beyond -{thresh:.0f}%)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
