"""Compare two bench.py JSON artifacts (e.g. BENCH_LOCAL.json):
per-query ratios over the common query set, slowest entries, and a
noise-aware regression list (host noise on this box runs ~1.3-1.4x on
untouched sub-second queries — see NOTES_r06 — so the default flag
threshold is 1.5x AND >= 0.5s absolute delta).

Usage: python tools/bench_compare.py OLD.json NEW.json [ratio_threshold]
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("{"):
                try:
                    d = json.loads(line)
                except json.JSONDecodeError:
                    # driver tail-capture can truncate the head of the
                    # payload line — try recovering from the first
                    # complete-looking object start inside the line
                    i = line.find('{"metric"')
                    if i <= 0:
                        continue
                    try:
                        d = json.loads(line[i:])
                    except json.JSONDecodeError:
                        continue
                if "queries" in d:
                    return d
    raise SystemExit(f"no bench payload line in {path}")


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    oq = {k: v for k, v in old["queries"].items() if v >= 0}
    nq = {k: v for k, v in new["queries"].items() if v >= 0}
    # r10: queries stamped suspect by either artifact's interleaved
    # calibration ran under detected contamination — their deltas are
    # not adjudicable and are reported separately, not as regressions
    tainted = set(old.get("suspect") or {}) | set(new.get("suspect") or {})
    common = sorted(set(oq) & set(nq))
    t_old = sum(oq[k] for k in common)
    t_new = sum(nq[k] for k in common)
    print(f"common queries: {len(common)}  "
          f"old {t_old:.1f}s  new {t_new:.1f}s  "
          f"ratio {t_new / t_old if t_old else float('nan'):.3f}")
    print(f"only-old: {len(set(oq) - set(nq))}  only-new: {len(set(nq) - set(oq))}")
    if tainted:
        print(f"suspect (calibration-flagged) in either artifact: "
              f"{len(tainted)}")
    regress = [(nq[k] / oq[k], k) for k in common
               if oq[k] > 0 and nq[k] / oq[k] >= thr and nq[k] - oq[k] >= 0.5]
    improve = [(nq[k] / oq[k], k) for k in common
               if nq[k] > 0 and oq[k] / nq[k] >= thr and oq[k] - nq[k] >= 0.5]
    print(f"\nregressions (>= {thr}x and >= 0.5s, calibration-clean):")
    for r, k in sorted(regress, reverse=True):
        if k not in tainted:
            print(f"  {r:5.2f}x  {oq[k]:7.2f} -> {nq[k]:7.2f}  {k}")
    sus = [x for x in regress if x[1] in tainted]
    if sus:
        print(f"\nsuspect deltas (calibration-inflated window — re-time "
              "before judging):")
        for r, k in sorted(sus, reverse=True):
            print(f"  {r:5.2f}x  {oq[k]:7.2f} -> {nq[k]:7.2f}  {k}")
    print(f"\nimprovements (>= {thr}x and >= 0.5s):")
    for r, k in sorted(improve, reverse=True):
        flag = "  [suspect]" if k in tainted else ""
        print(f"  {r:5.2f}x  {oq[k]:7.2f} -> {nq[k]:7.2f}  {k}{flag}")
    print("\nslowest new:")
    for k in sorted(nq, key=lambda k: -nq[k])[:10]:
        print(f"  {nq[k]:7.2f}  {k}")


if __name__ == "__main__":
    main()
