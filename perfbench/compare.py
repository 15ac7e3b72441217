"""Compare benchmark results pairwise, refusing pairs that are not like for like.

    python3 perfbench/compare.py BASE.json NEW.json [BASE2.json NEW2.json ...]

Each argument is a result file that ``run.py`` writes under
``.perfbench/results``.  A pair is refused (exit code 2) when the two runs
differ in workload, seed, trace mode, core count, PySpark version, driver
memory or input digest; when their 1-minute load averages before the run
differ by more than ``LOAD_TOLERANCE`` (other work on this machine); or when
the shares of CPU time stolen by the host during the runs differ by more than
``STEAL_TOLERANCE`` (other work on the host, which the load average does not
show).  For accepted pairs it prints, per
metric, the median base and new values, their ratio, and how many pairs the
new side won.
"""

from __future__ import annotations

import json
import statistics
import sys

LIKE_FOR_LIKE = ("workload", "seed", "trace", "nproc", "pyspark", "driver_memory", "input_digest")
# Set from twenty pairs of runs (same seed, two sets of ten back-to-back
# runs per workload on 4 shared vCPUs).  The benchmark's own runs left
# load averages that differed by up to 1.5 between the two sides of a pair,
# so a wider gap means other work on this machine.  Every pair whose warm
# pass ratio fell outside 0.72-1.26 had steal shares 0.10 or more apart.
LOAD_TOLERANCE = 2.0
STEAL_TOLERANCE = 0.05


def refusal(base: dict, new: dict) -> str | None:
    """Why two run records cannot be compared, or None if they can."""
    for key in LIKE_FOR_LIKE:
        if base.get(key) != new.get(key):
            return f"{key}: {base.get(key)!r} != {new.get(key)!r}"
    load_b, load_n = base["loadavg_before"][0], new["loadavg_before"][0]
    if abs(load_b - load_n) > LOAD_TOLERANCE:
        return f"loadavg_before: {load_b:.2f} vs {load_n:.2f}"
    steal_b, steal_n = base["steal_frac"], new["steal_frac"]
    if abs(steal_b - steal_n) > STEAL_TOLERANCE:
        return f"steal_frac: {steal_b:.3f} vs {steal_n:.3f}"
    return None


def main(paths: list[str]) -> int:
    if len(paths) < 2 or len(paths) % 2:
        print(__doc__, file=sys.stderr)
        return 1
    results = []
    for path in paths:
        with open(path) as f:
            results.append(json.load(f))
    pairs = list(zip(results[::2], results[1::2]))
    for i, (base, new) in enumerate(pairs):
        why = refusal(base["record"], new["record"])
        if why is not None:
            print(f"refused: pair {i} differs in {why}", file=sys.stderr)
            return 2
    for name in sorted(pairs[0][0]["metrics"]):
        b = [p[0]["metrics"][name] for p in pairs]
        n = [p[1]["metrics"][name] for p in pairs]
        if any(v is None for v in b + n):
            continue
        mb, mn = statistics.median(b), statistics.median(n)
        wins = sum(y < x for x, y in zip(b, n))
        ratio = f"{mn / mb:.3f}" if mb else "n/a"
        print(f"{name:32s} base {mb:12.4f}  new {mn:12.4f}  ratio {ratio}  new lower in {wins}/{len(pairs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
