"""Compare the end-to-end metrics of two sets of result records.

    python3 perfbench/compare.py BASE.json [BASE.json ...] --vs NEW.json [NEW.json ...]

The records are the files ``run.py`` leaves in ``.perfbench/results``.
Every record must come from the same workload, with the same number of
cores, the same Spark task threads and the same JVM heap; otherwise the
comparison is refused (exit code 2), because those change every timing.
Prints, per metric, each side's median and the ratio of the medians
(new / base).
"""

from __future__ import annotations

import json
import statistics
import sys

SAME = ("workload", "cores", "spark_graft_cpus", "heap")


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def refusal(records: list[dict]) -> str | None:
    """Why these records may not be compared, or None."""
    for key in SAME:
        values = {str(r.get(key)) for r in records}
        if len(values) > 1:
            return f"records differ in {key}: {sorted(values)}"
    return None


def compare(base: list[dict], new: list[dict]) -> list[tuple[str, float, float, float]]:
    rows = []
    for metric in base[0]["end_to_end"]:
        b = statistics.median(r["end_to_end"][metric] for r in base)
        n = statistics.median(r["end_to_end"][metric] for r in new)
        rows.append((metric, b, n, n / b if b else float("nan")))
    return rows


def main(argv: list[str]) -> int:
    if "--vs" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--vs")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        print("both sides need at least one record", file=sys.stderr)
        return 2
    why = refusal(base + new)
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    print(f"{'metric':<14} {'base':>12} {'new':>12} {'new/base':>9}")
    for metric, b, n, ratio in compare(base, new):
        print(f"{metric:<14} {b:>12.4f} {n:>12.4f} {ratio:>9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
