"""Summarise the run records that ``run.py`` wrote under
``.perfbench/results``: for each workload and trace setting, every
metric's median, quartiles, spread (quartile distance over the median,
as the benchmark's bounds are judged) and sample count over the runs,
and the highest percentile that has ten runs beyond it.

    python3 perfbench/summarize.py [--since EPOCH_S] [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict
from pathlib import Path

from stats import summary

RESULTS = Path(__file__).resolve().parent.parent / ".perfbench" / "results"


def spread(values: list[float]) -> dict:
    out = summary(values)
    if len(values) > 1:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, iqr_over_median=(q3 - q1) / out["median"] if out["median"] else 0.0)
    return out


def collect(since: float) -> dict:
    runs: dict[str, list[dict]] = defaultdict(list)
    for path in sorted(RESULTS.glob("*.json")):
        if int(path.stem.rsplit("-", 1)[1]) >= since:
            rec = json.loads(path.read_text())
            runs[f"{rec['workload']}/trace{rec['trace']}"].append(rec)
    out = {}
    for key, recs in sorted(runs.items()):
        metrics: dict[str, list[float]] = defaultdict(list)
        report: dict[str, list[float]] = defaultdict(list)
        for rec in recs:
            for name, m in rec["result"]["metrics"].items():
                metrics[name].append(m["value"])
            for name, r in rec["report"].items():
                report[name].append(r["median"])
        out[key] = {
            "runs": len(recs),
            "seeds": [r["seed"] for r in recs],
            "all_correct": all(r["result"]["correct"] for r in recs),
            "attempted": sum(r["result"]["attempted"] for r in recs),
            "failed": sum(r["result"]["failed"] for r in recs),
            "metrics": {k: spread(v) for k, v in metrics.items()},
            "report_per_run_medians": {k: spread(v) for k, v in report.items()},
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--since", type=float, default=0, help="only records written at or after")
    ap.add_argument("--json", help="also write the summary here")
    args = ap.parse_args()
    out = collect(args.since)
    for key, s in out.items():
        print(f"{key}: {s['runs']} runs, correct={s['all_correct']}, "
              f"failed {s['failed']}/{s['attempted']}")
        for name, m in s["metrics"].items():
            tail = f" p{m['tail_pct']:.0f}={m['tail']:.4g}" if "tail" in m else ""
            iqr = f" spread={m['iqr_over_median']:.3f}" if "iqr_over_median" in m else ""
            print(f"  {name}: median={m['median']:.4g} n={m['n']}{iqr}{tail}")
    if args.json:
        Path(args.json).write_text(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
