"""Tracing overhead: the plain-vs-traced difference in each end-to-end
metric, from the record line both kinds of run print.

    python3 perfbench/overhead.py --workload curation_batch \\
        --seeds 1,2 --seconds 12

Runs a plain and a traced run per seed, alternating which goes first,
and prints one JSON object: per end-to-end metric, the median of each
side and the traced median's change relative to the plain one; and the
median of each per-layer metric over the traced runs.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """One run's end-to-end numbers (from its record) and result metrics."""
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout.splitlines()
    metrics = {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}
    return json.loads(out[-2])["record"]["end_to_end"], metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated")
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    layers: list[dict] = []
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            end_to_end, metrics = _run(args.workload, seed, args.seconds, trace)
            runs[trace].append(end_to_end)
            if trace:
                layers.append(metrics)
    report = {}
    for metric in runs[0][0]:
        plain = statistics.median(r[metric] for r in runs[0])
        traced = statistics.median(r[metric] for r in runs[1])
        report[metric] = {"plain": plain, "traced": traced,
                          "overhead": traced / plain - 1 if plain else None}
    print(json.dumps({
        "workload": args.workload, "runs": len(runs[0]), "metrics": report,
        "per_layer_median": {k: statistics.median(m[k] for m in layers)
                             for k in layers[0]}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
