"""Steadiness check: run one workload N times on the same commit under two
alternating labels and report, for every end-to-end metric, the median,
the quartiles and the spread against the metric's bound.

    python3 perfbench/steady.py --workload index_lifecycle --runs 10

Run from the root of a checkout. Runs are sequential, one process at a
time; run ``i`` gets seed ``--seed0 + i`` and label A (even i) or B (odd
i). Every run's record (result, seed, nproc, defaultParallelism, pyspark
version, host probe) is appended as one JSON line to ``--out``.

Spread is (q3 - q1) / median, with the quartiles of
``statistics.quantiles(values, n=4)``. ``A/B`` is how much worse label B's
median is than label A's, as a share of A's; both should stay within the
metric's bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    return {
        "workload": workload, "seed": seed, "wall_s": time.time() - t0,
        "nproc": report["nproc"], "defaultParallelism": report["defaultParallelism"],
        "pyspark": report["pyspark"], "host_before": report["host_before"],
        "host_after": report["host_after"], "result": result, "report": report,
    }


def worse(a: float, b: float, better: str) -> float:
    """How much worse ``b`` is than ``a``, as a share of ``a``."""
    return (b - a) / a if better == "lower" else (a - b) / a


def summarize(records: list[dict], bench: dict) -> list[str]:
    out = []
    for m in bench["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in records]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        by = {lab: statistics.median(v) for lab in "AB"
              if (v := [x for i, x in enumerate(vals) if "AB"[i % 2] == lab])}
        ab = worse(by["A"], by["B"], m["better"]) if len(by) == 2 else float("nan")
        flag = "ok" if spread <= m["bound"] / 3 else ("WITHIN BOUND" if spread <= m["bound"] else "NOISY")
        out.append(
            f"  {m['name']:<20} median {med:10.4f} {m['unit']:<5} q1 {q1:10.4f} q3 {q3:10.4f} "
            f"spread {spread:6.3f} (bound {m['bound']}, {flag})  A/B {ab:+.3f}"
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", default=str(HERE / ".work" / "steady.jsonl"))
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    for wl in args.workload:
        records = []
        for i in range(args.runs):
            rec = run_once(wl, args.seed0 + i, bench["run_seconds"])
            rec["label"] = "AB"[i % 2]
            records.append(rec)
            with out.open("a") as fh:
                fh.write(json.dumps(rec) + "\n")
            res = rec["result"]
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{wl} run {i} seed {rec['seed']} label {rec['label']} wall {rec['wall_s']:.1f}s "
                  f"load {rec['host_before']['loadavg']:.2f} correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
        if len(records) >= 2:
            print(f"{wl}: {len(records)} runs, nproc {records[0]['nproc']}, "
                  f"defaultParallelism {records[0]['defaultParallelism']}, "
                  f"pyspark {records[0]['pyspark']}")
            print("\n".join(summarize(records, bench)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
