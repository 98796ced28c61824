"""Run one workload over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workload olap_read --seeds 1-10 --seconds 3 \\
        [--trace 1] [--out perfbench/baseline/olap_read.json]

Runs ``perfbench/run.py`` once per seed, one run at a time, from the
checkout root. For every metric it reports the median, the quartiles
as ``statistics.quantiles(values, n=4)`` gives them, and their
distance as a share of the median, the spread the benchmark's bounds
are judged against. With ``--out`` it writes the summary and every
run's result and record as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(results: list[dict]) -> dict[str, dict]:
    names = sorted({n for r in results for n in r["metrics"]})
    out = {}
    for n in names:
        vs = [r["metrics"][n]["value"] for r in results if n in r["metrics"]]
        entry = {"median": statistics.median(vs), "n": len(vs)}
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            entry.update(q1=q1, q3=q3, spread=iqr_share(vs) if entry["median"] else None)
        out[n] = entry
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="3")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        cmd = [
            sys.executable, str(BENCH / "run.py"), "--workload", args.workload,
            "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace,
        ]
        proc = subprocess.run(cmd, cwd=BENCH.parent, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
        runs.append({"seed": seed, "result": result, "record": record})
        brief = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: correct={result['correct']} {brief if args.trace == '0' else ''}", flush=True)

    summary = summarize([r["result"] for r in runs])
    for n, e in summary.items():
        if args.trace == "0" or e["median"]:
            print(f"{n:40s} median {e['median']:.4f}  spread {e.get('spread')}")
    if args.out:
        Path(args.out).write_text(
            json.dumps({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                        "summary": summary, "runs": runs}, indent=1) + "\n"
        )
    return 0 if all(r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
