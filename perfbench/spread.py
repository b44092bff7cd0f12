"""Run a workload over several seeds and report each end-to-end metric's
median and quartile spread (q3 - q1, as a share of the median) against
its bound in ``BENCHMARK.json``.

    python3 perfbench/spread.py --workload bm25_serve --seeds 1-10 [--out f.json]

Runs are sequential, each a fresh ``run.py`` process from the checkout
root. A run that exits non-zero is reported and left out of the figures.
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
sys.path.insert(0, str(HERE))

import spec  # noqa: E402


def seeds(arg: str) -> list[int]:
    lo, _, hi = arg.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    tagged = {ln.split(": ")[0]: ln.split(": ")[1] for ln in lines
              if ln.startswith(("known_defects: ", "cpu_burn_s: "))}
    return {"seed": seed, "exit": p.returncode,
            "wall_s": time.perf_counter() - t,
            "known_defects": int(tagged.get("known_defects", -1)),
            "cpu_burn_s": float(tagged.get("cpu_burn_s", "nan")),
            "result": json.loads(lines[-1]) if lines and p.returncode == 0
            else None}


def summarize(runs: list[dict]) -> dict:
    out = {}
    ok = [r["result"] for r in runs if r["result"]]
    for name, (unit, _better, bound) in spec.END_TO_END.items():
        vals = [r["metrics"][name]["value"] for r in ok]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"unit": unit, "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med, "bound": bound,
                     "values": vals}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int,
                    default=spec.benchmark_json()["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for s in seeds(args.seeds):
        r = run_once(args.workload, s, args.seconds, 0)
        runs.append(r)
        print(f"seed {s}: exit {r['exit']} wall {r['wall_s']:.1f}s "
              + (json.dumps({k: round(v["value"], 4) for k, v in
                             r["result"]["metrics"].items()})
                 if r["result"] else ""), flush=True)
    summary = summarize(runs)
    for name, s in summary.items():
        flag = "ok" if s["spread"] < s["bound"] / 3 else (
            "within bound" if s["spread"] < s["bound"] else "TOO WIDE")
        print(f"{name:16} median {s['median']:10.4f} {s['unit']:4} "
              f"spread {s['spread']:.3f} (bound {s['bound']}) {flag}")
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "runs": runs, "summary": summary},
            indent=1))
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
