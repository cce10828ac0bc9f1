"""Steadiness record: interleaved runs of every workload, their spreads,
the tracing overhead and the exact-repeat check of the traced counts.

    python3 perfbench/steadiness.py --runs 10 --seconds 5 --first-seed 1

Run from the repository root. Round ``i`` runs every workload once with
seed ``first_seed + i``, alternating the workload order between rounds
(so slow drifts of the machine fall on both workloads alike). Then each
workload runs traced twice with one seed. Writes
``perfbench/steadiness/<label>.json`` and prints, per workload and
end-to-end metric, the median, quartiles and (Q3 - Q1) / median of the
per-run medians, against the metric's bound in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import measure  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = HERE.parent / ".perfbench_work" / f"steadiness-{os.getpid()}.json"
    out.parent.mkdir(exist_ok=True)
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--out", str(out)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} failed:\n{proc.stderr[-3000:]}")
    record = json.loads(out.read_text())
    out.unlink()
    record["printed"] = json.loads(proc.stdout.strip().splitlines()[-1])
    record["process_wall_s"] = wall
    record["seed"] = seed
    return record


def summarize(values: list[float], bound: float | None) -> dict:
    med, q1, q3, spread = measure.quartile_spread(values)
    row = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": values}
    if bound is not None:
        row["bound"] = bound
        row["spread_over_bound"] = spread / bound
    return row


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated (default: all in BENCHMARK.json)")
    ap.add_argument("--no-traced", action="store_true", help="skip the traced pair")
    ap.add_argument("--label", default="record")
    args = ap.parse_args()

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])

    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for i in range(args.runs):
        order = workloads if i % 2 == 0 else workloads[::-1]
        for w in order:
            rec = run_once(w, args.first_seed + i, args.seconds, 0)
            runs[w].append(rec)
            print(f"round {i} {w} seed {rec['seed']}: wall {rec['process_wall_s']:.1f}s "
                  + " ".join(f"{k}={v:.4g}" for k, v in rec["end_to_end"].items()),
                  flush=True)

    report: dict = {"args": vars(args), "workloads": {}}
    for w in workloads:
        recs = runs[w]
        entry = {
            "correct": all(r["printed"]["correct"] for r in recs),
            "failed": sum(r["printed"]["failed"] for r in recs),
            "process_wall_s": summarize([r["process_wall_s"] for r in recs], None),
            "end_to_end": {m: summarize([r["end_to_end"][m] for r in recs], bounds.get(m))
                           for m in bounds},
            "tail": [r["tail"] for r in recs],
            "measured_ms": [[[o["type"], o["ms"]] for o in r["ops"] if not o["warm"]]
                            for r in recs],
        }
        if not args.no_traced:
            seed = args.first_seed
            traced = [run_once(w, seed, args.seconds, 1) for _ in range(2)]
            untraced_med = {m: entry["end_to_end"][m]["median"] for m in bounds}
            entry["traced"] = {
                "seed": seed,
                "counts_repeat_exactly": traced[0]["spark_counts"] == traced[1]["spark_counts"],
                "outputs_repeat_exactly": traced[0]["digest"] == traced[1]["digest"],
                "overhead": {
                    m: {"traced_median": measure.median([t["end_to_end"][m] for t in traced]),
                        "untraced_median": untraced_med[m],
                        "ratio": measure.median([t["end_to_end"][m] for t in traced])
                        / untraced_med[m]}
                    for m in bounds
                },
                "per_layer": [t["per_layer"] for t in traced],
                "spark_counts": traced[0]["spark_counts"],
                "process_wall_s": [t["process_wall_s"] for t in traced],
            }
        report["workloads"][w] = entry

    out_dir = HERE / "steadiness"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.label}.json").write_text(json.dumps(report, indent=1, sort_keys=True))
    for w, entry in report["workloads"].items():
        print(f"\n{w}: correct={entry['correct']} "
              f"run wall median {entry['process_wall_s']['median']:.1f}s")
        for m, row in entry["end_to_end"].items():
            print(f"  {m:16s} median {row['median']:.4g}  q1 {row['q1']:.4g}  "
                  f"q3 {row['q3']:.4g}  spread {row['spread']:.3f}  "
                  f"bound {row.get('bound')}  spread/bound {row.get('spread_over_bound', 0):.2f}")
        if "traced" in entry:
            t = entry["traced"]
            print(f"  traced: counts repeat {t['counts_repeat_exactly']}, outputs repeat "
                  f"{t['outputs_repeat_exactly']}; overhead "
                  + ", ".join(f"{m} x{v['ratio']:.3f}" for m, v in t["overhead"].items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
