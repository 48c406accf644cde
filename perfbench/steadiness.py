"""Steadiness record: run the benchmark once per seed and summarise.

    python3 perfbench/steadiness.py --workloads lda_train curation --seeds 1-10 \\
        --seconds 10 --out .bench_out/steadiness-a.json

Run from the root of a checkout.  Each run is ``perfbench/run.py`` with
``--trace 0``; the workloads alternate within each seed.  For every
workload and end-to-end metric it prints, as markdown, the median, the
quartiles (``statistics.quantiles(values, n=4)``) and their distance as
a share of the median, then ``job_s``, ``cpu_s`` and the host-drift
readings of every run side by side.  ``--compare`` prints two saved
records and how far their medians lie apart.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_out", f"{workload}-seed{seed}-run.json")) as f:
        record = json.load(f)
    return {"seed": seed, "correct": line["correct"], "failed": line["failed"],
            "metrics": {k: v["value"] for k, v in line["metrics"].items()},
            "host": record["host"], "passes": len(record["passes"])}


def summary(runs: list[dict]) -> dict[str, dict[str, float]]:
    out = {}
    for name, _ in END_TO_END:
        values = [r["metrics"][name] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med}
    return out


def print_record(record: dict) -> None:
    """Markdown: the spread table, then every run's timings and host readings."""
    for workload, runs in record.items():
        print(f"\n`{workload}`: {len(runs)} runs, {sum(r['failed'] for r in runs)} failed\n")
        print("| metric | median | q1 | q3 | IQR / median |\n|---|---|---|---|---|")
        for name, s in summary(runs).items():
            print(f"| `{name}` | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} "
                  f"| {s['iqr_share']:.1%} |")
        print("\n| seed | `job_s` | `cpu_s` | `host.steal_s` | `host.calib_s` |\n|---|---|---|---|---|")
        for r in runs:
            m, h = r["metrics"], r["host"]
            print(f"| {r['seed']} | {m['job_s']:.3f} | {m['cpu_s']:.2f} "
                  f"| {h['host.steal_s']:.2f} | {h['host.calib_s']:.4f} |")


def compare(a: dict, b: dict) -> None:
    for workload in a:
        sa, sb = summary(a[workload]), summary(b[workload])
        print(f"\n`{workload}`, second set against the first\n")
        print("| metric | first median | second median | change |\n|---|---|---|---|")
        for name in sa:
            ma, mb = sa[name]["median"], sb[name]["median"]
            print(f"| `{name}` | {ma:.4g} | {mb:.4g} | {mb / ma - 1:+.1%} |")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", nargs="+", default=["lda_train", "curation"])
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--out", help="save the record as JSON")
    p.add_argument("--compare", nargs=2, metavar="RECORD", help="compare two saved records")
    args = p.parse_args()
    if args.compare:
        a, b = (json.load(open(path)) for path in args.compare)
        print_record(a)
        print_record(b)
        compare(a, b)
        return 0
    record: dict[str, list[dict]] = {w: [] for w in args.workloads}
    for seed in seeds(args.seeds):
        for workload in args.workloads:
            record[workload].append(run_once(workload, seed, args.seconds))
            print(f"{workload} seed {seed}: {record[workload][-1]['metrics']}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    print_record(record)
    return 0


if __name__ == "__main__":
    sys.exit(main())
