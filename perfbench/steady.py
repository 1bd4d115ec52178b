"""Steadiness command: two sets of runs of the same code, per workload.

    python3 perfbench/steady.py --runs 10 [--workloads collections ingest_cycle]

Each set runs every workload once per seed (set A seeds 1..N, set B
seeds 101..100+N), one run at a time.  For every end-to-end metric it
prints each set's median and quartiles, the spread (q3 - q1) / median,
and the drift of set B's median from set A's, next to the bound in
BENCHMARK.json.  It also prints the hypervisor steal share seen during
each set.  `--out FILE` keeps every run's result line as JSON.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"steady: {workload} seed {seed} failed (code {r.returncode})")
    return json.loads(lines[-2])["conditions"], json.loads(lines[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {}
    for set_name, base in (("A", 0), ("B", 100)):
        for w in workloads:
            for k in range(1, a.runs + 1):
                cond, res = one_run(w, base + k, spec["run_seconds"])
                record.setdefault(set_name, {}).setdefault(w, []).append(
                    {"seed": base + k, "conditions": cond, "result": res})
                print(f"set {set_name} {w} seed {base + k}: "
                      f"wall {res['metrics']['wall_s.p50']['value']:.3f} s, "
                      f"setup {res['metrics']['setup_s']['value']:.2f} s, "
                      f"steal {cond['steal_share']:.3f}, failed {res['failed']}",
                      flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)
    print()
    for w in workloads:
        for set_name in ("A", "B"):
            runs = record[set_name][w]
            steal = statistics.mean(r["conditions"]["steal_share"] for r in runs)
            print(f"{w} set {set_name}: steal share {steal:.3f}, failed "
                  f"{sum(r['result']['failed'] for r in runs)}/"
                  f"{sum(r['result']['attempted'] for r in runs)}")
        print(f"  {'metric':<12} {'set':<3} {'q1':>12} {'median':>12} {'q3':>12} "
              f"{'spread':>7} {'drift':>7} {'bound':>6}")
        for m, bound in bounds.items():
            meds = {}
            for set_name in ("A", "B"):
                xs = [r["result"]["metrics"][m]["value"] for r in record[set_name][w]]
                q1, med, q3 = quartiles(xs)
                meds[set_name] = med
                drift = ""
                if set_name == "B":
                    drift = f"{(meds['B'] - meds['A']) / meds['A']:+.3f}"
                print(f"  {m:<12} {set_name:<3} {q1:12.4f} {med:12.4f} {q3:12.4f} "
                      f"{(q3 - q1) / med:7.3f} {drift:>7} {bound:6.2f}")


if __name__ == "__main__":
    main()
