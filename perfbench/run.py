"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload collections --seed 1 --seconds 12 --trace 0

Builds the program and the harness from source (once per checkout),
generates the seeded inputs (cached), runs the workload in a fresh JVM
launched without a build tool, checks every timed pass's outputs against
computations made apart from the program, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones.  The line before it records the run's conditions.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("collections", "ingest_cycle")
HEAP = "2g"
YOUNG = "512m"
MAX_SLOTS = 2
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cpu_times():
    """(steal, total) jiffies from /proc/stat; read only."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def slots():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_SLOTS, n)), n


def cds_archive(work, workload, run_dir):
    """The class-data-sharing archive of the classes a workload loads, made
    for this build by the workload's first run in the checkout (at its
    JVM's exit, after the measurements) and mapped by every later run:
    a cold JVM then neither parses nor verifies those classes again.
    Returns (JVM flag, the archive this run must publish, or None)."""
    d = os.path.join(work, "cds")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-{build.stamp(work)[:16]}.jsa")
    if os.path.exists(path):
        return f"-XX:SharedArchiveFile={path}", None
    for old in os.listdir(d):  # archives of an earlier build
        if old.startswith(workload + "-"):
            os.remove(os.path.join(d, old))
    return f"-XX:ArchiveClassesAtExit={run_dir}/classes.jsa", path


def java(cp, run_dir, models, extra, args):
    """The command of a JVM that runs `graftbench.Main args`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Heap reserved at a fixed size but not touched up front, so resident
    # memory shows what the run uses. The young generation is fixed too:
    # G1 then reuses the same eden regions instead of resizing them by
    # pause times, and the heap's resident part grows with what survives.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
           "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off", *extra,
           f"-Djava.io.tmpdir={tmp}", f"-Dgraft.model.dir={models}",
           "-Dspark.callstack.depth=200", "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main"] + [str(a) for a in args]


def run_jvm(cmd, what, timeout):
    """Run one JVM to its end; return its standard output."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run: {what} did not finish in time")
    finally:  # on a timeout, an error or a signal: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    if proc.returncode != 0:
        sys.stderr.write(err[-6000:])
        raise SystemExit(f"run: the {what} JVM exited with code {proc.returncode}")
    return out, err


def prepare_store(cp, work, corpus, n_slots):
    """Fit ingest_cycle's serving store once per build, from the corpus
    every seed shares, in the checkout's first run whichever workload it
    runs; return the model directory that holds it."""
    stores = os.path.join(work, "stores")
    models = os.path.join(stores, build.stamp(work)[:16])
    if os.path.exists(os.path.join(models, "ready")):
        return models
    shutil.rmtree(stores, ignore_errors=True)  # stores of an earlier build
    run_dir = os.path.join(work, "runs", f"fit-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        run_jvm(java(cp, run_dir, models, [], ["fit", corpus, run_dir, n_slots]),
                "store fit", RUN_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    open(os.path.join(models, "ready"), "w").close()
    return models


def launch(cmd, workload, timeout):
    out, err = run_jvm(cmd, workload, timeout)
    for line in out.splitlines():
        if line.startswith("GRAFTBENCH "):
            return json.loads(line[len("GRAFTBENCH "):])
    sys.stderr.write(err[-6000:])
    raise SystemExit("run: the workload printed no measurements")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    root = os.getcwd()
    work = os.path.join(root, ".bench_build")
    cp = build.build(root, work)
    n_slots, nproc = slots()
    models = prepare_store(cp, work, gen.ensure_corpus(os.path.join(work, "inputs")), n_slots)
    inputs, meta = gen.ensure_inputs(a.workload, a.seed, os.path.join(work, "inputs"))
    run_dir = os.path.join(work, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cds, publish = cds_archive(work, a.workload, run_dir)
        cmd = java(cp, run_dir, models, [cds],
                   [a.workload, inputs, run_dir, a.seconds, a.trace, n_slots])
        steal0, total0 = cpu_times()
        launched = time.time()
        raw = launch(cmd, a.workload, RUN_LIMIT_S)
        steal1, total1 = cpu_times()
        if publish and os.path.exists(f"{run_dir}/classes.jsa"):
            os.replace(f"{run_dir}/classes.jsa", publish)
        timed = raw["timed"]
        verdicts = checks.check(a.workload, inputs, run_dir,
                                [p["index"] for p in timed if not p["error"]])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    problems = {p["index"]: p["error"] or verdicts.get(p["index"]) for p in timed}
    failed = sorted(i for i, e in problems.items() if e)
    rows = meta["rows_per_pass"]  # per day for collections, which alternates days
    rows = rows if isinstance(rows, list) else [rows]
    ok = [p for p in timed if not problems[p["index"]]]
    walls = [p["wall_s"] for p in ok]
    setup_s = raw["first_timed_ms"] / 1e3 - launched

    if a.trace == 0:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s.p50": (median(walls), "s"),
            "rows_per_s": (median([rows[p["index"] % len(rows)] / p["wall_s"] for p in ok]),
                           "rows/s"),
            "cpu_s.p50": (median([p["cpu_s"] for p in ok]), "s"),
            "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
        }
        samples = {"setup_s": 1, "wall_s.p50": len(ok), "rows_per_s": len(ok),
                   "cpu_s.p50": len(ok), "peak_rss_mb": 1}
    else:
        traced = [p for p in ok if p["traced"]]
        plain = [p for p in ok if not p["traced"]]
        metrics = {k: (median([p["layers"][k] for p in traced]), unit_of(k))
                   for k in (traced[0]["layers"] if traced else {})}
        metrics["trace.overhead_s"] = (
            median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in plain]), "s")
        samples = {"traced_passes": len(traced), "untraced_passes": len(plain)}

    dt = max(total1 - total0, 1)
    conditions = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "class_archive": "made" if publish else "mapped",
        "nproc": nproc, "task_slots": raw["slots"], "heap_mb": raw["heap_max_mb"],
        "input": {k: v for k, v in meta.items() if k not in ("workload", "seed")},
        "warmup_passes": len(raw["warmup"]),
        "warmup_wall_s": [round(p["wall_s"], 3) for p in raw["warmup"]],
        "timed_passes": len(timed),
        "timed_wall_s": [round(p["wall_s"], 3) for p in timed], "samples": samples,
        "attempted": len(timed), "failed": len(failed),
        "failures": {str(i): problems[i] for i in failed[:3]},
        "setup_split_s": {
            "jvm_to_session": round(raw["session_ready_ms"] / 1e3 - launched, 3),
            "workload_setup": round((raw["setup_done_ms"] - raw["session_ready_ms"]) / 1e3, 3),
            "warmup": round((raw["first_timed_ms"] - raw["setup_done_ms"]) / 1e3, 3)},
        "steal_share": round((steal1 - steal0) / dt, 5),
        "loadavg": loadavg(),
    }
    print(json.dumps({"conditions": conditions}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(timed),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def unit_of(name):
    suffix = name.rsplit(".", 1)[-1]
    return {"wall_s": "s", "task_cpu_s": "s", "stall_s": "s", "plan_s": "s",
            "gc_s": "s", "jobs": "count", "stages": "count", "broadcasts": "count",
            "broadcast_rows": "count"}.get(suffix, "MB")


if __name__ == "__main__":
    main()
