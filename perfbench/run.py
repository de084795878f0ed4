#!/usr/bin/env python3
"""One command for the benchmark: build, run one workload, check it, report.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 8 --trace 0

Workloads: extract_bulk, rag_serve, ingest_commit, operator_suite (see
perfbench/README.md). The library is compiled from `src/main/scala` by
perfbench/build.py and driven from one JVM (`perfbench.Main`) with at
most nproc Spark threads. Every file the run makes lives under
`.bench_work/` in the checkout and is removed at the end, except the
run record in `.bench_work/records/`.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). The exit code is 0 only for a complete, correct run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("extract_bulk", "rag_serve", "ingest_commit", "operator_suite")
JVM_TIMEOUT_S = 170


def _mb(size):
    """A JVM size such as 7g or 4096m, in MB."""
    unit = size[-1].lower()
    return int(float(size[:-1]) * {"g": 1024, "m": 1, "k": 1 / 1024}[unit]) if unit in "gmk" \
        else int(size) // 2 ** 20


def resolve_config(work):
    """Resolve cores, heap and GC the way the repo's Tier-1 command does."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    mem_total_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_total_kb = int(line.split()[1])
    heap_g = min(8, max(2, mem_total_kb // 2097152))
    heap = os.environ.get("SPARK_DRIVER_MEM") or f"{heap_g}g"
    gc = os.environ.get("SPARK_GC", "UseParallelGC")
    # what build.sbt would pick for spark.local.dir on this host (recorded
    # only; the benchmark keeps its own scratch inside the checkout)
    try:
        st = os.statvfs("/dev/shm")
        shm_free = st.f_bavail * st.f_frsize
    except OSError:
        shm_free = 0
    sbt_choice = os.environ.get("SPARK_SCRATCH_DIR") or (
        "/dev/shm/spark-local" if shm_free > 8 * 1024 ** 3 else "java.io.tmpdir")
    return {
        "nproc": cpus,
        "mem_total_mb": mem_total_kb // 1024,
        "xmx": heap,
        # a 1 GB young generation inside a 3 GB starting heap and a 256 MB
        # metaspace threshold: without them ParallelGC sizes the heap
        # through full GCs whose number and timing differ between runs
        "xms": f"{min(3 * 1024, _mb(heap))}m",
        "xmn": "1g",
        "metaspace_size": "256m",
        "gc": gc,
        "spark_local_dir": os.path.join(work, "spark-local"),
        "build_sbt_local_dir": sbt_choice,
        "dev_shm_free_mb": shm_free // 1024 ** 2,
        "shuffle_bypass_merge_threshold": 2,
        "shuffle_partitions": cpus,
    }


def jvm_command(jar, cfg, work, args, out_file):
    cmd = build.java_base(ROOT, jar)
    if os.path.exists(build.archive(ROOT)):
        cmd.append(f"-XX:SharedArchiveFile={build.archive(ROOT)}")
    return cmd + [
        f"-Xmx{cfg['xmx']}", f"-Xms{cfg['xms']}", f"-Xmn{cfg['xmn']}",
        f"-XX:MetaspaceSize={cfg['metaspace_size']}", f"-XX:+{cfg['gc']}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.shuffle.sort.bypassMergeThreshold={cfg['shuffle_bypass_merge_threshold']}",
        f"-Dspark.local.dir={cfg['spark_local_dir']}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cfg["nproc"]), "--work", work, "--out", out_file,
        "--config", json.dumps(cfg)]


def contract_metrics(measured, trace):
    """The metrics BENCHMARK.json names for this mode, each one required."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    missing = [n for n in names if measured.get(n, {}).get("value") is None]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {n: measured[n] for n in names}


def oracle_check(result, work):
    """operator_suite: DuckDB oracle compare of the dumped operator outputs."""
    dump = result.get("oracle_dump")
    if not dump:
        return []
    tool = os.path.join(ROOT, "tools", "oracle_check.py")
    proc = subprocess.run([sys.executable, tool, dump["tables"], dump["outputs"], "--partial"],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=120, cwd=work)
    lines = proc.stdout.splitlines()
    bad = [l for l in lines if l.startswith("[FAIL]")]
    if proc.returncode != 0 and not bad:
        bad = ["oracle_check exited %d: %s" % (proc.returncode, proc.stdout[-400:])]
    result.setdefault("record", {})["oracle"] = {
        "ok": sum(l.startswith("[OK]") for l in lines),
        "rows_only": sum(l.startswith("[rows-only]") for l in lines),
        "failed": bad,
    }
    # rows-only operators must return rows
    empty = [l for l in lines if l.startswith("[rows-only]") and l.endswith(": 0 rows")]
    return bad + empty


def trace_overhead(record, records_dir, workload):
    """Traced window against the untraced runs recorded in this checkout."""
    base = []
    for name in os.listdir(records_dir):
        if name.startswith(workload + "-seed") and name.endswith("-trace0.json"):
            with open(os.path.join(records_dir, name)) as f:
                base.append(json.load(f)["end_to_end"])
    traced = record.get("traced_window")
    if not base or not traced:
        return None
    med = lambda k: sorted(b[k] for b in base)[len(base) // 2]
    return {"untraced_runs": len(base),
            "unit_p50_pct": 100.0 * (traced["unit_p50_ms"] / med("unit_p50_ms") - 1.0),
            "items_per_s_pct": 100.0 * (med("items_per_s") / traced["items_per_s"] - 1.0)}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jar = build.build(ROOT)
    bench_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(bench_root, "records")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(work, "tmp"), records):
        os.makedirs(d, exist_ok=True)
    out_file = os.path.join(work, "result.json")
    record_file = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    log_file = os.path.join(work, "jvm.log")
    try:
        cfg = resolve_config(work)
        cmd = jvm_command(jar, cfg, work, args, out_file)
        t0 = time.time()
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
            try:
                report, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.stderr.write(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s\n")
                return 3
        if proc.returncode != 0 or not os.path.exists(out_file):
            with open(log_file) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write(f"benchmark JVM failed with code {proc.returncode}\n")
            return 4
        with open(out_file) as f:
            result = json.load(f)
        t1 = time.time()
        problems = result["problems"] + oracle_check(result, work)
        metrics = contract_metrics(result["metrics"], args.trace)
        result["record"]["oracle_s"] = round(time.time() - t1, 3)
        result["record"]["jvm_s"] = round(t1 - t0, 3)
        result["record"]["wall_s"] = round(time.time() - t0, 3)
        result["record"]["problems"] = problems
        if args.trace:
            result["record"]["trace_overhead"] = trace_overhead(result["record"], records,
                                                                args.workload)
        with open(record_file, "w") as f:
            json.dump(result["record"], f, indent=1, sort_keys=True)
        sys.stdout.write(report)
        for p in problems:
            print(f"CHECK FAILED: {p}")
        correct = not problems
        print(json.dumps({"correct": correct, "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
