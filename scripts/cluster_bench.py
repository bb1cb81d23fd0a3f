"""REAL multi-executor scaling benchmark (the north rule's own protocol).

Brings up a Spark STANDALONE cluster on this host (master + one 32-core
worker), then runs the full KG pipeline as a submitted application at
two cluster sizes:

    N  executors: 1 executor  x C cores (spark.cores.max = C)
    4N executors: 4 executors x C cores (spark.cores.max = 4C)

C defaults to 8 (saturating the 32-core host at the 4N level — the
oversubscribed data point); --cores=4 measures 1x4 vs 4x4, where the
4N level still fits the host alongside driver/daemons/Python workers —
the cluster-scaling data point a real (not single-host) cluster shows.

Each executor is its own JVM with its own heap, GC, shuffle files and
Python workers — the per-executor costs that a single shared local[n]
JVM conflates are genuinely isolated here, and shuffles cross executor
boundaries over loopback. Efficiency = throughput(4N) / (4 x
throughput(N)); best-of-`--runs` per level inside one long-lived
application (a cluster job does not pay JIT warm-up per batch).

Usage: python scripts/cluster_bench.py [sf_dir] [--factor=K] [--runs=R] [--cores=C]
Writes one JSON line; BENCH/BASELINE.md records the analysis.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = "/opt/spark"
MASTER = "spark://127.0.0.1:7077"

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F

n_exec = {n_exec}
cores = {cores}
spark = (
    SparkSession.builder.master({master!r})
    .appName(f"cluster_bench_{{n_exec}}x{{cores}}")
    .config("spark.executor.cores", str(cores))
    .config("spark.executor.memory", {mem!r})
    .config("spark.cores.max", str(cores * n_exec))
    .config("spark.sql.shuffle.partitions", str(2 * cores * n_exec))
    # the vote spool lands as many small snappy files; the default 128MB
    # maxPartitionBytes coalesces them into ~13 scan tasks — starving 32
    # cores on the ensemble scan (measured tail scaling 0.53). 16MB keeps
    # every slot fed at both cluster sizes.
    .config("spark.sql.files.maxPartitionBytes", "16m")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
    .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    .config("spark.sql.session.timeZone", "UTC")
    # UI stays on: the REST API is the per-executor peak-memory source
    # (per-round memory-growth evidence, BENCH/BASELINE.md)
    .config("spark.ui.enabled", "true")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")
spark.sparkContext.addPyFile({zip_path!r})

from stanford_relation_extractor_spark.plans.pipeline import build_stages

from stanford_relation_extractor_spark.plans import pipeline as P

# no input repartition here: the extraction's conversation clustering
# re-repartitions by conv_id anyway (an upfront round-robin exchange of
# the full input was pure wasted shuffle in every timed run)
def spool_bytes():
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH")
    if not scratch:
        return None
    total = 0
    for root, _dirs, files in os.walk(scratch):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def executor_metrics():
    # per-executor peak JVM heap + cumulative GC time via the driver UI
    # REST API — the bounded-memo / capped-block / GC-pressure evidence
    # as input grows
    import urllib.request
    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{{ui}}/api/v1/applications/{{app}}/executors", timeout=10) as r:
            execs = json.loads(r.read())
        workers = [e for e in execs if e.get("id") != "driver"]
        peaks = [
            e.get("peakMemoryMetrics", {{}}).get("JVMHeapMemory") for e in workers
        ]
        peaks = [p for p in peaks if p is not None]
        gc_ms = [e.get("totalGCTime") for e in workers if e.get("totalGCTime") is not None]
        task_ms = [e.get("totalDuration") for e in workers if e.get("totalDuration") is not None]
        return (
            max(peaks) if peaks else None,
            sum(gc_ms) if gc_ms else None,
            sum(task_ms) if task_ms else None,
        )
    except Exception:
        return (None, None, None)


def shuffle_bytes():
    # cumulative shuffle write across all completed stages — the
    # working-set-pruning before/after evidence (BENCH/BASELINE.md)
    import urllib.request
    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{{ui}}/api/v1/applications/{{app}}/stages?status=complete", timeout=10) as r:
            st = json.loads(r.read())
        return sum(s.get("shuffleWriteBytes", 0) for s in st)
    except Exception:
        return None


inp = spark.read.parquet({amp_path!r})
n = inp.count()
times, stage_times = [], []
max_spool = 0
for _ in range({runs}):
    t0 = time.monotonic()
    stages = build_stages(spark, {sf_dir!r})
    stages["transcripts"] = inp              # the amplified input table
    stages["votes_cut"]                      # materializes the vote spool
    t_extract = round(time.monotonic() - t0, 3)
    sb = spool_bytes()
    max_spool = max(max_spool, sb or 0)
    c0 = time.monotonic()
    stages["surfaces"]                       # distinct-surface job
    t_surf = round(time.monotonic() - c0, 3)
    c1 = time.monotonic()
    stages["canon_map"]                      # size-gated canon build
    t_canon = round(time.monotonic() - c1, 3)
    e0 = time.monotonic()
    stages["triples"].write.format("noop").mode("overwrite").save()
    t_tail = round(time.monotonic() - e0, 3)
    times.append(round(time.monotonic() - t0, 3))
    stage_times.append({{"extract_spool": t_extract, "surfaces": t_surf,
                         "canon_window": t_canon, "ensemble_tail": t_tail,
                         "canon_tail": round(t_surf + t_canon + t_tail, 3)}})
    P._cleanup_spools()                      # keep /dev/shm flat across runs
peak_heap, gc_ms, task_ms = executor_metrics()
print(json.dumps({{"n_exec": n_exec, "turns": n, "times": times,
                   "sec": min(times), "stages": stage_times,
                   "spool_bytes": max_spool,
                   "shuffle_write_bytes": shuffle_bytes(),
                   "peak_executor_jvm_heap": peak_heap,
                   "total_gc_ms": gc_ms,
                   "total_task_ms": task_ms}}))
spark.stop()
"""


def sh(cmd: list[str], env: dict | None = None) -> None:
    e = dict(os.environ)
    e.update(env or {})
    subprocess.run(cmd, check=True, env=e, capture_output=True, text=True)


def ensure_cluster() -> None:
    os.makedirs("/dev/shm/spark_local", exist_ok=True)
    env = {
        "SPARK_MASTER_HOST": "127.0.0.1",
        "SPARK_WORKER_CORES": "32",
        "SPARK_WORKER_MEMORY": "96g",
        "PYSPARK_PYTHON": sys.executable,
        # per-executor scratch on a real cluster is local NVMe; the
        # single shared disk of this sandbox would otherwise serialize
        # all executors' shuffle/spool I/O
        "SPARK_LOCAL_DIRS": "/dev/shm/spark_local",
    }
    subprocess.run([f"{SPARK_HOME}/sbin/stop-worker.sh"], capture_output=True)
    subprocess.run([f"{SPARK_HOME}/sbin/stop-master.sh"], capture_output=True)
    sh([f"{SPARK_HOME}/sbin/start-master.sh"], env)
    time.sleep(3)
    sh([f"{SPARK_HOME}/sbin/start-worker.sh", MASTER], env)
    time.sleep(3)


def stop_cluster() -> None:
    subprocess.run([f"{SPARK_HOME}/sbin/stop-worker.sh"], capture_output=True)
    subprocess.run([f"{SPARK_HOME}/sbin/stop-master.sh"], capture_output=True)


def build_zip() -> str:
    zp = "/tmp/spark_graft_engine.zip"
    with zipfile.ZipFile(zp, "w") as z:
        pkg = os.path.join(REPO, "stanford_relation_extractor_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zp


def amplify(sf_dir: str, factor: int) -> str:
    amp_path = f"/tmp/spark_graft_amp_{factor}.parquet"
    if os.path.exists(amp_path + "/_SUCCESS"):
        return amp_path
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import functions as F
from stanford_relation_extractor_spark.session import get_spark
from stanford_relation_extractor_spark.sources.synthetic import transcripts_df
spark = get_spark("amp", cpus=32, shuffle_partitions=32)
t = transcripts_df(spark, {sf_dir!r})
reps = spark.range({factor}).select(F.col("id").alias("_rep"))
(t.crossJoin(F.broadcast(reps))
   .withColumn("conv_id", F.concat_ws("#", F.col("conv_id"), F.col("_rep")))
   .drop("_rep").repartition(128)
   .write.mode("overwrite").parquet({amp_path!r}))
"""
    subprocess.run([sys.executable, "-c", code], check=True, capture_output=True, text=True)
    return amp_path


def run_level(
    n_exec: int, sf_dir: str, amp_path: str, zip_path: str, runs: int, cores: int,
    mem: str = "18g",
) -> dict:
    code = CHILD.format(
        repo=REPO, n_exec=n_exec, master=MASTER, zip_path=zip_path,
        amp_path=amp_path, sf_dir=sf_dir, runs=runs, cores=cores, mem=mem,
    )
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    os.makedirs("/dev/shm/spark_scratch", exist_ok=True)
    env["SPARK_GRAFT_SCRATCH"] = "/dev/shm/spark_scratch"
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True, env=env
    )
    import shutil

    shutil.rmtree("/dev/shm/spark_scratch", ignore_errors=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    factor = int(next((a.split("=")[1] for a in sys.argv if a.startswith("--factor=")), 16))
    runs = int(next((a.split("=")[1] for a in sys.argv if a.startswith("--runs=")), 3))
    cores = int(next((a.split("=")[1] for a in sys.argv if a.startswith("--cores=")), 8))
    # memory-per-EXECUTOR at each level; --mem applies to both, --mem4n
    # overrides the 4N level (the heap-headroom-matched protocol: the
    # worker cap is 96g, so e.g. --mem4n=22g keeps 4x22g under it)
    mem = next((a.split("=")[1] for a in sys.argv if a.startswith("--mem=")), "18g")
    mem4n = next((a.split("=")[1] for a in sys.argv if a.startswith("--mem4n=")), mem)
    interleave = int(
        next((a.split("=")[1] for a in sys.argv if a.startswith("--interleave=")), 1)
    )
    amp_path = amplify(sf_dir, factor)
    zip_path = build_zip()
    ensure_cluster()
    try:
        # --interleave=K alternates the two levels K times (A-B-A-B…)
        # so slow-host noise lands on both levels equally; each block
        # still best-ofs its runs, and the final numbers best-of across
        # blocks.
        lo = hi = None
        for _ in range(max(interleave, 1)):
            lo_b = run_level(1, sf_dir, amp_path, zip_path, runs, cores, mem)
            hi_b = run_level(4, sf_dir, amp_path, zip_path, runs, cores, mem4n)
            if lo is None:
                lo, hi = lo_b, hi_b
            else:
                for acc, blk in ((lo, lo_b), (hi, hi_b)):
                    acc["times"] += blk["times"]
                    acc["stages"] += blk.get("stages", [])
                    acc["sec"] = min(acc["sec"], blk["sec"])
                    for fld in (
                        "spool_bytes", "shuffle_write_bytes",
                        "peak_executor_jvm_heap",
                        "total_gc_ms", "total_task_ms",
                    ):
                        if blk.get(fld):
                            acc[fld] = max(acc.get(fld) or 0, blk[fld])
    finally:
        stop_cluster()
    thr_lo = lo["turns"] / lo["sec"]
    thr_hi = hi["turns"] / hi["sec"]
    eff = thr_hi / (4 * thr_lo)
    print(json.dumps({
        "mode": "standalone-cluster",
        "sf_dir": sf_dir,
        "amplify_factor": factor,
        "executors_n": 1,
        "executors_4n": 4,
        "executor_cores": cores,
        "turns": lo["turns"],
        "times_at_n": lo["times"],
        "times_at_4n": hi["times"],
        "stages_at_n": lo.get("stages"),
        "stages_at_4n": hi.get("stages"),
        "executor_mem_at_n": mem,
        "executor_mem_at_4n": mem4n,
        "spool_bytes_at_n": lo.get("spool_bytes"),
        "spool_bytes_at_4n": hi.get("spool_bytes"),
        "shuffle_write_bytes_at_n": lo.get("shuffle_write_bytes"),
        "shuffle_write_bytes_at_4n": hi.get("shuffle_write_bytes"),
        "peak_executor_jvm_heap_at_n": lo.get("peak_executor_jvm_heap"),
        "peak_executor_jvm_heap_at_4n": hi.get("peak_executor_jvm_heap"),
        "total_gc_ms_at_n": lo.get("total_gc_ms"),
        "total_gc_ms_at_4n": hi.get("total_gc_ms"),
        "total_task_ms_at_n": lo.get("total_task_ms"),
        "total_task_ms_at_4n": hi.get("total_task_ms"),
        "sec_at_n": lo["sec"],
        "sec_at_4n": hi["sec"],
        "turns_per_sec_at_n": round(thr_lo, 1),
        "turns_per_sec_at_4n": round(thr_hi, 1),
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }))


if __name__ == "__main__":
    main()
