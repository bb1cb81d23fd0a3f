"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload kg_steady --seed 1 --seconds 5 --trace 0

Generates the workload's input tables from ``--seed`` into a scratch
directory under ``.perfbench_work/`` in the repository root, starts one
``local[nproc]`` session, runs the workload as a closed loop (the next
pipeline run starts only after the previous one finished), checks the
outputs and prints one JSON line: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Progress and run facts go to stderr. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input shapes: ~10-turn conversations (the shape of the shipped sf
# tables) plus the corpus's hot conversation holding 1/23 of the turns.
# kg_store is small on purpose, so per-job fixed costs dominate it; its
# documents feed the datapipe queries of the traced run (kg_steady's
# are placeholders).
SIZES = {
    "kg_steady": {"customers": 4_000, "turns": 40_000, "docs": 8},
    "kg_store": {"customers": 1_500, "turns": 15_000, "docs": 2_000},
}
DEFAULT_SEED = 1
DRIVER_MEM = "4g"


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit for "end_to_end" or "per_layer"."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _environment(work: str) -> None:
    """Point every scratch location of the program at ``work`` and hand
    the package root to the Python workers (they do not inherit the
    driver's sys.path: launched outside the repository root, every UDF
    task fails with ModuleNotFoundError)."""
    for sub in ("spool", "local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "spool")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_CANON_LOCAL_MAX", None)
    sys.path.insert(0, ROOT)


def _setup(cpus: int, sf_dir: str, conf: dict[str, str]):
    """Session up, views registered, one warm-up scan of the transcripts
    table. Returns (spark, session seconds, scan seconds, turns)."""
    from stanford_relation_extractor_spark.session import get_spark
    from stanford_relation_extractor_spark.sources.synthetic import transcripts_df

    t0 = time.monotonic()
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
    t1 = time.monotonic()
    turns = transcripts_df(spark, sf_dir).count()
    return spark, t1 - t0, time.monotonic() - t1, turns


def _check_launch(spark) -> None:
    jvm_path = spark.sparkContext._jvm.System.getenv("PYTHONPATH") or ""
    if ROOT not in jvm_path.split(os.pathsep):
        raise RuntimeError(f"Python workers would not see {ROOT}: PYTHONPATH={jvm_path!r}")


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    from perfbench.trace import descendant_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendant_pids() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendant_pids():
        os.kill(pid, 9)


def _reference_present() -> bool:
    from stanford_relation_extractor_spark.sources.goldtab import REFERENCE_KBP_DIR

    return os.path.isdir(REFERENCE_KBP_DIR)


def _check_digests(run, workload: str, seed: int) -> int:
    """Count output-check failures: every repetition must agree, and the
    default seed must match the committed digest when the reference
    mount is in the state the digest was recorded with."""
    bad = 0
    for key, ds in run.digests.items():
        if len(ds) != 1:
            _log(f"{key}: repetitions disagree: {sorted(ds)}")
            bad += 1
    got = {k: next(iter(v)) for k, v in run.digests.items() if len(v) == 1}
    _log(f"digests {workload} seed={seed}: {json.dumps(got, sort_keys=True)}")
    if seed != DEFAULT_SEED:
        return bad
    with open(os.path.join(HERE, "digests.json")) as fh:
        want = json.load(fh)[workload]
    if want["reference_present"] != _reference_present():
        _log("reference mount differs from when the digests were recorded: skipped")
        return bad
    # the traced kg_store run also digests the downstream consumers
    for key in want["digests"].keys() & run.digests.keys():
        d = want["digests"][key]
        if got.get(key) != d:
            _log(f"{key}: digest {got.get(key)} != committed {d}")
            bad += 1
    return bad


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    # accepted for the harness: each workload does a fixed amount of work
    # (see WARM_RUNS in workloads.py), longer than this on the test host
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    # a terminated run still stops the JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    sf_dir = os.path.join(work, "sf")
    spark = None
    try:
        _environment(work)
        from perfbench import gen

        gen.write_tables(sf_dir, args.seed, **SIZES[args.workload])
        # set-up time runs from here: the program's imports, JVM launch,
        # session, view registration and one warm-up scan
        t_start = time.monotonic()
        from perfbench import trace, workloads

        cpus = len(os.sched_getaffinity(0))
        conf = {"spark.ui.showConsoleProgress": "false"}
        if traced:
            conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "events")}
        with trace.RssSampler() as rss:
            spark, session_s, scan_s, turns = _setup(cpus, sf_dir, conf)
            setup_s = time.monotonic() - t_start
            _check_launch(spark)
            _log(
                f"workload={args.workload} seed={args.seed} cpus={cpus} turns={turns} "
                f"driver_heap={spark.conf.get('spark.driver.memory')} "
                f"max_heap_mb={spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20:.0f} "
                f"spool={os.environ['SPARK_GRAFT_SCRATCH']} reference={_reference_present()}"
            )
            tracer = trace.Tracer(spark.sparkContext, traced)
            run = workloads.Run(spark, sf_dir, work, tracer, turns)
            gc0, jit0 = trace.jvm_gc_seconds(spark), trace.jit_cpu_seconds()
            try:
                workloads.measure(run, args.workload)
            except workloads.InvalidWorkload:
                raise
            except Exception:
                import traceback

                traceback.print_exc()
                run.failed = max(run.failed, 1)
            run.layer["jvm.gc_s"] = trace.jvm_gc_seconds(spark) - gc0
            run.layer["jvm.jit_cpu_s"] = trace.jit_cpu_seconds() - jit0
            app_id = spark.sparkContext.applicationId
            _stop(spark)
            spark = None
        run.failed += _check_digests(run, args.workload, args.seed)
        run.e2e["setup_s"] = setup_s
        run.e2e["peak_rss_mb"] = rss.peak / 2**20
        if traced:
            stats, intervals = trace.reduce_event_log(os.path.join(work, "events"), app_id)
            warm = [r for r in run.roots if r.startswith("run") and r != "run0"]
            workloads.event_log_layers(run, stats, intervals, warm)
            workloads.coverage(run)
            run.layer["session.imports_s"] = setup_s - session_s - scan_s
            run.layer["session.start_s"] = session_s
            run.layer["sources.scan_s"] = scan_s
            run.layer["sources.turns"] = turns
            tracer.dump(os.path.join(
                ROOT, ".perfbench_work", f"spans-{args.workload}-seed{args.seed}.json"
            ))
        values = run.layer if traced else run.e2e
        metrics = {
            k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in _units("per_layer" if traced else "end_to_end").items()
        }
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
