"""Benchmark harness — one JSON line for the driver (BENCH_r{N}.json).

Runs the headline pipeline stages at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each stage is forced
with a `noop` format write (full computation, no driver collect).
$SPARK_GRAFT_CPUS defaults to the CPUs of the process's affinity mask
(session.DEFAULT_CPUS).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from stanford_relation_extractor_spark.plans.pipeline import build_stages
    from stanford_relation_extractor_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark("bench", cpus=DEFAULT_CPUS, shuffle_partitions=DEFAULT_CPUS)

    stages = build_stages(spark, SF_DIR)
    n_turns = stages["transcripts"].count()  # also warms the JVM/scan

    timings: dict[str, float] = {}

    def bench(name: str, df, repeats: int = 3) -> None:
        # best-of-N: the sandbox host is time-shared, and a single
        # contended run once doubled every stage time while e2e moved
        # only 8% (BENCH_r04 vs r03) — the min of three discards both
        # the warm-up iteration and transient contention.
        best = None
        for _ in range(repeats):
            t0 = time.monotonic()
            force(df)
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)

    bench("q_mentions", stages["sentences"])
    bench("q_votes", stages["votes"])
    bench("q_ensemble", stages["candidates"])

    # training-data pipeline headliners
    from stanford_relation_extractor_spark.datapipe import queries as dq

    bench("q_minhash_lsh", dq.q_minhash_lsh(spark, SF_DIR))
    bench("q_knn", dq.q_knn_bruteforce(spark, SF_DIR))
    bench("q_quality", dq.q_quality(spark, SF_DIR))

    # headline: the full pipeline end-to-end, fresh DAG each time; the
    # first run pays JIT/codegen/worker-pool warm-up (measured up to 9x
    # on this sandbox; see BENCH/BASELINE.md), so run twice and report
    # the steady state as the headline, first-run alongside.
    runs = []
    for _ in range(3):
        t0 = time.monotonic()
        force(build_stages(spark, SF_DIR)["triples"])
        runs.append(round(time.monotonic() - t0, 3))
    e2e = min(runs)
    timings["q_e2e_triples"] = e2e
    timings["q_e2e_first_run"] = runs[0]

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "kg_pipeline_e2e_sec",
                "value": e2e,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "turns": n_turns,
                "turns_per_sec": round(n_turns / e2e, 1) if e2e else None,
                "cpus": DEFAULT_CPUS,
            }
        )
    )


if __name__ == "__main__":
    main()
