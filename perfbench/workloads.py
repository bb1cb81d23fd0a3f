"""The benchmark's workloads: what each run does after set-up, and the
per-layer metrics a traced run derives from its spans and the event log.

Every call into the program goes through a span, so a traced run can
attribute its wall time; an untraced run records the same spans (for
timing only) without labelling Spark jobs.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field, fields

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from stanford_relation_extractor_spark.operators import canonicalize
from stanford_relation_extractor_spark.plans import pipeline as P

from .trace import JobStats, Tracer, idle_seconds, tree_cpu_seconds

# Stages forced one by one in a traced pipeline run, in pipeline order.
# "votes", "alt_names" and "candidates" are also recomputed inside the
# stage after them ("votes_cut" re-runs the extraction it spools;
# "triples" re-runs the ensemble and the alternate names): that work
# exists only because the traced run forces them alone, and is reported
# as trace.recompute_s.
TRACED_STAGES = (
    "votes", "votes_cut", "surfaces", "canon_map", "alt_names", "candidates", "triples",
)
RECOMPUTED = ("votes", "alt_names", "candidates")
STORE_STAGES = ("sentences", "votes", "canon_map", "linked_votes", "candidates", "triples")
# Warm repetitions per process, fixed whatever --seconds says: resident
# memory grows with every pipeline run, so a count that rose as the
# program got faster would read as a peak_rss_mb regression, and
# warm_s/stored_mb would be medians over different counts.
WARM_RUNS = 1
# Datapipe queries the traced kg_store run measures: (layer metric,
# name of the DuckDB oracle twin in datapipe.oracles.ALL, query).
DATAPIPE = (
    ("dedup.exact_s", "dedup_exact", "q_dedup_exact"),
    ("dedup.minhash_s", "minhash_lsh_neardups", "q_minhash_lsh"),
    ("dedup.simhash_s", "simhash_neardups", "q_simhash_neardups"),
    ("dedup.prefix_block_s", "prefix_block_jaccard", "q_prefix_block_jaccard"),
    ("similarity.knn_s", "knn_bruteforce", "q_knn_bruteforce"),
    ("similarity.lsh_banded_s", "lsh_knn_banded", "q_lsh_knn_banded"),
    ("textstats.quality_s", "quality_scores", "q_quality"),
    ("textstats.language_id_s", "language_id", "q_language_id"),
    ("events.sessions_s", "events_sessions", "q_events_sessions"),
)
MB = 2**20


class CanonProbe:
    """Which canon path the program took: counts the ``build_canon_map``
    calls the pipeline makes and those that returned through the
    driver-local ``build_canon_map_local``. It wraps the module
    attributes the pipeline and ``build_canon_map`` look them up by."""

    def __init__(self) -> None:
        self.calls = 0
        self.local = 0
        build, local = P.build_canon_map, canonicalize.build_canon_map_local

        @functools.wraps(build)
        def counted_build(*args, **kwargs):
            self.calls += 1
            return build(*args, **kwargs)

        @functools.wraps(local)
        def counted_local(*args, **kwargs):
            self.local += 1
            return local(*args, **kwargs)

        P.build_canon_map = counted_build
        canonicalize.build_canon_map_local = counted_local

    @property
    def distributed(self) -> int:
        """Canon maps built on the distributed path."""
        return self.calls - self.local


@dataclass
class Run:
    """State one benchmark run shares between its operations."""

    spark: object
    sf_dir: str
    work: str
    tracer: Tracer
    turns: int
    attempted: int = 0
    failed: int = 0
    digests: dict[str, set[str]] = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    roots: list[str] = field(default_factory=list)
    epoch_window: tuple[float, float] = (0.0, 0.0)
    canon: CanonProbe = field(default_factory=CanonProbe)
    # CPU seconds of each operation, over the benchmark process, the
    # JVM and the Python workers
    cpu: dict[str, float] = field(default_factory=dict)

    def op(self, name: str, fn):
        """Run one measured operation as a root span; a raise counts as
        a failed operation and is re-raised."""
        self.attempted += 1
        self.roots.append(name)
        c0 = tree_cpu_seconds()
        try:
            with self.tracer.span(name, name) as s:
                out = fn(name)
        except Exception:
            self.failed += 1
            raise
        self.cpu[name] = tree_cpu_seconds() - c0
        print(f"[perfbench] op {name}: {s.wall:.3f}s wall, {self.cpu[name]:.2f}s cpu",
              file=sys.stderr, flush=True)
        return out, s.wall

    def record(self, key: str, digest: str) -> None:
        self.digests.setdefault(key, set()).add(digest)


def digest(df: DataFrame) -> tuple[int, str]:
    """Order-independent digest of a table: row count plus the sum of
    per-row 64-bit hashes over every column (doubles rounded to 1e-6).
    As a sink it forces every row of ``df`` in one job."""
    cols = [
        F.round(F.col(f.name), 6) if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return r["n"], f"{r['n']}:{r['h']}"


def _noop_count(df: DataFrame, name: str) -> int:
    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get["n"]


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def pipeline_run(run: Run, run_id: str) -> tuple[str, dict]:
    """One full in-session pipeline run (``build_stages`` -> triples).

    Untraced, the triple-set digest is the sink. Traced, each stage is
    forced on its own through the ``LazyStages`` keys; the returned
    counts ride those same jobs.
    """
    spool = os.environ["SPARK_GRAFT_SCRATCH"]
    spooled = _dir_mb(spool)
    stages = P.build_stages(run.spark, run.sf_dir)
    counts: dict[str, float] = {}
    if not run.tracer.enabled:
        _, d = digest(stages["triples"])
    else:
        for key in TRACED_STAGES:
            with run.tracer.span(key, run_id, parent=run_id):
                if key in RECOMPUTED:
                    counts[key] = _noop_count(stages[key], f"{run_id}/{key}")
                elif key == "triples":
                    counts[key], d = digest(stages[key])
                else:
                    stages[key]  # noqa: B018 -- the LazyStages builder runs here
    counts["spool_mb"] = _dir_mb(spool) - spooled
    return d, {"stages": stages, **counts}


class InvalidWorkload(RuntimeError):
    """The generated input lacks the property its workload exists for:
    the run stops without a result."""


def _check_canon_side(run: Run, stages) -> None:
    """The KG workloads exist to measure the driver-local canon path
    (run.py clears the gate override): fail loudly if the input reached
    the production size gate, or if the program took the distributed
    path anyway (an alias dictionary beyond the gate does that)."""
    n = stages["surfaces"].count()
    if n >= canonicalize.CANON_LOCAL_MAX_SURFACES:
        raise InvalidWorkload(
            f"{n} surfaces reach the canon gate {canonicalize.CANON_LOCAL_MAX_SURFACES}"
        )
    if not run.canon.calls:
        raise RuntimeError("no build_canon_map call seen: the canon probe is not hooked in")
    if run.canon.distributed:
        raise InvalidWorkload(f"{run.canon.distributed} canon map(s) took the distributed path")
    run.layer["canonicalize.surfaces"] = n


def kg_steady(run: Run) -> None:
    """Closed loop of full pipeline runs: the first is the cold run,
    then WARM_RUNS warm runs."""
    (d, info), _ = run.op("run0", lambda rid: pipeline_run(run, rid))
    run.record("triples", d)
    run.e2e["cold_cpu_s"] = run.cpu["run0"]
    _check_canon_side(run, info["stages"])
    infos = []
    for i in range(1, WARM_RUNS + 1):
        (d, info), _ = run.op(f"run{i}", lambda rid: pipeline_run(run, rid))
        run.record("triples", d)
        infos.append(info)
    run.e2e["warm_cpu_s"] = statistics.median(run.cpu[f"run{i}"] for i in range(1, WARM_RUNS + 1))
    run.e2e["stored_mb"] = statistics.median(x["spool_mb"] for x in infos)
    if run.tracer.enabled:
        _warm_layers(run, [f"run{k}" for k in range(1, WARM_RUNS + 1)], infos)
        _cold_layers(run)


def kg_store(run: Run) -> None:
    """The resumable write path next to the in-session one: materialize
    into an empty checkpoint directory, resume after dropping the last
    two stages, and check the stored triples against the in-session run.

    Traced, it then runs the three downstream consumers over the stored
    triples and the datapipe queries over the seeded documents. The
    untraced run leaves them out to stay within the time budget of a
    benchmark run (they cost ~27s and ~20s, mostly per-job fixed cost),
    so no end-to-end bound guards them yet.
    """
    (d_mem, info), _ = run.op("run0", lambda rid: pipeline_run(run, rid))
    run.record("triples", d_mem)
    run.e2e["cold_cpu_s"] = run.cpu["run0"]
    _check_canon_side(run, info["stages"])

    ckpt = os.path.join(run.work, "checkpoint")
    _, t_mat = run.op("materialize", lambda _: P.run_pipeline(run.spark, run.sf_dir, ckpt))
    for stage in ("candidates", "triples"):
        shutil.rmtree(os.path.join(ckpt, stage))
    out, t_res = run.op("resume", lambda _: P.run_pipeline(run.spark, run.sf_dir, ckpt))
    stored = out["triples"]
    (_, d_store), _ = run.op("parity", lambda _: digest(stored))
    if d_store != d_mem:
        run.failed += 1
        print(f"[perfbench] parity: stored triples {d_store} != in-session {d_mem}",
              file=sys.stderr)

    run.e2e["warm_cpu_s"] = run.cpu["materialize"] + run.cpu["resume"]
    run.e2e["stored_mb"] = _dir_mb(ckpt)
    run.layer["sinks.materialize_s"] = t_mat
    run.layer["sinks.resume_s"] = t_res
    manifests = out["manifests"]
    for stage in STORE_STAGES:
        run.layer[f"sinks.stage_rows.{stage}"] = manifests[stage]["row_count"]
        run.layer[f"sinks.stage_mb.{stage}"] = _dir_mb(os.path.join(ckpt, stage))
    run.layer["sinks.skew_ratio"] = manifests["triples"]["skew_ratio"]
    if run.tracer.enabled:
        run.layer["trace.warm_s"] = t_mat + t_res
        _cold_layers(run)
        _consumers(run, stored)
        _datapipe(run)


def _consumers(run: Run, stored: DataFrame) -> None:
    """INFER, BayesNet MAP and the official scorer over stored triples."""
    from stanford_relation_extractor_spark.ontology import RELATIONS
    from stanford_relation_extractor_spark.operators.bayesnet import infer_map_triples
    from stanford_relation_extractor_spark.operators.evaluate import (
        official_score,
        perturbed_response_set,
    )
    from stanford_relation_extractor_spark.operators.inference import infer_triples
    from stanford_relation_extractor_spark.operators.worldknowledge import geo_cities_df

    geo = geo_cities_df(run.spark, run.sf_dir)
    card = {r.name: r.cardinality for r in RELATIONS}
    queries = {
        "inference": lambda _: digest(infer_triples(stored, geo)),
        "bayesnet": lambda _: digest(infer_map_triples(stored, geo, run.spark)),
        "evaluate": lambda _: digest(official_score(*perturbed_response_set(stored, card), card)),
    }
    for name, fn in queries.items():
        (rows, d), wall = run.op(name, fn)
        run.record(name, d)
        run.layer[f"{name}.wall_s"] = wall
        run.layer[f"{name}.rows"] = rows


def _normalized(pdf) -> list[tuple]:
    """Rows of a result as sorted tuples, columns by name, floats
    rounded to 1e-6 and everything else compared as text."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = [
        pdf[c].round(6) if pd.api.types.is_float_dtype(pdf[c]) else pdf[c].astype(str)
        for c in pdf.columns
    ]
    return sorted(zip(*cols)) if cols else []


def _datapipe(run: Run) -> None:
    """The datapipe queries over the seeded documents, embeddings and
    events, each collected to the driver. Every result must equal its
    DuckDB oracle twin on the same tables: a parity check for any seed."""
    import duckdb

    from stanford_relation_extractor_spark.datapipe import oracles, queries

    with duckdb.connect() as con:
        for t in ("documents", "embeddings", "events"):
            path = os.path.join(run.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for metric, name, query in DATAPIPE:
            fn = getattr(queries, query)
            pdf, wall = run.op(name, lambda _: fn(run.spark, run.sf_dir).toPandas())
            run.layer[metric] = wall
            if name == "minhash_lsh_neardups":
                run.layer["dedup.pairs"] = len(pdf)
            want, _ = run.op(f"{name}.oracle", lambda _: con.execute(oracles.ALL[name]).df())
            if sorted(pdf.columns) != sorted(want.columns) or _normalized(pdf) != _normalized(want):
                run.failed += 1
                print(f"[perfbench] {name}: Spark result ({len(pdf)} rows) != DuckDB oracle "
                      f"({len(want)} rows)", file=sys.stderr)


WORKLOADS = {"kg_steady": kg_steady, "kg_store": kg_store}


def _span_wall(run: Run, rid: str, name: str) -> float:
    s = run.tracer.find(rid, name)
    return s.wall if s else 0.0


def _stage_walls(run: Run, rid: str, warm: bool) -> dict[str, float]:
    """Layer walls of one traced pipeline run.

    Warm self times net out the recomputation: the spool's own cost is
    the votes_cut span minus the standalone extraction, consistency's is
    the triples span minus the recomputed candidates and alternate
    names. The cold run reports raw spans instead: whichever stage runs
    first pays the cold start, so a difference of spans means nothing.
    """

    def span(name: str) -> float:
        return _span_wall(run, rid, name)

    recompute = sum(span(x) for x in RECOMPUTED)
    return {
        "extractors": span("votes"),
        "pipeline": max(0.0, span("votes_cut") - warm * span("votes")),
        "canonicalize": span("surfaces") + span("canon_map"),
        "ensemble": span("candidates"),
        "consistency": max(0.0, span("triples") - warm * (span("candidates") + span("alt_names"))),
        "surfaces": span("surfaces"),
        "canon": span("canon_map"),
        "alt_names": span("alt_names"),
        "recompute": recompute,
        "warm": span(rid) - recompute,
    }


def _cold_layers(run: Run) -> None:
    walls = _stage_walls(run, "run0", warm=False)
    for layer in ("extractors", "pipeline", "canonicalize", "ensemble", "consistency"):
        run.layer[f"{layer}.cold_wall_s"] = walls[layer]


def _warm_layers(run: Run, rids: list[str], infos: list[dict]) -> None:
    """Medians over the warm traced runs, and the counts of the last."""
    walls = [_stage_walls(run, rid, warm=True) for rid in rids]
    for metric, key in (
        ("extractors.wall_s", "extractors"),
        ("pipeline.spool_s", "pipeline"),
        ("ensemble.wall_s", "ensemble"),
        ("consistency.wall_s", "consistency"),
        ("canonicalize.surfaces_s", "surfaces"),
        ("canonicalize.canon_s", "canon"),
        ("canonicalize.alt_names_s", "alt_names"),
        ("trace.recompute_s", "recompute"),
        ("trace.warm_s", "warm"),
    ):
        run.layer[metric] = statistics.median(w[key] for w in walls)
    last = infos[-1]
    run.layer["extractors.votes"] = last["votes"]
    run.layer["extractors.votes_per_turn"] = last["votes"] / run.turns
    run.layer["ensemble.candidates"] = last["candidates"]
    run.layer["consistency.triples"] = last["triples"]
    run.layer["pipeline.spool_mb"] = statistics.median(x["spool_mb"] for x in infos)
    run.layer["canonicalize.map_rows"] = last["stages"]["canon_map"].count()
    plan = run.spark.sparkContext._jvm.PythonSQLUtils.explainString(
        last["stages"]["candidates"]._jdf.queryExecution(), "formatted"
    )
    run.layer["ensemble.sort_aggregates"] = plan.count("SortAggregate")


def event_log_layers(
    run: Run, stats: dict[str, JobStats], intervals: list, warm_rids: list[str]
) -> None:
    """Task CPU, GC, shuffle and spill per layer from the event log,
    summed over each layer's job descriptions and averaged per run."""

    def per_run(names: tuple[str, ...]) -> JobStats:
        picked = [stats[k] for r in warm_rids for n in names if (k := f"{r}/{n}") in stats]
        return JobStats(*(
            sum(getattr(s, f.name) for s in picked) / len(warm_rids) for f in fields(JobStats)
        ))

    if warm_rids:
        ext = per_run(("votes",))
        run.layer["extractors.task_cpu_s"] = ext.task_cpu_s
        run.layer["extractors.gc_s"] = ext.gc_s
        run.layer["canonicalize.jobs"] = per_run(("surfaces", "canon_map")).jobs
        ens = per_run(("candidates",))
        run.layer["ensemble.task_cpu_s"] = ens.task_cpu_s
        run.layer["ensemble.shuffle_mb"] = ens.shuffle_mb
        run.layer["ensemble.spill_mb"] = ens.spill_mb
        tail = per_run(("triples",))
        run.layer["consistency.shuffle_mb"] = max(0.0, tail.shuffle_mb - ens.shuffle_mb)
    if "materialize/materialize" in stats:
        run.layer["sinks.jobs"] = stats["materialize/materialize"].jobs
    t0, t1 = run.epoch_window
    in_window = [(a, b) for a, b in intervals if b >= t0 and a <= t1]
    run.layer["scheduler.jobs"] = len(in_window)
    run.layer["scheduler.gap_s"] = idle_seconds(in_window, t0, t1)


def coverage(run: Run) -> None:
    """Share of the measured window the spans attribute: a root span
    with children counts only the time its children cover."""
    window = run.epoch_window[1] - run.epoch_window[0]
    attributed = 0.0
    for rid in run.roots:
        children = [s for s in run.tracer.spans if s.run_id == rid and s.parent == rid]
        attributed += sum(s.wall for s in children) if children else _span_wall(run, rid, rid)
    run.layer["trace.wall_s"] = window
    run.layer["trace.coverage"] = attributed / window if window else 0.0
    run.layer["trace.unattributed_s"] = window - attributed


def measure(run: Run, workload: str) -> None:
    """Run the workload inside the measured window."""
    run.epoch_window = (time.time(), 0.0)
    WORKLOADS[workload](run)
    run.epoch_window = (run.epoch_window[0], time.time())
    run.layer["canonicalize.distributed"] = float(run.canon.distributed > 0)
    run.e2e["turns_per_cpu_s"] = run.turns / run.e2e["warm_cpu_s"]
