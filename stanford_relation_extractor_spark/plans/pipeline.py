"""End-to-end extraction pipeline assembly (SURVEY.md §7 stage graph).

The stage graph is defined once (``stage_graph``). ``build_stages``
materializes it in-session; ``run_pipeline`` persists its stage
boundaries as idempotent, lineage-stamped tables through
sources/sinks.py (the reference's Postgres caches, S9).

Stage 4/5 (LINK + CANON) is the reference's flagship entity-merging
path (`evaluate/GraphConsistencyPostProcessors.java:53-249`): distinct
vote surfaces -> dictionary rewrites + wikidict margin links +
same-entity cascade edges -> connected components -> representative
rewrite of the vote stream, plus alternate-name emission
(`evaluate/AlternateNamesExtractor.java`). Canonicalization performs
Spark actions (iterative CC with lineage cuts), so canon-dependent
stages are built lazily on first access.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.canonicalize import (
    build_canon_map,
    emit_alternate_names,
    rewrite_votes,
    vote_surfaces,
)
from ..operators.consistency import apply_consistency
from ..operators.ensemble import combine_votes
from ..operators.extractors import extract_votes
from ..operators.mentions import detect_mentions
from ..sources.synthetic import (
    CORP_SUFFIXES,
    NICKNAMES,
    alias_dict_df,
    country_gazetteer,
    detector_config,
    transcripts_df,
)


# Live spool scratch directories, reaped at interpreter exit (long
# sessions would otherwise leak one dir per build_stages call — on
# /dev/shm in the bench config, i.e. RAM).
_SPOOL_DIRS: list[str] = []


def _cleanup_spools() -> None:
    import shutil

    while _SPOOL_DIRS:
        shutil.rmtree(_SPOOL_DIRS.pop(), ignore_errors=True)


def _sweep_dead_spools(scratch: str) -> None:
    """Remove spool dirs left by sessions that died without atexit
    (SIGTERM/SIGKILL): the owning pid is in the dir name — if that
    process is gone, its spool is garbage."""
    import os
    import re
    import shutil

    rx = re.compile(r"^spark_graft(\d+)_")
    try:
        entries = os.listdir(scratch)
    except OSError:
        return
    for e in entries:
        m = rx.match(e)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)  # raises if the pid is gone
        except ProcessLookupError:
            shutil.rmtree(os.path.join(scratch, e), ignore_errors=True)
        except OSError:
            pass


def _parquet_spool(df: DataFrame, spark: SparkSession, name: str) -> DataFrame:
    """Materialize an intermediate table as compressed parquet scratch
    and hand back a fresh scan — the in-session analog of
    run_pipeline's checkpoint_stage (columnar, off-heap via the page
    cache, codegen-scannable), without the block-manager heap cost."""
    import atexit
    import os
    import tempfile

    from ..sources.sinks import _read_schema

    # SPARK_GRAFT_SCRATCH points spools at fast scratch (e.g. /dev/shm
    # on the single-disk sandbox — a stand-in for the per-executor NVMe
    # a real cluster gives each shuffle/spill dir). The pid in the
    # prefix makes a SIGKILLed session's leftovers (atexit never ran)
    # attributable and safely sweepable by the next session.
    # Default: /dev/shm when present (guide §6 — the spool is re-scanned
    # 3x within one run; RAM-backed scratch removes the disk round-trip),
    # else the system tmpdir. Env always wins.
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH")
    if scratch is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        scratch = "/dev/shm"
    if not _SPOOL_DIRS:
        atexit.register(_cleanup_spools)
        _sweep_dead_spools(scratch or tempfile.gettempdir())
    d = tempfile.mkdtemp(
        prefix=f"spark_graft{os.getpid()}_{name}_", dir=scratch
    )
    _SPOOL_DIRS.append(d)
    df.write.mode("overwrite").parquet(d)
    # read back through the schema the write implies, as checkpoint_stage
    # does: no schema-inference job
    return spark.read.schema(_read_schema(df.schema, None)).parquet(d)


def _surfaces_cut(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Materialize the surface set once for its >=3 consumers.

    Under the canon size gate the set is pulled to the driver as ONE
    Arrow transfer and re-parallelized (tiny table — the canon probe
    and the alternate-name join then cost microseconds); beyond the
    gate it localCheckpoints as before. Replaces a 1.3s spool-rescan
    checkpoint job + separate probe job with a single job at sandbox
    scale, with no behavior change beyond the gate.
    """
    from ..operators import canonicalize

    gate = canonicalize.CANON_LOCAL_MAX_SURFACES
    pdf = df.limit(gate + 1).toPandas()
    if len(pdf) <= gate:
        return spark.createDataFrame(pdf, df.schema)
    return df.localCheckpoint(eager=True)


def _in_session(spark: SparkSession, name: str, build: Callable[[], DataFrame]) -> DataFrame:
    """How both walkers materialize a stage they do not store: the
    surface set is cut once for its consumers, the rest stay lazy."""
    df = build()
    return _surfaces_cut(df, spark) if name == "surfaces" else df


class LazyStages(dict):
    """Stage dict whose missing keys are built (and memoized) on first
    access — canonicalization runs Spark actions, so building it at
    graph-construction time would charge every caller for it."""

    def __init__(self) -> None:
        super().__init__()
        self.builders: dict[str, Callable[[], DataFrame]] = {}

    def __getitem__(self, key):  # noqa: D105
        if not super().__contains__(key) and key in self.builders:
            self[key] = self.builders[key]()
        return super().__getitem__(key)

    def __contains__(self, key):  # noqa: D105
        return super().__contains__(key) or key in self.builders


@dataclass(frozen=True)
class Stage:
    """One node of the stage graph: ``build`` maps the tables of
    ``inputs``, in order, to this stage's table."""

    name: str
    inputs: tuple[str, ...]
    build: Callable[..., DataFrame]


def stage_graph(spark: SparkSession, sf_dir: str) -> list[Stage]:
    """The KG stage graph (SURVEY.md §7), in topological order. Both
    entry points walk it: ``build_stages`` in-session, ``run_pipeline``
    through checkpointed tables."""

    @functools.cache
    def config() -> list[tuple[str, str]]:
        return detector_config(country_gazetteer(spark, sf_dir))

    return [
        Stage("transcripts", (), lambda: transcripts_df(spark, sf_dir)),
        Stage("sentences", ("transcripts",), lambda t: detect_mentions(t, config())),
        # reads the sentences' mentions column when handed stored
        # sentences; handed the transcripts, it detects mentions inside
        # the same Arrow pass
        Stage("votes", ("sentences",), lambda s: extract_votes(s, config())),
        Stage("surfaces", ("votes",), vote_surfaces),
        Stage("canon_map", ("surfaces",), lambda s: build_canon_map(
            s, alias_dict_df(spark, sf_dir), NICKNAMES, CORP_SUFFIXES
        )),
        Stage("linked_votes", ("votes", "canon_map"), rewrite_votes),
        # single-phase ensemble: the canonical rewrite is two broadcast
        # hash joins riding the same codegen stage as the aggregation's
        # map side, so pre-aggregating before the rewrite saves nothing
        Stage("candidates", ("linked_votes",), combine_votes),
        Stage("alt_names", ("canon_map", "surfaces"), emit_alternate_names),
        Stage("triples", ("candidates", "alt_names"), lambda c, a: apply_consistency(
            c.unionByName(a, allowMissingColumns=True)
        )),
    ]


def _walk(
    graph: list[Stage],
    reads: dict[str, str],
    materialize: Callable[[str, Callable[[], DataFrame]], DataFrame],
) -> LazyStages:
    """Lazy stage dict over ``graph``. A stage reads ``reads.get(i, i)``
    for each input ``i``; ``materialize(name, build)`` turns the stage's
    builder into its table (policy: in-session cuts or stored tables)."""
    stages = LazyStages()
    for st in graph:

        def build(st: Stage = st) -> DataFrame:
            return st.build(*(stages[reads.get(i, i)] for i in st.inputs))

        stages.builders[st.name] = functools.partial(materialize, st.name, build)
    return stages


def build_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The stage graph materialized in-session over the (synthetic)
    transcripts table.

    * ``votes`` is ONE Arrow pass over the transcripts: sentence split,
      mention detection, pairing and the extractors fused, skipping the
      Arrow round trip of the mentions column (``sentences`` stays
      available as its own table for the queries that read it).
    * ``votes_cut`` materializes that scan once: the canonicalization
      actions AND the ensemble-bound rewrite re-scan it instead of
      re-running the extraction. It is a PARQUET spool, not
      localCheckpoint: block-manager storage of tens of millions of
      deserialized rows bloats the shared local-mode heap and the
      following stage pays a GC storm that grows with thread count
      (measured: the ensemble's first run at local[32] was 10-20x
      slower). The spool keeps the 14 RAW narrow columns: collapsing
      the provenance columns into the ``_vote_key`` string before the
      spool grew the parquet bytes 300MB -> 1.1GB at x128 (the concat
      defeats dictionary encoding) and made the 4N ensemble tail
      GC-bound (BENCH/BASELINE.md r5); ``combine_votes`` computes the
      key inside its own scan instead.
    * ``surfaces`` is cut once (``_surfaces_cut``) for the dictionary,
      wikidict, cascade and alternate-name branches.
    """
    stages = _walk(
        stage_graph(spark, sf_dir),
        reads={"sentences": "transcripts", "votes": "votes_cut"},
        materialize=functools.partial(_in_session, spark),
    )
    stages.builders["votes_cut"] = lambda: _parquet_spool(stages["votes"], spark, "votes")
    return stages


def final_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_stages(spark, sf_dir)["triples"]


# Stages run_pipeline persists, in graph order; the others stay lazy
# views over them (the surface set and alternate names are cheap
# aggregates of the stored votes and canon map), materialized as
# build_stages does (``_in_session``).
STORED_STAGES = ("sentences", "votes", "canon_map", "linked_votes", "candidates", "triples")


def run_pipeline(spark: SparkSession, sf_dir: str, checkpoint_dir: str) -> dict[str, object]:
    """Materialized, resumable execution of the stage graph.

    Each stored stage lands as a parquet table + lineage manifest under
    ``checkpoint_dir``; re-running after a crash (or with some stages
    deleted) recomputes only invalid stages — the Spark analog of the
    reference's Postgres caches (S9). A stage's fingerprint chains its
    inputs' along the graph's edges. ``votes`` reads the stored
    sentences, so the extraction runs once per fresh build. The final
    triple store is partitioned by relation (S11 predictions.tab analog).
    """
    import os

    from ..sources.sinks import checkpoint_stage, fingerprint, read_manifest

    cfg = {"sf_dir": sf_dir, "version": 4}
    graph = stage_graph(spark, sf_dir)
    fps: dict[str, str] = {}
    for st in graph:
        fps[st.name] = fingerprint(st.name, cfg, [fps[i] for i in st.inputs])

    def materialize(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        if name not in STORED_STAGES:
            return _in_session(spark, name, build)
        return checkpoint_stage(
            spark, build, os.path.join(checkpoint_dir, name), fps[name],
            partition_by="relation" if name == "triples" else None,
        )

    stages = _walk(graph, reads={}, materialize=materialize)
    for name in STORED_STAGES:
        stages[name]  # noqa: B018 -- builds or validates the stored table
    manifests = {
        name: read_manifest(os.path.join(checkpoint_dir, name)) for name in STORED_STAGES
    }
    return {"triples": stages["triples"], "manifests": manifests}
