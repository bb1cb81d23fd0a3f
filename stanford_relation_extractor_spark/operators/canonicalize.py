"""Stage 5 — graph-based entity merging via connected components (J9).

Re-expresses `stanford-kbp/.../slotfilling/evaluate/GraphConsistencyPostProcessors.java:53-249`
(EntityMergingPostProcessor: merge equivalent entities onto a
representative, rewrite edges) as:

1. an undirected same-entity edge table (produced by the linker cascade
   or supplied directly);
2. deterministic connected components (no GraphFrames dependency,
   SURVEY.md §4) by min-label propagation: each node adopts the minimum
   component id among itself and its neighbors. O(diameter) rounds of
   one co-partitioned join each — alias/link chains have diameter <= 3
   on transcripts. Lineage is cut every 8 rounds; with a
   ``checkpoint_dir`` the cut is a *reliable* ``checkpoint()`` (HDFS/
   object-store) so executor loss mid-computation cannot kill the job
   — ``localCheckpoint`` (executor-local) is only the sandbox default.
3. triple rewrite: replace entity by its component representative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lineage_cut(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame, max_iter: int = 25, checkpoint_dir: str | None = None
) -> DataFrame:
    """(node, component) with component = min node id in the component.

    ``edges`` (src, dst) is treated as undirected; node ids are strings
    ordered lexicographically (deterministic representative selection).
    Convergence is tested every 4 rounds (each test is a driver
    round-trip) and lineage is cut every 8 (see module docstring).
    Raises ``RuntimeError`` when labels still change in round
    ``max_iter``: truncated labels would map nodes onto
    non-representatives.
    """
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    labels = _lineage_cut(labels, checkpoint_dir)
    sym = _lineage_cut(sym, checkpoint_dir)

    for it in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["a"] == labels["node"])
            .groupBy(F.col("b").alias("node2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["node2"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("_changed"),
            )
        )
        last = it == max_iter - 1
        if (it + 1) % 8 == 0 or last:
            new_labels = _lineage_cut(new_labels, checkpoint_dir)
        labels = new_labels.drop("_changed")
        if ((it + 1) % 4 == 0 or last) and new_labels.filter(
            F.col("_changed")
        ).limit(1).count() == 0:
            return labels
    raise RuntimeError(
        f"connected components did not converge: labels of {labels.count()} "
        f"nodes still changed in round max_iter={max_iter}"
    )


ENTITY_NERS = ("PERSON", "ORGANIZATION")


def vote_surfaces(votes: DataFrame) -> DataFrame:
    """(surface, ner): distinct PERSON/ORGANIZATION surfaces observed in
    the vote stream (entity side always; slot side when entity-typed) —
    the node universe for canonicalization."""
    from pyspark.sql import functions as F

    ent = votes.select(
        F.col("entity_name").alias("surface"), F.col("entity_type").alias("ner")
    )
    slot = votes.filter(F.col("slot_ner").isin(*ENTITY_NERS)).select(
        F.col("slot_value").alias("surface"), F.col("slot_ner").alias("ner")
    )
    return ent.union(slot).distinct()


# Size gate for the driver-local canon-map fast path — the broadcast-
# join threshold analog: below it, the whole dictionary/link/cascade/CC
# chain runs as one driver computation instead of ~15 driver-sequenced
# small-stage Spark jobs (measured ~8s of pure serial window at
# local[32], ~13s at executor-count-scaling protocols, on a surface set
# of only ~75k rows — THE Amdahl term that held N->4N efficiency at
# 0.74). Above the gate (real corpora: surfaces grow with data) the
# distributed path runs and the window scales with executors instead of
# being fixed. Read at call time, so a test can lower it to force the
# distributed path.
CANON_LOCAL_MAX_SURFACES = 250_000

# J8 candidate-block cap and sorted-neighborhood width, shared by the
# distributed cascade (``blocked_candidate_pairs``) and its driver twin
MAX_BLOCK = 64
NEIGHBORHOOD = 8


def _local_wikidict_link(
    surfaces: list[str], alias_rows: list[tuple[str, str, float]]
) -> dict[str, str]:
    """Driver twin of linking.wikidict_link (J5 margin rule): surface ->
    linked canonical for accepted links only. Bit-identical semantics:
    top-1 by (score desc, canonical asc) over ALL candidate rows
    (duplicates included), accept iff top1 >= 0.4 and (no top2 or
    top1 >= 1.5 * top2)."""
    from .linking import ACCEPT_MARGIN, ACCEPT_SCORE

    by_alias: dict[str, list[tuple[str, float]]] = {}
    for alias, canonical, score in alias_rows:
        by_alias.setdefault(alias, []).append((canonical, score))
    out: dict[str, str] = {}
    for s in surfaces:
        cands = by_alias.get(s.lower())
        if not cands:
            continue
        scores = sorted((sc for _c, sc in cands), reverse=True)
        top1 = scores[0]
        top2 = scores[1] if len(scores) > 1 else None
        if top1 < ACCEPT_SCORE or (top2 is not None and top1 < ACCEPT_MARGIN * top2):
            continue
        best = min(((-sc, c) for c, sc in cands))[1]
        if best != s:
            out[s] = best
    return out


def _local_dict_rewrite(
    surface: str, nicknames: dict[str, str], suffixes: tuple[str, ...]
) -> str:
    """Driver twin of nickname_canonical + strip_corporate_suffix."""
    import re

    first, sep, rest = surface.partition(" ")
    mapped = nicknames.get(first, first)
    s = mapped + sep + rest
    return re.sub(f" ({'|'.join(suffixes)})$", "", s)


def _local_cascade_edges(surfaces: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver twin of blocked_candidate_pairs + same_entity judging
    (both key families, hot-block re-key, sorted-neighborhood tier)."""
    from ..functions.text import (
        blocking_key,
        blocking_key_ext,
        blocking_key_first,
        blocking_key_first_ext,
        same_entity,
    )

    keyed: list[tuple[str, str, str, str]] = []  # (name, et, block, block_ext)
    for name, et in surfaces:
        b = blocking_key(name)
        if b:
            keyed.append((name, et, b, blocking_key_ext(name)))
        if et == "ORGANIZATION":
            bf = blocking_key_first(name)
            if bf:
                keyed.append((name, et, bf, blocking_key_first_ext(name)))
    counts: dict[tuple[str, str], int] = {}
    for _n, et, b, _e in keyed:
        counts[(et, b)] = counts.get((et, b), 0) + 1
    rekeyed = [
        (n, et, e if counts[(et, b)] > MAX_BLOCK else b) for n, et, b, e in keyed
    ]
    blocks: dict[tuple[str, str], list[str]] = {}
    for n, et, b in rekeyed:
        blocks.setdefault((et, b), []).append(n)
    edges: list[tuple[str, str]] = []
    for (et, _b), members in blocks.items():
        if len(members) <= MAX_BLOCK:
            ms = sorted(members)
            for i, a in enumerate(ms):
                for b2 in ms[i + 1:]:
                    if a != b2 and same_entity(a, b2, et):
                        edges.append((a, b2))
        else:
            ms = sorted(members)
            for i, a in enumerate(ms):
                for d in range(1, NEIGHBORHOOD + 1):
                    if i + d < len(ms) and same_entity(a, ms[i + d], et):
                        edges.append((a, ms[i + d]))
    return edges


def _local_components(
    edges: list[tuple[str, str]]
) -> dict[str, str]:
    """Driver twin of connected_components: node -> min-node component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[str, list[str]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def build_canon_map_local(
    spark,
    surface_rows: list[tuple[str, str]],
    alias_rows: list[tuple[str, str, float]],
    nicknames: dict[str, str],
    suffixes: tuple[str, ...],
) -> DataFrame:
    """Driver-local twin of ``build_canon_map`` for surface sets under
    the size gate: identical edge generation (dictionary rewrites,
    wikidict margin links, capped-block cascade), connected components,
    and pure-target representative selection — asserted row-identical
    to the distributed path by tests/test_canon_local_parity.py and by
    the driver's canonical_map oracle."""
    surfaces = sorted({(s, n) for s, n in surface_rows})
    names = [s for s, _ in surfaces]
    directed: list[tuple[str, str]] = []
    for s in names:
        dst = _local_dict_rewrite(s, nicknames, suffixes)
        if dst != s:
            directed.append((s, dst))
    linked = _local_wikidict_link(sorted(set(names)), alias_rows)
    directed += [(s, c) for s, c in linked.items()]
    comp = _local_components(directed + _local_cascade_edges(surfaces))
    sources = {s for s, _d in directed}
    targets = {d for _s, d in directed}
    pure = targets - sources
    by_comp: dict[str, list[str]] = {}
    for n, c in comp.items():
        by_comp.setdefault(c, []).append(n)
    rows: list[tuple[str, str]] = []
    for c, members in by_comp.items():
        pure_members = [m for m in members if m in pure]
        rep = min(pure_members) if pure_members else c
        rows.extend((n, rep) for n in members if n != rep)
    if not rows:
        return spark.createDataFrame([], "node string, rep string")
    # Arrow path for the driver->JVM transfer (a plain tuple list is
    # pickled row-by-row; a pandas frame ships as Arrow batches)
    import pandas as pd

    pdf = pd.DataFrame(sorted(rows), columns=["node", "rep"])
    return spark.createDataFrame(pdf, "node string, rep string")


def build_canon_map(
    surfaces: DataFrame,
    alias_dict: DataFrame,
    nicknames: dict[str, str],
    suffixes: tuple[str, ...],
) -> DataFrame:
    """Stage 4+5 production canonicalization — the reference's flagship
    entity-merging path (`evaluate/GraphConsistencyPostProcessors.java:53-249`
    EntityMergingPostProcessor over the EntityGraph), Spark-first:

    1. directed dictionary rewrites (J6 nickname + F5 suffix strip,
       `entitylinking/EntityLinker.java:46-55,114-161`): surface ->
       rewritten form, as pure column expressions over DISTINCT surfaces
       (never the vote stream);
    2. directed wikidict links (J5 margin rule,
       `shallowdive/TextOps.java:304-349`): broadcast alias join;
    3. undirected same-entity cascade edges (J8) from blocked candidate
       pairs — acronym/overlap/edit-distance merges the dictionaries
       cannot see;
    4. connected components (J9) over the union;
    5. representative = the component's lexicographically-least *pure
       target* (a rewrite/link destination that is never itself a
       source — the canonical form the dictionaries point AT); cycles
       with no pure target fall back to the component minimum.

    Returns the (node, rep) rewrite map, node != rep. The map is
    O(|distinct surfaces|); broadcast it into the vote rewrite at
    sandbox scale, shuffle-join with salting beyond broadcast size.
    """
    from pyspark.sql import functions as F

    from .linking import nickname_canonical, strip_corporate_suffix, wikidict_link

    # size-gated driver-local fast path (see CANON_LOCAL_MAX_SURFACES):
    # ONE collect job replaces the edges/CC/rep chain of driver-
    # sequenced small jobs; falls through to the distributed path the
    # moment either the surface set or the alias dictionary exceeds the
    # gate (the limit(n+1) makes the probe itself O(gate))
    local_max = CANON_LOCAL_MAX_SURFACES
    # Arrow transfers (guide §6): .collect() pickles row-by-row —
    # measured ~0.5s on the 75k-surface probe at sf0.1; toPandas()
    # with arrow.pyspark.enabled moves the same rows as one Arrow
    # batch stream. Values are converted back to plain Python
    # str/float, so the local twin sees identical inputs.
    sample = surfaces.select("surface", "ner").limit(local_max + 1).toPandas()
    if len(sample) <= local_max:
        alias_pdf = (
            alias_dict.select("alias", "canonical", "link_score")
            .limit(4 * local_max + 1)
            .toPandas()
        )
        if len(alias_pdf) <= 4 * local_max:
            return build_canon_map_local(
                surfaces.sparkSession,
                list(zip(sample["surface"], sample["ner"])),
                [
                    (a, c, float(s))
                    for a, c, s in zip(
                        alias_pdf["alias"],
                        alias_pdf["canonical"],
                        alias_pdf["link_score"],
                    )
                ],
                nicknames,
                suffixes,
            )

    surf = surfaces.select("surface", "ner").distinct()
    dict_dst = strip_corporate_suffix(
        nickname_canonical("surface", nicknames), suffixes
    )
    e_dict = surf.select(
        F.col("surface").alias("src"), dict_dst.alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    linked = wikidict_link(surf.select("surface").distinct(), alias_dict)
    e_link = linked.filter(
        F.col("linked").isNotNull() & (F.col("linked") != F.col("surface"))
    ).select(F.col("surface").alias("src"), F.col("linked").alias("dst"))
    # ONE lineage cut at the (tiny) tagged edge set: the directed edges
    # feed FOUR plan branches (CC sym, sources, targets, rep selection)
    # and the cascade edges are re-consumed by EVERY CC iteration —
    # without the cut Catalyst replays the wikidict aggregation and the
    # whole blocked-pair cascade (joins + window + Arrow judge) per
    # branch per iteration (measured: canon build 145s -> ~10s at
    # sf0.001 when the cascade subtree is cut before CC).
    cascade = same_entity_edges(
        surf.select(
            F.col("surface").alias("entity_name"), F.col("ner").alias("entity_type")
        )
    ).select("src", "dst", F.lit("c").alias("_tag"))
    all_edges = (
        e_dict.unionByName(e_link)
        .select("src", "dst", F.lit("d").alias("_tag"))
        .unionByName(cascade)
        .localCheckpoint(eager=True)
    )
    directed = all_edges.filter(F.col("_tag") == "d").drop("_tag")
    edges = all_edges.drop("_tag")
    # CC to CONVERGENCE, not a fixed truncation: a cascade chain of
    # edit-distance-1 surfaces can have arbitrary diameter, and a
    # truncated label propagation maps nodes onto non-representatives
    # (divergent from the driver-local union-find twin — r4 ADVICE);
    # connected_components raises rather than truncate. Its first
    # convergence test (round 4) already passes on the typical
    # diameter<=3 alias/link graph.
    comps = connected_components(edges, max_iter=50)
    sources = directed.select(F.col("src").alias("node")).distinct()
    targets = directed.select(F.col("dst").alias("node")).distinct()
    pure = targets.join(sources, "node", "left_anti")
    pure_reps = comps.join(pure, "node").groupBy("component").agg(
        F.min("node").alias("_rep")
    )
    out = (
        comps.join(pure_reps, "component", "left")
        .select(
            "node", F.coalesce(F.col("_rep"), F.col("component")).alias("rep")
        )
        .filter(F.col("node") != F.col("rep"))
    )
    # the map is consumed by >= 3 downstream branches — materialize once
    return out.localCheckpoint(eager=True)


def rewrite_votes(votes: DataFrame, canon_map: DataFrame) -> DataFrame:
    """Rewrite entity_name and slot_value to their component
    representatives (two broadcast left joins over the vote stream)."""
    from pyspark.sql import functions as F

    m_e = F.broadcast(
        canon_map.select(F.col("node").alias("_ne"), F.col("rep").alias("_re"))
    )
    m_s = F.broadcast(
        canon_map.select(F.col("node").alias("_ns"), F.col("rep").alias("_rs"))
    )
    return (
        votes.join(m_e, votes["entity_name"] == F.col("_ne"), "left")
        .withColumn("entity_name", F.coalesce(F.col("_re"), F.col("entity_name")))
        .drop("_ne", "_re")
        .join(m_s, F.col("slot_value") == F.col("_ns"), "left")
        .withColumn("slot_value", F.coalesce(F.col("_rs"), F.col("slot_value")))
        .drop("_ns", "_rs")
    )


ALTERNATE_NAME_SCORE = 0.9


def emit_alternate_names(
    canon_map: DataFrame, surfaces: DataFrame, score: float = ALTERNATE_NAME_SCORE
) -> DataFrame:
    """AlternateNamesExtractor (`evaluate/AlternateNamesExtractor.java:1-159`,
    invoked from `SimpleSlotFiller.java:256-288`; graph form at
    `GraphConsistencyPostProcessors.java:115-126`): every merged surface
    becomes a per:/org:alternate_names fill on its representative,
    gated by Utils.isValidAlternateName (F6) — pairs that differ only
    by disallowed variants (corporate designators, punctuation) are NOT
    alternate names.

    The judge runs over the canon map (O(|surfaces|) rows), never the
    vote stream; validity is the shared Python predicate inside one
    Arrow batch pass.
    """
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import functions as F

    from ..functions.text import is_valid_alternate_name

    pairs = canon_map.join(
        surfaces.select(F.col("surface").alias("node"), "ner").distinct(), "node"
    )

    def judge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = [
                is_valid_alternate_name(rep, node)
                for rep, node in zip(pdf["rep"], pdf["node"])
            ]
            yield pdf[pd.Series(keep, index=pdf.index)]

    valid = pairs.mapInPandas(judge, schema="node string, rep string, ner string")
    return valid.select(
        F.col("rep").alias("entity_name"),
        F.col("ner").alias("entity_type"),
        F.when(F.col("ner") == "PERSON", F.lit("per:alternate_names"))
        .otherwise(F.lit("org:alternate_names"))
        .alias("relation"),
        F.col("node").alias("slot_value"),
        F.col("ner").alias("slot_ner"),
        F.lit(1).alias("n_agree"),
        F.lit(score).alias("score"),
        F.lit("linker").alias("provenance_extractor"),
    )


def blocked_candidate_pairs(
    entities: DataFrame, max_block: int = MAX_BLOCK, neighborhood: int = NEIGHBORHOOD
) -> DataFrame:
    """J8 candidate generation with a hot-block cap — never O(n^2).

    ``entities``: (entity_name, entity_type) distinct. Three tiers:

    1. base blocking key (normalized last token + first char,
       `functions/text.py:blocking_key`) — full within-block pairing for
       blocks of <= ``max_block`` members;
    2. blocks over the cap re-key by the extended key (last token +
       3-char prefix) — one small groupBy over the KEY set, mirroring
       `datapipe/dedup.py` prefix_block_jaccard's max_block re-key;
    3. blocks STILL over the cap after re-keying (a million "John
       Smith…" variants) fall back to sorted-neighborhood pairing:
       rank surfaces by name within the block and pair only ranks
       (r, r+d), d <= ``neighborhood`` — pair volume n*d instead of
       n^2/2, and lexicographically-near surfaces (the ones the cascade
       can actually merge) sort adjacent. Documented recall trade, the
       same one the base key already makes at its 1-char prefix.

    ORGANIZATION surfaces with a distinct first token additionally key
    into the FIRST-token block (``blocking_key_first``), so nested names
    ("Bank of America Securities") meet their containment parent ("Bank
    of America" / "Org003") — the pair the reference's token-overlap
    cascade must judge but last-token blocking alone never generates.
    A multi-token pair sharing BOTH first and last tokens can surface
    twice (once per key family); the duplicate edge is judged twice and
    deduplicated by connected-components' DISTINCT — bounded waste, no
    correctness effect.

    Output: (src, dst, et) with src < dst within a block.
    """
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import Window

    from ..functions.text import (
        blocking_key,
        blocking_key_ext,
        blocking_key_first,
        blocking_key_first_ext,
    )

    def add_block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["block"] = pdf["entity_name"].map(blocking_key)
            pdf["block_ext"] = pdf["entity_name"].map(blocking_key_ext)
            is_org = pdf["entity_type"] == "ORGANIZATION"
            pdf["block_first"] = ""
            pdf["block_first_ext"] = ""
            pdf.loc[is_org, "block_first"] = pdf.loc[is_org, "entity_name"].map(
                blocking_key_first
            )
            pdf.loc[is_org, "block_first_ext"] = pdf.loc[is_org, "entity_name"].map(
                blocking_key_first_ext
            )
            yield pdf

    keyed_raw = entities.select("entity_name", "entity_type").mapInPandas(
        add_block,
        schema=(
            "entity_name string, entity_type string, block string, "
            "block_ext string, block_first string, block_first_ext string"
        ),
    )
    keyed0 = (
        keyed_raw.select("entity_name", "entity_type", "block", "block_ext")
        .unionByName(
            keyed_raw.filter(F.col("block_first") != "").select(
                "entity_name",
                "entity_type",
                F.col("block_first").alias("block"),
                F.col("block_first_ext").alias("block_ext"),
            )
        )
        .filter(F.col("block") != "")
    )
    counts = keyed0.groupBy("entity_type", "block").agg(F.count("*").alias("_n0"))
    keyed = (
        keyed0.join(counts, ["entity_type", "block"])
        .select(
            "entity_name",
            "entity_type",
            F.when(F.col("_n0") > max_block, F.col("block_ext"))
            .otherwise(F.col("block"))
            .alias("block"),
        )
    )
    counts2 = keyed.groupBy("entity_type", "block").agg(F.count("*").alias("_n"))
    keyed = keyed.join(counts2, ["entity_type", "block"])

    cold = keyed.filter(F.col("_n") <= max_block)
    a = cold.select(
        F.col("entity_name").alias("src"), F.col("entity_type").alias("et"), "block"
    )
    b = cold.select(
        F.col("entity_name").alias("dst"),
        F.col("entity_type").alias("et_b"),
        F.col("block").alias("block_b"),
    )
    pairs_cold = a.join(
        b,
        (F.col("block") == F.col("block_b"))
        & (F.col("et") == F.col("et_b"))
        & (F.col("src") < F.col("dst")),
    ).select("src", "dst", "et")

    hot = keyed.filter(F.col("_n") > max_block)
    w = Window.partitionBy("entity_type", "block").orderBy("entity_name")
    ranked = hot.withColumn("_r", F.row_number().over(w))
    offsets = F.explode(
        F.array(*[F.lit(d) for d in range(1, neighborhood + 1)])
    ).alias("_d")
    left = ranked.select(
        F.col("entity_name").alias("src"),
        F.col("entity_type").alias("et"),
        "block",
        "_r",
        offsets,
    )
    right = ranked.select(
        F.col("entity_name").alias("dst"),
        F.col("entity_type").alias("et_b"),
        F.col("block").alias("block_b"),
        F.col("_r").alias("_r_b"),
    )
    pairs_hot = left.join(
        right,
        (F.col("block") == F.col("block_b"))
        & (F.col("et") == F.col("et_b"))
        & (F.col("_r_b") == F.col("_r") + F.col("_d")),
    ).select("src", "dst", "et")

    return pairs_cold.unionByName(pairs_hot)


def same_entity_edges(
    entities: DataFrame, max_block: int = MAX_BLOCK, neighborhood: int = NEIGHBORHOOD
) -> DataFrame:
    """J8 at scale: candidate pairs by capped blocking
    (``blocked_candidate_pairs``), judged by ``same_entity``
    (EntityLinker.java:67-84 cascade) inside an Arrow batch. Output:
    undirected (src, dst) edges for connected components.
    """
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.text import same_entity

    pairs = blocked_candidate_pairs(entities, max_block, neighborhood)

    def judge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mask = [
                same_entity(s, d, t)
                for s, d, t in zip(pdf["src"], pdf["dst"], pdf["et"])
            ]
            yield pdf[pd.Series(mask, index=pdf.index)][["src", "dst"]]

    return pairs.mapInPandas(judge, schema="src string, dst string")
