"""Stage 5 — graph-based entity merging via connected components (J9).

Re-expresses `stanford-kbp/.../slotfilling/evaluate/GraphConsistencyPostProcessors.java:53-249`
(EntityMergingPostProcessor: merge equivalent entities onto a
representative, rewrite edges) as:

1. an undirected same-entity edge table (produced by the linker cascade
   or supplied directly);
2. deterministic connected components (no GraphFrames dependency,
   SURVEY.md §4), component id = minimum node: union-find on the driver
   for edge sets under ``CANON_LOCAL_MAX_SURFACES``, else min-label
   propagation: O(diameter) rounds of one co-partitioned join each —
   alias/link chains have diameter <= 3 on transcripts. Lineage is cut
   every 8 rounds; with a ``checkpoint_dir`` the cut is a *reliable*
   ``checkpoint()`` (HDFS/object-store) so executor loss mid-computation
   cannot kill the job — ``localCheckpoint`` is only the sandbox default.
3. triple rewrite: replace entity by its component representative.

The canon map (``build_canon_map``) has two paths, picked by the size
gate ``CANON_LOCAL_MAX_SURFACES``: a driver-local one and a distributed
one. Both run the same pure-Python rule functions, so each rule is
written once: ``_dict_rewrite`` (J6 nickname + F5 suffix strip),
``block_keys``/``_blocks``/``_block_pairs`` (J8 blocking and pairing)
and ``same_entity`` (J8 judging). The distributed path runs them inside
Arrow batch passes, paying the Python boundary once per batch.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import block_keys, is_valid_alternate_name, same_entity

# Label-propagation round ceiling of ``connected_components``: every caller
# needs convergence, so one ceiling, read at call time (tests lower it).
CC_MAX_ITER = 50

# Size gate of the driver-local paths — the broadcast-join threshold
# analog: below it, the whole canon dictionary/link/cascade/CC chain
# runs as one driver computation instead of ~15 driver-sequenced
# small-stage Spark jobs (measured ~8s of pure serial window at
# local[32], ~13s at executor-count-scaling protocols, on a surface set
# of only ~75k rows — THE Amdahl term that held N->4N efficiency at
# 0.74), and connected_components runs union-find over edge sets under
# it. Above the gate the distributed paths run and the window scales
# with executors. Read at call time, so a test can lower it to force
# the distributed paths.
CANON_LOCAL_MAX_SURFACES = 250_000


def _lineage_cut(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(edges: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """(node, component) with component = min node id in the component.

    ``edges`` (src, dst) is treated as undirected; node ids are strings
    ordered lexicographically (deterministic representative selection);
    self-loops and NULL endpoints add no node. Up to
    ``CANON_LOCAL_MAX_SURFACES`` edges run union-find on the driver.
    Beyond, label propagation tests convergence every 4 rounds (each a
    driver round-trip) and cuts lineage every 8 (see module docstring).
    Raises ``RuntimeError`` when labels still change in round
    ``CC_MAX_ITER``: truncated labels would map nodes onto
    non-representatives.
    """
    import pandas as pd

    pdf = edges.select("src", "dst").limit(CANON_LOCAL_MAX_SURFACES + 1).toPandas()
    if len(pdf) <= CANON_LOCAL_MAX_SURFACES:
        pdf = pdf.dropna().query("src != dst")
        comps = union_find_components(zip(pdf["src"], pdf["dst"]))
        rows = [(n, min(members)) for members in comps for n in members]
        return edges.sparkSession.createDataFrame(
            pd.DataFrame(rows, columns=["node", "component"]), "node string, component string"
        )
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

    for it in range(CC_MAX_ITER):
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
        last = it == CC_MAX_ITER - 1
        if (it + 1) % 8 == 0 or last:
            new_labels = _lineage_cut(new_labels, checkpoint_dir)
        labels = new_labels.drop("_changed")
        if ((it + 1) % 4 == 0 or last) and new_labels.filter(
            F.col("_changed")
        ).limit(1).count() == 0:
            return labels
    raise RuntimeError(
        f"connected components did not converge: labels of {labels.count()} "
        f"nodes still changed in round CC_MAX_ITER={CC_MAX_ITER}"
    )


ENTITY_NERS = ("PERSON", "ORGANIZATION")


def vote_surfaces(votes: DataFrame) -> DataFrame:
    """(surface, ner): distinct PERSON/ORGANIZATION surfaces observed in
    the vote stream (entity side always; slot side when entity-typed) —
    the node universe for canonicalization."""
    ent = votes.select(
        F.col("entity_name").alias("surface"), F.col("entity_type").alias("ner")
    )
    slot = votes.filter(F.col("slot_ner").isin(*ENTITY_NERS)).select(
        F.col("slot_value").alias("surface"), F.col("slot_ner").alias("ner")
    )
    return ent.union(slot).distinct()


# J8 candidate-block cap and sorted-neighborhood width (``_blocks``,
# ``_block_pairs``): blocks over MAX_BLOCK re-key by their extended key;
# blocks still over it pair each member with its NEIGHBORHOOD sorted
# successors only, so pair volume stays O(n * NEIGHBORHOOD)
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


def _dict_rewrite(
    surface: str, nicknames: dict[str, str], suffixes: tuple[str, ...]
) -> str:
    """The dictionary rewrite of one surface: J6 nickname
    canonicalization of the leading token
    (`entitylinking/EntityLinker.java:46-55,135-161`), then the F5
    corporate-suffix strip (`EntityLinker.java:114-133`)."""
    first, sep, rest = surface.partition(" ")
    s = nicknames.get(first, first) + sep + rest
    return re.sub(f" ({'|'.join(suffixes)})$", "", s)


def _blocks(surfaces: list[tuple[str, str]]) -> dict[tuple[str, str], list[str]]:
    """(entity_type, block) -> member names over (name, entity_type)
    surfaces. Blocks over ``MAX_BLOCK`` members re-key by their
    extended key (last token + 3-char prefix), as
    `datapipe/dedup.py` prefix_block_jaccard does."""
    keyed = [(n, et, b, e) for n, et in surfaces for b, e in block_keys(n, et)]
    counts = Counter((et, b) for _n, et, b, _e in keyed)
    blocks: dict[tuple[str, str], list[str]] = {}
    for n, et, b, e in keyed:
        blocks.setdefault((et, e if counts[(et, b)] > MAX_BLOCK else b), []).append(n)
    return blocks


def _block_pairs(members: list[str]) -> list[tuple[str, str]]:
    """Candidate pairs (a, b), a < b, of one block: full pairing up to
    ``MAX_BLOCK`` members. A block still over the cap after re-keying
    (a million "John Smith" variants) pairs each sorted member with its
    ``NEIGHBORHOOD`` successors only: lexicographically-near surfaces,
    the ones the cascade can merge, sort adjacent. The recall trade is
    the one the base key already makes at its 1-char prefix."""
    ms = sorted(members)
    width = len(ms) if len(ms) <= MAX_BLOCK else NEIGHBORHOOD
    return [(a, b) for i, a in enumerate(ms) for b in ms[i + 1 : i + 1 + width]]


def _local_cascade_edges(surfaces: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """J8 cascade edges over (name, entity_type) surfaces on the driver:
    the blocked candidate pairs that ``same_entity`` accepts."""
    return [
        (a, b)
        for (et, _b), members in _blocks(surfaces).items()
        for a, b in _block_pairs(members)
        if same_entity(a, b, et)
    ]


def union_find_components(edges) -> list[list]:
    """The member lists of the connected components over undirected
    ``edges`` (pairs of comparable node ids): the driver kernel of
    ``connected_components``, the canon map and the BayesNet factor
    graph."""
    parent: dict = {}

    def find(x):
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
    comp: dict = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return list(comp.values())


def build_canon_map_local(
    spark,
    surface_rows: list[tuple[str, str]],
    alias_rows: list[tuple[str, str, float]],
    nicknames: dict[str, str],
    suffixes: tuple[str, ...],
) -> DataFrame:
    """Driver-local path of ``build_canon_map`` for surface sets under
    the size gate: the same rule functions (dictionary rewrites, capped-
    block cascade), the wikidict margin links, union-find components
    and pure-target representative selection — asserted row-identical
    to the distributed path by tests/test_canon_local_parity.py and by
    the driver's canonical_map oracle."""
    surfaces = sorted({(s, n) for s, n in surface_rows})
    names = [s for s, _ in surfaces]
    directed: list[tuple[str, str]] = []
    for s in names:
        dst = _dict_rewrite(s, nicknames, suffixes)
        if dst != s:
            directed.append((s, dst))
    linked = _local_wikidict_link(sorted(set(names)), alias_rows)
    directed += [(s, c) for s, c in linked.items()]
    pure = {d for _s, d in directed} - {s for s, _d in directed}
    rows: list[tuple[str, str]] = []
    for members in union_find_components(directed + _local_cascade_edges(surfaces)):
        rep = min([m for m in members if m in pure] or members)
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
       ``_dict_rewrite`` form, over DISTINCT surfaces (never the vote
       stream);
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
    import pandas as pd

    from .linking import wikidict_link

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
    names = surf.select("surface").distinct()

    def rewrite(batches):
        for pdf in batches:
            pairs = [(s, _dict_rewrite(s, nicknames, suffixes)) for s in pdf["surface"]]
            yield pd.DataFrame(
                [(s, d) for s, d in pairs if s != d], columns=["src", "dst"]
            )

    e_dict = names.mapInPandas(rewrite, schema="src string, dst string")
    linked = wikidict_link(names, alias_dict)
    e_link = linked.filter(
        F.col("linked").isNotNull() & (F.col("linked") != F.col("surface"))
    ).select(F.col("surface").alias("src"), F.col("linked").alias("dst"))
    # ONE lineage cut at the (tiny) tagged edge set: the directed edges
    # feed FOUR plan branches (CC sym, sources, targets, rep selection)
    # and the cascade edges are re-consumed by EVERY CC iteration —
    # without the cut Catalyst replays the wikidict aggregation and the
    # whole blocked-pair cascade (keying, window, block judge) per
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
    comps = connected_components(edges)
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


def emit_alternate_names(canon_map: DataFrame, surfaces: DataFrame) -> DataFrame:
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
        F.lit(ALTERNATE_NAME_SCORE).alias("score"),
        F.lit("linker").alias("provenance_extractor"),
    )


def same_entity_edges(entities: DataFrame) -> DataFrame:
    """J8 at scale over distinct (entity_name, entity_type) rows: keys
    each surface with ``block_keys`` in one Arrow pass, re-keys blocks
    over ``MAX_BLOCK`` by a window count, then judges each block's
    ``_block_pairs`` with ``same_entity`` (EntityLinker.java:67-84
    cascade) in one clustered Arrow pass. Output: undirected (src, dst)
    edges for connected components, src < dst.
    """
    import pandas as pd

    from pyspark.sql import Window

    from ..functions.grouped import map_groups_in_pandas

    def key(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [
                    (n, et, b, e)
                    for n, et in zip(pdf["entity_name"], pdf["entity_type"])
                    for b, e in block_keys(n, et)
                ],
                columns=["entity_name", "entity_type", "block", "block_ext"],
            )

    keyed = entities.select("entity_name", "entity_type").mapInPandas(
        key,
        schema="entity_name string, entity_type string, block string, block_ext string",
    )
    size = F.count("*").over(Window.partitionBy("entity_type", "block"))
    blocks = keyed.select(
        "entity_name",
        "entity_type",
        F.when(size > MAX_BLOCK, F.col("block_ext"))
        .otherwise(F.col("block"))
        .alias("block"),
    )

    def judge(pdf: pd.DataFrame) -> pd.DataFrame:
        et = pdf["entity_type"].iloc[0]
        pairs = _block_pairs(pdf["entity_name"].tolist())
        return pd.DataFrame(
            [(a, b) for a, b in pairs if same_entity(a, b, et)], columns=["src", "dst"]
        )

    return map_groups_in_pandas(
        blocks, ["entity_type", "block"], judge, "src string, dst string"
    )
