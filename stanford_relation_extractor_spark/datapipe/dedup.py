"""Document deduplication operators for the training-data pipeline.

Scale-first designs over a `documents(doc_id, text, ...)` table:

* exact dedup       — hash-groupBy on a content digest (one shuffle on
                      the digest; map-side partial agg).
* MinHash + LSH     — shingle -> k minhashes -> band buckets ->
                      candidate pairs only within buckets (never O(n^2));
                      verify candidates with exact shingle Jaccard.
* prefix blocking   — n-gram Jaccard verified within cheap blocks.
* SimHash           — 32-bit signature from per-token digests; near-dup
                      = small Hamming distance within LSH-band blocks.

Cross-engine determinism: every hash is md5 hex (identical bytes in
Spark and DuckDB), minhash order is lexicographic on hex strings, and
SimHash bits derive from hex characters — so the DuckDB oracle can
re-derive signatures exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NUM_HASHES = 8
BAND_ROWS = 2  # 8 hashes -> 4 bands of 2
SHINGLE_WIDTH = 3
JACCARD_THRESHOLD = 0.5  # near-dup floor of both Jaccard verifiers
PREFIX_TOKENS = 3  # prefix-blocking key length
MAX_BLOCK = 64  # prefix blocks larger than this are re-keyed ...
EXTENDED_TOKENS = 6  # ... by this longer prefix
SIMHASH_BITS = 32  # <= 63: the Hamming distance is a bit_count over one long
SIMHASH_BANDS = 4  # > MAX_HAMMING: the pigeonhole guarantee of the band join
MAX_HAMMING = 3


def normalized_text() -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(content_hash, group_size, keep_doc_id): hash-groupBy exact dedup.

    keep = min doc_id (deterministic survivor selection).
    """
    return (
        docs.select("doc_id", F.md5(normalized_text()).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("int").alias("group_size"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): word n-grams via sequence-positions explode.

    Stays in whole-stage codegen (no Python): split -> sequence ->
    explode -> concat of element_at slices.
    """
    toks = docs.select("doc_id", F.split(normalized_text(), " ").alias("ws"))
    toks = toks.filter(F.size("ws") >= SHINGLE_WIDTH)
    pos = toks.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(1), F.size("ws") - (SHINGLE_WIDTH - 1))).alias("i"),
    )
    parts = [F.element_at(F.col("ws"), F.col("i") + j) for j in range(SHINGLE_WIDTH)]
    return pos.select("doc_id", F.concat_ws(" ", *parts).alias("shingle"))


def _minhash_wide(sh: DataFrame) -> DataFrame:
    """(doc_id, _mh0.._mhK): the k permutation minima as COLUMNS of one
    aggregation. The k permutations used to ride an explode — k x the
    rows through the shuffle and the aggregation (guide §2.3: shuffle
    fewer bytes; §2.4: one exchange instead of row-multiplied work).
    Hash values are unchanged: md5(i || ':' || shingle) per permutation."""
    cols = [
        F.min(
            F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))
        ).alias(f"_mh{i}")
        for i in range(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*cols)


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, i, mh): per-permutation minhash = lexicographic min of
    md5(i || ':' || shingle). Computed wide (one aggregation over the
    shingle rows, no k-way explode) and unpivoted — the unpivot touches
    only #docs x k rows."""
    wide = _minhash_wide(sh)
    entries = []
    for i in range(NUM_HASHES):
        entries.append(
            F.struct(F.lit(i).alias("i"), F.col(f"_mh{i}").alias("mh"))
        )
    return wide.select(
        "doc_id", F.explode(F.array(*entries)).alias("_e")
    ).select("doc_id", F.col("_e.i").alias("i"), F.col("_e.mh").alias("mh"))


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """(doc_a, doc_b): pairs sharing at least one LSH band bucket.

    Bucket join replaces the O(n^2) cross join; the self-join is on
    (band, bucket_key) with doc_a < doc_b, deduped across bands.
    """
    bands = (
        signatures.withColumn("band", (F.col("i") / F.lit(BAND_ROWS)).cast("int"))
        .groupBy("doc_id", "band")
        .agg(F.md5(F.concat_ws("|", F.sort_array(F.collect_list("mh")))).alias("bucket"))
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "bucket"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("band").alias("band_b"), F.col("bucket").alias("bucket_b")
    )
    return (
        a.join(b, (a["band"] == b["band_b"]) & (a["bucket"] == b["bucket_b"]))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def exact_jaccard(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard): exact shingle Jaccard for candidate pairs.

    Semi-joined to candidates first, so the shingle join only touches
    near-dup suspects.
    """
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle").distinct()
    sb = sh.select(F.col("doc_id").alias("_doc_b"), F.col("shingle").alias("shingle_b")).distinct()
    sizes = sa.groupBy("doc_a").agg(F.count("*").alias("n_a"))
    sizes_b = sb.groupBy(F.col("_doc_b").alias("doc_b")).agg(F.count("*").alias("n_b"))
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("_doc_b")) & (F.col("shingle") == F.col("shingle_b")), "inner")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes, "doc_a")
        .join(sizes_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )


def minhash_near_dups(docs: DataFrame) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band ->
    candidate -> exact-Jaccard verify -> threshold."""
    sh = shingles(docs)
    pairs = lsh_candidate_pairs(minhash_signatures(sh))
    return exact_jaccard(sh, pairs).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def _prefix_key(n: int) -> F.Column:
    """First-n-token key with NULL-stable concatenation (missing tokens
    become '' so short docs key deterministically and identically to the
    DuckDB oracle's coalesce form)."""
    ws = F.split(normalized_text(), " ")
    parts: list[F.Column] = []
    for j in range(n):
        if j:
            parts.append(F.lit(" "))
        parts.append(F.coalesce(F.try_element_at(ws, F.lit(j + 1)), F.lit("")))
    return F.concat(*parts)


def prefix_block_jaccard(docs: DataFrame) -> DataFrame:
    """n-gram Jaccard dedup with cheap prefix blocking (no MinHash):
    candidate pairs share their first ``PREFIX_TOKENS`` tokens.

    Skew guard: on natural text, boilerplate prefixes ("i think the")
    put millions of docs in one block, making within-block pair
    generation quadratic. Blocks with more than ``MAX_BLOCK`` members
    are re-keyed by a longer ``EXTENDED_TOKENS`` prefix (one extra
    small groupBy on the block key — never a pass over pairs). Pairs
    that differ inside the extended prefix are sacrificed: a documented
    recall trade, mirrored exactly by the oracle.
    """
    keyed0 = docs.select(
        "doc_id",
        _prefix_key(PREFIX_TOKENS).alias("block"),
        _prefix_key(EXTENDED_TOKENS).alias("block_ext"),
    )
    counts = keyed0.groupBy("block").agg(F.count("*").alias("_n"))
    keyed = keyed0.join(counts, "block").select(
        "doc_id",
        F.when(F.col("_n") > MAX_BLOCK, F.col("block_ext"))
        .otherwise(F.col("block"))
        .alias("block"),
    )
    a = keyed.select(F.col("doc_id").alias("doc_a"), "block")
    b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("block").alias("block_b"))
    pairs = (
        a.join(b, (F.col("block") == F.col("block_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b")
    )
    return exact_jaccard(shingles(docs), pairs).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): bit-string SimHash.

    Bit j of a token = whether hex char j of md5(token) is >= '8'
    (i.e. top bit of that nibble); document bit j = majority vote over
    tokens. Hex-character derivation keeps the signature engine-portable.

    Plan shape: ONE hash aggregation over the token rows. The per-bit
    explode form multiplied every token row by the bit count and needed a
    second shuffle to re-assemble the signature (measured 38s at sf0.1,
    guide §2.3/§2.4); here `translate` maps the md5 to a 0/1 string
    once, the per-position sums ride one groupBy(doc_id), and
    bit j = (2 * ones_j >= n_tokens) — the same majority vote
    (ones - zeros >= 0) with identical tie behavior.
    """
    # '0'..'7' -> 0, '8'..'f' -> 1 per hex char, computed once per token
    tr = F.translate(F.md5("w"), "0123456789abcdef", "0000000011111111")
    toks = docs.select(
        "doc_id", F.explode(F.split(normalized_text(), " ")).alias("w")
    ).select("doc_id", tr.alias("tb"))
    aggs = [F.count("*").alias("_n")] + [
        F.sum(F.substring(F.col("tb"), j, 1).cast("int")).alias(f"_o{j}")
        for j in range(1, SIMHASH_BITS + 1)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    bit_cols = [
        F.when(F.lit(2) * F.col(f"_o{j}") >= F.col("_n"), F.lit("1")).otherwise(
            F.lit("0")
        )
        for j in range(1, SIMHASH_BITS + 1)
    ]
    return per_doc.select("doc_id", F.concat(*bit_cols).alias("simhash"))


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming): SimHash near-dup pairs via Hamming-band
    candidate join — the scale path the round-1 docstring promised.

    Pigeonhole guarantee: two signatures within ``MAX_HAMMING`` bits
    differ in at most MAX_HAMMING bands, so with
    ``SIMHASH_BANDS > MAX_HAMMING`` they MUST agree on at least one
    exact band — the band equi-join loses NO pairs under the threshold
    (no recall trade, unlike capped prefix blocking). Never an
    all-pairs join.
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    sig = simhash_signatures(docs)
    # Candidate volume is quadratic in bucket density (measured 10.4M
    # band-matched pairs from 6k templated docs at sf0.1), so the pair
    # stream is kept NARROW (two ids + one long) and the hamming filter
    # runs map-side BEFORE the distinct — the old form shuffled 10M
    # rows carrying two 32-char strings through distinct and then paid
    # a per-row split/zip_with array hamming (measured 32s; now ~3s).
    # bit_count(xor) over the numeric signature counts exactly the
    # differing 0/1 characters.
    sigl = sig.select(
        "doc_id",
        "simhash",
        F.conv("simhash", 2, 10).cast("long").alias("_sl"),
    )
    banded = sigl.select(
        "doc_id",
        "_sl",
        F.explode(F.array(*[F.lit(b) for b in range(SIMHASH_BANDS)])).alias("band"),
        "simhash",
    ).select(
        "doc_id",
        "_sl",
        "band",
        F.substring(F.col("simhash"), F.col("band") * width + 1, width).alias("bv"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("_sl").alias("_sa"), "band", "bv"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("_sl").alias("_sb"),
        F.col("band").alias("band_b"), F.col("bv").alias("bv_b"),
    )
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        a.join(b, (a["band"] == b["band_b"]) & (a["bv"] == b["bv_b"]))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
