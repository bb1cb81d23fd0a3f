"""DuckDB oracle SQL for the training-data pipeline ops.

Every statement re-derives the operator's result from the raw parquet
views with engine-portable primitives (md5 hex, substr-based bits,
floor-division) so a value-hash comparison against the Spark result is
exact.
"""

from __future__ import annotations

NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

DUP_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)"""

NEARDUP_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' zz zz zz' AS text
  FROM documents WHERE doc_id % 5 = 0
)"""

# shingle/minhash/LSH shared sub-CTEs over `corpus`
_SHINGLE_MINHASH = f"""
toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS ws FROM corpus
),
sh_all AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM toks WHERE len(ws) >= 3)
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_all),
mh AS (
  SELECT doc_id, i, min(md5(CAST(i AS STRING) || ':' || shingle)) AS mh
  FROM sh_all CROSS JOIN (SELECT unnest(range(0, 8)) AS i) hs
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, CAST(floor(i / 2.0) AS INT) AS band,
         md5(string_agg(mh, '|' ORDER BY mh)) AS bucket
  FROM mh GROUP BY doc_id, CAST(floor(i / 2.0) AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY c.doc_a, c.doc_b
)"""

DEDUP_EXACT = f"""WITH {DUP_CORPUS}
SELECT md5({NORM}) AS content_hash,
       CAST(count(*) AS INT) AS group_size,
       min(doc_id) AS keep_doc_id
FROM corpus GROUP BY 1"""

MINHASH_LSH = f"""WITH {NEARDUP_CORPUS},
{_SHINGLE_MINHASH}
SELECT i.doc_a, i.doc_b,
       round(i.n_inter / (sa.n + sb.n - i.n_inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.n_inter / (sa.n + sb.n - i.n_inter), 6) >= 0.5"""

def _prefix_key_sql(n: int) -> str:
    """NULL-stable first-n-token key — coalesce form, byte-identical to
    the engine's dedup._prefix_key."""
    return " || ' ' || ".join(f"coalesce(ws[{j + 1}], '')" for j in range(n))


PREFIX_BLOCK_JACCARD = f"""WITH {NEARDUP_CORPUS},
toks AS (SELECT doc_id, string_split({NORM}, ' ') AS ws FROM corpus),
keyed0 AS (
  SELECT doc_id, {_prefix_key_sql(3)} AS block, {_prefix_key_sql(6)} AS block_ext
  FROM toks
),
bcounts AS (SELECT block, count(*) AS n FROM keyed0 GROUP BY block),
keyed AS (
  SELECT doc_id, CASE WHEN n > 64 THEN block_ext ELSE block END AS block
  FROM keyed0 JOIN bcounts USING (block)
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keyed a JOIN keyed b ON a.block = b.block AND a.doc_id < b.doc_id
),
sh_all AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM toks WHERE len(ws) >= 3)
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_all),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter / (sa.n + sb.n - i.n_inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.n_inter / (sa.n + sb.n - i.n_inter), 6) >= 0.5"""

SIMHASH = f"""WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS w FROM documents
),
bits AS (
  SELECT doc_id, j,
         CASE WHEN substr(md5(w), j, 1) IN ('8','9','a','b','c','d','e','f')
              THEN 1 ELSE -1 END AS v
  FROM toks CROSS JOIN (SELECT unnest(range(1, 33)) AS j) js
),
per_bit AS (SELECT doc_id, j, sum(v) AS s FROM bits GROUP BY doc_id, j)
SELECT doc_id,
       string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
FROM per_bit GROUP BY doc_id"""

KNN_BRUTEFORCE = """WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, e.embedding) AS sim
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM ranked WHERE rank <= 3"""


def _lsh_sig_sql(n_bits: int) -> str:
    """Parameterized hyperplane-signature CTE (md5-derived +-1 planes,
    byte-identical to similarity.hyperplane_signs)."""
    return f"""
planes AS (
  SELECT j, d,
         CASE WHEN substr(md5(CAST(j AS STRING) || ':' || CAST(d AS STRING)), 1, 1)
                   IN ('8','9','a','b','c','d','e','f')
              THEN 1.0 ELSE -1.0 END AS w
  FROM (SELECT unnest(range(0, {n_bits})) AS j) js
  CROSS JOIN (SELECT unnest(range(0, 64)) AS d) ds
),
comps AS (
  SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS d) ds
),
dots AS (
  SELECT c.vec_id, p.j, sum(c.x * p.w) AS dot
  FROM comps c JOIN planes p ON c.d = p.d
  GROUP BY c.vec_id, p.j
),
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
  FROM dots GROUP BY vec_id
)"""


_LSH_SIG = _lsh_sig_sql(8)

LSH_KNN = f"""WITH {_LSH_SIG},
q AS (
  SELECT e.vec_id AS query_id, e.embedding AS qv, s.bucket AS qbucket
  FROM embeddings e JOIN sig s ON s.vec_id = e.vec_id
  WHERE e.vec_id < 5
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, e.embedding) AS sim
  FROM q
  JOIN sig s ON s.bucket = q.qbucket
  JOIN embeddings e ON e.vec_id = s.vec_id AND e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM ranked WHERE rank <= 3"""

TOKEN_COUNTS = f"""WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS ws FROM documents
)
SELECT doc_id, CAST(len(ws) AS INT) AS n_tokens,
       CAST(len(list_distinct(ws)) AS INT) AS n_types
FROM toks"""

_STOP = "('the','a','an','of','and','to','in','is')"

QUALITY = f"""WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS ws FROM documents
), m AS (
  SELECT doc_id,
         len(ws) AS n,
         round(len(list_filter(ws, x -> x IN {_STOP})) / len(ws), 6) AS stop_ratio,
         round(list_sum(list_transform(ws, x -> length(x))) / len(ws), 6) AS mean_len
  FROM toks
)
SELECT doc_id, CAST(n AS INT) AS n_tokens, stop_ratio AS stopword_ratio,
       mean_len AS mean_token_len,
       round(
         (CASE WHEN n >= 10 AND n <= 10000 THEN 0.5 ELSE 0.0 END)
         + (CASE WHEN stop_ratio >= 0.01 AND stop_ratio <= 0.5 THEN 0.25 ELSE 0.0 END)
         + (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0 THEN 0.25 ELSE 0.0 END), 6
       ) AS quality
FROM m"""

FINGERPRINTS = f"""SELECT doc_id, sha256({NORM}) AS fingerprint FROM documents"""

_PROFILES = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "es": ("el", "la", "los", "y", "es", "una", "que", "de"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "des"),
}


def _langid_sql() -> str:
    score_cols = ",\n         ".join(
        f"round(len(list_filter(ws, x -> x IN {tuple(words)!r}))"
        f" / greatest(len(ws), 1), 6) AS s_{lang}"
        for lang, words in sorted(_PROFILES.items())
    )
    langs = sorted(_PROFILES)
    pred_branches = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{other}" for other in langs if other != lang]
        conds.append(f"s_{lang} > 0")
        pred_branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    pred = "CASE " + " ".join(pred_branches) + " ELSE 'und' END"
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    return f"""WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), scores AS (
  SELECT doc_id,
         {score_cols}
  FROM toks
)
SELECT doc_id, {pred} AS pred_lang, {best} AS lang_score FROM scores"""


LANGUAGE_ID = _langid_sql()

EVENTS_TUMBLING = """SELECT event_type, date_trunc('hour', ts) AS window_start,
       CAST(count(*) AS INT) AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2"""

EVENTS_SESSIONS = """WITH ordered AS (
  SELECT user_id, event_id, ts,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sess AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, CAST(count(*) AS INT) AS n_events, min(ts) AS session_start
FROM sess GROUP BY user_id, session_idx"""

MULTIMODAL_FEATURES = """SELECT doc_id, 'application/octet-stream' AS mime,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(octet_length(encode(text)) % 7 AS INT) AS feat0
FROM documents"""

ALL = {
    "dedup_exact": DEDUP_EXACT,
    "minhash_lsh_neardups": MINHASH_LSH,
    "prefix_block_jaccard": PREFIX_BLOCK_JACCARD,
    "simhash": SIMHASH,
    "knn_bruteforce": KNN_BRUTEFORCE,
    "lsh_knn": LSH_KNN,
    "token_counts": TOKEN_COUNTS,
    "quality_scores": QUALITY,
    "fingerprints": FINGERPRINTS,
    "language_id": LANGUAGE_ID,
    "events_tumbling": EVENTS_TUMBLING,
    "events_sessions": EVENTS_SESSIONS,
    "multimodal_features": MULTIMODAL_FEATURES,
}


LSH_KNN_BANDED = f"""WITH {_lsh_sig_sql(16)},
bands AS (
  SELECT vec_id, b, substr(bucket, b * 4 + 1, 4) AS bv
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs
),
qb AS (
  SELECT s.vec_id AS query_id, b.b, b.bv
  FROM sig s JOIN bands b ON b.vec_id = s.vec_id
  WHERE s.vec_id < 5
),
cand AS (
  SELECT DISTINCT q.query_id, v.vec_id
  FROM qb q JOIN bands v ON v.b = q.b AND v.bv = q.bv
  WHERE v.vec_id <> q.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding, e.embedding) AS sim
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM ranked WHERE rank <= 3"""


SIMHASH_NEAR_DUPS = f"""WITH {NEARDUP_CORPUS},
toks AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS w FROM corpus
),
bits AS (
  SELECT doc_id, j,
         CASE WHEN substr(md5(w), j, 1) IN ('8','9','a','b','c','d','e','f')
              THEN 1 ELSE -1 END AS v
  FROM toks CROSS JOIN (SELECT unnest(range(1, 33)) AS j) js
),
per_bit AS (SELECT doc_id, j, sum(v) AS s FROM bits GROUP BY doc_id, j),
sig AS (
  SELECT doc_id,
         string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
  FROM per_bit GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, b, substr(simhash, b * 8 + 1, 8) AS bv
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM banded a JOIN banded b ON a.b = b.b AND a.bv = b.bv
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming(sig_a, sig_b) AS INT) AS hamming
FROM pairs WHERE hamming(sig_a, sig_b) <= 3"""

ALL["lsh_knn_banded"] = LSH_KNN_BANDED
ALL["simhash_neardups"] = SIMHASH_NEAR_DUPS
