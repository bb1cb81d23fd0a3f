"""Text-analysis operators: token counting, quality scoring, language
ID, and document fingerprinting — all over `documents(doc_id, text)`.

Everything except language ID is pure column expressions (whole-stage
codegen); language ID is a stopword-profile scorer in an Arrow-batched
pandas UDF (profiles are a tiny broadcast dict).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_text

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is")

# minimal stopword profiles for the heuristic language identifier
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "des"),
    "es": ("el", "la", "los", "y", "es", "una", "que", "de"),
}


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_types): whitespace tokens + distinct types."""
    toks = docs.select("doc_id", F.split(normalized_text(), " ").alias("ws"))
    return toks.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.size(F.array_distinct("ws")).alias("n_types"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stopword_ratio, mean_token_len, quality):
    cheap quality heuristics (length band, stopword share, token shape)
    of the kind used to filter web-scale training corpora."""
    toks = docs.select(
        "doc_id", F.col("text"), F.split(normalized_text(), " ").alias("ws")
    )
    n = F.size("ws")
    n_stop = F.size(F.filter(F.col("ws"), lambda w: w.isin(*STOPWORDS)))
    stop_ratio = F.round(n_stop / n, 6)
    mean_len = F.round(
        F.aggregate(F.col("ws"), F.lit(0.0), lambda acc, w: acc + F.length(w)) / n, 6
    )
    length_ok = (n >= 10) & (n <= 10000)
    quality = F.round(
        F.when(length_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.5), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_len >= 2.0) & (mean_len <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0)),
        6,
    )
    return toks.select(
        "doc_id",
        n.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
        quality.alias("quality"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): sha256 digest of normalized text — the
    lineage/dedup key (SURVEY.md F10 sentence-gloss-hash analog)."""
    return docs.select(
        "doc_id", F.sha2(normalized_text(), 256).alias("fingerprint")
    )


def language_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, lang_score): stopword-profile language ID.

    Score = fraction of tokens in the language's stopword profile;
    prediction = argmax (ties broken alphabetically — deterministic).
    """
    profs = {k: frozenset(v) for k, v in LANG_PROFILES.items()}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            preds, scores = [], []
            for text in pdf["text"]:
                ws = (text or "").lower().split()
                n = max(len(ws), 1)
                best_lang, best = "und", 0.0
                for lang in sorted(profs):
                    s = sum(1 for w in ws if w in profs[lang]) / n
                    if s > best:
                        best_lang, best = lang, s
                preds.append(best_lang)
                scores.append(round(best, 6))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pred_lang": preds, "lang_score": scores}
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id bigint, pred_lang string, lang_score double"
    )
