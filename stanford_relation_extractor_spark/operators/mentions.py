"""Stage 1 — sentence split + mention detection (SURVEY.md §2i).

Re-expresses the reference's annotator chain
(`stanford-kbp/.../slotfilling/process/SlotMentionAnnotator.java:83-192`,
`.../shallowdive/TextOps.java:155-260`: NER-span maximal runs with
gazetteer coercion) as ONE Arrow-batched ``mapInPandas`` pass:

    transcripts(conv_id, turn_idx, role, text)
      -> sentences(conv_id, turn_idx, role, sent_idx, sent_text,
                   mentions: array<struct<begin,end,surface,ner>>)

The detector is *config-driven*: an ordered (ner, regex) priority list
(the regexner-style analog of `kbp_regexner_mapping.tab`); earlier
entries win overlap conflicts (URL before NUMBER, DATE before NUMBER).
Gazetteer alternations (countries, ...) are compiled into the config by
the caller — they are tiny dimension tables, broadcast by closure.

Scale notes: this stage is narrow (no shuffle); regexes compile once
per executor; Arrow batch size bounds peak memory. Per-row Python is
confined to regex matching inside the batch loop — there is no
row-at-a-time Python UDF in the plan.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

SENTENCES_SCHEMA = (
    "conv_id string, turn_idx int, role string, sent_idx int, sent_text string, "
    "mentions array<struct<begin:int,end:int,surface:string,ner:string>>"
)

# Sentence boundary: terminator followed by whitespace. Periods inside
# tokens (URLs like www.org1.com) don't split because no space follows;
# single-capital abbreviations ("A. Person...") don't split either —
# the CoreNLP-ssplit-style abbreviation guard.
_SENT_SPLIT = re.compile(r"(?<=[.!?])(?<![A-Z]\.)\s+")

# Sentence-length cap, tokens (reference drops sentences >150 tokens on
# the provenance path, SimpleSlotFiller.java:550). It also implies the
# reference's P5 entity-slot distance limit (1000 tokens, Props.java:837):
# no two mentions of a kept sentence are that far apart.
MAX_SENT_TOKENS = 150


def split_sentences(text: str) -> list[str]:
    return [s for s in _SENT_SPLIT.split(text) if s]


def detect(text: str, matchers: list[tuple[str, re.Pattern[str]]]) -> list[dict[str, Any]]:
    """Priority-ordered, non-overlapping regex NER over one sentence."""
    taken: list[tuple[int, int]] = []
    out: list[dict[str, Any]] = []
    for ner, rx in matchers:
        for m in rx.finditer(text):
            b, e = m.start(), m.end()
            if any(b < te and ta < e for ta, te in taken):
                continue
            if not mention_sanity_ok(m.group(0), ner):
                continue
            taken.append((b, e))
            out.append({"begin": b, "end": e, "surface": m.group(0), "ner": ner})
    out.sort(key=lambda d: d["begin"])
    return out


def mention_sanity_ok(surface: str, ner: str) -> bool:
    """P3 mention sanity filters (`stanford-kbp/.../shallowdive/TextOps.java:236-255`):
    drop absurdly long numbers, the literal token "one", and
    single-token PERSON names."""
    if ner == "NUMBER" and (len(surface) > 15 or surface.lower() == "one"):
        return False
    if ner == "PERSON" and " " not in surface.strip():
        return False
    return True


def sentence_mentions(
    pdf: pd.DataFrame, keys: tuple[str, ...], matchers: list[tuple[str, re.Pattern[str]]]
) -> Iterator[tuple[Any, ...]]:
    """Stage 1 over one Arrow batch of transcripts: a
    (*keys, sent_idx, sentence, mentions) row per sentence under the
    length cap."""
    for *key, text in zip(*(pdf[k] for k in keys), pdf["text"]):
        for sent_idx, sent in enumerate(split_sentences(text)):
            if sent.count(" ") < MAX_SENT_TOKENS:
                yield (*key, sent_idx, sent, detect(sent, matchers))


def detect_mentions(transcripts: DataFrame, config: list[tuple[str, str]]) -> DataFrame:
    """transcripts -> per-sentence rows with detected mention structs."""
    keys = ("conv_id", "turn_idx", "role")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matchers = [(ner, re.compile(rx)) for ner, rx in config]
        for pdf in batches:
            yield pd.DataFrame(
                list(sentence_mentions(pdf, keys, matchers)),
                columns=[*keys, "sent_idx", "sent_text", "mentions"],
            )

    return transcripts.select(*keys, "text").mapInPandas(run, schema=SENTENCES_SCHEMA)
