"""The reference's TokensRegex `.rules` pattern files, parsed as DATA.

`classify/TokensRegexExtractor.java:31-60` binds each rules file to its
relation BY FILENAME (``rel.canonicalName`` with ``/`` -> ``SLASH``;
shipped files also use ``_`` for ``:``) and emits ``rel.canonicalName``
on any match — the per-line ``result:`` strings are IGNORED at runtime
(and are visibly stale in several shipped files, e.g.
`per_country_of_death.rules:2` declares per:stateorprovinces_of_residence).
``defs.rules`` supplies shared macros ($TOP_TITLE, $AGE, ...).

This module parses the files and derives the per-relation pattern
weights the extractors vote (``relation_pattern_weights``). The audits
of the engine against the same files (the per-relation trigger
lexicon, stale ``result:`` strings, the engine-only word ledger) are
checks, not pipeline code: they live in tests/test_rules_parity.py.
"""

from __future__ import annotations

import functools as _functools
import os
import re

from .goldtab import REFERENCE_KBP_DIR

RULES_DIR = REFERENCE_KBP_DIR

# shipped-filename quirks -> RelationType.canonicalName
FILENAME_FIXES = {
    "org:sharholders": "org:shareholders",  # typo in the shipped filename
    "per:stateorprovinces_of_birth": "per:stateorprovince_of_birth",
}

def relation_for_file(filename: str) -> str:
    """Filename -> canonical relation (TokensRegexExtractor.java:36-41
    binding, with the shipped ':'->'_' and '/'->'SLASH' spellings)."""
    base = filename[: -len(".rules")]
    rel = base.replace("SLASH", "/").replace("_", ":", 1)
    return FILENAME_FIXES.get(rel, rel)


def parse_rules_file(path: str) -> list[dict]:
    """[{relation_declared, pattern, weight}] — one entry per rule line.
    ``relation_declared`` is the in-file result: string (runtime ignores
    it; tests audit it), ``weight`` the optional
    trailing confidence."""
    rows: list[dict] = []
    for raw in open(path, encoding="utf-8"):
        line = raw.strip()
        if not line or line.startswith("//") or line.startswith("#"):
            continue
        m = re.search(r'result:\s*"([^"]+)"', line)
        if not m:
            continue
        declared = m.group(1)
        pat = re.search(r"pattern:\s*(.*)\}", line)
        wt = re.search(r"\}\s*([0-9.]+)\s*$", line)
        rows.append({
            "relation_declared": declared,
            "pattern": pat.group(1).strip() if pat else "",
            "weight": float(wt.group(1)) if wt else None,
        })
    return rows


@_functools.lru_cache(maxsize=4)
def relation_pattern_weights(rules_dir: str = RULES_DIR) -> dict[str, float]:
    """canonical relation -> the MAX trailing confidence its `.rules`
    file ships (the mined-pattern weights on the '// From Ce's
    Features' rule blocks; unweighted rules contribute nothing).

    The engine's PATTERN_BANK regex is a corpus-shaped stand-in for the
    whole file and first-match-wins, so where the file ships weights the
    stand-in votes the file's strongest confidence instead of the
    uniform PATTERN_WEIGHT (the reference runtime itself scores every
    heuristic match +inf -> normalized 1.0 regardless of these numbers
    — `HeuristicRelationExtractor.java:77` — so this is a deliberate,
    documented use of shipped data the reference parses but flattens).
    Relations whose file carries no weighted rules are ABSENT (callers
    fall back to PATTERN_WEIGHT)."""
    out: dict[str, float] = {}
    for fn in sorted(os.listdir(rules_dir)):
        if not fn.endswith(".rules") or fn == "defs.rules":
            continue
        rel = relation_for_file(fn)
        ws = [
            r["weight"]
            for r in parse_rules_file(os.path.join(rules_dir, fn))
            if r["weight"] is not None
        ]
        if ws:
            out[rel] = max(out.get(rel, 0.0), max(ws))
    return out
