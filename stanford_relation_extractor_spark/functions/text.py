"""Scalar text functions (SURVEY.md §2g) + the same-entity cascade (J8).

Python forms are used inside Arrow-batched UDFs and unit tests; column
forms (where a built-in exists) are preferred in plans:

* F2 `no_special_chars`  — Utils.noSpecialChars (`common/Utils.java:367-395`)
* F4 acronym build/match — `entitylinking/AcronymMatcher.java:19-131`
* `strip_corp` — the case-insensitive corporate-suffix/determiner strip
  the cascade compares under (the F5 dictionary rewrite,
  `entitylinking/EntityLinker.java:114-133`, is
  `operators/canonicalize.py:_dict_rewrite`)
* J8 `same_entity` — the linker cascade of
  `entitylinking/EntityLinker.java:67-84,189-331`: exact/caseless match,
  acronym match, token-overlap score with type-specific thresholds,
  edit-distance <= 1.
"""

from __future__ import annotations

import re
from functools import lru_cache

CORP_SUFFIX_RX = re.compile(r"\s+(inc|ltd|corp|co|llc|corporation|company)\.?$", re.I)
DETERMINER_RX = re.compile(r"^(the|a|an)\s+", re.I)
_SPECIAL_RX = re.compile(r"[\\\"'-]")


def no_special_chars(s: str) -> str:
    """Strip backslash, quotes and dashes; casefold (Utils.java:367-395)."""
    return _SPECIAL_RX.sub("", s).lower()


def strip_corp(s: str) -> str:
    return CORP_SUFFIX_RX.sub("", DETERMINER_RX.sub("", s.strip()))


# Normalization memos (guide §4.5 heavy-init-once analog at call level):
# the cascade judges each surface against up to `MAX_BLOCK` partners
# (operators/canonicalize.py), so a surface's normalized form / token
# split / digit signature would be recomputed O(block) times on either
# canon path. Bounded LRU keeps executor memory flat on real corpora
# (surfaces per task are far under the cap anyway).
@lru_cache(maxsize=1 << 18)
def _corp_tokens(s: str) -> tuple[str, ...]:
    """strip_corp(s).split() with original case (acronym matching needs
    capitalization)."""
    return tuple(strip_corp(s).split())


@lru_cache(maxsize=1 << 18)
def _norm_parts(s: str) -> tuple[str, tuple[str, ...], str]:
    """(normalized form, its tokens, its digit signature)."""
    n = no_special_chars(strip_corp(s))
    return n, tuple(n.split()), _digits(n)


def acronym(tokens: list[str]) -> str:
    """First letters of capitalized tokens (AcronymMatcher.java:19-64)."""
    return "".join(t[0].upper() for t in tokens if t and t[0].isalpha())


_NON_ALPHA_RX = re.compile(r"[^A-Za-z]")


def is_acronym_of(short: str, long_tokens: list[str]) -> bool:
    """AcronymMatcher.isAcronym: short form == initials of the long form."""
    s = _NON_ALPHA_RX.sub("", short).upper()
    return len(s) > 1 and s == acronym(long_tokens)


# type-specific token-overlap acceptance thresholds (EntityLinker cascade)
OVERLAP_THRESHOLD = {"PERSON": 0.99, "ORGANIZATION": 0.75}


def same_entity(a: str, b: str, entity_type: str = "ORGANIZATION") -> bool:
    """J8 cascade: returns True when the two surfaces plausibly denote
    one entity. Deterministic, order-independent."""
    na, ta, da = _norm_parts(a)
    nb, tb, db = _norm_parts(b)
    if na == nb:
        return True
    # acronym match (orgs)
    if entity_type == "ORGANIZATION" and (
        is_acronym_of(a.strip(), _corp_tokens(b))
        or is_acronym_of(b.strip(), _corp_tokens(a))
    ):
        return True
    # token containment / overlap score
    inter = len(set(ta) & set(tb))
    denom = min(len(ta), len(tb))
    if denom and inter / denom >= OVERLAP_THRESHOLD.get(entity_type, 0.99) and inter >= 1:
        # PERSON requires shared surname-like final token
        if entity_type != "PERSON" or (ta and tb and ta[-1] == tb[-1]):
            return True
    # near-typo: string edit distance <= 1 on the normalized form —
    # but a DIGIT difference is never a typo ("Org004 Securities" vs
    # "Org009 Securities", "Boeing 737" vs "Boeing 747" are distinct
    # entities one edit apart): require identical digit sequences
    if abs(len(na) - len(nb)) <= 1 and da == db and _lev_le1(na, nb):
        return True
    return False


_NON_DIGIT_RX = re.compile(r"\D+")


def _digits(s: str) -> str:
    return _NON_DIGIT_RX.sub("", s)


def _lev_le1(a: str, b: str) -> bool:
    if a == b:
        return True
    if abs(len(a) - len(b)) > 1:
        return False
    # one substitution
    if len(a) == len(b):
        return sum(x != y for x, y in zip(a, b)) <= 1
    # one insertion/deletion
    if len(a) > len(b):
        a, b = b, a
    i = j = diff = 0
    while i < len(a) and j < len(b):
        if a[i] == b[j]:
            i += 1
            j += 1
        else:
            diff += 1
            if diff > 1:
                return False
            j += 1
    return True


_ALT_NAME_VARIANT_RX = re.compile(
    r"\s+(inc|ltd|corp|co|llc|corporation|company|the)\.?\b|[^a-z0-9 ]", re.I
)


def remove_disallowed_alternate_name_variants(name: str) -> str:
    """Utils.removeDisallowedAlternateNameVariants — strip corporate
    designators / punctuation so 'Acme Corp.' ~ 'Acme'."""
    return re.sub(r"\s+", " ", _ALT_NAME_VARIANT_RX.sub("", name.lower())).strip()


def is_valid_alternate_name(name1: str, name2: str) -> bool:
    """F6 Utils.isValidAlternateName (`common/Utils.java:411`): an
    alternate name is valid iff it differs beyond disallowed variants."""
    return remove_disallowed_alternate_name_variants(
        name1
    ) != remove_disallowed_alternate_name_variants(name2)


def blocking_key(name: str) -> str:
    """Candidate-pair blocking key (J8 at scale): normalized last token
    + first character — never O(n^2) pair generation."""
    n, toks, _ = _norm_parts(name)
    if not toks:
        return ""
    return f"{toks[-1]}:{n[:1]}"


def block_keys(name: str, entity_type: str) -> list[tuple[str, str]]:
    """J8 blocking keys of one surface as (block, block_ext), from one
    normalization. The last-token family is ``blocking_key`` plus its
    extended key for hot blocks: normalized last token + first THREE
    characters. Real name distributions make the base key quadratic
    ('smith:j'); blocks over the cap re-key there, trading the pairs
    that differ inside the 3-char prefix (the recall trade the base key
    already makes at 1 char).

    ORGANIZATIONs add the first-token family (first token + 1- and
    3-char prefix, the same key space), so "Org003 Securities" lands in
    single-token "Org003"'s block and nested names ("Bank of America
    Securities") meet their containment parent ("Bank of America"): they
    share no LAST token, but the reference's containment cascade
    (EntityLinker token overlap >= 0.75) must see the pair to merge it.
    Single-token names have no first-token key (their last-token key
    already is it). PERSONs never use it: the PERSON cascade requires a
    shared surname (last token), so first-name blocks could never merge.
    A name that normalizes to no tokens has no keys. A pair sharing
    both families' blocks is judged twice; the duplicate edge is
    harmless."""
    n, toks, _ = _norm_parts(name)
    if not toks:
        return []
    keys = [(f"{toks[-1]}:{n[:1]}", f"{toks[-1]}:{n[:3]}")]
    if entity_type == "ORGANIZATION" and toks[0] != toks[-1]:
        keys.append((f"{toks[0]}:{n[:1]}", f"{toks[0]}:{n[:3]}"))
    return keys
