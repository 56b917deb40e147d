"""Wildcard / infix term search via a trigram-banded dictionary.

The reference's suffix-array engine matches token *prefixes* for free
(every indexed position is a token start — ``lib/suffix_array_reader.rb``),
which fatespark covers with the range-pruned ``expand_prefix``. Infix and
general wildcard patterns (``*data*``, ``mi*le``) have no such sort-order
shortcut: the classic scale answer (Lucene wildcard-over-n-grams, Russ
Cox's trigram index) is to band the term dictionary by character
trigrams, intersect the posting-lists-of-trigrams for the pattern's
literal runs, and exact-verify the survivors. That is what this module
does, entirely with DataFrame ops:

- ``dictionary_trigrams``: (trigram, term) — trigrams of ``^term$``
  (anchors make leading/trailing runs selective), a JVM
  transform/explode projection over the terms table. Persist it bucketed
  by ``trigram`` for a served system; inline it is one narrow map.
- ``expand_wildcard``: required trigrams from the pattern's literal runs
  -> IN-list filter on the trigram table -> group HAVING count(DISTINCT
  trigram) = n_required (a term must contain ALL of them) -> exact
  anchored-regex verify -> ascending-term cap. Patterns too short to yield any
  trigram (e.g. ``*a*``) fall back to a full-dictionary verify scan —
  correct, documented as the expensive path (the dictionary is still
  vocab-sized, never corpus-sized).
- ``search_wildcard``: expansion -> the ordinary OR-BM25 ``search`` (same
  semantics as ``search_prefix``: each matched dictionary term scores
  independently).

Pattern language: ``*`` matches any run (including empty); everything
else is literal. Patterns are ASCII-folded like any query term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import ascii_fold

__all__ = ["pattern_trigrams", "pattern_regex", "dictionary_trigrams",
           "expand_wildcard", "search_wildcard", "regexp_trigrams",
           "expand_regexp", "search_regexp"]

_ANCHOR_L, _ANCHOR_R = "^", "$"

# trigrams of '^'||term||'$' — JVM higher-order functions only
_TRIGRAMS_EXPR = (
    "transform(sequence(1, length({a}) - 2), i -> substring({a}, i, 3))"
)


def _augmented(term: str) -> str:
    return _ANCHOR_L + term + _ANCHOR_R


def pattern_trigrams(pattern: str) -> list[str]:
    """Required trigrams of the pattern's literal runs, anchored at the
    pattern edges. Any term matching the pattern contains every one of
    these trigrams of its augmented form — the banding invariant."""
    aug = _augmented(pattern)
    out: list[str] = []
    for run in aug.split("*"):
        for i in range(len(run) - 2):
            g = run[i:i + 3]
            if g not in out:
                out.append(g)
    return out


def _re_escape(lit: str) -> str:
    # escape every non-alphanumeric char — legal and identical in Java
    # regex (Spark) and RE2 (DuckDB), unlike Python's re.escape output
    # fed to other engines
    return "".join(c if c.isalnum() else "\\" + c for c in lit)


def pattern_regex(pattern: str) -> str:
    """The exact-verify predicate as an anchored regex: ``*`` -> ``.*``,
    literal runs escaped engine-portably."""
    return ("^" + ".*".join(_re_escape(seg) for seg in pattern.split("*"))
            + "$")


def dictionary_trigrams(terms_df: DataFrame) -> DataFrame:
    """(trigram, term) over distinct dictionary terms."""
    t = terms_df.select("term").distinct()
    aug = "concat('^', term, '$')"
    return t.select(
        "term",
        F.explode(F.expr(_TRIGRAMS_EXPR.format(a=aug))).alias("trigram"))


def expand_wildcard(index, pattern: str, max_terms: int | None = 256,
                    trigrams: DataFrame | None = None) -> list[str]:
    """Dictionary terms matching ``pattern`` (ascending, capped at
    ``max_terms`` like ``expand_prefix``). ``trigrams``: a pre-persisted
    ``dictionary_trigrams`` table to probe instead of recomputing."""
    p = ascii_fold(pattern)
    rx = pattern_regex(p)
    grams = pattern_trigrams(p)
    if grams:
        tg = trigrams if trigrams is not None else \
            dictionary_trigrams(index.terms)
        cand = (tg.filter(F.col("trigram").isin(grams))
                .groupBy("term")
                .agg(F.countDistinct("trigram").alias("ng"))
                .filter(F.col("ng") == len(grams))
                .select("term"))
    else:
        # pattern has no 3-char literal run: full dictionary verify scan
        cand = index.terms.select("term").distinct()
    hits = cand.filter(F.col("term").rlike(rx))
    if max_terms is not None:
        hits = hits.orderBy("term").limit(max_terms)
    return sorted(r["term"] for r in hits.collect())


def search_wildcard(index, pattern: str, k: int = 10,
                    max_terms: int | None = 256,
                    with_url: bool = False, quantize: int | None = None,
                    trigrams: DataFrame | None = None) -> DataFrame:
    """Wildcard query -> trigram-banded dictionary expansion -> OR-BM25."""
    terms = expand_wildcard(index, pattern, max_terms, trigrams)
    if not terms:
        return index._empty(with_url)
    return index.search(terms, k=k, mode="OR", with_url=with_url,
                        quantize=quantize)


# --------------------------------------------------------------------------
# Regexp term query (Lucene RegexpQuery): same trigram banding, with the
# required literal runs extracted CONSERVATIVELY from the regex — any
# construct whose contribution is uncertain (classes, groups, alternation,
# optional quantifiers) simply breaks the current run, which can only
# weaken the band (more candidates), never lose a match.
# --------------------------------------------------------------------------

def _skip_class(rx: str, i: int) -> int:
    """i at '[' -> index just past the matching ']'."""
    i += 1
    if i < len(rx) and rx[i] == "^":
        i += 1
    if i < len(rx) and rx[i] == "]":   # leading ] is a literal
        i += 1
    while i < len(rx):
        if rx[i] == "\\":
            i += 2
            continue
        if rx[i] == "]":
            return i + 1
        i += 1
    return i


def _skip_group(rx: str, i: int) -> int:
    """i at '(' -> index just past the matching ')'."""
    depth = 0
    while i < len(rx):
        c = rx[i]
        if c == "\\":
            i += 2
            continue
        if c == "[":
            i = _skip_class(rx, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return i


def _skip_quant(rx: str, i: int) -> int:
    """Skip a quantifier (* + ? {m,n}) and a lazy suffix at position i."""
    if i < len(rx) and rx[i] in "*+?":
        i += 1
    elif i < len(rx) and rx[i] == "{":
        j = rx.find("}", i)
        i = (j + 1) if j != -1 else i + 1
    else:
        return i
    if i < len(rx) and rx[i] == "?":   # lazy
        i += 1
    return i


def regexp_trigrams(rx: str) -> list[str]:
    """Required trigrams of any term fully matching ``rx`` (over the
    augmented '^term$' form). Returns [] when nothing is provably
    required (top-level alternation, all-optional patterns, malformed
    quantifiers) — the caller then verify-scans the dictionary."""
    runs: list[str] = []
    cur = ""
    start_anchored = True  # fullmatch: regex start == term start
    i, n = 0, len(rx)

    def flush(end: bool = False):
        nonlocal cur, start_anchored
        if cur:
            runs.append(("^" if start_anchored else "") + cur
                        + ("$" if end else ""))
        cur = ""
        start_anchored = False

    while i < n:
        c = rx[i]
        if c == "|":
            return []          # a branch may avoid every run
        if c == "\\":
            if i + 1 < n and not rx[i + 1].isalnum():
                lit, i = rx[i + 1], i + 2     # escaped literal
            else:
                flush()                       # \d \w \b ...: a class
                i = _skip_quant(rx, i + 2)
                continue
        elif c in ".^$":
            flush()
            i = _skip_quant(rx, i + 1)
            continue
        elif c == "[":
            flush()
            i = _skip_quant(rx, _skip_class(rx, i))
            continue
        elif c == "(":
            j = _skip_group(rx, i)
            if "|" in rx[i:j]:
                return []      # group alternation: stay conservative
            flush()
            i = _skip_quant(rx, j)
            continue
        elif c in "*+?{":
            return []          # dangling quantifier: malformed, bail
        else:
            lit, i = c, i + 1
        # a literal was consumed; a following quantifier decides its fate
        if i < n and rx[i] in "*?":
            flush()            # optional char: not required, breaks run
            i = _skip_quant(rx, i)
            continue
        if i < n and rx[i] == "{":
            j = rx.find("}", i)
            if j == -1:
                return []
            lo = rx[i + 1:j].split(",")[0]
            if lo.isdigit() and int(lo) >= 1:
                cur += lit     # at least one occurrence is required
            flush()
            i = _skip_quant(rx, i)
            continue
        if i < n and rx[i] == "+":
            cur += lit         # the char occurs, then repeats: run ends
            flush()
            i = _skip_quant(rx, i)
            continue
        cur += lit
    flush(end=True)
    out: list[str] = []
    for run in runs:
        for j in range(len(run) - 2):
            g = run[j:j + 3]
            if g not in out:
                out.append(g)
    return out


def expand_regexp(index, rx: str, max_terms: int | None = 256,
                  trigrams: DataFrame | None = None) -> list[str]:
    """Dictionary terms FULLY matching ``rx`` (Lucene RegexpQuery is
    implicitly anchored), banded by the regex's required trigrams and
    exact-verified with an anchored rlike. Patterns with no provable
    literal run fall back to a dictionary (never corpus) verify scan.
    Write portable regex (Java/RE2 common subset) — the same string is
    the DuckDB twin's predicate. The pattern is NOT case-folded (folding
    a regex corrupts classes: \\W -> \\w); dictionary terms are
    already folded, so write lowercase literals — Lucene RegexpQuery has
    the same contract."""
    p = rx
    grams = regexp_trigrams(p)
    verify = f"^(?:{p})$"
    if grams:
        tg = trigrams if trigrams is not None else \
            dictionary_trigrams(index.terms)
        cand = (tg.filter(F.col("trigram").isin(grams))
                .groupBy("term")
                .agg(F.countDistinct("trigram").alias("ng"))
                .filter(F.col("ng") == len(grams))
                .select("term"))
    else:
        cand = index.terms.select("term").distinct()
    hits = cand.filter(F.col("term").rlike(verify))
    if max_terms is not None:
        hits = hits.orderBy("term").limit(max_terms)
    return sorted(r["term"] for r in hits.collect())


def search_regexp(index, rx: str, k: int = 10,
                  max_terms: int | None = 256,
                  with_url: bool = False, quantize: int | None = None,
                  trigrams: DataFrame | None = None) -> DataFrame:
    """Regexp query -> trigram-banded dictionary expansion -> OR-BM25."""
    terms = expand_regexp(index, rx, max_terms, trigrams)
    if not terms:
        return index._empty(with_url)
    return index.search(terms, k=k, mode="OR", with_url=with_url,
                        quantize=quantize)
