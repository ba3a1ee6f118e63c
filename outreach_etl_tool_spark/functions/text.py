"""Text-analysis primitives for the training-data pipeline (SURVEY.md
§2.10 L4): tokenization, token statistics, language-ID heuristic,
quality scoring, document fingerprinting.

Everything is built from JVM-side expressions (regexp, higher-order
functions, xxhash64) — no Python in the hot path, so a 100 TB
documents scan stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .expr import bind_once

TOKEN_RE = "[a-zA-Z]+"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Real pipelines use fastText/CLD3; the heuristic is the
# in-engine fallback and is deterministic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est", "dans", "que"),
    "es": ("el", "la", "que", "de", "los", "una", "es", "por", "con", "para"),
    "zh": ("de", "shi", "le", "zai", "you", "wo", "ta", "men", "zhe", "bu"),
}


def tokens(text: Column | str) -> Column:
    """Lower-cased alphabetic tokens (array<string>)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer shape: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs, whitespace. RE2-compatible
# (no lookahead), so Spark's Java regex and DuckDB's RE2 agree — the
# cheap "how many BPE tokens will this roughly be" estimator a data
# pipeline uses for budget accounting before real tokenization.
BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(text: Column | str) -> Column:
    """Approximate BPE token count (pre-tokenizer piece count)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_RE), 0))


def ws_token_count(text: Column | str) -> Column:
    """Whitespace-delimited token count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"\S+"), 0))


def avg_token_len(text: Column | str) -> Column:
    def _build(toks: Column) -> Column:
        total = F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        return F.try_divide(total, F.size(toks))

    return bind_once(tokens(text), _build)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, "[a-zA-Z0-9 ]", "")
    return F.try_divide(F.length(stripped).cast("double"), F.length(c))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    sane mean token length. Mirrors the length/punct/stopword family of
    Gopher/C4-style quality rules.

    The mean-token-length band references avg_token_len twice, so it is
    bound once (the when() would otherwise re-run the tokenizer+fold
    per reference)."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c).cast("double")
    len_ok = F.when((n >= 20) & (n <= 10000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) <= 0.2, 1.0).otherwise(0.0)
    tok_ok = bind_once(
        avg_token_len(c),
        lambda atl: F.when((atl >= 2.0) & (atl <= 12.0), 1.0).otherwise(0.0),
    )
    return (len_ok + punct_ok + tok_ok) / 3.0


def lang_id(text: Column | str) -> Column:
    """Stopword-overlap language guess over STOPWORDS (deterministic:
    ties broken by language code order; no stopword hits → 'und').

    Shape matters here: the obvious CASE-chain fold (best = when(score
    > best, ...) per language) textually nests every prior score into
    every later comparison — 57 tokenizer evaluations per row in the
    executed plan. Instead the token array is bound once, per-language
    scores are computed once each into an array, and the winner is
    array_max + array_position (first occurrence = earliest code, the
    same tie-break as the strictly-greater chain)."""
    codes = sorted(STOPWORDS)
    langs = F.array(*[F.lit(c) for c in codes])
    sw_lists = F.array(
        *[F.array(*[F.lit(w) for w in STOPWORDS[c]]) for c in codes]
    )

    def _pick(toks: Column) -> Column:
        scores = F.transform(
            sw_lists,
            lambda sw: F.size(F.filter(toks, lambda t: F.array_contains(sw, t))),
        )
        return bind_once(
            scores,
            lambda s: bind_once(
                F.array_max(s),
                lambda mx: F.when(
                    mx > 0,
                    F.element_at(langs, F.array_position(s, mx).cast("int")),
                ).otherwise(F.lit("und")),
            ),
        )

    return bind_once(tokens(text), _pick)


def fingerprint(text: Column | str) -> Column:
    """Order-sensitive rolling document fingerprint: a left fold of
    xxhash64 over the token stream (hash chaining). Near-zero cost,
    order-sensitive (unlike a token-set hash), collision-resistant
    enough for shard-level dedup bookkeeping."""
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.xxhash64(acc, t),
    )
