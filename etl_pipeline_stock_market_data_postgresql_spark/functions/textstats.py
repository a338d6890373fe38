"""Text-analysis column expressions (beyond-reference operators: the
text half of a large-scale training-data pipeline).

Everything here is a pure JVM-side column expression (split/regexp/
aggregate higher-order functions) — no Python UDFs — and every
expression has an exact DuckDB-SQL twin in workload/textstats.py so the
oracle can verify it. Tokenization is shared and deliberately simple:
lowercase, split on non-alphanumeric runs, drop empties.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# ASCII-only case fold. NOT lower(): full unicode case mapping genuinely
# differs between the engines (Java lowers U+0130 'İ' to 'i' + combining
# dot U+0307, utf8proc to plain 'i'; Java maps a final 'Σ' to 'ς',
# utf8proc to 'σ'), so tokenizing through lower() splits differently on
# mixed-script text. translate() is a deterministic codepoint map,
# identical in both engines; non-ASCII codepoints stay untouched and the
# [^a-z0-9] split then treats them as separators in BOTH engines.
# Verified by tests/test_fuzz_documents.py's unicode corpus.
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
ASCII_LOWER_SQL = f"translate(text, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"


def ascii_lower(col: Column) -> Column:
    return F.translate(col, _ASCII_UPPER, _ASCII_LOWER)


def tokens(col: Column) -> Column:
    """ASCII-lowercased alphanumeric tokens, empties removed."""
    return F.filter(F.split(ascii_lower(col), TOKEN_SPLIT_RE),
                    lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams (1-indexed element_at); empty array when
    fewer than n tokens.

    Pass a *materialized column reference* (project ``tokens(...)`` to a
    named column first, ideally below an exchange), never the raw
    ``tokens(text)`` expression: ``toks`` is referenced n+2 times here,
    and a compound argument gets its whole tree duplicated into each
    reference at construction time — tokenization would then re-run per
    element_at, O(words²) string work per document."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def occurrence_count(text_lower: Column, needle: str) -> Column:
    """Non-overlapping occurrence count via length arithmetic — the same
    formula is valid DuckDB SQL, keeping both engines bit-identical."""
    return (
        (F.length(text_lower) - F.length(F.replace(text_lower, F.lit(needle))))
        / F.lit(len(needle))
    ).cast("long")

