"""Text scalar functions F1-F11 (SURVEY.md §2.3) as native Catalyst expressions.

These re-express ``preprocess_description`` (reference
services/index_service.py:14-47) and the controllers' string handling with
built-in ``pyspark.sql.functions`` only — JVM-side, whole-stage-codegen'd,
no Python in the hot path.

Regex fidelity notes (SURVEY.md §7 known-hard list):
- Python ``re.sub`` backrefs are ``\\1``; Java replacement backrefs are ``$1``.
- Python ``\\w``/``\\s`` are Unicode-aware by default; Java needs the ``(?U)``
  flag for identical behavior on non-ASCII word chars.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Ordered canonicalization rules (reference services/index_service.py:30-39;
# applied sequentially in dict order, global replace).
CANON_RULES: list[tuple[str, str]] = [
    (r"thc:?\s*(\d+\.?\d*)%?", "thc $1%"),
    (r"cbd:?\s*(\d+\.?\d*)%?", "cbd $1%"),
    (r"hybrid[ -]?dominant", "hybrid"),
    (r"indica[ -]?dominant", "indica"),
    (r"sativa[ -]?dominant", "sativa"),
]

# Strip specials: keep word chars, whitespace, '%' (reference
# services/index_service.py:42). (?U) makes Java \w/\s Unicode-aware like
# Python's.
STRIP_SPECIALS_PATTERN = r"(?U)[^\w\s%]"


def lower(col: Column) -> Column:
    """F1 (reference services/index_service.py:27)."""
    return F.lower(col)


def canonicalize(col: Column) -> Column:
    """F2: sequential regex canonicalization with capture backrefs
    (reference services/index_service.py:30-39)."""
    out = col
    for pat, repl in CANON_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def strip_specials(col: Column) -> Column:
    """F3 (reference services/index_service.py:42)."""
    return F.regexp_replace(col, STRIP_SPECIALS_PATTERN, " ")


def collapse_whitespace(col: Column) -> Column:
    """F4: ``" ".join(text.split())`` — collapse runs, trim ends
    (reference services/index_service.py:45)."""
    return F.trim(F.regexp_replace(col, r"(?U)\s+", " "))


def preprocess_text(col: Column) -> Column:
    """The full preprocess pipeline F1→F2→F3→F4
    (reference services/index_service.py:14-47), with the P10 type guard
    (non-str/null description -> "" at services/index_service.py:23-24)
    expressed as a null-coalesce — the schema already guarantees stringness.
    """
    out = F.coalesce(col, F.lit(""))
    out = lower(out)
    out = canonicalize(out)
    out = strip_specials(out)
    out = collapse_whitespace(out)
    return out


def truncate_ellipsis(col: Column, n: int = 100) -> Column:
    """F7: ``desc[:n] + "..."`` iff longer than n
    (reference controllers/qa_controller.py:58)."""
    return F.when(
        F.length(col) > n, F.concat(F.substring(col, 1, n), F.lit("..."))
    ).otherwise(col)


def assemble_prompt(context: Column, history_text: Column, question: Column) -> Column:
    """F9: prompt template interpolation (reference services/qa_service.py:84-94)."""
    return F.format_string(
        "You are a helpful product assistant.\n"
        "Context: %s\n"
        "Conversation so far:\n%s"
        "Question: %s\n"
        "Answer:",
        context,
        history_text,
        question,
    )


def valid_query(col: Column, max_chars: int = 500) -> Column:
    """P2+P3+F5/F6: non-empty after trim, length <= max_chars (reference
    controllers/search_controller.py:18-24)."""
    t = F.trim(col)
    return (F.length(t) > 0) & (F.length(t) <= max_chars)


def clamp_k(col: Column, default_k: int = 3, max_k: int = 20) -> Column:
    """P4+P5: k default and clamp (reference controllers/search_controller.py:13)."""
    return F.least(F.coalesce(col.cast("int"), F.lit(default_k)), F.lit(max_k))


# Tokenization for text analytics / dedup (engine extension; whitespace
# tokens match the reference's implicit ``text.split()`` at
# services/index_service.py:45).
def tokens(col: Column) -> Column:
    """Whitespace tokens of preprocessed text; empty string -> empty array."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles (n-grams joined by single spaces) of a token array —
    ``zip_with`` over shifted slices, no UDF.

    Deliberately NOT ``transform(sequence(...), i -> slice(toks, i, k))``:
    Catalyst re-evaluates a lambda's captured child expression on every
    element, so with an inlined tokenizer that form re-splits the text once
    per shingle position — O(positions x tokenize) per row (measured 6-20x
    slower at sf0.1).  zip_with evaluates each child ONCE per row and zips
    linearly; the trailing positions (padded with null by zip_with) are
    filtered out, which also yields [] for docs with fewer than k tokens.
    """
    out = toks
    for i in range(1, k):
        shifted = F.slice(
            toks, i + 1, F.greatest(F.size(toks) - F.lit(i), F.lit(0))
        )
        out = F.zip_with(
            out,
            shifted,
            lambda a, b: F.when(
                a.isNull() | b.isNull(), F.lit(None)
            ).otherwise(F.concat(a, F.lit(" "), b)),
        )
    return F.filter(out, lambda s: s.isNotNull())
