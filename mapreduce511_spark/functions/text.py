"""Text scalar/array functions — all JVM-side Column expressions.

Tokenization contract matches Hadoop WordCount's ``StringTokenizer``
(split on whitespace, drop empties, case-preserving, no punctuation
stripping) — evidence: 325,576 input lines → 16,208,667 tokens in
``/root/reference/MapReduceLog/_100mb_slowstart_0.5/20251128_192422/
job_output.log:97-98``; invoked via ``/root/reference/wheel/
run_mr_real.sh:53-57``.

Everything here returns Column expressions built from
``pyspark.sql.functions`` — no Python UDFs. Spark 4.1.2 interprets
every higher-order lambda (``filter``/``transform``/``zip_with`` are
``CodegenFallback``), so ``tokenize`` is compiled ``split`` +
``array_remove``; the per-token fallbacks left are ``word_ngrams``
(``zip_with`` for n = 2, ``transform`` for n >= 3), ``char_ngrams`` and
``language_id``'s ``F.transform(tokenize("text"), F.lower)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# StringTokenizer's delimiters, which are also RE2's \s in the DuckDB
# oracles; Java's \s adds U+000B.
_DELIMS = r"[ \t\n\r\f]"


def tokenize(text: Column | str) -> Column:
    """Runs between StringTokenizer's delimiters, as non-null ``array<string>``
    (``regexp_extract_all``'s nullable elements cost joins their exchange reuse)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(col, _DELIMS + "+"), "")


def normalize_text(text: Column | str) -> Column:
    """Canonical form for exact-dup fingerprinting: lowercase,
    collapse runs of ``tokenize``'s delimiters to single spaces, trim.

    Collapse-then-trim (not trim-then-collapse): Spark's ``trim``
    strips only ' ', so a leading "\\r" would survive trimming, become
    a leading space after collapsing, and make the function
    non-idempotent (caught by hypothesis in tests/test_properties.py).
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(col), _DELIMS + "+", " "))


def glyph_count(text: Column | str) -> Column:
    """Characters that are not delimiters: the oracles'
    ``length(regexp_replace(text, '\\s', '', 'g'))``."""
    col = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(col, _DELIMS, ""))


def word_ngrams(tokens: Column, n: int) -> Column:
    """Adjacent word n-grams (space-joined) from a token array.

    Pure array expressions — no shuffle, no UDF. Bigrams (the hot
    case, every tf-idf/LM/CMS kernel) are a ``zip_with`` of the array
    against its own 1-shifted slice (r13): the lambda touches only its
    two element arguments, so ``tokens`` may be ANY expression — it is
    referenced a constant number of times per ROW, never per element.
    The general n >= 3 path keeps the indexed ``transform``, whose
    window lambda references ``tokens`` once per position: pass a
    bound column there (project the token array first), or the
    per-element re-evaluation turns O(len²) per row.

    PERF (r13, measured): prefer the FUSED call
    ``F.explode(word_ngrams(tokenize("text"), 2))`` over staging the
    arrays as named columns before the explode. With staged columns,
    ``InferFiltersFromGenerate`` derives ``size(grams) > 0`` and
    predicate pushdown substitutes the WHOLE tokenize+ngram expression
    into a Filter below the scan-side exchange — re-evaluating the
    pipeline once more per row on the (possibly serial) scan task
    (measured 4.7 s vs 0.5 s on the cms count table at sf0.1). A
    non-attribute generator input blocks that inference entirely.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if n == 1:
        return tokens
    if n == 2:
        n1 = F.greatest(F.size(tokens) - F.lit(1), F.lit(0))
        return F.slice(
            F.zip_with(
                tokens,
                F.slice(tokens, 2, n1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
            1,
            n1,
        )

    def gram(_, i: Column) -> Column:
        return F.array_join(F.slice(tokens, i + 1, n), " ")

    count = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    return F.transform(F.slice(tokens, F.lit(1), count), gram)


def char_ngrams(text: Column | str, n: int) -> Column:
    """Character n-gram shingles of a string (for MinHash/Jaccard)."""
    col = F.col(text) if isinstance(text, str) else text
    count = F.greatest(F.length(col) - F.lit(n - 1), F.lit(0))
    return F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.substring(col, i, n),
    )
