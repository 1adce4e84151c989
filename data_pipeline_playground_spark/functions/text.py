"""Scalar text functions, expressed as JVM-side Column expressions.

Every function here stays inside Catalyst/whole-stage codegen (no Python
UDFs) and has a documented ANSI-SQL equivalent so the DuckDB oracle can
mirror it exactly. Reference parity citations are per-function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization regex shared by Spark and the oracle: split on runs of
# anything that is not a letter or digit. Mirrors the reference's
# NLTK word_tokenize usage (reference cluster.py:15, lda.py:25) in a
# deterministic, SQL-expressible form.
TOKEN_SPLIT_RE = "[^a-z0-9]+"

# English stopword subset (NLTK-style, reference cluster.py:14-16).
# Kept short and embedded verbatim in oracle SQL literals so both
# engines share one source of truth.
STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "from", "had", "has", "have", "he", "her", "his", "i", "in", "is",
    "it", "its", "my", "no", "not", "of", "on", "or", "she", "so",
    "that", "the", "their", "there", "they", "this", "to", "was", "we",
    "were", "will", "with", "you",
)


def fuzz_ratio(a: Column | str, b: Column | str) -> Column:
    """Levenshtein similarity ratio in [0, 100].

    Formula: ``100 * (len(a) + len(b) - lev(a, b)) / (len(a) + len(b))``
    — the SQL-expressible analogue of fuzzywuzzy's ``fuzz.ratio``
    (reference pipeline.py:29, realtimeapi.py:151, reddit_api.py:125).
    DuckDB mirror: same expression over ``levenshtein()``.
    """
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    total = F.length(a) + F.length(b)
    return (F.lit(100.0) * (total - F.levenshtein(a, b))) / F.greatest(total, F.lit(1))


def py_fuzz_ratio(a: str, b: str) -> float:
    """Driver/worker-side Python twin of :func:`fuzz_ratio` — same
    formula over a plain DP Levenshtein. Used where the comparison
    happens inside Python state (streaming fuzzy dedup), never in a
    batch hot path.
    """
    if a == b:
        return 100.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0 if (la or lb) else 100.0
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ca != b[j - 1]),
            )
        prev = cur
    total = la + lb
    return 100.0 * (total - prev[lb]) / total


def tokenize(col: Column | str) -> Column:
    """Lowercase + regex-split word tokenization → array<string>.

    Empty tokens (leading/trailing separators) are filtered out.
    Reference: cluster.py:15 (lower + word_tokenize).
    DuckDB mirror: ``list_filter(regexp_split_to_array(lower(x),
    '[^a-z0-9]+'), t -> t <> '')``.
    """
    col = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(col), TOKEN_SPLIT_RE)
    return F.filter(toks, lambda t: t != F.lit(""))


def remove_stopwords(tokens: Column) -> Column:
    """Array-minus-stopwords (reference cluster.py:14-16, U2)."""
    return F.array_except(tokens, F.array(*[F.lit(s) for s in STOPWORDS]))


ROLL_BASE = 131
ROLL_MOD = 1_000_000_007


def rolling_hash(col: Column | str) -> Column:
    """Polynomial rolling hash over characters, mod 1e9+7.

    Engine-portable (same fold in DuckDB via ``sql_rolling_hash``):
    ``h = fold(chars, 0, (acc, c) -> (acc*131 + ascii(c)) % 1e9+7)``.
    Stays in int64: acc < 1e9+7, so acc*131 + 255 < 2^38.
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLL_BASE + F.ascii(c).cast("long")) % ROLL_MOD,
    )


def sql_rolling_hash(expr: str) -> str:
    """DuckDB mirror of :func:`rolling_hash` for oracle SQL."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(regexp_split_to_array({expr}, ''), "
        "c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, ch) -> (acc * {ROLL_BASE} + ch) % {ROLL_MOD})"
    )


def once(expr: Column, body) -> Column:
    """Evaluate ``expr`` exactly once and hand it to ``body`` as a
    bound lambda variable.

    Catalyst's CollapseProject inlines a projected alias into every
    use site of the consuming projection; an expression referenced N
    times in array lambdas (element_at chains, size guards) is then
    RE-EXECUTED N times per row — measured 70× on the winnowing
    fingerprint extraction and 35× on ngram_novelty. Wrapping the
    expression in a one-element array and routing references through a
    ``transform`` lambda variable makes every use a cheap variable
    lookup while staying a pure JVM expression (no shuffle, no UDF).
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def word_ngrams(tokens: Column, n: int) -> Column:
    """Distinct word n-grams of a token array (reference utils.py:1-30).

    Built from higher-order functions (sequence + transform), no UDF:
    gram i = concat_ws(' ', slice(tokens, i, n)). ``tokens`` is bound
    once (see ``once``): it is referenced ~n+2 times per gram, and an
    inline ``tokenize(...)`` would otherwise re-run per reference.
    """

    def grams(toks: Column) -> Column:
        # Guard: sequence(1, 0) would generate a DESCENDING [1, 0] in
        # Spark, so emit an empty array when there are fewer than n tokens.
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
        ).otherwise(F.expr("array()").cast("array<int>"))
        # gram via n O(1) element_at lookups — NOT slice(), whose per-index
        # array copy makes the whole transform O(len²) per document.
        return F.array_distinct(F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + off) for off in range(n)]
            ),
        ))

    return once(tokens, grams)
