"""Property-based and randomized-corpus invariants for scalar functions.

Pure-Python properties use hypothesis; Spark expression properties run
one job over a seeded random corpus (per-example Spark jobs would be
prohibitively slow).
"""

from __future__ import annotations

import random
import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

words = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=12)


@given(words)
@settings(max_examples=200, deadline=None)
def test_porter_stem_properties(w):
    from data_pipeline_playground_spark.functions.nlp_udfs import porter_stem

    s = porter_stem(w)
    assert isinstance(s, str)
    assert len(s) <= len(w)  # stemming never lengthens
    assert s == "" or s[0] == w[0]  # prefix preserved
    if len(w) <= 2:
        assert s == w  # short words untouched


@given(st.lists(words, min_size=0, max_size=30), st.integers(1, 4))
@settings(max_examples=100, deadline=None)
def test_ngram_count_formula(tokens, n):
    """Python-side model of word_ngrams: count = max(len-n+1, 0) before
    dedup; distinct ≤ that."""
    expected_raw = max(len(tokens) - n + 1, 0)
    grams = {" ".join(tokens[i : i + n]) for i in range(expected_raw)}
    assert len(grams) <= expected_raw


def _random_corpus(n=300, seed=7):
    rng = random.Random(seed)
    vocab = ["spark", "data", "row", "agg", "scan", "the", "a", "x1", "very-long-token"]
    rows = []
    for i in range(n):
        k = rng.randrange(0, 12)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(k))))
    # adversarial edge rows
    rows += [(n, ""), (n + 1, "   "), (n + 2, "!!!"), (n + 3, "a"), (n + 4, "A B, c.d")]
    return rows


def test_spark_scalar_function_invariants(spark):
    from data_pipeline_playground_spark.functions.text import (
        fuzz_ratio,
        rolling_hash,
        tokenize,
        word_ngrams,
    )

    df = spark.createDataFrame(_random_corpus(), "id long, text string")
    toks = tokenize(F.col("text"))
    out = df.select(
        "id",
        F.size(toks).alias("n_tok"),
        F.size(word_ngrams(toks, 2)).alias("n_g2"),
        rolling_hash(F.col("text")).alias("h"),
        fuzz_ratio(F.col("text"), F.col("text")).alias("self_ratio"),
    ).collect()
    for r in out:
        assert r.n_tok >= 0
        # distinct bigram count bounded by raw bigram count
        assert 0 <= r.n_g2 <= max(r.n_tok - 1, 0)
        assert 0 <= r.h < 1_000_000_007  # hash stays in field
        # self-similarity is exactly 100 (or 0+... guarded for empty)
        assert r.self_ratio == 100.0 or r.self_ratio == 0.0

    # fuzz_ratio symmetry on a sample of pairs
    a = df.limit(50).select(F.col("id").alias("ia"), F.col("text").alias("ta"))
    b = df.limit(50).select(F.col("id").alias("ib"), F.col("text").alias("tb"))
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        fuzz_ratio(F.col("ta"), F.col("tb")).alias("r_ab"),
        fuzz_ratio(F.col("tb"), F.col("ta")).alias("r_ba"),
    )
    assert pairs.filter(F.col("r_ab") != F.col("r_ba")).count() == 0
    assert pairs.filter((F.col("r_ab") < 0) | (F.col("r_ab") > 100)).count() == 0


def test_quality_score_bounded(spark, sf_dir):
    from data_pipeline_playground_spark.registry import all_queries

    qdf = all_queries()["token_stats"](spark, sf_dir)
    bad = qdf.filter(
        (F.col("quality_score") < 0) | (F.col("quality_score") > 1.0)
    ).count()
    assert bad == 0


def test_dedup_tiers_consistency(spark, sf_dir):
    """Every dedup tier keeps doc 0 (nothing precedes it) and returns
    unique ids ⊆ input."""
    from data_pipeline_playground_spark.registry import all_queries
    from data_pipeline_playground_spark.tables import table

    all_ids = {r.doc_id for r in table(spark, sf_dir, "documents").select("doc_id").collect()}
    for q in ("dedup_fuzzy", "dedup_minhash", "dedup_simhash"):
        ids = [r.doc_id for r in all_queries()[q](spark, sf_dir).collect()]
        assert len(ids) == len(set(ids)), q
        assert set(ids) <= all_ids, q
        assert min(all_ids) in set(ids), q


def test_connected_components_chain_triangle_singleton(spark):
    """Min-label propagation resolves a 4-chain (diameter 3, needs
    multiple rounds), a triangle, and leaves singletons alone."""
    from data_pipeline_playground_spark.operators.components import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
    edges = spark.createDataFrame(
        # chain 1-2-3-4 (listed high-to-low so labels must propagate),
        # triangle 5-6-7; 0, 8, 9 isolated
        [(4, 3), (3, 2), (2, 1), (5, 6), (6, 7), (5, 7)],
        "ci bigint, cj bigint",
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9}


@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0, max_size=12,
    )
)
@settings(max_examples=8, deadline=None)
def test_connected_components_matches_union_find(spark, edge_list):
    """Distributed result ≡ a driver-side union-find on random graphs."""
    from data_pipeline_playground_spark.operators.components import (
        connected_components,
    )

    n = 15
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    edges = spark.createDataFrame(
        edge_list or [(0, 0)], "ci bigint, cj bigint"
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components(nodes, edges).collect()
    }
    assert got == expected


@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0, max_size=12,
    )
)
@settings(max_examples=8, deadline=None)
def test_components_star_matches_union_find(spark, edge_list):
    """Large-star/small-star contraction ≡ union-find on random graphs."""
    from data_pipeline_playground_spark.operators.components import (
        connected_components_star,
    )

    n = 15
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    edges = spark.createDataFrame(
        edge_list or [(0, 0)], "ci bigint, cj bigint"
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components_star(nodes, edges).collect()
    }
    assert got == expected


def test_components_star_long_chain(spark):
    """A 30-node chain (diameter 29): the contraction variant must
    resolve it well inside MAX_ROUNDS — the deep-graph case min-label
    propagation is slowest on."""
    from data_pipeline_playground_spark.operators.components import (
        connected_components_star,
    )

    n = 30
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "ci bigint, cj bigint"
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components_star(nodes, edges).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_long_chain_raises(spark):
    """A 30-node chain (diameter 29) does not converge within
    MAX_ROUNDS of min-label propagation: the operator must raise and
    name the contraction variant, not return half-propagated labels."""
    from data_pipeline_playground_spark.operators.components import (
        connected_components,
    )

    n = 30
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "ci bigint, cj bigint"
    )
    with pytest.raises(RuntimeError, match="connected_components_star"):
        connected_components(nodes, edges).collect()


def test_connected_components_sparse_edges_many_singletons(spark):
    """1000 nodes, 3 edges: labels propagate over the edge endpoints
    only, and every other node comes back as its own component."""
    from data_pipeline_playground_spark.operators.components import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1000)], "doc_id bigint")
    edges = spark.createDataFrame(
        [(999, 500), (500, 7), (42, 41)], "ci bigint, cj bigint"
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components(nodes, edges).collect()
    }
    want = {i: i for i in range(1000)}
    want.update({999: 7, 500: 7, 42: 41})
    assert got == want


@given(
    st.lists(
        st.text(
            alphabet="ab1 .'!-\t",
            min_size=0, max_size=40,
        ),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=10, deadline=None)
def test_bpe_split_matches_python_re(spark, texts):
    """The BPE pre-tokenizer regex must produce the same match count in
    Java (Spark) as in Python's re — both leftmost-first alternation —
    on adversarial mixes of contractions, digits, punctuation runs and
    whitespace. Guards the cross-engine claim in queries/text.py."""
    import re as _re

    from data_pipeline_playground_spark.queries.text import BPE_SPLIT_RE

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r.i: r.n
        for r in df.select(
            "i",
            F.size(
                F.regexp_extract_all(F.lower(F.col("t")), F.lit(BPE_SPLIT_RE), F.lit(0))
            ).alias("n"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == len(_re.findall(BPE_SPLIT_RE, t.lower())), repr(t)


# --- CSS selector engine (sources/css_select.py) ----------------------------

_css_tags = st.sampled_from(["div", "p", "span", "article", "section", "em"])
_css_words = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)


@st.composite
def _dom(draw, depth=0):
    """Random element tree rendered to HTML, tracking ground truth for
    one target selector class 'tgt': (html, n_target_matches,
    target_texts)."""
    tag = draw(_css_tags)
    is_target = draw(st.booleans()) if depth > 0 else False
    cls = "tgt" if is_target else draw(st.sampled_from(["a", "b", ""]))
    n_kids = 0 if depth >= 3 else draw(st.integers(0, 3))
    text = draw(_css_words) if draw(st.booleans()) else ""
    inner, n_sub, sub_texts = text, 0, []
    parts = [text] if text else []
    for _ in range(n_kids):
        h, n, ts = draw(_dom(depth=depth + 1))
        parts.append(h)
        n_sub += n
        sub_texts.extend(ts)
    inner = "".join(parts)
    attr = f" class='{cls}'" if cls else ""
    html = f"<{tag}{attr}>{inner}</{tag}>"
    n_here = n_sub + (1 if is_target else 0)
    return html, n_here, sub_texts


@given(_dom())
@settings(max_examples=200, deadline=None)
def test_css_select_finds_exactly_marked_nodes(tree):
    """select() must find exactly the elements carrying the target
    class, however nested — and extract_one returns text only on a
    unique match (reference gen_parser semantics)."""
    from data_pipeline_playground_spark.sources.css_select import (
        extract_one,
        parse_html,
        select,
    )

    html, n_targets, _ = tree
    matches = select(parse_html(html), "div.tgt") + select(
        parse_html(html), "p.tgt"
    ) + select(parse_html(html), "span.tgt") + select(
        parse_html(html), "article.tgt"
    ) + select(parse_html(html), "section.tgt") + select(
        parse_html(html), "em.tgt"
    )
    assert len(matches) == n_targets
    got = extract_one(html, "div.tgt")
    div_targets = select(parse_html(html), "div.tgt")
    if len(div_targets) != 1:
        assert got is None
    # a unique match returns its (possibly empty->None) text


@given(
    st.lists(
        st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=60
    )
)
@settings(max_examples=300, deadline=None)
def test_cusum_closed_form_identity(devs):
    """Algebraic core of events_cusum_drift: for ANY deviation sequence,
    max(0, S + d) recursion == C_i − min(0, prefix-min of C). Exact
    integers, so this pins the identity itself, independent of Spark."""
    s = 0
    cum = 0
    mn = 0
    for d in devs:
        s = max(0, s + d)
        cum += d
        mn = min(mn, cum)
        assert s == cum - min(0, mn)


# --- round 7: winnowing selection + exact_ntile laws ------------------------


def _winnow_reference(g: list[int], w: int) -> set[int]:
    """Direct reference implementation of plain winnowing (rightmost
    minimal hash per window), 1-based positions."""
    sel = set()
    m = len(g)
    for s in range(0, m - w + 1):
        win = g[s : s + w]
        mn = min(win)
        # rightmost index attaining the min
        j = max(i for i, v in enumerate(win) if v == mn)
        sel.add(s + j + 1)
    return sel


def _winnow_predicate(g: list[int], w: int) -> set[int]:
    """The per-position L/R characterization used by the Spark/DuckDB
    expressions (queries/winnowing.py)."""
    m = len(g)
    out = set()
    for j1 in range(1, m + 1):
        h = g[j1 - 1]
        lmax = 0
        for x in range(1, w):
            if j1 - x >= 1 and g[j1 - x - 1] >= h:
                lmax += 1
            else:
                break
        rmax = 0
        for x in range(1, w):
            if j1 + x <= m and g[j1 + x - 1] > h:
                rmax += 1
            else:
                break
        need = max(0, j1 + (w - 1) - m, (w - 1) - rmax)
        have = min(w - 1, j1 - 1, lmax)
        if need <= have:
            out.add(j1)
    return out


@given(
    st.lists(st.integers(0, 9), min_size=0, max_size=40),
    st.integers(2, 5),
)
@settings(max_examples=300, deadline=None)
def test_winnow_characterization_equals_window_scan(g, w):
    """The shuffle-free per-position predicate selects EXACTLY the
    positions the windowed scan selects — including heavy-tie inputs
    (hash range deliberately tiny to force ties)."""
    assert _winnow_predicate(g, w) == _winnow_reference(g, w)


@given(st.lists(st.integers(0, 6), min_size=8, max_size=60))
@settings(max_examples=200, deadline=None)
def test_winnow_guarantee_density(g):
    """Winnowing guarantee: every window of W consecutive grams
    contains at least one selected position (no coverage gap longer
    than W-1), so any shared run of >= W+K-1 tokens must share a
    fingerprint."""
    from data_pipeline_playground_spark.queries.winnowing import W

    if len(g) < W:
        return
    sel = sorted(_winnow_predicate(g, W))
    assert sel, "non-degenerate input must select something"
    # gaps between consecutive selections (and the edges) stay < W
    prev = 0
    for j in sel + [len(g) + 1]:
        assert j - prev <= W
        prev = j


def _sql_ntile(rank: int, n: int, k: int) -> int:
    """SQL ntile law: first n%k buckets take ceil(n/k) rows."""
    base, rem = divmod(n, k)
    big = rem * (base + 1)
    if rank <= big:
        return (rank + base) // (base + 1)
    return rem + -(-(rank - big) // base)  # ceil div


@given(st.integers(1, 5000), st.integers(1, 12))
@settings(max_examples=300, deadline=None)
def test_exact_ntile_matches_sql_law(n, k):
    """operators/ranking.exact_ntile reproduces the SQL ntile rule for
    EVERY rank 1..n (bucket sizes differ by at most 1, monotone)."""
    # pure-python mirror of the Column arithmetic
    def ours(rank: int) -> int:
        base = n // k
        rem = n % k
        big_span = rem * (base + 1)
        if rank <= big_span:
            return (rank + base - (rank + base) % (base + 1)) // (base + 1)
        denom = max(base, 1)
        num = rank - big_span + base - 1
        return rem + (num - num % denom) // denom

    counts = {}
    prev = 0
    step = max(1, n // 50)  # sample ranks, always include edges
    ranks = sorted(set(range(1, n + 1, step)) | {1, n})
    for r in ranks:
        b = ours(r)
        assert b == _sql_ntile(r, n, k), (r, n, k)
        assert b >= prev  # monotone in rank
        prev = b
        counts[b] = counts.get(b, 0) + 1
    assert 1 <= min(counts) and max(counts) <= k
