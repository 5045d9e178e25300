"""Property-based tests (SURVEY.md §5 item 4).

Kernel properties run pure-numpy at full hypothesis example counts;
grid properties drive the Spark operators with a reduced example
budget (each example is a Spark job).

Invariants checked, per SURVEY.md §5:
(a) gap-filled output is step-regular per sub-ticker;
(b) every sub-ticker traces back to ≥2 raw source rows;
(c) interpolation leaves no nulls when each segment has ≥1 value;
(d) bounded indicators stay in range: rsi/mfi/ultosc/sok ∈ [0,100],
    cmo/aroonosc ∈ [-100,100], adx ∈ [0,100] (raw TA-Lib scale).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stock_indicators_etl_spark.operators.kernels import (
    adx_kernel,
    cmo_kernel,
    macdfix_kernel,
    rsi_kernel,
)

NS = 1_000_000_000

prices = st.lists(
    st.floats(min_value=0.01, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=200,
)


def _finite(a: np.ndarray) -> np.ndarray:
    return a[~np.isnan(a)]


@given(prices)
def test_rsi_bounded_and_lookback(xs):
    x = np.array(xs)
    out = rsi_kernel(x, 14)
    assert len(out) == len(x)
    assert np.isnan(out[: min(14, len(x))]).all()  # TA-Lib lookback
    v = _finite(out)
    assert ((v >= 0.0) & (v <= 100.0)).all()


@given(prices)
def test_cmo_bounded(xs):
    v = _finite(cmo_kernel(np.array(xs), 14))
    assert ((v >= -100.0 - 1e-9) & (v <= 100.0 + 1e-9)).all()


@given(prices)
def test_macdfix_hist_is_macd_minus_signal(xs):
    macd, sig, hist = macdfix_kernel(np.array(xs), 9)
    m = ~np.isnan(hist)
    assert np.allclose(hist[m], macd[m] - sig[m], rtol=1e-12, atol=1e-12)


@given(prices)
def test_adx_bounded(xs):
    x = np.array(xs)
    h, lo = x * 1.001, x * 0.999
    pdi, mdi, adx = adx_kernel(h, lo, x, 14)
    for v in (_finite(pdi), _finite(mdi), _finite(adx)):
        assert ((v >= -1e-9) & (v <= 100.0 + 1e-9)).all()


# ---------------------------------------------------------------------------
# Spark grid properties: random gap patterns
# ---------------------------------------------------------------------------

gap_patterns = st.lists(
    st.sampled_from([60, 60, 60, 120, 180, 240, 600]),  # mostly regular
    min_size=2,
    max_size=40,
)


def _series(spark, gaps_s, base=1_704_106_800):
    ts, t = [], base
    for g in [0] + list(gaps_s):
        t += g
        ts.append(t)
    rows = [
        {"ticker": "T", "window_start": s * NS, "adj_close": float(i + 1)}
        for i, s in enumerate(ts)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(gap_patterns)
def test_grid_invariants(spark, gaps_s):
    from stock_indicators_etl_spark.operators.timegrid import (
        fill_gaps,
        interpolate_linear,
        segment_series,
    )

    df = _series(spark, gaps_s)
    seg = segment_series(df, key_cols=("ticker",), allowed_gaps_s=(60, 120, 180))
    filled = fill_gaps(seg, key_cols=("sub_ticker",), carry_cols=("ticker",))
    interp = interpolate_linear(filled, ["adj_close"], key_cols=("sub_ticker",))
    pdf = interp.toPandas().sort_values(["sub_ticker", "window_start"])

    for _, g in pdf.groupby("sub_ticker"):
        diffs = np.diff(g["window_start"].to_numpy()) // NS
        assert (diffs == 60).all()  # (a) step-regular after fill
        # (b) ≥2 raw rows: synthesized rows have null price pre-interp,
        # so raw rows = segment rows present in the segmented frame
        assert len(g) >= 2
    assert pdf["adj_close"].notna().all()  # (c) no nulls post-interp

    # every kept segment had ≥2 source rows (b), directly on seg
    seg_counts = seg.groupBy("sub_ticker").count().toPandas()
    assert (seg_counts["count"] >= 2).all()


# ---------------------------------------------------------------------------
# config validation + dedup invariants
# ---------------------------------------------------------------------------


def test_config_validation():
    import pytest

    from stock_indicators_etl_spark.config import IndicatorConfig

    with pytest.raises(ValueError, match="unknown momentum_features"):
        IndicatorConfig(momentum_features=["rsi", "bogus"])
    with pytest.raises(ValueError, match="must be >= 1"):
        IndicatorConfig(rsi_timeperiod=0)
    with pytest.raises(ValueError, match="multiples of"):
        IndicatorConfig(grid_step_s=60, allowed_gaps_s=(60, 90))
    IndicatorConfig()  # defaults valid


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.sampled_from(
            [
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma delta epsilon eta",
                "one two three four five six seven",
                "completely different words here now",
            ]
        ),
        min_size=2,
        max_size=6,
    )
)
def test_jaccard_invariants(spark, texts):
    import pandas as pd

    from stock_indicators_etl_spark.llmdata.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    out = ngram_jaccard_pairs(docs).toPandas()
    assert ((out.jaccard >= 0.0) & (out.jaccard <= 1.0)).all()
    assert (out.doc_a < out.doc_b).all()
    assert (out.n_inter <= out[["n_a", "n_b"]].min(axis=1)).all()
    # identical texts ⇒ jaccard exactly 1
    for _, r in out.iterrows():
        if texts[int(r.doc_a)] == texts[int(r.doc_b)]:
            assert r.jaccard == 1.0


# ---------------------------------------------------------------------------
# connected-components + interpolation properties
# ---------------------------------------------------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda p: p[0] != p[1]),
        min_size=0,
        max_size=20,
    )
)
def test_connected_components_partition_invariants(spark, raw_edges):
    """For any edge list: (1) both endpoints of every edge share a
    component; (2) each component label is the min id of its member
    set; (3) every vertex appears exactly once."""
    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    edges_pd = pd.DataFrame(
        {
            "doc_a": [min(a, b) for a, b in raw_edges],
            "doc_b": [max(a, b) for a, b in raw_edges],
        }
    )
    edges = spark.createDataFrame(edges_pd, schema="doc_a long, doc_b long")
    verts = spark.createDataFrame(pd.DataFrame({"doc_id": range(15)}))
    comp = {
        r.doc_id: r.component
        for r in connected_components(edges, verts).collect()
    }
    assert sorted(comp) == list(range(15))  # (3) exactly once each
    for a, b in raw_edges:
        assert comp[a] == comp[b]  # (1)
    groups: dict[int, list[int]] = {}
    for v, c in comp.items():
        groups.setdefault(c, []).append(v)
    for c, members in groups.items():
        assert c == min(members)  # (2)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=16),
    st.sampled_from(["long", "string"]),
)
def test_connected_components_paths_agree(spark, cc_paths, raw_edges, id_type):
    """Driver-side union–find, min-label propagation and
    large-star/small-star label every vertex with the same component
    (its minimum id, in Spark's order) on any edge list, self-loops
    included, with long ids and with string ids ("v10" < "v2")."""
    from unittest import mock

    from stock_indicators_etl_spark.llmdata.dedup import connected_components
    from stock_indicators_etl_spark.operators import graph

    def ident(i):
        return i if id_type == "long" else f"v{i}"

    schema = f"doc_a {id_type}, doc_b {id_type}"
    edges = spark.createDataFrame(
        [(ident(a), ident(b)) for a, b in raw_edges], schema
    )
    verts = spark.createDataFrame([(ident(i),) for i in range(12)], f"doc_id {id_type}")
    # reference: flood each component, label it with its minimum
    nbrs = {ident(i): set() for i in range(12)}
    for a, b in raw_edges:
        nbrs[ident(a)].add(ident(b))
        nbrs[ident(b)].add(ident(a))
    want = {}
    for v in nbrs:
        if v not in want:
            comp, todo = {v}, [v]
            while todo:
                for w in nbrs[todo.pop()] - comp:
                    comp.add(w)
                    todo.append(w)
            want.update(dict.fromkeys(comp, min(comp)))
    for path in cc_paths():
        for method in ("label", "star"):
            with mock.patch.object(graph, "converge", wraps=graph.converge) as loop:
                out = connected_components(edges, verts, method=method)
            assert loop.called == (path == "converge"), (path, method)
            got = {r.doc_id: r.component for r in out.collect()}
            assert got == want, (path, method)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)),
        min_size=2,
        max_size=30,
    ).filter(lambda xs: any(x is not None for x in xs))
)
def test_interpolation_matches_numpy(spark, values):
    """interpolate_linear == np.interp with edge clamping, for any
    null pattern with ≥1 known value."""
    from stock_indicators_etl_spark.operators.timegrid import interpolate_linear

    pdf = pd.DataFrame(
        {
            "sub_ticker": ["T"] * len(values),
            "window_start": [i * 60 * NS for i in range(len(values))],
            "x": [float(v) if v is not None else None for v in values],
        }
    )
    got = (
        interpolate_linear(spark.createDataFrame(pdf), ["x"], key_cols=("sub_ticker",))
        .toPandas()
        .sort_values("window_start")["x"]
        .to_numpy()
    )
    xs = np.arange(len(values), dtype=float)
    known = np.array([i for i, v in enumerate(values) if v is not None], dtype=float)
    kv = np.array([v for v in values if v is not None], dtype=float)
    expected = np.interp(xs, known, kv)  # np.interp clamps edges
    np.testing.assert_allclose(got, expected, rtol=1e-9, atol=1e-9)


texts_chunk = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c"),  # forces ws-collapse paths
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts_chunk, st.integers(1, 8), st.integers(1, 8))
def test_chunking_covers_every_token_exactly(spark, texts, chunk_tokens, stride):
    """Every token index of every doc appears in ≥1 chunk; chunk
    starts are exactly the stride grid below n_tokens; and token
    counts per chunk are the slice sizes — for ANY (chunk, stride)."""
    from stock_indicators_etl_spark.llmdata.retrieval import chunk_documents
    from stock_indicators_etl_spark.llmdata.text import words
    from pyspark.sql import functions as F

    stride = min(stride, chunk_tokens)  # coverage contract: stride <= chunk
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    n_tokens = {
        r.doc_id: r.n
        for r in df.select("doc_id", F.size(words(F.col("text"))).alias("n")).collect()
    }
    out = chunk_documents(df, chunk_tokens=chunk_tokens, stride=stride).toPandas()
    for doc_id, n in n_tokens.items():
        starts = sorted(out[out.doc_id == doc_id].start)
        assert starts == list(range(0, n, stride))
        covered = set()
        for r in out[out.doc_id == doc_id].itertuples():
            assert r.n_tokens == min(chunk_tokens, n - r.start)
            covered.update(range(r.start, r.start + r.n_tokens))
        assert covered == set(range(n))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-5, max_value=5, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=12,
        unique_by=tuple,
    ),
    st.integers(1, 4),
)
def test_kmeans_assignment_is_nearest_final_centroid(spark, vecs, k):
    """The returned (cluster, dist2) is the argmin over the FINAL
    centroids: recompute centroids in numpy with the same Lloyd steps
    and verify every row's assignment is optimal among them."""
    from stock_indicators_etl_spark.llmdata.clustering import kmeans_assign

    k = min(k, len(vecs))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs})
    )
    out = (
        kmeans_assign(df, k=k, iters=2, exact_update=True)
        .toPandas()
        .set_index("vec_id")
    )
    # numpy replay of the same deterministic Lloyd schedule
    X = np.array(vecs, dtype=np.float64)
    cents = X[:k].copy()
    for _ in range(2):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # numpy argmin = first minimal = lowest j
        for j in range(k):
            if (assign == j).any():
                cents[j] = X[assign == j].mean(axis=0)
    d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    for i in range(len(vecs)):
        got = out.loc[i]
        # optimality vs the numpy-final centroids, allowing fp slack
        assert got.dist2 <= d[i].min() + 1e-9


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 4),                      # user
            st.sampled_from(["a", "b", "c", "x"]),  # type (x = noise)
            st.integers(0, 50),                     # ts (seconds)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_funnel_matches_python_replay(spark, evs):
    """funnel_conversions == a brute-force greedy replay for ANY event
    soup (duplicate timestamps, noise types, interleaved users)."""
    from stock_indicators_etl_spark.operators.funnel import funnel_conversions

    pdf = pd.DataFrame(evs, columns=["user_id", "event_type", "ns"])
    pdf["ns"] = pdf["ns"] * NS
    out = (
        funnel_conversions(
            spark.createDataFrame(pdf), ("a", "b", "c"), within_ns=20 * NS
        )
        .toPandas()
        .set_index("user_id")
    )

    # python reference: t0 = min ts(a); t_i = min ts(step_i) > t_{i-1}
    expect = {}
    for u in sorted(pdf.user_id.unique()):
        g = pdf[pdf.user_id == u]
        a_ts = g[g.event_type == "a"].ns
        if a_ts.empty:
            continue
        t = [a_ts.min()]
        for s in ("b", "c"):
            nxt = g[(g.event_type == s) & (g.ns > t[-1])].ns
            t.append(nxt.min() if not nxt.empty else None)
        conv = t[2] is not None and (t[2] - t[0]) <= 20 * NS
        expect[u] = (t[0], t[1], t[2], conv)

    assert sorted(out.index) == sorted(expect)
    for u, (t0, t1, t2, conv) in expect.items():
        r = out.loc[u]
        assert r.t_0 == t0
        assert (pd.isna(r.t_1) and t1 is None) or r.t_1 == t1
        assert (pd.isna(r.t_2) and t2 is None) or r.t_2 == t2
        assert bool(r.converted) == conv


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(1, 5), st.integers(0, 99)),
        min_size=1,
        max_size=40,
    )
)
def test_retention_matches_python_replay(spark, evs):
    from stock_indicators_etl_spark.operators.funnel import retention_cohorts

    pdf = pd.DataFrame(evs, columns=["user_id", "ns"])
    pdf["event_type"] = "e"
    pdf["ns"] = pdf["ns"] * NS
    out = retention_cohorts(
        spark.createDataFrame(pdf), bucket_ns=10 * NS
    ).toPandas()
    got = {(r.cohort, r.offset): r.n_users for r in out.itertuples()}

    expect: dict = {}
    for u in pdf.user_id.unique():
        buckets = sorted({ns // (10 * NS) for ns in pdf[pdf.user_id == u].ns})
        c = buckets[0]
        for b in buckets:
            key = (c, b - c)
            expect[key] = expect.get(key, 0) + 1
    assert got == expect


# ---------------------------------------------------------------------------
# span_dedup vs a pure-python replica (random corpora)
# ---------------------------------------------------------------------------

_corpora = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]),
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=6,
)


def _span_dedup_replica(texts: list[str], block: int):
    """Keep-first repeated-block removal, reference implementation."""
    seen: set[str] = set()
    out = []
    for i, t in enumerate(texts):
        ws = t.lower().split()
        blocks = [
            " ".join(ws[j * block:(j + 1) * block])
            for j in range((len(ws) + block - 1) // block)
        ]
        kept = []
        for b in blocks:
            if b not in seen:
                seen.add(b)
                kept.append(b)
        out.append((i, " ".join(kept), len(blocks), len(kept)))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_corpora, st.sampled_from([2, 3, 5]))
def test_span_dedup_matches_python_replica(spark, word_lists, block):
    from stock_indicators_etl_spark.llmdata.dedup import span_dedup

    texts = [" ".join(wl) for wl in word_lists]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = {
        r.doc_id: (r.clean_text, r.n_spans, r.n_spans_kept)
        for r in span_dedup(docs, block_words=block).collect()
    }
    for i, clean, n, kept in _span_dedup_replica(texts, block):
        assert got[i] == (clean, n, kept), (i, texts, block)


# ---------------------------------------------------------------------------
# Count-Min sketch invariants (r9)
# ---------------------------------------------------------------------------

_cms_streams = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=3),
    min_size=1,
    max_size=120,
)


@given(_cms_streams)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cms_never_underestimates(spark, stream):
    """For ANY stream and every key in it, the CM estimate is >= the
    exact count (one-sided error is the sketch's defining guarantee),
    even in a deliberately tiny 2x8 table where collisions are
    certain."""
    from stock_indicators_etl_spark.llmdata.sketches import (
        cms_estimate,
        cms_sketch,
    )

    toks = spark.createDataFrame([(s,) for s in stream], "word string")
    sk = cms_sketch(toks, "word", d=2, w=8)
    probes = spark.createDataFrame(
        [(s,) for s in sorted(set(stream))], "word string"
    )
    est = (
        cms_estimate(sk, probes, "word", d=2, w=8)
        .toPandas()
        .set_index("word")["est"]
    )
    exact = pd.Series(stream).value_counts()
    for key, true_n in exact.items():
        assert est[key] >= true_n
