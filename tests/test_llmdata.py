"""Unit tests for the LLM-data operators: known-answer dedup /
similarity / text-analysis checks on tiny synthetic inputs."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stock_indicators_etl_spark.llmdata.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    word_shingles,
)
from stock_indicators_etl_spark.llmdata.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    lsh_bucketed_topk,
)
from stock_indicators_etl_spark.llmdata.text import (
    doc_fingerprint,
    language_id,
    text_quality,
    token_counts,
)

DOCS = [
    (0, "The quick brown fox jumps over the lazy dog", "en"),
    (1, "the quick  brown fox jumps over the lazy dog", "en"),  # ws/case dup of 0
    (2, "el perro de la casa y el gato de la casa", "es"),
    (3, "completely different text about spark engines", "en"),
    (4, "The quick brown fox jumps over the lazy cat", "en"),  # near-dup of 0
    (5, "", "en"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame(DOCS, columns=["doc_id", "text", "lang"])
    )


def test_exact_dedup_normalizes(spark, docs):
    out = exact_dedup(docs).toPandas()
    # 0 and 1 collapse (case + whitespace normalization)
    grp = out[out.n_copies > 1]
    assert len(grp) == 1
    assert grp.iloc[0].canonical_doc_id == 0
    assert grp.iloc[0].n_copies == 2
    assert len(out) == 5  # 5 distinct contents


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [7], "text": ["two words"]}))
    sh = word_shingles(df, k=3).toPandas()
    assert list(sh.shingle) == ["two words"]


def test_ngram_jaccard_known_value(spark, docs):
    out = ngram_jaccard_pairs(docs, k=3).toPandas()
    pairs = {(r.doc_a, r.doc_b): r for r in out.itertuples()}
    # docs 0 and 1 identical after norm → jaccard 1.0 on 7 shingles
    assert pairs[(0, 1)].jaccard == 1.0
    assert pairs[(0, 1)].n_inter == 7
    # docs 0 and 4 differ in the last word → only the final shingle
    # changes: |A∩B| = 6, |A∪B| = 8 → 0.75
    assert abs(pairs[(0, 4)].jaccard - 0.75) < 1e-12
    assert pairs[(0, 4)].n_inter == 6
    assert (3 not in set(out.doc_a) | set(out.doc_b))  # unrelated doc: no shared shingle with 0/1/4? (may share none)


def test_minhash_lsh_finds_exact_dup(spark, docs):
    cand = minhash_lsh_candidates(docs).toPandas()
    got = set(zip(cand.doc_a, cand.doc_b))
    assert (0, 1) in got  # identical docs always collide in every band


def test_simhash_identical_and_diff(spark, docs):
    out = simhash_fingerprints(docs).toPandas().set_index("doc_id").simhash
    assert out[0] == out[1]
    assert out[0] != out[3]
    assert 0 <= out[0] < 2**28


def test_text_quality_values(spark, docs):
    out = text_quality(docs).toPandas().set_index("doc_id")
    r = out.loc[0]
    assert r.n_words == 9
    assert r.n_chars == len(DOCS[0][1])
    assert abs(r.stopword_ratio - 2 / 9) < 1e-12  # 'the' twice (lowercased)
    e = out.loc[5]
    assert e.n_words == 0 and e.avg_word_len == 0.0 and e.stopword_ratio == 0.0


def test_token_counts(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["abc 123 x.y!"]})
    )
    out = token_counts(df).toPandas().iloc[0]
    assert out.n_ws_tokens == 3
    # subtokens: abc | 123 | x | . | y | !  = 6
    assert out.n_subtokens == 6


def test_language_id_picks_stopword_majority(spark, docs):
    out = language_id(docs).toPandas().set_index("doc_id")
    assert out.loc[0].pred_lang == "en"
    assert out.loc[2].pred_lang == "es"
    assert out.loc[5].pred_lang == "und"


def test_doc_fingerprint_poly_known(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": ["ab"]}))
    out = doc_fingerprint(df).toPandas().iloc[0]
    # h = ((0*31 + 97) * 31 + 98) % (1e9+7) = 97*31 + 98 = 3105
    assert out.poly_fp == 3105
    assert out.norm_len == 2


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(len(vecs)), "embedding": [list(map(float, v)) for v in vecs]}
        )
    )


def test_cosine_topk_exact(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(30, 8))
    df = _emb_df(spark, vecs)
    q = df.filter(F.col("vec_id") < 2)
    out = cosine_topk(df, q, k=3).toPandas()
    # numpy reference
    norms = np.linalg.norm(vecs, axis=1)
    sims = vecs @ vecs.T / np.outer(norms, norms)
    for qid in (0, 1):
        order = [i for i in np.argsort(-sims[qid]) if i != qid][:3]
        got = list(out[out.qid == qid].sort_values("rk").nbr_id)
        assert got == order
        np.testing.assert_allclose(
            list(out[out.qid == qid].sort_values("rk").cosine),
            sorted(sims[qid][order], reverse=True),
            rtol=1e-6,
        )


def test_embedding_neardup_threshold(spark):
    vecs = [[1.0, 0.0], [0.999, 0.01], [0.0, 1.0]]
    out = embedding_neardup_pairs(_emb_df(spark, vecs), threshold=0.95).toPandas()
    assert set(zip(out.id_a, out.id_b)) == {(0, 1)}


def test_embedding_neardup_bucket_cap_drops_hot_bucket(spark):
    """max_bucket_size prunes hot buckets BEFORE pair expansion: ten
    identical vectors land in one bucket per band (size ≥ 10), so a
    cap of 5 removes every pair, and a cap above the bucket size is
    a no-op."""
    vecs = [[1.0, 0.0]] * 10 + [[0.0, 1.0]]
    df = _emb_df(spark, vecs)
    base = embedding_neardup_pairs(df, threshold=0.9, dim=2).toPandas()
    assert len(base) == 45
    capped = embedding_neardup_pairs(
        df, threshold=0.9, dim=2, max_bucket_size=5
    ).toPandas()
    assert len(capped) == 0
    nocap = embedding_neardup_pairs(
        df, threshold=0.9, dim=2, max_bucket_size=50
    ).toPandas()
    assert len(nocap) == 45


def test_embedding_neardup_production_runs_and_filters(spark):
    """The sweep-only production twin (runtime-derived blocking +
    hot-bucket cap): returns real near-dup pairs, every one above
    the threshold, as a subset of the exact all-pairs result."""
    from stock_indicators_etl_spark.queries_llm import (
        NEARDUP_THRESHOLD,
        q_embedding_neardup_production,
    )

    out = q_embedding_neardup_production(spark, "/root/testdata/sf0.001").toPandas()
    assert list(out.columns) == ["id_a", "id_b", "cosine"]
    assert len(out) > 0
    assert (out.cosine >= NEARDUP_THRESHOLD - 1e-9).all()
    exact = embedding_neardup_pairs(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        threshold=NEARDUP_THRESHOLD,
        method="sql",
    ).toPandas()
    assert set(zip(out.id_a, out.id_b)) <= set(zip(exact.id_a, exact.id_b))


def test_lsh_topk_subset_of_exact(spark):
    rng = np.random.default_rng(4)
    vecs = rng.normal(size=(40, 16))
    df = _emb_df(spark, vecs)
    q = df.filter(F.col("vec_id") < 3)
    approx = lsh_bucketed_topk(df, q, k=5, n_planes=4, dim=16).toPandas()
    # approx results must be real vectors with correct cosines (spot check shape)
    assert set(approx.qid) <= {0, 1, 2}
    assert (approx.rk >= 1).all()


def test_ivf_topk_recall_and_scores(spark):
    from stock_indicators_etl_spark.llmdata.similarity import ivf_topk

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(60, 16))
    df = _emb_df(spark, vecs)
    q = df.filter(F.col("vec_id") < 3)
    out = ivf_topk(df, q, k=5, n_centroids=8, n_probe=8).toPandas()
    # probing ALL cells => exact: must match brute-force top-5
    norms = np.linalg.norm(vecs, axis=1)
    sims = vecs @ vecs.T / np.outer(norms, norms)
    for qid in (0, 1, 2):
        order = [i for i in np.argsort(-sims[qid]) if i != qid][:5]
        got = list(out[out.qid == qid].sort_values("rk").nbr_id)
        assert got == order
    # partial probing: results are a subset of real vectors, k bounded
    approx = ivf_topk(df, q, k=5, n_centroids=8, n_probe=2).toPandas()
    assert set(approx.qid) <= {0, 1, 2}
    assert approx.groupby("qid").size().max() <= 5


def test_salted_bucket_pairs_equal_plain(spark):
    from stock_indicators_etl_spark.llmdata.dedup import (
        _bucket_pairs,
        minhash_lsh_candidates,
    )

    # synthetic hot bucket (17 ids) + small bucket + singleton
    grouped = spark.createDataFrame(
        pd.DataFrame(
            {"ids": [list(range(100, 117)), [5, 3, 9], [42]]}
        )
    )
    plain = {tuple(r) for r in _bucket_pairs(grouped).collect()}
    for chunk in (3, 4, 16, 100):
        salted = _bucket_pairs(grouped, chunk=chunk).collect()
        assert len(salted) == len(plain)  # no dup pairs within a bucket
        assert {tuple(r) for r in salted} == plain

    # end-to-end: salted LSH output identical to plain on real docs
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(8),
                "text": ["the quick brown fox jumps over the lazy dog"] * 4
                + [f"unique text number {i} with different words entirely" for i in range(4)],
            }
        )
    )
    a = {tuple(r) for r in minhash_lsh_candidates(docs).collect()}
    b = {tuple(r) for r in minhash_lsh_candidates(docs, salt_chunk=2).collect()}
    assert a == b and len(a) >= 6  # the 4 identical docs pair up


def test_skew_guards_bound_pair_counts(spark):
    """Planted hot shingle: without guards the pair count is quadratic
    in its doc frequency; max_doc_freq (Jaccard) and max_bucket_size
    (LSH) bound it — the documented scale defaults (SCALE_MAX_DOC_FREQ)."""
    from stock_indicators_etl_spark.llmdata.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    n_hot = 30
    # every doc shares one boilerplate sentence (the hot shingle source)
    # but is otherwise unique
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(n_hot),
                "text": [
                    f"copyright acme corp all rights reserved document {i} body {i * 7} tail"
                    for i in range(n_hot)
                ],
            }
        )
    )
    unbounded = ngram_jaccard_pairs(docs, k=3).count()
    # the shared 3-gram shingles pair every doc with every other:
    # quadratic blow-up from boilerplate alone
    assert unbounded == n_hot * (n_hot - 1) / 2
    capped = ngram_jaccard_pairs(docs, k=3, max_doc_freq=5).count()
    assert capped == 0  # hot postings dropped before any pair expansion

    # LSH side: near-identical docs all land in one bucket; the bucket
    # cap drops it instead of emitting b²/2 pairs
    dup_docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(20),
                "text": ["the quick brown fox jumps over the lazy dog again"] * 20,
            }
        )
    )
    full = minhash_lsh_candidates(dup_docs).count()
    assert full == 20 * 19 / 2
    assert minhash_lsh_candidates(dup_docs, max_bucket_size=10).count() == 0


def test_composed_neardup_caps_and_salting(spark):
    """VERDICT r2 #2: the COMPOSED pipeline ships with the bucket cap
    on by default and still groups real near-dups; an explicit tiny
    cap bounds a planted hot bucket through the composed entry point;
    salting changes nothing about the output."""
    from stock_indicators_etl_spark.llmdata.dedup import neardup_components

    hot = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(20),
                "text": ["the quick brown fox jumps over the lazy dog again"] * 20,
            }
        )
    )
    # default (SCALE_MAX_BUCKET_SIZE=512) leaves a 20-doc bucket alone:
    # everything still collapses to one component
    got = {r.doc_id: r.component for r in neardup_components(hot).collect()}
    assert set(got.values()) == {0}
    # a cap below the planted bucket size drops it inside the composed
    # pipeline -> no pairs survive, every doc is a singleton
    capped = {
        r.doc_id: r.component
        for r in neardup_components(hot, max_bucket_size=10).collect()
    }
    assert all(capped[i] == i for i in range(20))
    # salting spreads the hot bucket's expansion but must not change
    # the final grouping
    salted = {
        r.doc_id: r.component
        for r in neardup_components(hot, salt_chunk=4).collect()
    }
    assert salted == got


@pytest.mark.parametrize("method", ["label", "star"])
def test_connected_components_string_ids(spark, cc_paths, method):
    """ADVICE r2 medium: string doc_ids (common in real corpora) must
    propagate to the true fixpoint — the old decimal-cast convergence
    probe NULL'd on non-numeric ids and declared convergence after one
    round, silently splitting long chains. Both paths: the driver-side
    union–find orders strings as Spark's ``min`` does."""
    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    # a 6-node chain needs several propagation rounds: a one-round
    # false convergence would leave mid-chain labels unpropagated
    ids = [f"doc-{i:03d}" for i in range(6)]
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": ids[:-1], "doc_b": ids[1:]})
    )
    verts = spark.createDataFrame(pd.DataFrame({"doc_id": ids + ["zz-solo"]}))
    for path in cc_paths():
        got = {
            r.doc_id: r.component
            for r in connected_components(edges, verts, method=method).collect()
        }
        assert got == {**{i: "doc-000" for i in ids}, "zz-solo": "zz-solo"}, path


@pytest.mark.parametrize("method", ["label", "star"])
def test_connected_components_leaves_no_cached_frames(spark, cc_paths, method):
    """Round states are lazy local checkpoints, never ``persist()``ed
    frames, and the union–find labels are a local relation, so the
    session cache is empty after the call returns on either path."""
    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    cache = spark._jsparkSession.sharedState().cacheManager()
    for path in cc_paths():
        for n in range(2, 10):
            spark.catalog.clearCache()
            edges = spark.createDataFrame(
                [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
            )
            verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
            got = connected_components(edges, verts, method=method).collect()
            assert {r.component for r in got} == {0}
            assert cache.isEmpty(), f"{path}, chain of {n}: cached frames left behind"


@pytest.mark.parametrize("method", ["label", "star"])
def test_connected_components_reads_edge_lineage_once(spark, cc_paths, method):
    """The edge frame's lineage (in the pipeline: LSH candidates and the
    Jaccard verify) runs once per call. A pin of ``edges ∪
    reversed(edges)`` ran it once per side of the union."""
    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    produced = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            produced.add(len(pdf))
            yield pdf

    pairs = [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)]
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long").mapInPandas(
        count_rows, "doc_a long, doc_b long"
    )
    verts = spark.createDataFrame([(i,) for i in range(25)], "doc_id long")
    for path in cc_paths():
        before = produced.value
        got = {
            r.doc_id: r.component
            for r in connected_components(edges, verts, method=method).collect()
        }
        assert got[3] == 1 and got[12] == 10 and got[21] == 20 and got[24] == 24
        assert produced.value - before == len(pairs), path


def test_connected_components_shapes(spark):
    """Chain, triangle, singleton, and two-component graphs all reach
    the unique min-label fixpoint."""
    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 10, 11, 10], "doc_b": [2, 3, 11, 12, 12]})
    )
    verts = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3, 10, 11, 12, 99]}))
    got = {
        r.doc_id: r.component
        for r in connected_components(edges, verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_neardup_components_end_to_end(spark):
    from stock_indicators_etl_spark.llmdata.dedup import neardup_components

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog tonight",
                    "the quick brown fox jumps over the lazy dog tonight",
                    "the quick brown fox jumps over the lazy dog yesterday",
                    "completely unrelated text about spark query planning",
                ],
            }
        )
    )
    got = {r.doc_id: r.component for r in neardup_components(docs, threshold=0.5).collect()}
    # 0/1/2 collapse into one group (transitively), 3 is a singleton
    assert got[0] == 0 and got[1] == 0 and got[2] == 0 and got[3] == 3


def test_neardup_components_leaves_no_cached_frames(spark):
    """The composed pipeline registers nothing in the session cache:
    one per-doc hash aggregate feeds the bands and the verify, so no
    ``persist()``ed candidate frame outlives the call (each call used
    to leave one behind)."""
    from stock_indicators_etl_spark.llmdata.dedup import neardup_components

    cache = spark._jsparkSession.sharedState().cacheManager()
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog tonight",
                    "the quick brown fox jumps over the lazy dog tonight",
                    "the quick brown fox jumps over the lazy dog yesterday",
                    "completely unrelated text about spark query planning",
                ],
            }
        )
    )
    spark.catalog.clearCache()
    got = {r.doc_id: r.component for r in neardup_components(docs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3}
    assert cache.isEmpty()


def test_hash_sample_deterministic_under_repartitioning(spark):
    from stock_indicators_etl_spark.llmdata.sampling import hash_sample

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(1000), "text": ["x"] * 1000})
    )
    a = {r.doc_id for r in hash_sample(docs, 0.3).collect()}
    b = {r.doc_id for r in hash_sample(docs.repartition(7), 0.3).collect()}
    assert a == b  # partitioning-independent membership
    assert 200 < len(a) < 400  # ~30% of 1000
    # monotone: raising the rate only adds rows
    c = {r.doc_id for r in hash_sample(docs, 0.6).collect()}
    assert a <= c


def test_stratified_sample_exact_quota(spark):
    from stock_indicators_etl_spark.llmdata.sampling import stratified_sample

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(300),
                "lang": ["en"] * 200 + ["de"] * 97 + ["fr"] * 3,
            }
        )
    )
    got = stratified_sample(docs, "lang", 10).toPandas()
    counts = got.groupby("lang").size().to_dict()
    assert counts == {"en": 10, "de": 10, "fr": 3}  # short strata keep all
    # deterministic draw
    again = stratified_sample(docs, "lang", 10).toPandas()
    assert set(got.doc_id) == set(again.doc_id)


def test_embedding_neardup_methods_agree(spark):
    """The three methods compute the same pairs when LSH blocking
    loses nothing (identical/near-identical vectors collide in every
    band): exact 'sql', opt-in 'blas' (small inputs), default 'lsh'."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 64))
    vecs = np.vstack([base, base[:3] + rng.normal(0, 1e-4, (3, 64))])
    df = _emb_df(spark, vecs)

    def pairs(method):
        out = embedding_neardup_pairs(df, threshold=0.999, method=method, dim=64)
        return {(r.id_a, r.id_b) for r in out.collect()}

    exact_sql = pairs("sql")
    assert exact_sql == {(0, 12), (1, 13), (2, 14)}
    assert pairs("blas") == exact_sql
    assert pairs("lsh") == exact_sql  # near-identical vectors collide


def test_redact_pii_classes(spark):
    from stock_indicators_etl_spark.llmdata.text import redact_pii

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "text": [
                    "contact me at jane.doe+x@example.co.uk today",
                    "call +1 (555) 123-4567 or 555 987 6543 now",
                    "server at 192.168.0.1 responded",
                    "card 4111111111111111 was declined",
                    "nothing sensitive here",
                ],
            }
        )
    )
    got = redact_pii(docs).toPandas().set_index("doc_id")
    assert "<EMAIL>" in got.loc[0].redacted and "@" not in got.loc[0].redacted
    assert got.loc[1].redacted.count("<PHONE>") == 2
    assert "<IP>" in got.loc[2].redacted
    assert "<NUMBER>" in got.loc[3].redacted
    assert got.loc[4].redacted == "nothing sensitive here"
    assert got.loc[4].n_markers == 0 and got.loc[1].n_markers == 2


def test_repetition_score_extremes(spark):
    from stock_indicators_etl_spark.llmdata.text import repetition_score

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "spam ham " * 20,             # one bigram dominates
                    "a b c d e f g h i j",        # all bigrams unique
                    "single",                      # too short for bigrams
                ],
            }
        )
    )
    got = repetition_score(docs).toPandas().set_index("doc_id")
    assert got.loc[0].repetition_ratio > 0.4
    assert abs(got.loc[1].repetition_ratio - 1.0 / 9.0) < 1e-9
    assert got.loc[2].n_grams == 0 and got.loc[2].repetition_ratio == 0.0


def test_ngram_containment_detects_contamination(spark):
    from stock_indicators_etl_spark.llmdata.dedup import ngram_containment

    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": ["the quick brown fox jumps high"]})
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": [
                    # contains the full benchmark example verbatim
                    "prefix words the quick brown fox jumps high suffix words",
                    "entirely unrelated content about query planning",
                ],
            }
        )
    )
    got = ngram_containment(docs, bench).toPandas()
    row = got[(got.doc_id == 0) & (got.bench_id == 100)].iloc[0]
    assert row.containment == 1.0  # fully contained -> must be dropped
    assert got[(got.doc_id == 1)].empty  # no shared shingles, no row


def test_token_shards_budget_and_determinism(spark):
    from stock_indicators_etl_spark.llmdata.sampling import token_shards

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(100),
                "lang": ["en"] * 60 + ["de"] * 40,
                "text": ["irrelevant"] * 100,
            }
        )
    )
    toks = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(100), "n_subtokens": [50] * 100})
    )
    got = token_shards(docs, toks, budget=200).toPandas()
    # 50-token docs, 200 budget -> exactly 4 docs per shard within a lang
    sizes = got.groupby(["lang", "shard_id"]).size()
    assert (sizes == 4).all()
    # shards are contiguous 0..k and sum ~budget tokens
    for lang, g in got.groupby("lang"):
        assert sorted(g.shard_id.unique()) == list(range(len(g) // 4))
        assert (g.groupby("shard_id").n_subtokens.sum() == 200).all()
    # deterministic across runs / repartitioning
    again = token_shards(docs.repartition(7), toks, budget=200).toPandas()
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_token_shards_missing_contract(spark):
    """ADVICE r2: docs absent from tokens_df must follow an explicit
    contract — drop (default, documented), zero, or a loud error."""
    import pytest as _pytest
    from stock_indicators_etl_spark.llmdata.sampling import token_shards

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(6), "lang": ["en"] * 6, "text": ["x"] * 6})
    )
    toks = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4), "n_subtokens": [10] * 4})
    )
    assert token_shards(docs, toks, budget=100).count() == 4  # drop
    z = token_shards(docs, toks, budget=100, missing="zero").toPandas()
    assert len(z) == 6
    assert z.set_index("doc_id").n_subtokens[[4, 5]].tolist() == [0, 0]
    with _pytest.raises(ValueError, match="no token count"):
        token_shards(docs, toks, budget=100, missing="error")
    with _pytest.raises(ValueError, match="drop|zero|error"):
        token_shards(docs, toks, budget=100, missing="bogus")


def test_connected_components_raises_on_unconverged(spark, cc_paths):
    """``max_iter`` bounds the distributed loop: one round cannot
    label a 4-chain, so ``converge`` raises. The driver-side
    union–find runs no rounds, so under the broadcast bound the same
    call returns the full labelling."""
    import pytest as _pytest
    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": [0, 1, 2], "doc_b": [1, 2, 3]})
    )
    verts = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1, 2, 3]}))
    for path in cc_paths():
        if path == "converge":
            with _pytest.raises(RuntimeError, match="did not reach the fixpoint"):
                connected_components(edges, verts, max_iter=1)
        else:
            got = connected_components(edges, verts, max_iter=1).collect()
            assert {r.component for r in got} == {0}


def _spy_cc(monkeypatch, frame):
    """Record each ``converge`` call's start frame and the row count of
    each Arrow collect (how edge rows reach the driver) while a
    connected-components call runs; returns ``(rounds, collected)``."""
    from stock_indicators_etl_spark.operators import graph

    rounds, collected = [], []
    converge, to_arrow = graph.converge, frame.toArrow

    def spy_converge(*args, **kwargs):
        rounds.append(args[0])
        return converge(*args, **kwargs)

    def spy_to_arrow(self):
        table = to_arrow(self)
        collected.append(table.num_rows)
        return table

    monkeypatch.setattr(graph, "converge", spy_converge)
    monkeypatch.setattr(frame, "toArrow", spy_to_arrow)
    return rounds, collected


@pytest.mark.parametrize("method", ["label", "star"])
def test_connected_components_union_find_bound(spark, monkeypatch, method):
    """The driver-side union–find takes the pinned edge rows only up
    to the bound (broadcast threshold bytes over the 16-byte row of
    two longs). One row over it: at most ``bound + 1`` rows reach the
    driver and ``converge`` runs; exactly at it: no round runs."""
    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    n = 10  # a 10-edge chain: the label pin holds 20 rows, star's 10
    pinned = 2 * n if method == "label" else n
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    verts = spark.createDataFrame([(i,) for i in range(n + 2)], "doc_id long")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for bound in (pinned - 1, pinned):
            spark.conf.set(key, str(16 * bound))
            with monkeypatch.context() as m:
                rounds, collected = _spy_cc(m, type(edges))
                out = connected_components(edges, verts, method=method)
            assert collected[0] == min(pinned, bound + 1)
            assert max(collected) <= bound + 1
            assert bool(rounds) == (bound < pinned)
            got = {r.doc_id: r.component for r in out.collect()}
            assert got == {**{i: 0 for i in range(n + 1)}, n + 1: n + 1}
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("method", ["label", "star"])
def test_connected_components_union_find_row_cap(spark, monkeypatch, method):
    """A broadcast threshold raised for join tuning does not raise the
    union–find bound past ``UNION_FIND_MAX_ROWS``: with a 1 TiB
    threshold (past ``Int.MaxValue`` rows of 16 bytes) and the cap at
    4, a 10-edge chain sends at most 5 rows to the driver and the
    distributed loop labels it."""
    from stock_indicators_etl_spark.llmdata import dedup

    n = 10
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    verts = spark.createDataFrame([(i,) for i in range(n + 2)], "doc_id long")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1t")
        with monkeypatch.context() as m:
            m.setattr(dedup, "UNION_FIND_MAX_ROWS", 4)
            assert dedup._union_find_bound(edges) == 4
            rounds, collected = _spy_cc(m, type(edges))
            out = dedup.connected_components(edges, verts, method=method)
        assert collected and max(collected) <= 5
        assert rounds
        got = {r.doc_id: r.component for r in out.collect()}
        assert got == {**{i: 0 for i in range(n + 1)}, n + 1: n + 1}
        assert dedup._union_find_bound(edges) == dedup.UNION_FIND_MAX_ROWS
    finally:
        spark.conf.set(key, old)


def test_union_find_bound_without_jvm_handles(spark, monkeypatch):
    """Where the frame has no JVM handle to read the threshold and the
    row width from (a Spark Connect session), the bound is ``None``
    and connected components takes the distributed loop."""
    from stock_indicators_etl_spark.llmdata.dedup import _union_find_bound

    edges = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    assert _union_find_bound(edges) is not None
    monkeypatch.delattr(edges, "_jdf")
    assert _union_find_bound(edges) is None


def test_cc_star_matches_label_on_random_graphs(spark, cc_paths):
    """VERDICT r2 #8: large-star/small-star produces the identical
    (vertex -> min-of-component) mapping as min-label propagation on
    random graphs of several densities, including string ids — on the
    distributed path and under the union–find bound alike."""
    import numpy as np

    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    for path in cc_paths():
        rng = np.random.default_rng(5)
        for n, m in ((30, 15), (30, 40), (50, 120)):
            a = rng.integers(0, n, m)
            b = rng.integers(0, n, m)
            edges = spark.createDataFrame(
                pd.DataFrame({"doc_a": a.tolist(), "doc_b": b.tolist()})
            )
            verts = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
            lab = {
                r.doc_id: r.component
                for r in connected_components(edges, verts, method="label").collect()
            }
            star = {
                r.doc_id: r.component
                for r in connected_components(edges, verts, method="star").collect()
            }
            assert star == lab, path
        # string ids through the star path (greatest/least on strings)
        ids = [f"d-{i:02d}" for i in range(8)]
        edges = spark.createDataFrame(
            pd.DataFrame({"doc_a": ids[:-1], "doc_b": ids[1:]})
        )
        verts = spark.createDataFrame(pd.DataFrame({"doc_id": ids + ["solo"]}))
        got = {
            r.doc_id: r.component
            for r in connected_components(edges, verts, method="star").collect()
        }
        assert got == {**{i: "d-00" for i in ids}, "solo": "solo"}, path


def test_cc_star_chain_converges_in_log_rounds(spark):
    """A planted 512-node chain has diameter 511: min-label needs one
    round per hop, large-star/small-star must land within a log^2-ish
    budget (12 rounds here) — the scale rationale for method='star'."""
    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    n = 512
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": list(range(n - 1)), "doc_b": list(range(1, n))})
    )
    verts = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    got = connected_components(edges, verts, max_iter=12, method="star")
    comps = {r.doc_id: r.component for r in got.collect()}
    assert comps == {i: 0 for i in range(n)}


def test_cc_star_rejects_unknown_method(spark):
    import pytest as _pytest

    from stock_indicators_etl_spark.llmdata.dedup import connected_components

    edges = spark.createDataFrame(pd.DataFrame({"doc_a": [1], "doc_b": [2]}))
    verts = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2]}))
    with _pytest.raises(ValueError, match="method"):
        connected_components(edges, verts, method="nope")


def test_ivf_refinement_improves_cell_tightness(spark):
    """refine_iters tightens cells: mean distance to the assigned
    centroid must not increase, and recall vs exact top-1 must not
    collapse. (The driver oracle keeps refine_iters=0.)"""
    import numpy as np
    from stock_indicators_etl_spark.llmdata.clustering import assign_with_centroids
    from stock_indicators_etl_spark.llmdata.similarity import ivf_topk

    rng = np.random.default_rng(3)
    centers = rng.normal(0, 1, (4, 8))
    vecs = [
        (i, (centers[i % 4] + rng.normal(0, 0.05, 8)).tolist()) for i in range(80)
    ]
    emb = spark.createDataFrame(pd.DataFrame(vecs, columns=["vec_id", "embedding"]))
    q = emb.filter("vec_id < 3")
    out0 = ivf_topk(emb, q, k=5, n_centroids=4, n_probe=2).toPandas()
    out2 = ivf_topk(emb, q, k=5, n_centroids=4, n_probe=2, refine_iters=2).toPandas()
    # same contract, same shape
    assert set(out0.columns) == set(out2.columns)
    assert len(out2) == len(out0) == 15
    # refined top-1 per query is at least as similar as unrefined
    top0 = out0[out0.rk == 1].set_index("qid").cosine
    top2 = out2[out2.rk == 1].set_index("qid").cosine
    assert (top2 >= top0 - 1e-9).all()


def test_ppm_roundtrip_and_real_decode(spark):
    import numpy as np
    from stock_indicators_etl_spark.llmdata.multimodal import (
        decode_image,
        encode_ppm,
        image_decoder,
    )

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (6, 4, 3), dtype=np.uint8)
    payload = encode_ppm(img)
    back = decode_image(payload)
    assert (back == img).all()
    # grayscale PGM too
    g = rng.integers(0, 256, (3, 5), dtype=np.uint8)
    assert (decode_image(encode_ppm(g)) == g).all()
    # features: normalized luminance histogram sums to 1
    f = image_decoder(payload, "image")
    assert len(f) == 16 and abs(float(f.sum()) - 1.0) < 1e-6


def test_ppm_header_comments_are_skipped():
    import numpy as np
    from stock_indicators_etl_spark.llmdata.multimodal import decode_image

    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    payload = b"P6\n# a comment\n2 2\n# another\n255\n" + img.tobytes()
    assert (decode_image(payload) == img).all()


def test_bmp_decode_padding_and_flip():
    import numpy as np
    from stock_indicators_etl_spark.llmdata.multimodal import decode_bmp

    # 3x2 RGB image, hand-built 24-bit BMP (bottom-up, stride padded to 12)
    img = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[10, 20, 30], [40, 50, 60], [70, 80, 90]]],
        dtype=np.uint8,
    )
    w, h = 3, 2
    stride = (w * 3 + 3) & ~3
    px = bytearray()
    for row in img[::-1]:          # bottom-up
        line = bytearray()
        for r, g, b in row:
            line += bytes([b, g, r])   # BGR
        line += b"\x00" * (stride - len(line))
        px += line
    header = (
        b"BM" + (54 + len(px)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(px).to_bytes(4, "little")
        + b"\x00" * 16
    )
    assert (decode_bmp(bytes(header + px)) == img).all()


def test_real_resize_nearest_neighbor():
    import numpy as np
    from stock_indicators_etl_spark.llmdata.multimodal import (
        decode_image,
        encode_ppm,
        image_resize,
    )

    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    out = decode_image(image_resize(encode_ppm(img), 2, 2))
    # nearest-neighbor picks rows/cols 0 and 2
    assert (out == img[[0, 2]][:, [0, 2]]).all()


def test_codec_formats_still_raise():
    import pytest
    from stock_indicators_etl_spark.llmdata.multimodal import (
        decode_image,
        real_decoder,
    )

    # baseline JPEG now decodes for real (llmdata/jpeg.py); a
    # truncated one is malformed, not unsupported
    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 16
    with pytest.raises(ValueError):
        decode_image(jpeg)
    # video / compressed audio genuinely still need codec libs
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 16)
    with pytest.raises(NotImplementedError):
        real_decoder(b"anything", "audio")


def test_png_roundtrip_all_filters():
    """decode_png inverts every PNG row filter (None/Sub/Up/Average/
    Paeth) for gray, gray+alpha, RGB and RGBA — fixtures generated by
    the in-repo encoder applying each forward filter."""
    import numpy as np
    from stock_indicators_etl_spark.llmdata.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(11)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, (13, 7, ch), dtype=np.uint8)
        exp = img[:, :, 0] if ch == 1 else img
        src = img.squeeze(-1) if ch == 1 else img
        for f in range(5):
            assert np.array_equal(decode_png(encode_png(src, row_filters=f)), exp), (ch, f)
        mixed = [i % 5 for i in range(13)]
        assert np.array_equal(decode_png(encode_png(src, row_filters=mixed)), exp)


def test_png_palette_decode():
    import zlib

    import numpy as np
    from stock_indicators_etl_spark.llmdata.multimodal import PNG_SIG, decode_png

    def chunk(t, d):
        return (
            len(d).to_bytes(4, "big") + t + d
            + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (5, 9), dtype=np.uint8)
    ihdr = (9).to_bytes(4, "big") + (5).to_bytes(4, "big") + bytes([8, 3, 0, 0, 0])
    scan = bytearray()
    for y in range(5):
        scan.append(0)
        scan.extend(idx[y].tobytes())
    png = (
        PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(scan))) + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), pal[idx])


def test_png_malformed_raises():
    import numpy as np
    import pytest
    from stock_indicators_etl_spark.llmdata.multimodal import (
        decode_png,
        encode_png,
    )

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    good = encode_png(img)
    # depth byte hacked to 16 with 8-bit data: truncated scanlines
    bad_depth = bytearray(good)
    bad_depth[8 + 8 + 8] = 16  # IHDR depth byte
    with pytest.raises(ValueError):
        decode_png(bytes(bad_depth))
    # illegal depth for the color type (2-bit RGB)
    bad_combo = bytearray(good)
    bad_combo[8 + 8 + 8] = 2
    with pytest.raises(ValueError):
        decode_png(bytes(bad_combo))
    with pytest.raises(ValueError):
        decode_png(b"nope")


def test_png_depth_palette_interlace_matrix():
    """r7 coverage of the formerly-rejected shapes: 16-bit (decodes to
    the high byte), sub-8-bit gray (scaled to 0–255), palette at
    1/2/4/8 bits, and Adam7 interlace — each crossed with forward
    filters, fixtures from the in-repo encoder."""
    import numpy as np
    from stock_indicators_etl_spark.llmdata.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(23)
    # 16-bit gray/RGB/RGBA, interlaced and not, Paeth-filtered
    for ch in (1, 3, 4):
        shape = (9, 11) if ch == 1 else (9, 11, ch)
        img16 = rng.integers(0, 65536, shape).astype(np.uint16)
        exp = (img16 >> 8).astype(np.uint8)
        for il in (False, True):
            got = decode_png(
                encode_png(img16, depth=16, interlace=il, row_filters=4)
            )
            assert np.array_equal(got, exp), (ch, il)
    # sub-8-bit gray scales to full range
    for d in (1, 2, 4):
        maxv = (1 << d) - 1
        img = rng.integers(0, maxv + 1, (10, 23)).astype(np.uint8)
        exp = np.rint(img * (255.0 / maxv)).astype(np.uint8)
        for il in (False, True):
            got = decode_png(encode_png(img, depth=d, interlace=il, row_filters=2))
            assert np.array_equal(got, exp), (d, il)
    # palette at every legal depth
    for d in (1, 2, 4, 8):
        n = 1 << d
        pal = rng.integers(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.integers(0, n, (12, 19)).astype(np.uint8)
        for il in (False, True):
            got = decode_png(
                encode_png(idx, depth=d, palette=pal, interlace=il, row_filters=1)
            )
            assert np.array_equal(got, pal[idx]), (d, il)
    # interlaced 8-bit across all color types and filters + degenerate
    # pass geometry (images smaller than one 8x8 Adam7 tile)
    for ch in (1, 2, 3, 4):
        shape = (13, 17) if ch == 1 else (13, 17, ch)
        img = rng.integers(0, 256, shape).astype(np.uint8)
        for f in range(5):
            assert np.array_equal(
                decode_png(encode_png(img, interlace=True, row_filters=f)), img
            ), (ch, f)
    for shape in ((1, 1), (2, 3), (5, 2), (7, 7)):
        img = rng.integers(0, 256, shape).astype(np.uint8)
        assert np.array_equal(
            decode_png(encode_png(img, interlace=True, row_filters=3)), img
        ), shape


def test_png_through_feature_and_resize_paths():
    import numpy as np
    from stock_indicators_etl_spark.llmdata.multimodal import (
        decode_image,
        encode_png,
        image_decoder,
        image_resize,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    png = encode_png(img, row_filters=4)
    f = image_decoder(png, "image")
    assert len(f) == 16 and abs(float(f.sum()) - 1.0) < 1e-6
    out = decode_image(image_resize(png, 8, 8))
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out, img[::2][:, ::2])


def test_ppm_maxval_rescales_to_full_range():
    """ADVICE r5: a PPM with maxval<255 must normalize so histogram
    features are comparable across maxval encodings."""
    from stock_indicators_etl_spark.llmdata.multimodal import decode_ppm

    ppm = b"P5\n4 1\n15\n" + bytes([0, 5, 10, 15])
    assert decode_ppm(ppm).tolist() == [[0, 85, 170, 255]]


def test_real_decoder_through_spark_pipeline(spark):
    import numpy as np
    import pandas as pd
    from stock_indicators_etl_spark.llmdata.multimodal import (
        MEDIA_SCHEMA,
        encode_ppm,
        extract_media_features,
        image_resize,
        real_decoder,
        resize_media,
    )

    rng = np.random.default_rng(9)
    rows = [
        (int(i), "image", bytearray(encode_ppm(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8))),
         {"mime": "image/x-portable-pixmap", "width": 8, "height": 8, "duration_ms": 0})
        for i in range(4)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_media_features(media, decoder=real_decoder).toPandas()
    assert len(feats) == 4
    assert all(abs(sum(f) - 1.0) < 1e-5 for f in feats.features)
    resized = resize_media(media, 4, 4, resizer=image_resize).toPandas()
    from stock_indicators_etl_spark.llmdata.multimodal import decode_image

    for p in resized.payload:
        assert decode_image(bytes(p)).shape == (4, 4, 3)


def test_mix_domains_respects_quota_and_availability(spark):
    import pandas as pd

    from stock_indicators_etl_spark.llmdata.sampling import mix_domains

    # 200 web rows, 5 code rows, 50 unlisted rows
    rows = pd.DataFrame(
        {
            "doc_id": range(255),
            "source": ["web"] * 200 + ["code"] * 5 + ["other"] * 50,
        }
    )
    out = (
        mix_domains(
            spark.createDataFrame(rows),
            {"web": 1, "code": 1},
            total_out=40,
        )
        .groupBy("source")
        .count()
        .collect()
    )
    got = {r["source"]: r["count"] for r in out}
    assert "other" not in got  # unlisted domains dropped
    assert got["code"] == 5  # availability-capped: all 5 kept
    # web quota 20 of 200: Bernoulli threshold → ~20, binomial spread
    assert 5 <= got.get("web", 0) <= 40
    # determinism: second run identical
    out2 = (
        mix_domains(
            spark.createDataFrame(rows), {"web": 1, "code": 1}, total_out=40
        )
        .groupBy("source")
        .count()
        .collect()
    )
    assert {r["source"]: r["count"] for r in out2} == got


def test_sq_topk_matches_numpy_quantized_reference(spark):
    from stock_indicators_etl_spark.llmdata.similarity import sq_topk

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8))
    df = _emb_df(spark, vecs)
    q = df.filter(F.col("vec_id") < 2)
    out = sq_topk(df, q, k=5, dim=8).toPandas()
    # numpy reference of the exact same quantizer
    nrm = np.linalg.norm(vecs, axis=1, keepdims=True)
    codes = np.floor(vecs / nrm * 127.0 + 0.5).astype(np.int64)
    sims = codes @ codes.T
    for qid in (0, 1):
        order = sorted(
            (i for i in range(40) if i != qid),
            key=lambda i: (-sims[qid, i], i),
        )[:5]
        sub = out[out.qid == qid].sort_values("rk")
        assert list(sub.nbr_id) == order
        assert list(sub.score) == [int(sims[qid, i]) for i in order]


def test_sq_topk_cluster_recall(spark):
    # int8 resolution is ~1/127, so exact WITHIN-cluster ordering of
    # near-tied cosines is not preserved — but cluster membership
    # must be: every retrieved neighbor of a clustered query comes
    # from the query's own cluster (inter-cluster cosine gaps ≫ the
    # quantization error)
    rng = np.random.default_rng(8)
    base = rng.normal(size=(4, 16)) * 10
    vecs = np.vstack([b + rng.normal(size=(10, 16)) * 0.05 for b in base])
    df = _emb_df(spark, vecs)
    q = df.filter(F.col("vec_id") < 2)
    from stock_indicators_etl_spark.llmdata.similarity import sq_topk

    approx = sq_topk(df, q, k=5, dim=16).toPandas()
    for qid in (0, 1):
        nbrs = set(approx[approx.qid == qid].nbr_id)
        assert len(nbrs) == 5
        assert all(n // 10 == qid // 10 for n in nbrs)  # same cluster


def test_sq_codes_zero_vector_and_axis_values(spark):
    from stock_indicators_etl_spark.llmdata.similarity import sq_topk

    vecs = [[3.0, 0.0], [0.0, 4.0], [0.0, 0.0], [6.0, 0.0]]
    df = _emb_df(spark, vecs)
    q = df.filter(F.col("vec_id") < 1)
    out = sq_topk(df, q, k=3, dim=2).toPandas().sort_values("rk")
    # normalized codes: unit-axis vectors -> (127, 0)/(0, 127); the
    # zero vector -> (0, 0); colinear vec 3 scores 127*127
    assert list(out.nbr_id) == [3, 1, 2]
    assert list(out.score) == [127 * 127, 0, 0]


def test_sq_topk_plan_broadcasts_query_side(spark):
    from stock_indicators_etl_spark.llmdata.similarity import sq_topk

    rng = np.random.default_rng(9)
    df = _emb_df(spark, rng.normal(size=(20, 8)))
    q = df.filter(F.col("vec_id") < 2)
    plan = (
        sq_topk(df, q, k=3, dim=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan  # query-side crossJoin
    assert "SortMergeJoin" not in plan  # the big side never shuffles for a join


# ---------------------------------------------------------------------------
# header-only media probe
# ---------------------------------------------------------------------------


def test_probe_media_header_roundtrips_every_encoder():
    from stock_indicators_etl_spark.llmdata.audio import encode_wav
    from stock_indicators_etl_spark.llmdata.gif import encode_gif
    from stock_indicators_etl_spark.llmdata.jpeg import encode_jpeg
    from stock_indicators_etl_spark.llmdata.multimodal import (
        encode_png,
        encode_ppm,
        probe_media_header,
    )

    rng = np.random.default_rng(61)
    rgb = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (11, 9), dtype=np.uint8)

    h = probe_media_header(encode_png(rgb))
    assert (h["fmt"], h["width"], h["height"], h["bit_depth"]) == ("png", 17, 24, 8)
    h = probe_media_header(encode_png(gray.astype(np.int64), depth=16))
    assert (h["fmt"], h["width"], h["height"], h["bit_depth"]) == ("png", 9, 11, 16)

    h = probe_media_header(encode_ppm(rgb))
    assert (h["fmt"], h["width"], h["height"]) == ("ppm", 17, 24)
    h = probe_media_header(encode_ppm(gray))
    assert (h["fmt"], h["width"], h["height"]) == ("pgm", 9, 11)

    h = probe_media_header(encode_jpeg(rgb))
    assert (h["fmt"], h["width"], h["height"], h["bit_depth"]) == ("jpeg", 17, 24, 8)
    h = probe_media_header(encode_jpeg(rgb, progressive=True))
    assert (h["fmt"], h["width"], h["height"]) == ("jpeg_progressive", 17, 24)

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    frames = rng.integers(0, 4, (3, 7, 5))
    h = probe_media_header(encode_gif(frames, pal, delays_ms=[40, 40, 40]))
    assert (h["fmt"], h["width"], h["height"], h["n_frames"]) == ("gif", 5, 7, 3)
    h = probe_media_header(encode_gif(frames[0], pal))
    assert h["n_frames"] == 1

    wav = encode_wav(
        (np.sin(np.linspace(0, 40, 8000)) * 30000).astype(np.int64),
        sample_rate=16000,
    )
    h = probe_media_header(wav)
    assert (h["fmt"], h["bit_depth"], h["n_frames"], h["duration_ms"]) == (
        "wav", 16, 8000, 500,
    )


def test_probe_media_header_matches_decode_shapes():
    from stock_indicators_etl_spark.llmdata.jpeg import encode_jpeg
    from stock_indicators_etl_spark.llmdata.multimodal import (
        decode_image,
        encode_png,
        probe_media_header,
    )

    rng = np.random.default_rng(62)
    img = rng.integers(0, 256, (13, 21, 3), dtype=np.uint8)
    for payload in (encode_png(img, interlace=True), encode_jpeg(img)):
        h = probe_media_header(payload)
        dec = decode_image(payload)
        assert (h["height"], h["width"]) == dec.shape[:2]


def test_probe_media_header_corrupt_is_unknown_not_raise():
    from stock_indicators_etl_spark.llmdata.multimodal import probe_media_header

    for p in (b"", b"\x00\x01\x02", b"\xff\xd8\xff", b"GIF89a\x05", b"P6 junk"):
        h = probe_media_header(p)
        assert h["fmt"] == "unknown"
        assert h["width"] is None


def test_media_headers_dataframe_plumbing(spark):
    from stock_indicators_etl_spark.llmdata.multimodal import (
        encode_png,
        media_headers,
    )

    rng = np.random.default_rng(63)
    rows = pd.DataFrame(
        {
            "media_id": [0, 1],
            "payload": [
                encode_png(rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)),
                b"not an image",
            ],
        }
    )
    out = media_headers(spark.createDataFrame(rows)).toPandas().set_index("media_id")
    assert out.loc[0].fmt == "png" and out.loc[0].width == 6
    assert out.loc[1].fmt == "unknown" and pd.isna(out.loc[1].width)


def test_ivfsq_full_probe_equals_sq_brute_force(spark):
    # probing ALL cells removes the IVF approximation: ranking must
    # equal plain sq_topk (same codes, same tie rule)
    from stock_indicators_etl_spark.llmdata.similarity import ivfsq_topk, sq_topk

    rng = np.random.default_rng(10)
    vecs = rng.normal(size=(40, 16))
    df = _emb_df(spark, vecs)
    q = df.filter(F.col("vec_id") < 3)
    full = ivfsq_topk(df, q, k=5, n_centroids=6, n_probe=6, dim=16).toPandas()
    brute = sq_topk(df, q, k=5, dim=16).toPandas()
    for qid in (0, 1, 2):
        f = full[full.qid == qid].sort_values("rk")
        b = brute[brute.qid == qid].sort_values("rk")
        assert list(f.nbr_id) == list(b.nbr_id)
        assert list(f.score) == list(b.score)


def test_ivfsq_partial_probe_is_subset_with_true_scores(spark):
    from stock_indicators_etl_spark.llmdata.similarity import ivfsq_topk, sq_codes

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(50, 16))
    df = _emb_df(spark, vecs)
    q = df.filter(F.col("vec_id") < 2)
    out = ivfsq_topk(df, q, k=5, n_centroids=8, n_probe=2, dim=16).toPandas()
    assert out.groupby("qid").size().max() <= 5
    # scores are genuine code dots (spot-check one row against numpy)
    nrm = np.linalg.norm(vecs, axis=1, keepdims=True)
    codes = np.floor(vecs / nrm * 127.0 + 0.5).astype(np.int64)
    r = out.iloc[0]
    assert r.score == codes[int(r.qid)] @ codes[int(r.nbr_id)]


def test_winnow_guarantee_and_edges(spark):
    """Winnowing contract (SIGMOD'03): any shared word run of at
    least window+k−1 words yields at least one shared fingerprint;
    docs shorter than k words yield none; a doc with exactly k words
    yields exactly one."""
    from stock_indicators_etl_spark.llmdata.dedup import winnow_fingerprints

    k, w = 4, 5
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = w+k-1
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                f"one two three {shared} four five",
                f"{shared} completely different tail words here",
                "too short",
                "exactly four word doc",
            ],
        }
    )
    fps = winnow_fingerprints(
        spark.createDataFrame(pdf), k=k, window=w
    ).toPandas()
    by_doc = {d: set(g.fp) for d, g in fps.groupby("doc_id")}
    assert by_doc[0] & by_doc[1], "shared run must share a fingerprint"
    assert 2 not in by_doc  # < k words -> no shingles -> no fps
    assert len(by_doc[3]) == 1  # one shingle -> one fingerprint


def test_winnow_matches_ranks_overlap(spark):
    from stock_indicators_etl_spark.llmdata.dedup import winnow_matches

    base = "the quick brown fox jumps over the lazy dog again and again"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [base, base + " with a small suffix", "entirely unrelated words only"],
        }
    )
    out = winnow_matches(spark.createDataFrame(pdf)).toPandas()
    assert list(out.columns) == ["doc_a", "doc_b", "n_shared"]
    assert (out.iloc[0].doc_a, out.iloc[0].doc_b) == (0, 1)


def test_decontaminate_flags_planted_contamination(spark):
    from stock_indicators_etl_spark.llmdata.dedup import (
        decontaminate,
        decontaminate_survivors,
    )

    bench = "which planet is closest to the sun mercury is the answer"
    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [bench, "totally unrelated training document text here"],
            }
        )
    )
    ev = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": [bench]})
    )
    out = decontaminate(train, ev, threshold=0.5).toPandas()
    assert set(zip(out.train_id, out.eval_id)) == {(1, 100)}
    assert (out.jaccard == 1.0).all()
    surv = decontaminate_survivors(train, ev, threshold=0.5).toPandas()
    assert list(surv.doc_id) == [2]
