"""Planted-skew robustness fixtures (VERDICT r5 #6).

Real crawl corpora are boilerplate-heavy: one shared sentence
(copyright footer, cookie banner) can appear in 30% of documents, and
near-identical template pages can pile hundreds of docs into one LSH
bucket. These fixtures plant exactly those pathologies and drive them
through the COMPOSED pipeline defaults, asserting the guards bound
the pair expansion while genuine near-duplicates still group.

Measured counts from these fixtures are recorded in DESIGN.md
("Planted-skew robustness" section) — keep the two in sync.
"""

from __future__ import annotations

import itertools
import random

import pandas as pd
import pytest

from stock_indicators_etl_spark.llmdata.dedup import (
    SCALE_MAX_BUCKET_SIZE,
    SCALE_MAX_DOC_FREQ,
    _bucket_pairs,
    _salted_chunk_rows,
    minhash_lsh_candidates,
    neardup_components,
    ngram_jaccard_pairs,
)

from pyspark.sql import functions as F


def _boilerplate_corpus(spark, n_total=300, hot_frac=0.3, n_planted=4):
    """n_total docs; hot_frac of them share one boilerplate sentence
    (each otherwise unique); n_planted genuine near-dup PAIRS of
    otherwise-unique docs (differ by one word, no boilerplate)."""
    n_hot = int(n_total * hot_frac)
    boiler = "copyright acme corp all rights reserved worldwide"
    rows = []
    for i in range(n_hot):
        rows.append((i, f"{boiler} article {i} discusses subject {i * 7} at length {i * 13}"))
    for i in range(n_hot, n_total):
        rows.append((i, f"article {i} covers unique topic {i * 7} with detail {i * 13} body {i * 3}"))
    for j in range(n_planted):
        # pair index interleaved into every trigram so distinct planted
        # pairs share NO shingle with each other at k=3
        base = f"planted {j} duplicate {j * 11} story {j * 5} market {j * 7} conditions today"
        rows.append((10_000 + 2 * j, base))
        rows.append((10_001 + 2 * j, base.replace("today", "tonight")))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_hot_shingle_capped_by_default_doc_freq(spark):
    """A shingle in 30% of docs (90 > SCALE_MAX_DOC_FREQ=64) would pair
    every hot doc with every other; the documented scale default drops
    its postings before expansion, and the planted genuine near-dups
    still come through."""
    docs = _boilerplate_corpus(spark)
    uncapped = ngram_jaccard_pairs(docs, k=3, threshold=0.05)
    capped = ngram_jaccard_pairs(
        docs, k=3, threshold=0.05, max_doc_freq=SCALE_MAX_DOC_FREQ
    )
    n_uncapped, n_capped = uncapped.count(), capped.count()
    # 90 hot docs share boilerplate shingles -> quadratic: >= 90*89/2
    assert n_uncapped >= 90 * 89 // 2
    # capped: boilerplate postings gone; only the 4 planted pairs remain
    assert n_capped == 4
    planted = {
        (r.doc_a, r.doc_b) for r in capped.select("doc_a", "doc_b").collect()
    }
    assert planted == {(10_000 + 2 * j, 10_001 + 2 * j) for j in range(4)}


def test_hot_lsh_bucket_dropped_by_composed_default(spark):
    """600 template-identical docs land in one LSH bucket >
    SCALE_MAX_BUCKET_SIZE=512. The composed neardup_components default
    drops the degenerate bucket (documented boilerplate-sink
    semantics) instead of emitting ~180k pairs, while a
    sub-cap-size genuine dup group still collapses."""
    n_sink = SCALE_MAX_BUCKET_SIZE + 88  # 600
    rows = [(i, "identical cookie banner text shown on every single page") for i in range(n_sink)]
    rows += [(n_sink + i, f"organic article {i} unique content {i * 7} here {i * 3}") for i in range(10)]
    rows += [(90_000, "one genuine pair of near duplicate stories here"),
             (90_001, "one genuine pair of near duplicate stories here")]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    # uncapped LSH: the sink bucket alone is quadratic
    n_uncapped = minhash_lsh_candidates(docs, max_bucket_size=None).count()
    assert n_uncapped >= n_sink * (n_sink - 1) // 2

    comp = {r.doc_id: r.component for r in neardup_components(docs).collect()}
    # sink docs become singletons (bucket dropped), organic docs untouched,
    # the genuine sub-cap pair still groups
    assert all(comp[i] == i for i in range(n_sink))
    assert comp[90_001] == comp[90_000] == 90_000


def test_salt_chunk_spreads_task_sizes(spark):
    """salt_chunk keeps hot buckets but bounds per-row work: a 40-id
    bucket at chunk=8 becomes 15 rows each carrying <= 8 ids per side
    (<= 64 pair-work per row vs 780 in the single unsalted row), with
    identical pair output."""
    grouped = spark.createDataFrame(
        pd.DataFrame({"key": ["hot"], "ids": [list(range(40))]})
    )
    layout = _salted_chunk_rows(grouped, chunk=8).select(
        F.size("a").alias("na"), F.size("b").alias("nb")
    )
    sizes = layout.collect()
    # ceil(40/8)=5 chunks -> 5*6/2 = 15 chunk-pair rows
    assert len(sizes) == 15
    assert max(max(r.na, r.nb) for r in sizes) <= 8
    salted = {
        (r.doc_a, r.doc_b)
        for r in _bucket_pairs(grouped, chunk=8).collect()
    }
    plain = {(r.doc_a, r.doc_b) for r in _bucket_pairs(grouped).collect()}
    assert salted == plain and len(plain) == 40 * 39 // 2


@pytest.mark.parametrize("carry_n", [False, True], ids=["ids", "id_n_structs"])
def test_bucket_pairs_match_python_reference(spark, carry_n):
    """``_bucket_pairs`` against ``itertools.combinations`` on random
    unsorted buckets of 0-40 elements — plain ids or ``(id, n)``
    structs — unsalted and at chunk sizes 1, 3, b and b+1: exactly the
    sorted pairs, each once, ``doc_a < doc_b``, and every carried ``n``
    the one its id carries."""
    rng = random.Random(7)
    sizes = [0, 1, 2, 40] + [rng.randint(0, 40) for _ in range(4)]
    # disjoint id ranges, so each pair names its bucket
    buckets = [rng.sample(range(1000 * b, 1000 * b + 1000), n) for b, n in enumerate(sizes)]
    n_of = {i: rng.randint(1, 99) for ids in buckets for i in ids}

    def check(bs, chunk):
        if carry_n:
            rows = [([(i, n_of[i]) for i in ids],) for ids in bs]
            grouped = spark.createDataFrame(rows, "ids array<struct<id:bigint,n:bigint>>")
        else:
            grouped = spark.createDataFrame([(ids,) for ids in bs], "ids array<bigint>")
        got = _bucket_pairs(grouped, chunk=chunk).collect()
        want = sorted(p for ids in bs for p in itertools.combinations(sorted(ids), 2))
        assert sorted((r.doc_a, r.doc_b) for r in got) == want, (chunk, bs)
        if carry_n:
            assert all((r._na, r._nb) == (n_of[r.doc_a], n_of[r.doc_b]) for r in got)

    for chunk in (None, 1, 3):
        check(buckets, chunk)
    for ids in buckets:
        for chunk in {max(len(ids), 1), len(ids) + 1}:
            check([ids], chunk)


def test_salted_composed_pipeline_keeps_hot_bucket_groups(spark):
    """salt_chunk through the composed entry point: the hot bucket is
    KEPT (unlike max_bucket_size) and its docs still collapse to one
    component, so salting is the right guard when the duplicates are
    real rather than boilerplate."""
    n_hot = 60
    rows = [(i, "a real duplicated press release syndicated everywhere verbatim") for i in range(n_hot)]
    rows += [(1_000 + i, f"distinct article {i} body {i * 7} tail {i * 3}") for i in range(5)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    comp = {
        r.doc_id: r.component
        for r in neardup_components(docs, salt_chunk=16, max_bucket_size=None).collect()
    }
    assert all(comp[i] == 0 for i in range(n_hot))
    assert all(comp[1_000 + i] == 1_000 + i for i in range(5))


def test_link_prediction_hub_vertex_bounded(spark):
    """Planted hub: a vertex adjacent to EVERY other vertex. The
    friend-of-friend enumeration is Σdeg² — the hub contributes
    deg² = N² pairs through itself, which is the honest cost of a
    real hub — but the join must stay an equi-join (no cartesian)
    and produce exactly the expected top pairs: every non-adjacent
    spoke pair shares the hub, so cn ≥ 1 for all of them."""
    from pyspark.sql import functions as F

    from stock_indicators_etl_spark.operators.graph import (
        link_prediction_scores,
    )

    n = 40
    edges = [(0, i) for i in range(1, n)]  # star: 0 is the hub
    edges += [(1, 2), (3, 4)]  # a couple of spoke-spoke edges
    df = spark.createDataFrame(edges, "src long, dst long")
    out = link_prediction_scores(df, top_n=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = out.toPandas()
    assert len(got) == 10
    # all predicted pairs are spoke-spoke (hub already adjacent to all)
    assert (got.u > 0).all() and (got.v > 0).all()
    # spokes 1 and 2 are adjacent -> must not be predicted
    assert not ((got.u == 1) & (got.v == 2)).any()
    assert (got.cn >= 1).all()


def test_band_salt_count_keeps_salt_past_the_size_cap():
    """A key-space deficit always salts: a banded stream estimated
    above 1 GiB caps the salt at 2 instead of dropping it to 1."""
    from stock_indicators_etl_spark.llmdata.similarity import band_salt_count

    assert band_salt_count(200, 16, 2 << 30) == 2
    assert band_salt_count(200, 16, 0) == 50  # unknown estimate: uncapped
    assert band_salt_count(200, 16, 1 << 26) == 16  # 1 GiB / 64 MiB
    assert band_salt_count(8, 16, 2 << 30) == 1  # no deficit, no salt
