"""Incremental dedup against a persisted MinHash index
(`llmdata/dedup_index.py`): shard-by-shard increments must reproduce
the one-shot `neardup_components` mapping on the union, with the
index append-only and old text never re-read."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stock_indicators_etl_spark.llmdata.dedup import neardup_components
from stock_indicators_etl_spark.llmdata.dedup_index import (
    dedup_increment,
    write_index_shard,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _mapping(df) -> list[tuple]:
    return sorted(
        (r["doc_id"], r["component"]) for r in df.collect()
    )


def test_incremental_equals_oneshot_shard_by_shard(spark, docs, tmp_path):
    """Three shards arriving in sequence: after every increment the
    running mapping equals the one-shot pipeline on the union so far."""
    idx = str(tmp_path / "idx")
    shards = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    comp = None
    union = None
    for i, shard in enumerate(shards):
        comp = dedup_increment(
            shard, idx, comp, threshold=0.5, max_bucket_size=None
        )
        union = shard if union is None else union.unionByName(shard)
        oneshot = neardup_components(union, threshold=0.5, max_bucket_size=None)
        assert _mapping(comp) == _mapping(oneshot), f"shard {i}"


def test_incremental_is_shard_order_invariant(spark, docs, tmp_path):
    """Reversed shard order lands on the same final mapping (labels
    are group minima — order-free)."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    s0 = docs.filter(F.col("doc_id") % 2 == 0)
    s1 = docs.filter(F.col("doc_id") % 2 == 1)
    c_fwd = dedup_increment(
        s1, a, dedup_increment(s0, a, None, max_bucket_size=None),
        max_bucket_size=None,
    )
    c_rev = dedup_increment(
        s0, b, dedup_increment(s1, b, None, max_bucket_size=None),
        max_bucket_size=None,
    )
    assert _mapping(c_fwd) == _mapping(c_rev)


def test_increment_never_reads_old_text(spark, tmp_path):
    """The API takes only the NEW shard's text; old docs exist purely
    as stored bands + shingle sets. Verify a (new, old) near-dup pair
    is found with the old documents DataFrame long gone."""
    idx = str(tmp_path / "idx")
    old = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "the quick brown fox jumps over the lazy dog again and again",
                    "completely unrelated content about spark shuffle partitions",
                ],
            }
        )
    )
    c1 = dedup_increment(old, idx, None, threshold=0.5)
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10],
                "text": [
                    "the quick brown fox jumps over the lazy dog again and again!"
                ],
            }
        )
    )
    c2 = dedup_increment(new, idx, c1, threshold=0.5)
    m = dict(_mapping(c2))
    assert m[10] == m[1] == 1  # near-dup of old doc 1, labeled by group min
    assert m[2] == 2


def test_index_is_append_only(spark, docs, tmp_path):
    """Each increment appends band/shingle rows; nothing is rewritten."""
    idx = str(tmp_path / "idx")
    s0 = docs.filter(F.col("doc_id") < 100)
    s1 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    c0 = dedup_increment(s0, idx, None)
    n_bands_0 = spark.read.parquet(idx + "/bands").count()
    dedup_increment(s1, idx, c0)
    bands = spark.read.parquet(idx + "/bands")
    n_docs = bands.select("doc_id").distinct().count()
    assert bands.count() > n_bands_0
    assert n_docs == s0.count() + s1.count()


def test_write_index_shard_then_increment(spark, docs, tmp_path):
    """An index bootstrapped by write_index_shard (bulk path) serves
    increments identically: the bulk-indexed docs' components come
    from the one-shot run, then a new shard merges against them."""
    idx = str(tmp_path / "idx")
    base = docs.filter(F.col("doc_id") % 3 != 2)
    shard = docs.filter(F.col("doc_id") % 3 == 2)
    write_index_shard(base, idx)
    base_comp = neardup_components(base, threshold=0.5, max_bucket_size=None)
    comp = dedup_increment(
        shard, idx, base_comp, threshold=0.5, max_bucket_size=None
    )
    oneshot = neardup_components(docs, threshold=0.5, max_bucket_size=None)
    assert _mapping(comp) == _mapping(oneshot)


def test_shingles_layout_stays_readable(spark, docs, tmp_path):
    """``<index>/shingles`` keeps its on-disk schema through both
    writers (the bulk ``write_index_shard`` and the append inside
    ``dedup_increment``), so indexes written earlier stay readable."""
    idx = str(tmp_path / "idx")
    write_index_shard(docs.filter(F.col("doc_id") % 2 == 0), idx)
    dedup_increment(docs.filter(F.col("doc_id") % 2 == 1), idx, None)
    sh = spark.read.parquet(idx + "/shingles")
    assert sh.schema.simpleString() == "struct<doc_id:bigint,sh_set:array<bigint>>"
    assert sh.select("doc_id").distinct().count() == sh.count() == docs.count()


def _assert_coarsening(fine: list[tuple], coarse: list[tuple]) -> None:
    """Every group of the FINE partition sits inside one group of the
    COARSE partition (coarse never splits a fine group)."""
    fine_m, coarse_m = dict(fine), dict(coarse)
    assert set(fine_m) == set(coarse_m)
    groups: dict[int, set[int]] = {}
    for doc, comp in fine_m.items():
        groups.setdefault(comp, set()).add(coarse_m[doc])
    for comp, coarse_labels in groups.items():
        assert len(coarse_labels) == 1, (
            f"one-shot group {comp} split across incremental groups "
            f"{sorted(coarse_labels)}"
        )


@pytest.mark.parametrize("n_shards", [2, 3])
@pytest.mark.parametrize("cap", [2, 3, 8])
def test_capped_incremental_is_coarsening_of_oneshot(
    spark, docs, tmp_path, n_shards, cap
):
    """The CAPPED divergence contract (dedup_index docstring): with a
    finite max_bucket_size, the incremental mapping may KEEP merges
    the one-shot capped run drops (a bucket that only later outgrew
    the cap contributed pairs early; merges are never undone) but must
    NEVER split a one-shot group — incremental components are a
    coarsening of the one-shot capped components, for every shard
    count and cap."""
    d = docs.filter(F.col("doc_id") < 300)
    idx = str(tmp_path / f"idx_{n_shards}_{cap}")
    comp = None
    for i in range(n_shards):
        comp = dedup_increment(
            d.filter(F.col("doc_id") % n_shards == i),
            idx,
            comp,
            threshold=0.5,
            max_bucket_size=cap,
        )
    oneshot = neardup_components(d, threshold=0.5, max_bucket_size=cap)
    _assert_coarsening(_mapping(oneshot), _mapping(comp))


def test_capped_incremental_keeps_merges_oneshot_drops(spark, tmp_path):
    """The divergence direction is real, not hypothetical: a bucket
    under the cap in increment 1 contributes a merge; the one-shot run
    sees the full (over-cap) bucket and drops it. Incremental keeps
    doc 0~1 merged — a strict coarsening of the one-shot result."""
    texts = ["common boilerplate sentence shared by every doc here"] * 4
    old = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": texts[:2]})
    )
    new = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11], "text": texts[2:]})
    )
    idx = str(tmp_path / "idx")
    c1 = dedup_increment(old, idx, None, threshold=0.5, max_bucket_size=3)
    c2 = dedup_increment(new, idx, c1, threshold=0.5, max_bucket_size=3)
    union = old.unionByName(new)
    oneshot = neardup_components(union, threshold=0.5, max_bucket_size=3)
    m_inc, m_one = dict(_mapping(c2)), dict(_mapping(oneshot))
    # one-shot: bucket of 4 > cap → nobody merges
    assert m_one == {0: 0, 1: 1, 10: 10, 11: 11}
    # incremental: the increment-1 merge (bucket size 2 <= cap) is kept
    assert m_inc[0] == m_inc[1] == 0
    # and it is still a coarsening (never splits)
    _assert_coarsening(_mapping(oneshot), _mapping(c2))


def test_bucket_cap_applies_to_union_stream(spark, tmp_path):
    """With a finite max_bucket_size, a bucket exceeding the cap on
    the union contributes no NEW pairs in this increment."""
    texts = ["common boilerplate sentence shared by every doc here"] * 4
    old = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": texts[:2]})
    )
    new = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11], "text": texts[2:]})
    )
    idx = str(tmp_path / "idx")
    c1 = dedup_increment(old, idx, None, threshold=0.5, max_bucket_size=None)
    # union bucket size 4 > cap 3 → new docs pair with nobody
    c2 = dedup_increment(new, idx, c1, threshold=0.5, max_bucket_size=3)
    m = dict(_mapping(c2))
    assert m[0] == m[1] == 0  # prior merge kept (monotone)
    assert m[10] == 10 and m[11] == 11  # no new pairs through the hot bucket
