"""Incremental near-dedup against a persisted MinHash index.

The production need at crawl scale: "dedup the NEW shard against the
existing 100 TB corpus without recomputing the corpus" — every crawl
append should cost O(new shard + collisions), not O(corpus).

Index layout (parquet, append-only — no rewrite of old data ever):

- ``<index>/bands``    — (doc_id, band_idx, band_key): the LSH
  bucketing stream (:func:`..dedup.band_rows`). New shards APPEND.
- ``<index>/shingles`` — (doc_id, sh_set array<bigint>): each doc's
  distinct 56-bit shingle hashes, so exact Jaccard verification of a
  (new, old) candidate never re-reads or re-shingles old text.

The running component mapping (doc_id → component) is a DataFrame the
caller persists wherever the pipeline keeps state (it changes every
increment, so it is NOT part of the append-only index).

Increment algorithm (:func:`dedup_increment`):

1. band the new docs; candidates = new-bands ⋈ (old ∪ new) bands on
   (band_idx, band_key) — an equi-join, so every candidate pair
   touches ≥1 new doc and old docs never pair with each other (any
   old-old collision already existed in a previous run: banding is
   deterministic).
2. exact-Jaccard-verify candidates from the stored shingle sets
   (``array_intersect`` over merge-pinned joins — the verifier of the
   candidate-restricted :func:`..dedup.ngram_jaccard_pairs`).
3. merge via the QUOTIENT graph: old endpoints contract to their
   prior component label, then connected components runs over (new
   ids ∪ touched labels) only — the fixpoint never revisits the old
   corpus. Because component labels are group-minimum doc_ids and min
   is associative, the merged labels equal the one-shot labels on the
   union (property-tested shard-by-shard in
   ``tests/test_dedup_index.py``).

Scale shape per increment: one shuffle of the new shard's bands, one
equi-join against the stored band stream (AQE broadcasts the new side
when small), Jaccard work proportional to collisions, CC on the
touched subgraph. Nothing scans old text; nothing rewrites old index
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_indicators_etl_spark.llmdata.dedup import (
    MH_PRIME,
    _candidate_docs,
    _verify_jaccard,
    band_rows,
    connected_components,
    minhash_signatures,
    shingle_sets,
    word_shingles,
)


def _signatures_and_sets(
    df: DataFrame, text_col: str, n_hashes: int, k: int
) -> DataFrame:
    """One scan + one shuffle for BOTH per-doc artifacts the index
    stores: the MinHash signature (mh_0..mh_{n-1}) and the distinct
    shingle-hash set. The shared trick: h56 (the Jaccard-verify
    convention, first 14 md5 hex digits) IS minhash's h1, so a single
    md5 per shingle feeds the double-hashing mins and the
    ``collect_set`` — fusing what :func:`..dedup.minhash_signatures`
    + :func:`..dedup.shingle_sets` would compute in two scans (DESIGN
    §4.7, hash once derive many). Bit-identical outputs to the unfused
    pair (pinned in tests/test_dedup_index.py)."""
    sh = word_shingles(df, text_col, k, distinct=False)
    md = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(md, 1, 14), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 17, 14), 16, 10).cast("long")
    hashed = sh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(MH_PRIME)).alias(
            f"mh_{i}"
        )
        for i in range(n_hashes)
    ]
    aggs.append(F.collect_set("h1").alias("sh_set"))
    return hashed.groupBy("doc_id").agg(*aggs)


def _index_exists(spark: SparkSession, index_path: str) -> bool:
    """Public-API existence probe (Connect-safe): a schema read of the
    bands directory succeeds iff the index has been written. No
    ``_jvm``/``_jsc`` — those are private and absent under Spark
    Connect."""
    try:
        spark.read.parquet(index_path + "/bands").schema
        return True
    except Exception:
        return False


def write_index_shard(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
    mode: str = "append",
) -> None:
    """Append one shard's bands + shingle sets to the index. The two
    writes share the shingle scan only up to Spark's action boundary —
    at scale, run them in one job server-side or accept two scans of
    the NEW shard (never of the corpus)."""
    sig = minhash_signatures(docs, text_col, n_hashes, k)
    band_rows(sig, n_hashes, band_size).write.mode(mode).parquet(
        index_path + "/bands"
    )
    shingle_sets(docs, text_col, k).write.mode(mode).parquet(
        index_path + "/shingles"
    )


def dedup_increment(
    new_docs: DataFrame,
    index_path: str,
    prev_components: DataFrame | None = None,
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
    max_bucket_size: int | None = None,
    append: bool = True,
) -> DataFrame:
    """Dedup a new crawl shard against the persisted index and return
    the UPDATED full component mapping (doc_id, component) — old docs
    re-labeled only where a new doc bridged their groups.

    ``prev_components`` is the mapping returned by the previous
    increment (None/empty for the first shard). ``append=True`` also
    appends the new shard's bands + shingle sets to the index so the
    next increment sees them.

    ``max_bucket_size`` caps pair expansion per (band, key) bucket
    measured over the UNION stream, same guard as the one-shot
    pipeline. NOTE the monotonicity caveat: a bucket that grows past
    the cap only as later shards arrive will have contributed pairs
    in earlier increments (merges are never undone) — incremental
    output with a finite cap can therefore keep groups the one-shot
    run would drop. The pinned contract (property-tested across shard
    counts and caps in ``tests/test_dedup_index.py``): the capped
    incremental mapping is always a COARSENING of the one-shot capped
    mapping — extra merges possible, splits never. Exact equivalence
    holds for ``max_bucket_size=None`` or whenever no bucket ever
    exceeds the cap.
    """
    spark = new_docs.sparkSession
    # one scan + one shuffle for signature AND shingle set, pinned:
    # the derived streams are consumed 2-3 times each (candidate
    # join, union with the stored index, index append) and
    # recomputing would re-shingle + re-hash the shard every time
    per_doc = _signatures_and_sets(new_docs, text_col, n_hashes, k).persist()
    new_bands = band_rows(per_doc, n_hashes, band_size)
    new_sets = per_doc.select("doc_id", "sh_set")

    if _index_exists(spark, index_path):
        old_bands = spark.read.parquet(index_path + "/bands")
        old_sets = spark.read.parquet(index_path + "/shingles")
        all_bands = old_bands.unionByName(new_bands)
        all_sets = old_sets.unionByName(new_sets)
    else:
        all_bands = new_bands
        all_sets = new_sets

    if max_bucket_size is not None:
        sizes = all_bands.groupBy("band_idx", "band_key").agg(
            F.count(F.lit(1)).alias("_n")
        )
        all_bands = (
            all_bands.join(sizes, ["band_idx", "band_key"])
            .filter(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )

    # every candidate touches >=1 new doc; orient and dedup
    cand = (
        new_bands.select("band_idx", "band_key", F.col("doc_id").alias("_new"))
        .join(all_bands, ["band_idx", "band_key"])
        .filter(F.col("doc_id") != F.col("_new"))
        .select(
            F.least("_new", "doc_id").alias("doc_a"),
            F.greatest("_new", "doc_id").alias("doc_b"),
        )
        .distinct()
        .persist()
    )
    doc_sets = _candidate_docs(all_sets, cand)
    edges = _verify_jaccard(cand, doc_sets, doc_sets, threshold).select("doc_a", "doc_b")

    # quotient: contract old endpoints to their prior component label.
    # new_ids reads the PINNED per_doc frame, not new_docs: it is
    # consumed four times per increment (quotient vertices, the
    # replay semi/anti pair, the new_out join) and deriving it from
    # new_docs would re-run the shard's parquet scan + filter on
    # every consumption (measured +0.3-0.5 s per shard at sf0.1)
    new_ids = per_doc.select("doc_id")
    if prev_components is None:
        prev_components = spark.createDataFrame(
            [], "doc_id long, component long"
        )
    lab = prev_components.select(
        F.col("doc_id").alias("_d"), F.col("component").alias("_l")
    )
    q_edges = (
        edges.join(lab.withColumnRenamed("_d", "doc_a"), "doc_a", "left")
        .withColumn("la", F.coalesce("_l", F.col("doc_a")))
        .drop("_l")
        .join(lab.withColumnRenamed("_d", "doc_b"), "doc_b", "left")
        .withColumn("lb", F.coalesce("_l", F.col("doc_b")))
        .select(
            F.least("la", "lb").alias("doc_a"),
            F.greatest("la", "lb").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    # pin the quotient edge list ONCE (lazy — materialized inside the
    # CC fixpoint's own edge pin, no extra job): q_vertices AND the
    # CC loop both derive from it, and unpinned it would re-run the
    # whole band-join → Jaccard-verify → quotient chain a second time
    # when the final mapping materializes (measured 2.1-3.6 s per
    # increment at sf0.1 — the bulk of the r10 fixed-overhead growth)
    q_edges = q_edges.localCheckpoint(eager=False)
    q_vertices = (
        q_edges.select(F.col("doc_a").alias("doc_id"))
        .union(q_edges.select(F.col("doc_b").alias("doc_id")))
        .union(new_ids)
        .distinct()
    )
    q_comp = connected_components(q_edges, q_vertices).select(
        F.col("doc_id").alias("_l"), F.col("component").alias("_c")
    )

    # old docs: component = q_comp[prior label] if touched else prior
    old_out = (
        prev_components.join(
            q_comp, prev_components["component"] == q_comp["_l"], "left"
        )
        .select(
            prev_components["doc_id"],
            F.coalesce("_c", prev_components["component"]).alias("component"),
        )
    )
    # new docs: every new id is a quotient vertex — but ONLY the
    # genuinely-new ones take this path. Under at-least-once replay
    # (a foreachBatch crash after the index append / mapping publish
    # but before the checkpoint commit — tests/
    # test_r12_streaming_restart.py), the "new" shard's docs are
    # ALREADY in prev_components: their prior labels make every
    # replayed edge contract to la == lb (dropped), so the replayed
    # doc's own-id quotient vertex comes back as a SINGLETON and the
    # naive union would publish both (doc → merged label) from
    # old_out and a conflicting (doc → doc) from new_out. Replayed
    # docs are old docs — prev_components already carries them
    # through old_out; the anti-join makes the increment
    # replay-IDEMPOTENT (r12, VERDICT r11 next #5).
    #
    # Join shape, chosen for the 100 TB steady state: a direct
    # new_ids LEFT ANTI prev_components cannot broadcast (only the
    # RIGHT side of an anti builds the hash table, and that side is
    # the O(corpus) mapping) — it would sort-merge-SHUFFLE the whole
    # mapping on doc_id every increment just to discover that,
    # normally, nothing was replayed. Inverted, the corpus side is
    # only SCANNED: the semi-join's broadcastable side is the
    # micro-batch's id list, and the result (empty except during a
    # replay) is the tiny anti side AQE broadcasts back.
    replayed_ids = prev_components.select("doc_id").join(
        new_ids, "doc_id", "left_semi"
    )
    genuinely_new = new_ids.join(replayed_ids, "doc_id", "left_anti")
    new_out = genuinely_new.join(
        q_comp, genuinely_new["doc_id"] == q_comp["_l"]
    ).select(genuinely_new["doc_id"], F.col("_c").alias("component"))
    out = old_out.unionByName(new_out)

    # pin the result BEFORE unpersisting its inputs (and, when
    # appending, before mutating the index it lazily reads — a
    # re-listed scan after the append would double-count the new
    # shard's bands); the mapping is O(corpus) narrow rows the caller
    # persists anyway. Checkpointing unconditionally also lets both
    # branches release the per_doc/cand caches instead of leaking them
    # for the session lifetime in the append=False path.
    out = out.localCheckpoint()
    if append:
        # overlap the two independent appends (guide §2.6): both read
        # the pinned per_doc cache and write disjoint directories, so
        # the second write's tasks back-fill the first's tail instead
        # of waiting for it
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fb = pool.submit(
                lambda: new_bands.write.mode("append").parquet(
                    index_path + "/bands"
                )
            )
            fs = pool.submit(
                lambda: new_sets.write.mode("append").parquet(
                    index_path + "/shingles"
                )
            )
            fb.result()
            fs.result()
    per_doc.unpersist()
    cand.unpersist()
    return out
