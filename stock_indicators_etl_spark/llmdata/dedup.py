"""Deduplication operators over a ``documents``-shaped table.

Five families (BASELINE.json north star), each a pure DataFrame
program with a DuckDB-portable formulation:

- **exact**: md5-of-normalized-text hash groupBy — one shuffle on the
  hash, map-side combinable. The 100 TB workhorse.
- **MinHash + LSH**: word-shingle → per-permutation min hash → banded
  bucket join. Candidate generation cost is O(docs · bands), pair
  explosion bounded by bucket sizes (skew-salt hot buckets at scale).
- **n-gram Jaccard**: exact verification on candidate pairs via a
  shingle-equijoin (never all-pairs).
- **SimHash**: 28-bit sign-sum fingerprint; hamming-distance
  verification over band-blocked candidates.
- **embedding cosine** near-dup: see ``similarity.py``.
- **connected components** over verified near-dup pairs
  (:func:`connected_components`): min-label propagation or
  large-star/small-star to a unique fixpoint — the step that turns
  pairwise matches into dedup groups and survivors. Both rounds run
  through ``operators.graph.converge``: one lazy ``localCheckpoint``
  per round, materialised by the one-row checksum that is the
  round's only action.

The posting/MinHash family shares three pieces, one copy each:
:func:`_bucket_pairs` is the in-bucket pair expansion (plain ids or
``(id, n)`` structs, optionally salted by ``chunk``) behind LSH
buckets, shingle postings, winnowing and the AllPairs prefix index;
:func:`shingle_sets` builds every per-doc ``(doc_id, sh_set)``; and
:func:`_verify_jaccard` is the one merge-pinned candidate verifier
(``ngram_jaccard_pairs(candidates=…)``, :func:`decontaminate`,
``dedup_index.dedup_increment``), with the Jaccard ratio written once
in :func:`_with_jaccard`.

Portable-hash note: Spark ``hash()`` ≠ DuckDB ``hash()``, so all
hashing goes through md5 — minhashes compare *hex strings*
(lexicographic min ≡ numeric min on fixed-width hex), and integer
hashes take the first 7 hex digits (28 bits, exact in a BIGINT in
both engines).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from stock_indicators_etl_spark.llmdata.hashing import h56 as _h56
from stock_indicators_etl_spark.llmdata.text import norm_text, spread, words


_spread = spread  # shared fan-out heuristic (llmdata.text.spread)


def _bucket_pairs(
    grouped: DataFrame, id_list_col: str = "ids", chunk: int | None = None
) -> DataFrame:
    """Expand each bucket's id array into its (doc_a < doc_b) pairs with
    array higher-order functions — the single-pass alternative to a
    bucket self-join (which would recompute the bucket lineage for
    both sides and shuffle it twice). The one in-bucket expansion of
    the package: LSH bands, posting lists, winnowing fingerprints and
    the AllPairs prefix index all emit their pairs here.

    Elements are plain ids (emits ``doc_a, doc_b``) or ``(id, n)``
    structs that carry the doc's set size (emits ``doc_a, doc_b, _na,
    _nb``), so length logic downstream reads the count riding the pair
    instead of joining back onto a per-doc size table — nothing
    corpus-sized to broadcast (DESIGN §4.23). Struct sort orders by
    ``id`` first and ``n`` is functionally dependent on it, so pair
    order is the same for both kinds.

    ``chunk=None``: one row per bucket does its O(b²) work inside one
    codegen'd expression. ``chunk=c`` salts hot buckets: the sorted
    array is split into ⌈b/c⌉ ordered chunks and each chunk PAIR
    becomes its own row (:func:`_salted_chunk_rows`) before expansion,
    so a bucket's work spreads over (b/c)²/2 rows of ≤ c² pairs each.
    Chunks are ordered slices of the sorted array, so cross-chunk pairs
    satisfy a < b by construction. Same output either way.
    """
    carry_n = isinstance(grouped.schema[id_list_col].dataType.elementType, StructType)
    cols = ["doc_a", "doc_b", "_na", "_nb"] if carry_n else ["doc_a", "doc_b"]

    def pair(x: Column, y: Column) -> Column:
        if carry_n:
            return F.struct(
                x["id"].alias("doc_a"),
                y["id"].alias("doc_b"),
                x["n"].alias("_na"),
                y["n"].alias("_nb"),
            )
        return F.struct(x.alias("doc_a"), y.alias("doc_b"))

    def triangle(ids: Column) -> Column:
        return F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + F.lit(2), F.size(ids)), lambda y: pair(x, y)
                ),
            )
        )

    if chunk is None:
        rows = grouped.filter(F.size(id_list_col) > 1)
        pairs = triangle(F.array_sort(F.col(id_list_col)))
    else:
        rows = _salted_chunk_rows(grouped, id_list_col, chunk)
        a = F.col("a")
        cross = F.flatten(
            F.transform(a, lambda x: F.transform(F.col("b"), lambda y: pair(x, y)))
        )
        pairs = F.when(F.col("same"), triangle(a)).otherwise(cross)
    return rows.select(F.explode(pairs).alias("p")).select(
        *[F.col(f"p.{c}").alias(c) for c in cols]
    )


def _salted_chunk_rows(
    grouped: DataFrame, id_list_col: str = "ids", chunk: int = 256
) -> DataFrame:
    """The salted pre-expansion layout of :func:`_bucket_pairs`: each
    bucket's sorted id array split into ⌈b/c⌉ ordered chunks, one ROW
    per chunk pair (i ≤ j, ``same`` marks i == j). Separate so the
    per-task work bound — every row carries ≤ ``chunk`` ids per side,
    i.e. ≤ c² pair work — is directly assertable in tests.
    """
    ids = F.array_sort(F.col(id_list_col))
    n_chunks = F.ceil(F.size(ids) / F.lit(chunk)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.slice(ids, i * chunk + F.lit(1), F.lit(chunk)),
    )
    # (chunk_i, chunk_j) with i <= j; i == j marks intra-chunk rows
    chunk_pairs = F.flatten(
        F.transform(
            chunks,
            lambda ca, i: F.transform(
                F.slice(chunks, i + F.lit(1), F.size(chunks)),
                lambda cb, j: F.struct(
                    ca.alias("a"), cb.alias("b"), (j == 0).alias("same")
                ),
            ),
        )
    )
    return (
        grouped.filter(F.size(id_list_col) > 1)
        .select(F.explode(chunk_pairs).alias("cp"))
        .select(F.col("cp.a").alias("a"), F.col("cp.b").alias("b"), F.col("cp.same").alias("same"))
    )


def _posting_overlap(
    df: DataFrame, text_col: str, k: int, max_doc_freq: int | None
) -> DataFrame:
    """``(doc_a, doc_b, n_inter, n_a, n_b)`` for every pair sharing ≥1
    shingle, from the shingle posting lists — the body the Jaccard and
    containment joins share; only their final ratio differs.

    One ``groupBy(doc_id).collect_set`` dedups each doc's shingles and
    yields its set size ``n`` scan-locally; the re-exploded (doc_id, h,
    n) rows build the postings, so EVERY POSTING ENTRY CARRIES ITS
    DOC'S SIZE (the AllPairs pattern). After the pair expansion the
    plan is ONE combinable aggregate — ``n`` is functionally dependent
    on the id, so ``max`` under the count recovers it — with zero joins
    and zero broadcasts (plan-asserted in tests/test_plans.py). The r8
    form joined a per-doc sizes aggregate back under a forced
    broadcast: one row per doc is still billions of rows at 100 TB, the
    OOM class DESIGN §4.23 bans. Cost: the stream shuffles twice
    (doc_id, then h) instead of once.

    ``max_doc_freq`` drops postings longer than the cap before
    expansion; sizes are computed before the cap, so they stay exact
    and the cap only restricts which shingles count toward ``n_inter``
    (mirrored in the capped oracle).
    """
    entries = shingle_sets(df, text_col, k).select(
        "doc_id", F.size("sh_set").alias("n"), F.explode("sh_set").alias("h")
    )
    posting = entries.groupBy("h").agg(
        F.collect_list(F.struct(F.col("doc_id").alias("id"), F.col("n"))).alias("ids")
    )
    if max_doc_freq is not None:
        posting = posting.filter(F.size("ids") <= max_doc_freq)
    return (
        _bucket_pairs(posting)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.max("_na").alias("n_a"),
            F.max("_nb").alias("n_b"),
        )
    )


def _with_jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """Append ``jaccard = |∩| / (|A|+|B|−|∩|)`` to ``(doc_a, doc_b,
    n_inter, n_a, n_b)`` rows — one IEEE division of exact integers —
    and keep ``jaccard ≥ threshold`` when ``threshold > 0``."""
    out = pairs.withColumn(
        "jaccard",
        F.col("n_inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
    )
    return out.filter(F.col("jaccard") >= F.lit(threshold)) if threshold > 0 else out


def _candidate_docs(
    frame: DataFrame, candidates: DataFrame, cols: tuple[str, ...] = ("doc_a", "doc_b")
) -> DataFrame:
    """``frame`` restricted to the doc_ids named in ``candidates``'
    ``cols``. The id list scales with the candidate set, so the semi
    join is merge-pinned like the joins of :func:`_verify_jaccard`,
    never force-broadcast (DESIGN §4.23)."""
    ids = [candidates.select(F.col(c).alias("doc_id")) for c in cols]
    return frame.join(
        reduce(DataFrame.union, ids).distinct().hint("merge"), "doc_id", "left_semi"
    )


def _verify_jaccard(
    candidates: DataFrame, sets_a: DataFrame, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard of candidate pairs ``(doc_a, doc_b)`` from per-doc
    shingle sets ``(doc_id, sh_set)`` — ``sets_a`` for the ``doc_a``
    side, ``sets_b`` for ``doc_b`` (the same frame for a self-join).
    ``|∩|`` is an ``array_intersect``, so the posting-list pair
    explosion never happens; pairs with an empty intersection drop, as
    the posting form never emits them. Emits ``(doc_a, doc_b, n_inter,
    n_a, n_b, jaccard)``.

    One join policy: the candidate set is NOT bounded by construction
    (per-bucket caps bound skew, but the total is cap × n_buckets ∝
    corpus; the forced broadcast OOM'd ``neardup_components`` at 500k
    docs and the AllPairs prefix candidates hit an 8 GB broadcast
    build at sf1), and the sets are one row per candidate doc. Every
    side is ``hint("merge")``-pinned — dropping a broadcast hint is not
    enough, the static planner still picks a broadcast build from the
    garbage-tiny estimate of a HOF-derived lineage. The hint holds at
    run time too: AQE does not override it (the executed neardup
    verify plan keeps its sort-merge joins with 10–730 KiB sides), so
    a small candidate set pays a sort instead of a broadcast — the
    price of one plan that is safe at any scale.
    """
    a = sets_a.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sa"))
    b = sets_b.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sb"))
    pairs = (
        a.hint("merge")
        .join(candidates.hint("merge"), "doc_a")
        .join(b.hint("merge"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("n_inter"),
            F.size("sa").alias("n_a"),
            F.size("sb").alias("n_b"),
        )
        .filter(F.col("n_inter") > 0)
    )
    return _with_jaccard(pairs, threshold)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle-set containment join — excerpt/quote
    detection: ``containment = |A∩B| / min(|A|, |B|)`` over word
    k-gram shingle sets, the measure that finds a short document
    embedded inside a long one (their Jaccard is tiny — the union is
    dominated by the long side — so :func:`ngram_jaccard_pairs`
    misses exactly the pairs this operator exists for). The
    corpus-internal counterpart of :func:`ngram_containment` (which
    scores docs against a BENCHMARK's broadcast shingle set).

    Plan: the Jaccard posting-list path (:func:`_posting_overlap`) —
    one combinable aggregate after pair expansion, zero joins, zero
    broadcasts; the containment denominator is ``least(n_a, n_b)`` read
    off the pair row, one IEEE division of exact integers.
    ``max_doc_freq`` caps hot-shingle pair expansion exactly as in the
    Jaccard form (capped semantics mirror in the oracle); at corpus
    scale set it (:data:`SCALE_MAX_DOC_FREQ`).
    """
    out = _posting_overlap(df, text_col, k, max_doc_freq).withColumn(
        "containment",
        F.col("n_inter").cast("double") / F.least("n_a", "n_b").cast("double"),
    )
    if threshold > 0:
        out = out.filter(F.col("containment") >= F.lit(threshold))
    return out


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5 of normalized text.

    Returns one row per distinct content hash: canonical (min) doc_id,
    copy count. Survivors = ``n_copies == 1`` plus canonicals.
    """
    h = F.md5(norm_text(F.col(text_col)))
    return (
        df.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_survivors(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The cleaned corpus: keep exactly one doc (min doc_id) per
    distinct normalized content — the operation a training-data
    pipeline actually applies. One md5-groupBy shuffle + a semi join
    on the canonical ids (broadcastable when the duplicate rate is
    high and the canonical set is small)."""
    canon = exact_dedup(df, text_col).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    return df.join(canon, "doc_id", "left_semi")


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 16,
    sep: str | None = None,
) -> DataFrame:
    """C4-style repeated-span removal WITHIN documents across the
    corpus: segment each document into spans, drop every span whose
    exact normalized content already occurred earlier in the corpus
    (first occurrence by ``(doc_id, position)`` wins), and reassemble
    the cleaned text — the treatment C4 applies to repeated
    three-sentence windows and boilerplate lines, at span granularity.

    ``sep``: a regex to split on (newline for paragraph mode, a
    sentence regex for sentence mode). ``None`` segments the
    normalized word stream into fixed ``block_words``-word blocks —
    the deterministic fallback for corpora without structural
    separators (e.g. the testdata documents, which have no newlines).

    Scale shape: one ``posexplode`` to ~n_words/block rows, then ONE
    shuffle on the 16-byte span hash (a window ``row_number`` — the
    span text itself never shuffles beyond its own row), and a
    groupBy on ``doc_id`` to reassemble. No joins, no iteration; the
    keep-first rule is a per-hash min, so map-side combining applies
    to the rank's sort. Skew: a boilerplate span repeated across 30%
    of the corpus lands one hot hash key whose rows are (id, pos)
    pairs only — bounded bytes per row, and only the single winning
    row survives the rank.

    Output: ``(doc_id, clean_text, n_spans, n_spans_kept)`` for every
    input doc (docs whose spans were all dropped keep an empty
    ``clean_text``).
    """
    if sep is not None:
        spans = F.filter(
            F.transform(F.split(F.col(text_col), sep), lambda s: norm_text(s)),
            lambda s: F.length(s) > 0,
        )
    else:
        ws = words(F.col(text_col))
        n_blocks = F.ceil(F.size(ws) / F.lit(block_words)).cast("int")
        spans = F.when(F.size(ws) == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_blocks - F.lit(1)),
                lambda i: F.array_join(
                    F.slice(ws, i * block_words + F.lit(1), block_words), " "
                ),
            )
        )
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(spans).alias("pos", "span"),
    ).withColumn("h", F.md5(F.col("span")))
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    kept = exploded.withColumn("_rk", F.row_number().over(w))
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("_rk") == 1, 1)).alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rk") == 1,
                                F.struct(F.col("pos"), F.col("span")),
                            )
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    # docs with zero spans (empty text) never exploded — restore them
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_spans_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_spans_kept"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 1,
    block_words: int = 16,
    sep: str | None = None,
) -> DataFrame:
    """CCNet-style boilerplate-span removal by CORPUS FREQUENCY:
    segment each document into spans (newline/sentence regex via
    ``sep``, or fixed ``block_words``-word blocks for corpora without
    structural separators), count each normalized span's DOCUMENT
    frequency across the corpus, and drop — from EVERY document,
    including the first — any span appearing in more than
    ``max_doc_freq`` documents. This is the other dedup grain from
    :func:`span_dedup`'s keep-first rule: keep-first preserves one
    copy of genuine content; the doc-frequency rule treats a span
    repeated across documents as boilerplate (nav bars, cookie
    banners, license headers) of which the corpus wants ZERO copies
    (Wenzek et al. 2020's paragraph dedup).

    Scale shape: one ``posexplode`` to span rows, ONE combinable
    count shuffle on the 16-byte span hash (count(DISTINCT doc) runs
    as the two-phase distinct aggregate, so the shuffle carries
    distinct (hash, doc) pairs), a LEFT join of span rows onto the
    over-threshold hash set (unbounded frame — NOT broadcast-forced;
    AQE decides, skew-splits the boilerplate hot keys), and one
    groupBy on ``doc_id`` to reassemble. No iteration.

    Output: ``(doc_id, clean_text, n_spans, n_spans_kept)`` for every
    input doc (all-boilerplate docs keep an empty ``clean_text``).
    """
    if sep is not None:
        spans = F.filter(
            F.transform(F.split(F.col(text_col), sep), lambda s: norm_text(s)),
            lambda s: F.length(s) > 0,
        )
    else:
        ws = words(F.col(text_col))
        n_blocks = F.ceil(F.size(ws) / F.lit(block_words)).cast("int")
        spans = F.when(F.size(ws) == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_blocks - F.lit(1)),
                lambda i: F.array_join(
                    F.slice(ws, i * block_words + F.lit(1), block_words), " "
                ),
            )
        )
    exploded = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(spans).alias("pos", "span"),
    ).withColumn("h", F.md5(F.col("span")))
    boiler = (
        exploded.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("h", F.lit(True).alias("_boiler"))
    )
    flagged = exploded.join(boiler, "h", "left")
    keep = F.col("_boiler").isNull()
    rebuilt = (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(keep, 1)).alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("pos"), F.col("span")))
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    # docs with zero spans (empty text) never exploded — restore them
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_spans_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_spans_kept"),
        )
    )


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------


def word_shingles(
    df: DataFrame, text_col: str = "text", k: int = 3, distinct: bool = True
) -> DataFrame:
    """Word k-gram shingles per doc: (doc_id, shingle).

    ``distinct=True`` (set semantics, required for Jaccard) dedups via
    ``distinct()`` (one shuffle). Measured note: deduping per-doc with
    ``array_distinct``+``filter`` HOFs *before* the explode looks
    shuffle-free on paper but ran 2-7× slower here (the nested HOF
    chain leaves whole-stage codegen); the relational formulation
    stays codegen'd end-to-end.

    ``distinct=False`` skips that shuffle entirely — correct for any
    duplicate-insensitive consumer (MinHash takes a per-doc *min* over
    shingle hashes, so multiset vs set is indistinguishable), and the
    biggest single saving in the LSH path: the exploded stream is ~50×
    the corpus and never needs to shuffle at full width.
    """
    # materialize the words array BEFORE gram construction: lambda
    # bodies get no common-subexpression elimination, so slicing
    # `words(text)` directly re-runs the normalize+split regex per
    # gram index — O(words²) regex work per doc (measured ~7x on the
    # shingle projection at sf0.1)
    pre = _spread(df).select("doc_id", words(F.col(text_col)).alias("_w"))
    w = F.col("_w")
    n = F.size(w)
    grams = F.when(n < k, F.array(F.concat_ws(" ", w))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
        )
    )
    out = (
        pre.select("doc_id", F.explode(grams).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )
    return out.distinct() if distinct else out


def shingle_sets(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """``(doc_id, sh_set)``: each doc's distinct word k-gram shingles as
    56-bit md5 hashes (``hashing.h56``, the same hashing as the
    oracle). The shingle stream never shuffles at full width: it is
    hashed scan-side and deduped by one map-side-combined
    ``groupBy(doc_id).collect_set``. The one set builder behind every
    Jaccard / containment operator here and the ``<index>/shingles``
    layout of :mod:`.dedup_index` (whose readers depend on the column
    name ``sh_set``). Docs without a shingle get no row.
    """
    return (
        word_shingles(df, text_col, k, distinct=False)
        .select("doc_id", _h56(F.col("shingle")).alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("sh_set"))
    )


#: Double-hashing parameters: one md5 per shingle yields two 56-bit
#: halves h1/h2 (14 hex digits each — exact in BIGINT in both
#: engines); permutation i hashes to (h1 + i·h2) mod MH_PRIME.
#: h1 + 11·h2 < 8.7e17 ≪ 2^63 → no overflow anywhere.
MH_PRIME = 999_999_999_999_989

#: Documented scale default for :func:`ngram_jaccard_pairs`'s
#: ``max_doc_freq`` on boilerplate-heavy corpora: a shingle shared by
#: d docs emits d²/2 pairs and carries no dedup signal once d is
#: large. Oracle queries pass ``None`` (exact reference semantics);
#: production pipelines at 100 TB should not.
SCALE_MAX_DOC_FREQ = 64

#: Scale default for LSH ``max_bucket_size`` in the COMPOSED pipelines
#: (:func:`neardup_components`): an LSH bucket of b docs expands to
#: b²/2 candidate pairs, and real corpora have power-law bucket sizes
#: (boilerplate). A bucket this large means the band key carries no
#: discriminative signal — its pairs are noise for near-dup purposes,
#: and the docs it contains still meet in their other, selective
#: bands. Far above anything the sf0.01/sf0.1 oracle data produces
#: (max observed bucket ≈ group size of planted dup clusters, ~10), so
#: oracles stay bit-green with the guard ACTIVE (VERDICT r2 #2).
SCALE_MAX_BUCKET_SIZE = 512


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n_hashes: int = 12, k: int = 3
) -> DataFrame:
    """Per-doc MinHash signature via the classic double-hashing
    construction: g_i(s) = (h1(s) + i·h2(s)) mod P, one md5 per
    shingle instead of one per (shingle, permutation) — 12× fewer
    hash evaluations. Output: doc_id, mh_0..mh_{n-1} (BIGINT).
    """
    # duplicate shingles cannot change a min — skip the full-width
    # distinct() shuffle of the 50× exploded stream; the only shuffle
    # left in signature-building is the map-side-combined groupBy
    sh = word_shingles(df, text_col, k, distinct=False)
    md = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(md, 1, 14), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 17, 14), 16, 10).cast("long")
    hashed = sh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(MH_PRIME)).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
    max_bucket_size: int | None = None,
    salt_chunk: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: band the signature (n_hashes/band_size
    bands), bucket-join docs sharing any band key, emit distinct
    (doc_a < doc_b) pairs.

    Scale path: one shuffle on (band_idx, band_key) — docs sharing a
    band collide in a bucket; pairs are expanded inside the bucket
    (:func:`_bucket_pairs`), never via all-pairs or a second pass over
    the signature lineage. ``max_bucket_size`` drops hot buckets
    (boilerplate-heavy corpora ⇒ power-law bucket sizes; a bucket of
    b docs emits b²/2 pairs) — the standard skew guard at corpus
    scale; ``None`` keeps exact reference semantics. ``salt_chunk``
    instead *keeps* hot buckets but spreads their pair expansion over
    (b/chunk)² rows (``_bucket_pairs(chunk=salt_chunk)``) — same
    output, no stragglers.
    """
    sig = minhash_signatures(df, text_col, n_hashes, k)
    return _banded_candidates(sig, n_hashes, band_size, max_bucket_size, salt_chunk)


def band_rows(sig: DataFrame, n_hashes: int, band_size: int) -> DataFrame:
    """Signature → one (doc_id, band_idx, band_key) row per band —
    the LSH bucketing key stream, also the persisted layout of the
    incremental dedup index (:mod:`.dedup_index`)."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band_idx").alias("band_idx"), F.col("bk.band_key").alias("band_key")
    )


def _banded_candidates(
    sig: DataFrame,
    n_hashes: int,
    band_size: int,
    max_bucket_size: int | None = None,
    salt_chunk: int | None = None,
) -> DataFrame:
    banded = band_rows(sig, n_hashes, band_size)
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.collect_set("doc_id").alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return _bucket_pairs(buckets, chunk=salt_chunk).distinct()


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, via shingle equijoin)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word k-gram shingle sets.

    Pairs come from the shingle posting lists (docs sharing ≥1
    shingle) — never a cross join; optionally restricted to
    ``candidates`` (doc_a, doc_b), e.g. LSH output.
    Jaccard = |∩| / (|A|+|B|−|∩|).

    ``max_doc_freq`` drops shingles appearing in more than that many
    docs before pair expansion (a shingle shared by d docs emits d²/2
    pairs — stopword-ish shingles dominate cost at corpus scale and
    carry no dedup signal). Note this changes |∩| for the surviving
    pairs; ``None`` = exact. At corpus scale set it
    (:data:`SCALE_MAX_DOC_FREQ` is the documented default) — the
    property test plants a hot shingle and shows the unbounded form is
    quadratic in its doc frequency.

    Plan shapes:

    - ``candidates=None`` (exact all-pairs-sharing-a-shingle): the
      posting-list path (:func:`_posting_overlap`) — sizes ride the
      posting entries, so after pair expansion there is one combinable
      aggregate and nothing to join or broadcast.
    - with ``candidates``: the corpus is semi-joined down to candidate
      docs *before* shingling, then :func:`_verify_jaccard` joins the
      candidate pairs to per-doc shingle sets and |∩| is an
      ``array_intersect`` — the pair explosion (Σ_s d_s² over the full
      corpus) never happens; total work is O(candidate docs ·
      shingles/doc). This path is always exact — ``max_doc_freq``
      does not apply (there is no posting-list expansion to cap).
    """
    if candidates is None:
        return _with_jaccard(_posting_overlap(df, text_col, k, max_doc_freq), threshold)
    if max_doc_freq is not None:
        # the candidate path has no posting-list expansion to cap;
        # silently returning exact values for a caller who asked for
        # capped semantics would be a behavior trap
        raise ValueError(
            "max_doc_freq only applies to the posting-list (candidates=None) "
            "path; the candidate path is always exact"
        )
    # persisted because three operators consume it (the candidate doc
    # list twice + the pair join) and unpinned its LSH lineage would
    # recompute each time; the registration lives as long as the plan
    # — long-lived sessions invoking the pipeline repeatedly should
    # clearCache() between invocations (bench.py does)
    candidates = candidates.select("doc_a", "doc_b").persist()
    # restrict BEFORE the shingle fan-out: only candidate docs pay the
    # explode + collect_set (the full-corpus fan-out already ran once,
    # inside LSH candidate generation)
    doc_sets = shingle_sets(_candidate_docs(df, candidates), text_col, k)
    return _verify_jaccard(candidates, doc_sets, doc_sets, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 28  # 7 hex digits of md5 → exact in BIGINT in both engines


def _word_hash28(c: Column) -> Column:
    """Portable 28-bit integer hash: first 7 hex digits of md5."""
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")


def simhash_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """28-bit SimHash per doc: for each bit, sum ±1 over the doc's
    distinct words' hashes; bit set iff sum > 0.

    One groupBy over the distinct-token rows with 28 conditional-sum
    aggregates (one per bit) — no bit explode (a 28× row blow-up).
    Token dedup is a map-side ``collect_set`` per doc (``_spread``
    keeps a doc in one partition, so the partial aggregate dedups
    before the shuffle and the exploded token stream never shuffles at
    full width); the explode after it preserves the doc_id hash
    partitioning, so the bit-sum groupBy adds NO second exchange —
    one narrow shuffle end-to-end.
    """
    toks = (
        _spread(df)
        .select("doc_id", F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("doc_id")
        .agg(F.collect_set("w").alias("ws"))
        .select("doc_id", F.explode("ws").alias("w"))
        .select("doc_id", _word_hash28(F.col("w")).alias("h"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("doc_id", fingerprint.alias("simhash"))


def simhash_neardup(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_band_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via banded LSH — the
    pair surface the fingerprint operator was always for (Charikar
    2002 / Manku et al. 2007's dedup shape): split the 28-bit
    fingerprint into ``bands`` windows, equi-join docs sharing any
    window, verify Hamming distance AT the band join from the two
    carried fingerprints (``bit_count(xor)`` — integer arithmetic,
    nothing recomputed).

    Pigeonhole guarantee: with 28/bands-bit windows, any pair within
    Hamming ``bands − 1`` shares at least one intact window — so the
    default (4 bands, max_hamming 3) has GUARANTEED recall, not
    heuristic recall (the dhash_neardup story at word-feature grain).

    Plan: one scan-local band explode (bands× rows of two BIGINTs),
    one equi-join on (band_idx, band_value), DISTINCT to collapse
    multi-band hits.

    ``max_band_size`` is the :func:`minhash_lsh_candidates` skew
    knob: a band value shared by m docs emits m²/2 candidate pairs,
    and a 28-bit fingerprint has only 128 values PER 7-BIT BAND — on
    a homogeneous corpus band buckets grow ∝ N and the join is
    quadratic (measured: the uncapped sf1 sweep run exploded; the
    SCALING row is the capped form). The cap drops over-popular band
    values BEFORE the join — pairs may then surface through their
    other, more selective bands or not at all (capped semantics,
    mirrored in the oracle). ``None`` = exact (guarantee intact) for
    bounded corpora/tests.
    """
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    banded = fingerprints.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), k * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for k in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("_fa"),
        "band_idx",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("_fb"),
        "band_idx",
        "band_val",
    )
    if max_band_size is not None:
        ok = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("_bs"))
            .filter(F.col("_bs") <= max_band_size)
            .select("band_idx", "band_val")
        )
        # bucket-size frame is NOT bounded by construction — never
        # force-broadcast (DESIGN §4.23); the merge pin holds at run
        # time too (AQE keeps a hinted sort-merge join, §4.34)
        a = a.join(ok.hint("merge"), ["band_idx", "band_val"], "left_semi")
    ham = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(ham <= max_hamming)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .distinct()
    )


def dup_fraction(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Per-document duplication fraction — the selection-friendly
    SCALAR form of the duplicated-span measurements (Lee et al. 2022
    headline the distribution of exactly this number): the fraction
    of a doc's distinct word k-grams whose corpus document frequency
    exceeds 1. A data-selection pass thresholds or down-weights on
    it directly, where :func:`dup_span_audit` reports offsets for
    inspection.

    Plan: distinct (doc, gram-hash) stream → ONE combinable count
    per hash for doc frequency → LEFT join of the duplicated-hash
    set back (merge-pinned — the set is corpus-derived, never
    force-broadcast; AQE keeps the pin even when the set is small,
    DESIGN §4.34) → one
    per-doc combinable aggregate. ``dup_frac`` is one IEEE division
    of exact integers; empty/short docs report 0 grams and NULL
    fraction.
    """
    grams = (
        word_shingles(df, text_col, k, distinct=False)
        .select("doc_id", _h56(F.col("shingle")).alias("h"))
        .distinct()
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 1)
        .select("h", F.lit(True).alias("_dup"))
    )
    per_doc = (
        grams.join(dup.hint("merge"), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("_dup"), 1)).alias("n_dup"),
        )
    )
    frac = F.col("n_dup").cast("double") / F.col("n_grams").cast("double")
    r6 = F.floor(frac * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        df.select(F.col("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.when(F.coalesce("n_grams", F.lit(0)) > 0, r6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram containment)
# ---------------------------------------------------------------------------


def ngram_containment(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Contamination check of a training corpus against an evaluation
    benchmark: for each (doc, benchmark example) pair sharing ≥1 word
    k-gram, ``containment = |S(doc) ∩ S(bench)| / |S(bench)|`` — the
    fraction of the benchmark example present in the doc. Docs with
    high containment against any eval example must be dropped before
    training (decontamination).

    Plan shape: shingles are reduced to 56-bit md5 hashes before any
    shuffle or join (identical hashing in the oracle, so counts agree
    even on the astronomically-unlikely collision); the corpus side
    dedups per doc with a map-side ``collect_set`` (no full-width
    distinct of the exploded strings). The benchmark side is small by
    construction (eval sets), so its hashed shingle table and sizes
    are broadcast — the corpus stream joins them scan-side, and the
    only wide-ish shuffle is the map-side-combined (doc, bench)
    count. Never a corpus self-join.
    """

    doc_sh = shingle_sets(df, text_col, k).select(
        "doc_id", F.explode("sh_set").alias("h")
    )
    b_sets = shingle_sets(benchmark, text_col, k).withColumnRenamed("doc_id", "bench_id")
    sizes = b_sets.select("bench_id", F.size("sh_set").cast("long").alias("n_bench"))
    b_sh = b_sets.select("bench_id", F.explode("sh_set").alias("h"))
    common = (
        doc_sh.join(F.broadcast(b_sh), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(F.broadcast(sizes), "bench_id")
        .withColumn(
            "containment",
            F.col("n_common").cast("double") / F.col("n_bench").cast("double"),
        )
        .select("doc_id", "bench_id", "n_common", "n_bench", "containment")
    )
    if threshold > 0:
        out = out.filter(F.col("containment") >= F.lit(threshold))
    return out


# ---------------------------------------------------------------------------
# connected components (near-dup groups -> survivors)
# ---------------------------------------------------------------------------


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star/small-star round (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) over canonical
    undirected pairs ``(u > v)``: two window-aggregate passes, one
    shuffle each.

    - **large-star** attaches every neighbor larger than ``a`` to
      ``min(Γ(a) ∪ {a})`` — halves long chains by pointer doubling;
    - **small-star** re-orients to (u > v) and attaches each small
      neighbor plus ``u`` itself to the neighborhood minimum.

    At the fixpoint the edge set IS the answer: a star per component
    centered on its minimum. The potential function in the paper
    decreases monotonically, so an unchanged edge checksum means the
    fixpoint, not an oscillation.
    """
    # large-star over the bidirectional view
    bi = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    m = F.least(F.col("a"), F.min("b").over(Window.partitionBy("a")))
    ls = (
        bi.withColumn("m", m)
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # small-star on the (u > v)-oriented result
    sp = ls.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    return (
        sp.select(F.col("v").alias("x"), F.col("m"))
        .unionByName(sp.select(F.col("u").alias("x"), F.col("m")))
        .filter(F.col("x") != F.col("m"))
        .select(F.greatest("x", "m").alias("u"), F.least("x", "m").alias("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 50,
    method: str = "label",
) -> DataFrame:
    """Connected components: every vertex ends up labeled with the
    smallest ``id`` in its component — the canonical form of "group
    near-duplicates, keep one".

    Output: (``id_col``, ``component``). Vertices with no edges are
    their own singleton component. The fixpoint is unique, so the
    result is deterministic regardless of execution order (and
    SQL-replayable with a recursive CTE).

    Both methods pin the edge list once and then run their round
    through :func:`~stock_indicators_etl_spark.operators.graph.converge`:
    each round's state is a lazy ``localCheckpoint`` and a one-row
    xxhash64 checksum over it is the round's only action (it also
    materialises the pin), so no data is collected, plan depth
    stays one round and nothing is left in the session cache. An
    unchanged checksum is the fixpoint; a budget of ``max_iter``
    rounds that runs out raises ``RuntimeError`` instead of returning
    mid-propagation labels (which would silently split components).

    ``method="label"`` (default): min-label propagation over the
    subgraph touched by edges — vertices with no edges never enter
    the loop, so per-round cost is O(E), independent of corpus size.
    A round is ``labels ∪ (edges ⋈ labels)`` → min component by
    ``_id``: one equi-join plus one map-side-combinable groupBy.
    Rounds ≈ the largest component's diameter; near-dup components
    are clique-ish (diameter 2-3).

    ``method="star"``: large-star/small-star (:func:`_star_round`,
    Kiveris et al.) — O(log²) rounds instead of O(diameter), the right
    trade for long-chain graphs; identical output contract
    (property-tested equal on random graphs).
    """
    from stock_indicators_etl_spark.operators.graph import converge

    if method not in ("label", "star"):
        raise ValueError(f"method must be 'label' or 'star', got {method!r}")
    what = (f"connected_components(method={method!r})", "max_iter")
    if method == "star":
        canon = (
            edges.select(
                F.greatest(F.col(src_col), F.col(dst_col)).alias("u"),
                F.least(F.col(src_col), F.col(dst_col)).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        star = converge(canon, _star_round, ("u", "v"), max_iter, what)
        # star edges: (leaf u → center v); centers label themselves
        labels = star.select(
            F.col("u").alias("_id"), F.col("v").alias("component")
        ).unionByName(
            star.select(F.col("v").alias("_id"), F.col("v").alias("component"))
        ).distinct()
    else:
        # pin the edge list before iterating: it is joined once per
        # round, and an unpinned edge lineage (e.g. the whole
        # LSH→Jaccard verify chain) would recompute in EVERY round
        e = edges.select(
            F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
        ).unionByName(
            edges.select(F.col(dst_col).alias("_s"), F.col(src_col).alias("_d"))
        ).localCheckpoint(eager=True)

        def label_round(labels: DataFrame) -> DataFrame:
            msgs = e.join(labels, e["_s"] == labels["_id"]).select(
                F.col("_d").alias("_id"), "component"
            )
            return (
                labels.unionByName(msgs)
                .groupBy("_id")
                .agg(F.min("component").alias("component"))
            )

        # iterate ONLY over edge endpoints; everything else is a singleton
        start = e.select(F.col("_s").alias("_id")).distinct().select(
            "_id", F.col("_id").alias("component")
        )
        labels = converge(start, label_round, ("_id", "component"), max_iter, what)
    v = vertices.select(F.col(id_col).alias("_id"))
    return v.join(labels, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("component"), F.col("_id")).alias("component"),
    )


def neardup_components(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
    max_bucket_size: int | None = SCALE_MAX_BUCKET_SIZE,
    salt_chunk: int | None = None,
    cc_method: str = "label",
) -> DataFrame:
    """End-to-end near-dup grouping: MinHash-LSH candidates →
    exact-Jaccard verification → connected components over the
    surviving pairs, for EVERY doc (non-duplicates are singletons).

    Output: (doc_id, component) where component = min doc_id of the
    group — the production dedup pipeline's final mapping.

    Unlike the standalone oracle queries, the composed pipeline ships
    with the skew guard ON by default (VERDICT r2 #2):
    ``max_bucket_size=SCALE_MAX_BUCKET_SIZE`` drops degenerate LSH
    buckets before pair expansion. Pass ``None`` for exact reference
    semantics, or ``salt_chunk`` to keep hot buckets but spread their
    expansion (``_bucket_pairs(chunk=…)``). The Jaccard verify stage
    here is the candidate-restricted path, which is always exact — no
    posting-list expansion exists to cap.
    """
    cand = minhash_lsh_candidates(
        df, text_col, n_hashes, band_size, k,
        max_bucket_size=max_bucket_size, salt_chunk=salt_chunk,
    )
    pairs = ngram_jaccard_pairs(
        df, text_col, k, threshold=threshold, candidates=cand
    ).select("doc_a", "doc_b")
    return connected_components(pairs, df.select("doc_id"), method=cc_method)


def survivors_by_quality(
    docs: DataFrame,
    components: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick each dedup group's BEST member instead of its min-id one:
    the canonical doc is the group's max-``quality_col`` row (ties →
    min id — fully deterministic, so oracle-replayable). Real
    pipelines keep the longest / highest-quality copy of a template
    family, not whichever crawled first; min-id canonicalization is
    only the right default when no quality signal exists.

    Plan: one equi-join of the mapping onto the docs (broadcastable
    when the mapping is narrow) + one ``row_number`` window per
    component — the same single-shuffle shape as every keep-first
    operator here. Returns the surviving rows of ``docs`` (all
    original columns), one per component.
    """
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    ranked = docs.join(components, id_col).withColumn(
        "_rn", F.row_number().over(w)
    )
    return ranked.filter(F.col("_rn") == 1).drop("_rn", "component")


def allpairs_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard similarity join via AllPairs prefix filtering
    (Bayardo, Ma & Srikant, WWW'07) — the principled exact-join
    pruning between brute posting-list expansion (every shared
    shingle emits a pair) and MinHash-LSH (approximate).

    Pruning, both sound for Jaccard ≥ t:

    - **prefix filter**: order each doc's shingle set by GLOBAL
      rarity (document frequency asc, hash asc — one canonical order
      everywhere); a pair with J ≥ t MUST collide inside each side's
      first ``n − ⌈t·n⌉ + 1`` shingles, so only that prefix is
      indexed. Common (high-df) shingles — exactly the ones whose
      posting lists explode quadratically — land at the END of the
      order and largely stay un-indexed.
    - **length filter**: J(A,B) ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t; applied
      on the candidate stream before verification.

    Verification is the exact candidate-restricted intersection of
    :func:`ngram_jaccard_pairs` — so the OUTPUT is bit-identical to
    the unpruned exact join at the same threshold (the completeness
    property the tests and the oracle both pin), only the candidate
    generation is cheaper. Plan: shingle stream shuffles once for the
    df-counts, once for the per-doc rank window; prefix postings are
    a strict subset of the full postings; the pair expansion is the
    :func:`_bucket_pairs` expansion over ``(id, n)`` structs, so
    the length filter consumes the count carried on each posting
    entry — no broadcast, no extra join. At t = 0.8 the indexed prefix is ~20% of
    each doc — a ~25× pair-stream reduction on boilerplate-heavy
    corpora.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    stream = word_shingles(df, text_col, k, distinct=True).select(
        "doc_id", _h56(F.col("shingle")).alias("h")
    )
    df_tbl = stream.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    # df_tbl is one row per DISTINCT SHINGLE — vocabulary-scaling
    # (billions at corpus scale), and the static planner's estimate
    # for it is garbage; pin the rank join to SMJ (it shares the
    # groupBy(h) exchange anyway). AQE keeps the pin at small SFs too
    # (DESIGN §4.34): a sort instead of a broadcast there
    ranked = stream.join(df_tbl.hint("merge"), "h")
    wd = Window.partitionBy("doc_id").orderBy(F.col("_df").asc(), F.col("h").asc())
    sized = ranked.withColumn("_pos", F.row_number().over(wd)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    prefix_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    prefix = sized.filter(F.col("_pos") <= prefix_len).select("doc_id", "h", "_n")
    # Each posting entry carries the doc's shingle count from the
    # prefix stage, so the length filter runs INSIDE the pair
    # expansion — no join back onto a per-doc length table. (r7
    # broadcast that corpus-sized table twice: fine at sf0.1, a
    # guaranteed driver/executor OOM at 100 TB where it is billions
    # of rows. Broadcast hints are reserved for frames bounded by
    # construction — dims, codebooks, bucket-count frames.)
    posting = prefix.groupBy("h").agg(
        F.collect_list(
            F.struct(F.col("doc_id").alias("id"), F.col("_n").alias("n"))
        ).alias("ids")
    )
    cand_lf = (
        _bucket_pairs(posting)
        # length filter: t·max ≤ min  ⇔  t·|A| ≤ |B| ≤ |A|/t
        .filter(
            F.lit(threshold) * F.greatest("_na", "_nb")
            <= F.least("_na", "_nb").cast("double")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # prefix-filter candidates are NOT bounded by construction (a
    # boilerplate-heavy corpus at a low threshold emits a pair-stream-
    # sized set) — the verifier merge-pins them
    return ngram_jaccard_pairs(
        df, text_col, k, threshold=threshold, candidates=cand_lf
    )


# ---------------------------------------------------------------------------
# exact substring dedup (ExactSubstr)
# ---------------------------------------------------------------------------


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 12,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): remove every substring of at
    least ``min_words`` consecutive words that already occurred
    anywhere earlier in the corpus — at ARBITRARY word offsets, unlike
    :func:`span_dedup`'s block-aligned spans. The reference treatment
    uses a monolithic suffix array; that is a single-machine
    construction, so here the same semantics come from stride-1
    ``min_words``-gram windows, which is exactly the set of length-
    ``min_words`` substrings: a maximal duplicated substring of length
    L ≥ k is covered by its L−k+1 duplicated k-windows, so masking
    every word covered by a duplicated window removes precisely the
    words inside ≥k-word repeats (keep-first: the globally earliest
    occurrence by ``(doc_id, pos)`` survives).

    Plan shape (all relational, no UDFs):

    1. one ``posexplode`` to ~n_words window rows ``(doc_id, pos,
       md5(window))`` — rows are narrow (16-byte hash + ints), so the
       window-hash shuffle moves O(corpus words) small rows, the same
       asymptotics as the suffix-array sort the reference build does,
       but embarrassingly parallel;
    2. ``row_number`` per window hash ordered by ``(doc_id, pos)`` —
       occurrences ranked >1 are duplicate windows;
    3. duplicate windows explode to their ≤k covered positions,
       ``distinct`` per doc, and LEFT ANTI join the word-position
       stream (both keyed by ``doc_id`` — AQE coalesces these into
       one doc-keyed exchange);
    4. ``groupBy(doc_id)`` reassembles surviving words in order.

    Skew: a boilerplate window repeated across the corpus lands one
    hot hash key, but its rows carry only (id, pos) — bounded bytes —
    and the rank discards all but bookkeeping. A hot DOC (one doc with
    millions of words) spreads across window rows evenly.

    Output: ``(doc_id, clean_text, n_words, n_words_kept)`` for every
    input doc, ``clean_text`` empty when everything was masked.

    Reference parity: reference repo has no substring dedup (850-LoC
    indicator ETL); this is part of the §7 training-data extension
    surface.
    """
    k = int(min_words)
    ws = words(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
    # stride-1 windows: doc with n words emits n-k+1 rows (none if n<k)
    wins = base.filter(F.size("ws") >= k).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - F.lit(k - 1)),
                lambda i: F.md5(F.array_join(F.slice(F.col("ws"), i, k), " ")),
            )
        ).alias("pos", "h"),
    )
    rk = F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "pos"))
    dup = (
        wins.withColumn("_rk", rk)
        .filter(F.col("_rk") > 1)
        .select(
            F.col("doc_id").alias("_rm_doc"),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
                "rm_pos"
            ),
        )
        .distinct()
    )
    word_stream = base.select(
        "doc_id", F.posexplode("ws").alias("pos", "word")
    )
    kept = word_stream.join(
        dup,
        (word_stream["doc_id"] == dup["_rm_doc"])
        & (word_stream["pos"] == dup["rm_pos"]),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("word")))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", F.size("ws").cast("bigint").alias("n_words"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_words",
            F.coalesce(F.col("n_words_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_words_kept"),
        )
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS-style document fingerprint selection)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 4, window: int = 5
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every word ``k``-gram in POSITION
    ORDER, slide a ``window`` over the hash sequence, keep each
    window's minimum. Guarantees every shared run of at least
    ``window + k − 1`` words produces a shared fingerprint, at
    expected density 2/(window+1) of the shingle count — the
    cheap-at-scale alternative to full-posting Jaccard for overlap
    detection (contamination scans, boilerplate maps).

    Entirely SCAN-LOCAL per document (HOF sequence/transform/slice/
    array_min — the word array never explodes before selection);
    the only shuffle is the final distinct-(doc_id, fp) dedup.
    Documents with fewer shingles than ``window`` contribute one
    fingerprint (the min of what exists); documents shorter than
    ``k`` words contribute none. Reference: N/A (pandas indicator
    ETL — no text ops); re-derived from the public paper.

    The word and shingle-hash arrays are MATERIALIZED in their own
    projections before the lambdas that slice them (r9, caught by the
    sf1 sweep): expressions referenced inside a HOF lambda are not
    CSE'd, so slicing ``words(text)`` directly re-ran the
    normalize+split regex once per shingle and the hash array once
    per window — O(n_words²) work per document, serialized on the
    single scan split a small parquet arrives as. Materialize +
    ``spread`` took the sf1 cell from >16 min (killed) to seconds;
    same trap and fix as ``text.repetition_score``.
    """
    pre = spread(df).select("doc_id", words(F.col(text_col)).alias("_w"))
    wa = F.col("_w")
    n = F.size(wa)
    m = n - F.lit(k) + 1  # shingle count
    hs = F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: _h56(F.concat_ws(" ", F.slice(wa, i, F.lit(k)))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    hpre = pre.select("doc_id", hs.alias("_hs"))
    hcol = F.col("_hs")
    nw = F.size(hcol) - F.lit(window) + 1
    fps = (
        F.when(
            nw >= 1,
            F.transform(
                F.sequence(F.lit(1), nw),
                lambda j: F.array_min(F.slice(hcol, j, F.lit(window))),
            ),
        )
        .when(F.size(hcol) >= 1, F.array(F.array_min(hcol)))
        .otherwise(F.array().cast("array<long>"))
    )
    return (
        hpre.select("doc_id", F.explode(F.array_distinct(fps)).alias("fp"))
        .distinct()
    )


def winnow_matches(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
    top_n: int = 20,
    max_doc_freq: int = 256,
) -> DataFrame:
    """Top-``top_n`` document pairs by shared winnowing-fingerprint
    count — the overlap report winnowing exists for. Posting-list
    pair expansion (:func:`_bucket_pairs`, no self-join) over the
    fingerprint stream, one combinable pair count, TakeOrdered
    top-k (never a global sort). Ties break (n_shared desc, doc_a,
    doc_b) — a total order, so the cut at ``top_n`` is
    deterministic.

    ``max_doc_freq``: STOP-FINGERPRINT cap (r9, caught by the sf1
    sweep): a fingerprint shared by m documents expands to m²/2
    pairs inside ONE posting row — corpus-frequent boilerplate
    fingerprints make that quadratic in the corpus and unbounded per
    row. Fingerprints with doc-frequency above the cap are dropped
    BEFORE the collect_set (a combinable count + merge-pinned semi
    join, so the hot row is never built) — the MOSS stop-word
    treatment, same class as MinHash's ``max_bucket_size`` and
    ngram_jaccard's ``max_doc_freq``. A ubiquitous fingerprint
    carries no overlap signal for a top-n report; the cap changes
    nothing below it (sf0.01 oracle hashes unchanged)."""
    fps = winnow_fingerprints(df, text_col, k, window)
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_doc_freq)
        .select("fp")
    )
    # the keep set scales with the corpus — merge-pinned (§4.23);
    # both aggregates and the semi join share the fp partitioning
    fps = fps.join(keep.hint("merge"), "fp", "left_semi")
    posting = fps.groupBy("fp").agg(F.collect_set("doc_id").alias("ids"))
    return (
        _bucket_pairs(posting)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(
            F.col("n_shared").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
        )
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# cross-corpus decontamination (train vs eval/benchmark near-dup removal)
# ---------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: find train documents near-duplicate
    to ANY eval document. Returns ``(train_id, eval_id, n_inter, n_a,
    n_b, jaccard)`` for every candidate pair with Jaccard ≥
    ``threshold`` — anti-join ``train`` on ``train_id`` (or call
    :func:`decontaminate_survivors`) to get the clean training set.

    The cross-corpus twin of the dedup pipeline: banded MinHash on
    BOTH sides with the same md5 hash family (so near-identical text
    collides in some band regardless of which side it sits on),
    candidates from the (band_idx, band_key) equi-join — never
    train × eval — and exact shingle-set Jaccard verification
    restricted to candidate docs only. Cost at 100 TB: eval sets are
    small (benchmarks), so the band join's eval side broadcasts at
    runtime via AQE (not forced — DESIGN §4.23: train-side candidate
    counts are corpus-scaling) and the verify stage touches only
    candidate docs' shingles.
    """
    sig_t = minhash_signatures(train, text_col, n_hashes, k)
    sig_e = minhash_signatures(eval_df, text_col, n_hashes, k)
    bt = band_rows(sig_t, n_hashes, band_size).withColumnRenamed("doc_id", "doc_a")
    be = band_rows(sig_e, n_hashes, band_size).withColumnRenamed("doc_id", "doc_b")
    cand = bt.join(be, ["band_idx", "band_key"]).select("doc_a", "doc_b").distinct()
    st = shingle_sets(_candidate_docs(train, cand, ("doc_a",)), text_col, k)
    se = shingle_sets(_candidate_docs(eval_df, cand, ("doc_b",)), text_col, k)
    return _verify_jaccard(cand, st, se, threshold).select(
        F.col("doc_a").alias("train_id"),
        F.col("doc_b").alias("eval_id"),
        "n_inter",
        "n_a",
        "n_b",
        "jaccard",
    )


def decontaminate_survivors(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 3,
    k: int = 3,
) -> DataFrame:
    """The clean training set: ``train`` minus every document
    :func:`decontaminate` flags (left-anti on ``train_id``)."""
    removed = decontaminate(
        train, eval_df, text_col, threshold, n_hashes, band_size, k
    ).select(F.col("train_id").alias("doc_id")).distinct()
    return train.join(removed, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# maximal duplicated-span audit (Lee et al. 2022 substring dedup, word grain)
# ---------------------------------------------------------------------------


def dup_span_audit(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    min_words: int = 8,
) -> DataFrame:
    """Maximal corpus-duplicated substrings per document — the audit
    behind suffix-array substring dedup ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. 2022), re-expressed at
    word-k-gram grain so it distributes: a word position is COVERED
    when its k-gram occurs >= 2 times corpus-wide; maximal runs of
    covered positions are the duplicated spans. Emits one row per
    span of at least ``min_words`` words:
    ``(doc_id, span_start, span_end, span_words)`` with start/end as
    0-based word offsets (end exclusive).

    Companion to :func:`exact_substring_dedup` (which APPLIES the
    keep-first masking and reassembles clean text): this is the
    ALL-COPIES measurement — every occurrence reports its span,
    including the first — i.e. the duplicated-token audit that
    dataset papers headline, runnable before deciding to dedup.

    Scale shape: posexplode to ~N*W k-gram rows; the duplicated-gram
    marking is a map-side-combinable groupBy on the 56-bit gram hash
    (counts collapse before the shuffle) joined back onto the
    position stream — an equi-join AQE can skew-split when one
    boilerplate gram goes hot, unlike a count-over-window which pins
    each hash to a single reducer. The island merge is ONE per-doc
    window pass (pos - row_number), then a groupBy on the island key.
    No corpus-sized frame is ever broadcast or collected; suffix
    arrays (the paper's single-node structure) are replaced by
    hashing because a distributed suffix array would serialize on a
    global sort of every suffix.
    """
    pre = spread(df).select("doc_id", words(F.col(text_col)).alias("_w"))
    w = F.col("_w")
    n = F.size(w)
    grams = F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
        )
    )
    pos = pre.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    ).select("doc_id", "pos", _h56(F.col("gram")).alias("gh"))
    dup = (
        pos.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("gh")
    )
    # the duplicated-hash set scales with the corpus — never a
    # broadcast CLASS (DESIGN §4.23), and the static planner's size
    # estimate for it is garbage. Pin to merge; AQE keeps the pin
    # even when the set is small (DESIGN §4.34), so small inputs pay
    # a sort instead of a broadcast.
    covered = pos.join(dup.hint("merge"), "gh", "left_semi")
    isl = covered.withColumn(
        "_grp",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    spans = (
        isl.groupBy("doc_id", "_grp")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("_last"))
        .select(
            "doc_id",
            "span_start",
            (F.col("_last") + F.lit(k)).alias("span_end"),
            (F.col("_last") + F.lit(k) - F.col("span_start")).alias(
                "span_words"
            ),
        )
        .filter(F.col("span_words") >= min_words)
    )
    return spans
