"""Byte-Pair-Encoding tokenizer training and application on Spark.

North-star LLM-data surface (reference N/A): tokenizer prep is a
corpus-scale job — BPE merge learning (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") runs over the
word-frequency table of the WHOLE corpus, the canonical "one more
pass over 100 TB" pipeline stage.

Spark-first shape, mirroring the Lloyd-k-means pattern
(``llmdata/clustering.py``): training state that must be globally
ranked (the best pair per round) is a 1-ROW collect off a combinable
aggregation — never the corpus; everything else is scan-local:

- the corpus collapses to ``(word, count)`` ONCE (one shuffle) — all
  ``n_merges`` rounds then run on the distinct-word table, which is
  vocabulary-sized, not corpus-sized;
- each round: adjacent-pair counts via a scan-local ``zip_with`` +
  one combinable groupBy; the argmax pair is a deterministic 1-row
  collect (count desc, then lexicographic — fully tie-broken);
- the merge applies as a plain string ``replace`` on the
  space-joined symbol string. ``replace`` scans left→right and never
  rematches inside its own output, which IS BPE's greedy overlap
  rule (" a a a " --(a,a)--> " aa a ", not " aa aa ") — and both
  Spark and DuckDB implement exactly that, so the whole training
  loop is bit-replayable in SQL (the oracle unrolls the rounds like
  the k-means one; see :func:`sql_bpe_oracle`).

At 100 TB: the per-round shuffle carries one row per distinct
(pair, word) — bounded by vocabulary × average word length, not by
corpus size; the collected state is one (left, right, count) row per
round. Plan depth grows one ``replace`` per round; a checkpoint every
``_CHECKPOINT_EVERY`` rounds bounds it for long merge schedules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: end-of-word marker (Sennrich et al.) — distinguishes "est</w>"
#: (word-final) from "est" (prefix); never a character of any word.
EOW = "</w>"
_CHECKPOINT_EVERY = 16


def _symbolize(word_col):
    """word → space-joined character symbols + EOW, wrapped in single
    spaces so every symbol occurrence is ' s '-delimited for the
    merge ``replace``: "abc" → " a b c </w> "."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(word_col, "(.)", "$1 "),
        F.lit(EOW + " "),
    )


def word_frequency_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, c, syms): the distinct-word table BPE trains on — the
    one corpus-sized shuffle of the whole training job."""
    from stock_indicators_etl_spark.llmdata.text import words

    return (
        docs.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("syms", _symbolize(F.col("word")))
    )


def _pair_counts(wt: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency: one
    scan-local zip_with + one combinable groupBy."""
    toks = F.split(F.trim(F.col("syms")), " ")
    pairs = F.expr(
        "zip_with(slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1),"
        " (a, b) -> struct(a AS l, b AS r))"
    )
    return (
        wt.select(F.col("c"), toks.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select("c", F.explode(pairs).alias("p"))
        .groupBy("p.l", "p.r")
        .agg(F.sum("c").alias("cnt"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns the
    merge table ``(step, left, right, pair_count)`` in learning
    order — the artifact a tokenizer ships. Deterministic: ties on
    pair count break lexicographically (left, then right).

    EAGER per round (the argmax IS the algorithm's sequential
    dependency): each round collects exactly one row.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    spark = docs.sparkSession
    wt = word_frequency_table(docs, text_col).persist()
    learned: list[tuple[int, str, str, int]] = []
    cur = wt
    try:
        for step in range(1, n_merges + 1):
            best = (
                _pair_counts(cur)
                .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
                .limit(1)
                .collect()
            )
            if not best:
                break
            left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
            learned.append((step, left, right, cnt))
            cur = cur.withColumn(
                "syms",
                F.replace(
                    F.col("syms"),
                    F.lit(f" {left} {right} "),
                    F.lit(f" {left}{right} "),
                ),
            )
            if step % _CHECKPOINT_EVERY == 0:
                cur = cur.localCheckpoint()
    finally:
        # the mutated lineage still reads wt; pin the learned rows
        # first (they are driver-side already), then release
        wt.unpersist()
    return spark.createDataFrame(
        learned, "step int, left string, right string, pair_count bigint"
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply learned merges to a corpus: (doc_id, tokens array) —
    scan-local (a fold of ``replace``s per word, merge order
    preserved), no Python stage. The serving path: train once, encode
    any number of shards embarrassingly parallel.

    Word order is carried explicitly (``posexplode`` + sort on the
    word index inside the per-doc aggregate): ``collect_list`` alone
    returns rows in shuffle-arrival order, which is partitioning-
    dependent — the r10 streaming twin caught the batch and streamed
    encodings of the SAME doc disagreeing on token order. A tokenizer
    that scrambles word order is wrong regardless of the count-based
    oracle, so the order is pinned structurally."""
    from stock_indicators_etl_spark.llmdata.text import words

    sym = _symbolize(F.col("_w"))
    for left, right in merges:
        sym = F.replace(sym, F.lit(f" {left} {right} "), F.lit(f" {left}{right} "))
    per_word = F.split(F.trim(sym), " ")
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("_i").alias("i"), per_word.alias("t")))
    )
    return (
        docs.select(
            "doc_id", F.posexplode(words(F.col(text_col))).alias("_i", "_w")
        )
        .groupBy("doc_id")
        .agg(
            F.flatten(F.transform(ordered, lambda s: s["t"])).alias("tokens")
        )
    )


def sql_bpe_oracle(n_merges: int, docs_cte: str, min_step: int = 1) -> str:
    """DuckDB replay of :func:`bpe_train`: the rounds unroll as CTE
    pairs (pair counts → 1-row best → replace), exactly the k-means
    oracle strategy. Both engines' ``replace`` is greedy
    left-to-right non-overlapping, so every round is bit-identical."""
    ctes = _bpe_ctes(n_merges, docs_cte)
    selects = [
        f'SELECT {i + 1} AS step, l AS "left", r AS "right", '
        f"cnt AS pair_count FROM b{i}"
        for i in range(min_step - 1, n_merges)
    ]
    return "WITH " + ",".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def sql_bpe_encode_oracle(n_merges: int, docs_cte: str) -> str:
    """DuckDB twin of train-then-:func:`bpe_encode` token counts: the
    final round's word table ALREADY holds every distinct word's
    encoded symbol string, so corpus token counts are one unnest of
    ``w{n}.syms`` weighted by word frequency — no second encode pass
    needed (the same identity the Spark side exploits structurally:
    encoding is a pure per-word function of the merge list)."""
    ctes = _bpe_ctes(n_merges, docs_cte)
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT tok AS token, CAST(sum(c) AS BIGINT) AS n
FROM (SELECT c, unnest(string_split(trim(syms), ' ')) AS tok FROM w{n_merges})
GROUP BY tok
"""
    )


def _bpe_ctes(n_merges: int, docs_cte: str) -> list[str]:
    ctes = [
        docs_cte,
        """
w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c,
         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ' AS syms
  FROM (SELECT unnest(ws) AS word FROM wd)
  GROUP BY word
)""",
    ]
    for i in range(n_merges):
        ctes.append(f"""
p{i} AS (
  SELECT t[j] AS l, t[j + 1] AS r, CAST(sum(c) AS BIGINT) AS cnt
  FROM (SELECT c, string_split(trim(syms), ' ') AS t FROM w{i}),
       unnest(range(1, len(t))) AS u(j)
  GROUP BY 1, 2
)""")
        ctes.append(f"""
b{i} AS (
  SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
)""")
        # LEFT JOIN ON TRUE, not CROSS JOIN: when training exhausts
        # pairs before n_merges rounds, b{i} is EMPTY — a cross join
        # would empty every later w{i+1} (and zero the encode
        # oracle's token counts), while the Spark side (bpe_train
        # breaks early, bpe_encode applies only the learned merges)
        # keeps encoding. The no-match row keeps syms unchanged —
        # exactly the Spark no-op round.
        ctes.append(f"""
w{i + 1} AS (
  SELECT word, c,
         CASE WHEN b.l IS NULL THEN syms
              ELSE replace(syms, ' ' || b.l || ' ' || b.r || ' ',
                           ' ' || b.l || b.r || ' ') END AS syms
  FROM w{i} LEFT JOIN b{i} b ON TRUE
)""")
    return ctes
