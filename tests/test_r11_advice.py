"""Round-11 ADVICE regression tests: shared blocklist normalization
between engine and oracle literal, column_profile quantile leg on a
dirty (non-castable) numeric column, bench cross-stamp minima folded
only for same-git-revision stamps, bench retime protocol parity with
the main loop."""

from __future__ import annotations

import json

import duckdb
import pandas as pd
import pytest


class TestBlocklistOracleNormalization:
    def test_normalize_blocklist(self):
        from stock_indicators_etl_spark.llmdata.text import normalize_blocklist

        assert normalize_blocklist(("Dup", " dup ", "SLOW", "", "  ")) == (
            "dup",
            "slow",
        )

    def test_mixed_case_terms_engine_vs_duckdb(self, spark):
        """ADVICE r10: the oracle literal must be built from the SAME
        normalization blocklist_filter applies — a mixed-case or
        duplicate curated entry must yield identical results on both
        sides (the raw-embed form diverged on exactly this input)."""
        from stock_indicators_etl_spark.llmdata.text import (
            blocklist_filter,
            normalize_blocklist,
        )

        rows = [
            (1, "a dup appears here"),
            (2, "slow and SLOW again"),
            (3, "clean document text"),
            (4, "Dup dup slow"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        terms = ("Dup", " SLOW ", "slow", "")
        got = {
            r["doc_id"]: (
                ",".join(r["matched_terms"]),
                r["n_hits"],
                r["keep"],
            )
            for r in blocklist_filter(docs, terms).collect()
        }

        lit = (
            "["
            + ", ".join(f"'{t}'" for t in normalize_blocklist(terms))
            + "]"
        )
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        sql = rf"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS n
  FROM documents
),
wd AS (
  SELECT doc_id,
         CASE WHEN length(n) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split(n, ' ') END AS ws
  FROM d
)
SELECT doc_id,
       coalesce(array_to_string(list_sort(list_filter({lit},
                       t -> list_contains(ws, t))), ','), '') AS matched_csv,
       CAST(len(list_filter(ws, x -> list_contains({lit}, x))) AS BIGINT)
         AS n_hits,
       (len(list_filter(ws, x -> list_contains({lit}, x))) = 0) AS keep
FROM wd
"""
        want = {
            int(r[0]): (r[1], int(r[2]), bool(r[3]))
            for r in con.execute(sql).fetchall()
        }
        assert got == want
        assert got[4] == ("dup,slow", 3, False)  # dup×2 + slow×1

    def test_module_literal_is_normalized(self):
        """The shipped _BL_TERMS_SQL must round-trip through the
        shared normalizer (no raw-term embedding left)."""
        from stock_indicators_etl_spark import queries_llm as m
        from stock_indicators_etl_spark.llmdata.text import normalize_blocklist

        want = (
            "["
            + ", ".join(
                f"'{t}'" for t in normalize_blocklist(m.BLOCKLIST_TERMS)
            )
            + "]"
        )
        assert m._BL_TERMS_SQL == want


class TestColumnProfileDirtyNumeric:
    def test_quantile_leg_drops_uncastable(self, spark):
        """ADVICE r10: Spark's cast maps unparseable strings to NULL
        (sorted FIRST ascending) while a strict SQL CAST raises — the
        fixed leg excludes non-castable rows on both sides, so a dirty
        num_cols column yields quantiles over the castable population
        only, identical to DuckDB's TRY_CAST form."""
        from stock_indicators_etl_spark.operators.dq import column_profile

        rows = [(v,) for v in ["10", "20", "abc", "30", "40", "xyz", "50"]]
        df = spark.createDataFrame(rows, "v string")
        out = column_profile(df, ("v",), top_n=2, num_cols=("v",)).collect()
        quant = {
            int(r["rank"]): r["value"] for r in out if r["kind"] == "quantile"
        }
        # castable population is [10,20,30,40,50]: min/median/max are
        # exact elements; "abc"/"xyz" must never surface as a mark
        assert quant[0] == "10"
        assert quant[500000] == "30"
        assert quant[1000000] == "50"
        assert "abc" not in quant.values() and "xyz" not in quant.values()

    def test_matches_duckdb_try_cast_form(self, spark):
        from stock_indicators_etl_spark.operators.dq import column_profile

        vals = ["5", "1", "junk", "3", "2", "4", ""]
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        out = column_profile(df, ("v",), top_n=1, num_cols=("v",))
        got = sorted(
            (int(r["rank"]), r["value"])
            for r in out.collect()
            if r["kind"] == "quantile"
        )
        con = duckdb.connect()
        con.register("t", pd.DataFrame({"v": vals}))
        sql = """
WITH cpc AS (
  SELECT v AS val, CAST(count(*) AS BIGINT) AS n FROM t
  WHERE v IS NOT NULL GROUP BY 1
),
cpnum AS (
  SELECT val, n,
         CAST(sum(n) OVER (ORDER BY TRY_CAST(val AS DOUBLE) ASC, val ASC)
              AS BIGINT) AS cum,
         CAST(sum(n) OVER () AS BIGINT) AS nn
  FROM cpc WHERE TRY_CAST(val AS DOUBLE) IS NOT NULL
)
SELECT CAST(q AS BIGINT) AS rank, val AS value
FROM cpnum
CROSS JOIN (SELECT unnest([0, 250000, 500000, 750000, 1000000]) AS q)
WHERE cum >= greatest(1, (q * nn + 999999) // 1000000)
  AND cum - n < greatest(1, (q * nn + 999999) // 1000000)
"""
        want = sorted((int(r[0]), r[1]) for r in con.execute(sql).fetchall())
        assert got == want


class TestBenchStampHygiene:
    def _stamp(self, path, round_no, idx, git_rev, queries, cpus="32"):
        d = {"queries": queries, "cpus": cpus}
        if git_rev is not None:
            d["git_rev"] = git_rev
        (path / f"BENCHFULL_r{round_no:02d}_2026{idx:04d}Z.json").write_text(
            json.dumps(d)
        )

    def test_prior_stamps_filtered_by_revision(self, tmp_path):
        """ADVICE r10: a stamp from a superseded mid-round revision
        (e.g. pre-order-fix bpe_encode) must not contribute to the
        'noise-free floor' — only same-revision stamps fold in, and
        pre-r11 stamps without a git_rev field are excluded. Stamps
        taken at another core count never fold either."""
        import bench

        self._stamp(tmp_path, 11, 1, "aaa", {"q1": 1.0})
        self._stamp(tmp_path, 11, 2, "bbb", {"q1": 0.1})  # other rev
        self._stamp(tmp_path, 11, 3, None, {"q1": 0.2})  # legacy format
        self._stamp(tmp_path, 11, 4, "aaa", {"q1": 0.9})
        self._stamp(tmp_path, 11, 5, "aaa", {"q1": 0.3}, cpus="8")
        got = bench._prior_stamp_timings(tmp_path, 11, "aaa", "32")
        assert got == {"q1": [1.0, 0.9]}

    def test_no_rev_folds_nothing(self, tmp_path):
        import bench

        self._stamp(tmp_path, 11, 1, "aaa", {"q1": 1.0})
        assert bench._prior_stamp_timings(tmp_path, 11, "", "32") == {}

    def test_current_file_is_rev_stamped(self):
        """run() writes git_rev into the BENCHFULL dict (structural:
        the key exists in the literal)."""
        from pathlib import Path

        src = (Path(__file__).resolve().parent.parent / "bench.py").read_text()
        assert '"git_rev": git_rev' in src


class TestBenchRetimeProtocol:
    def test_eager_names_skip_outer_build(self, spark):
        """ADVICE r10: the retime pass must not run a full discarded
        eager build — _timed_min rebuilds inside for these names."""
        import __spark_entry__ as entry_mod
        import bench

        q = next(q for q in entry_mod.REGISTRY.values() if q.eager)

        def boom(*_a):  # the outer build must NOT be invoked
            raise AssertionError("eager retime must not pre-build")

        assert bench._retime_handle(spark, "unused", boom, q.eager) is None

    def test_non_eager_gets_warm_save(self, spark):
        import bench

        calls = []

        def fn(s, _sf):
            calls.append(1)
            return s.range(3)

        df = bench._retime_handle(spark, "unused", fn, eager=False)
        assert df is not None and calls == [1]
