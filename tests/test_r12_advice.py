"""Round-12 ADVICE regression tests: unigram_encode sharing the
words() tokenization convention, connected components converging on
a long chain, bench's printed summary carrying both the composite
floor and the measured total, and the leak gate's script-stem
allowlist being scoped to scripts/ only."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent

VOCAB = pd.DataFrame(
    {
        "piece": ["a", "b", "ab", "c"],
        # micro-nats; values only need to be finite for these tests
        "logp_unats": [-1_000_000, -1_000_000, -1_500_000, -1_200_000],
    }
)


class TestUnigramEncodeWordsConvention:
    def test_unicode_whitespace_and_null_text(self, spark):
        """ADVICE r11: the encoder must split words exactly like the
        shared words() normalization (Java \\s), not Python
        str.split (Unicode \\s) — and null text must produce zero
        tokens, not the literal word 'none'."""
        from stock_indicators_etl_spark.llmdata.unigram_lm import (
            unigram_encode,
        )

        rows = [
            # \xa0 is Unicode whitespace (Python splits) but NOT Java
            # \s (words() keeps it inside one word) -> the word is
            # unsegmentable under VOCAB -> whole-word fallback = 1
            # token. The old Python-split path yielded 4.
            (1, "aa\xa0bb"),
            (2, None),
            (3, "ab c"),
            (4, "  \t  "),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["n_tokens"], r["tokens"])
            for r in unigram_encode(docs, VOCAB).collect()
        }
        assert out[1] == (1, "aa\xa0bb")
        assert out[2] == (0, "")
        assert out[3] == (2, "ab c")
        # whitespace-only text: norm_text collapses it to '' or a
        # single space -> no real words -> zero tokens either way
        assert out[4][0] == 0

    def test_token_count_consistent_with_words(self, spark):
        """Every emitted word the encoder segments is a words()
        token: for an all-single-char vocabulary covering the text,
        n_tokens == total characters of the words() tokens."""
        import pyspark.sql.functions as F

        from stock_indicators_etl_spark.llmdata.text import words
        from stock_indicators_etl_spark.llmdata.unigram_lm import (
            unigram_encode,
        )

        vocab = pd.DataFrame(
            {
                "piece": list("abc"),
                "logp_unats": [-1_000_000] * 3,
            }
        )
        rows = [(1, " aa\xa0b  cc \n a "), (2, "abc"), (3, "")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        enc = {
            r["doc_id"]: r["n_tokens"]
            for r in unigram_encode(docs, vocab).collect()
        }
        chars = {
            r["doc_id"]: r["n"]
            for r in docs.select(
                "doc_id",
                F.aggregate(
                    words(F.col("text")),
                    F.lit(0).cast("long"),
                    lambda acc, w: acc + F.length(w),
                ).alias("n"),
            ).collect()
        }
        # \xa0 stays inside the word and is not in the vocab -> that
        # word falls back to ONE whole-word token; all-covered words
        # segment into one token per char
        assert enc[2] == chars[2] == 3
        assert enc[3] == chars[3] == 0
        # doc 1: words are ['aa\xa0b', 'cc', 'a'] -> 1 + 2 + 1 tokens
        assert enc[1] == 4


class TestPinLedgerPolicy:
    def test_long_chain_components_cross_checkpoint_windows(self, spark, cc_paths):
        """Integration: a diameter-8 chain forces the fixpoint loop
        through multiple persist/checkpoint windows; labels must
        still converge to the component minimum (and the driver-side
        union–find must give the same labels)."""
        from stock_indicators_etl_spark.llmdata.dedup import (
            connected_components,
        )

        n = 9
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        vertices = spark.createDataFrame(
            [(i,) for i in range(n + 2)], "doc_id long"
        )
        for path in cc_paths():
            got = {
                r["doc_id"]: r["component"]
                for r in connected_components(edges, vertices).collect()
            }
            assert all(got[i] == 0 for i in range(n)), path
            assert got[n] == n and got[n + 1] == n + 1, path


class TestBenchSummaryLine:
    def test_summary_carries_both_totals(self):
        import bench

        full = {
            "metric": "headline_queries_total_sec",
            "value": 10.0,
            "recorded_total": 12.5,
            "unit": "sec",
            "queries": {f"q{i}": float(i) for i in range(15)},
            "sf": 0.1,
        }
        line = bench._summary_line(full, "BENCHFULL_r99_x.json")
        # ADVICE r11: both the composite cross-stamp floor AND this
        # stamp's measured sum must reach the driver's 2 kB window
        assert line["value"] == 10.0
        assert line["recorded_total"] == 12.5
        assert len(line["queries"]) == 10  # top-10 slowest only
        assert "recorded_total" in line["queries_note"]


class TestLeakGateScopedAllowlist:
    def _load(self):
        spec = importlib.util.spec_from_file_location(
            "ner_gate", REPO / "tests" / "test_no_external_refs.py"
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_script_stems_not_globally_allowed(self):
        """ADVICE r11: scripts may import sibling scripts, but those
        stems must NOT be allowed for package/example/entry files —
        a colliding external import would otherwise slip through."""
        mod = self._load()
        assert "check_oracle" in mod.SCRIPT_LOCAL_STEMS
        assert not (mod.SCRIPT_LOCAL_STEMS & mod.ALLOWED_THIRD_PARTY), (
            "script stems leaked into the global allowlist"
        )
