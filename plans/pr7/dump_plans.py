"""Physical plans of the dedup stages the pair-expansion / verifier
refactor touches, normalised so two checkouts compare byte for byte.

Run it with the root of a checkout as the current directory (the
package and ``perfbench`` are imported from there), e.g.
``SPARK_GRAFT_CPUS=4 python <path to this script> <out_dir> <sf_dir>``.

Writes one file per plan into ``out_dir``:

- ``neardup_candidates.txt`` / ``neardup_verify.txt``: the two lazy
  stages of the ``neardup_dedup`` workload on ``gen.make_corpus(1,
  300)`` — ``minhash_lsh_candidates(docs, max_bucket_size=512)`` and
  ``ngram_jaccard_pairs(docs, "text", 3, threshold=0.5,
  candidates=...)``, ``explain("formatted")``;
- ``decontaminate.txt``: the registry query's formatted plan at
  ``sf_dir``;
- ``dedup_incremental.txt``: for each SQL execution of the (eager)
  registry query that runs the Jaccard verify (its plan holds
  ``array_intersect``), in execution order, how often each join and
  exchange node occurs in its executed adaptive plan (the full trees
  run to hundreds of kilobytes).

Normalisation strips expression ids (``#12``), ``plan_id=3`` and the
numeric suffix of lambda variables (``x_17``), which differ between
two builds of the same plan in one session, and the temp directory
names.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
from collections import Counter

sys.path.insert(0, os.getcwd())

from stock_indicators_etl_spark import get_spark  # noqa: E402

_LAMBDA_VARS = ("x", "y", "i", "j", "ca", "cb")


def normalise(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id", plan)
    plan = re.sub(r"spark_dedup_idx_\w+", "spark_dedup_idx_", plan)
    names = "|".join(_LAMBDA_VARS)
    return re.sub(rf"\b({names})_\d+\b", r"\1", plan)


def formatted(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def verify_executions(spark, since: int) -> list[str]:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [execs.apply(n).physicalPlanDescription() for n in range(execs.size())]
    return [p for p in plans[since:] if "array_intersect" in p]


def join_counts(plan: str) -> str:
    tree = plan.split("\n\n(1)")[0]
    nodes = re.findall(r"(\w*(?:Join|Exchange)\b[\w ]*?) \(\d+\)", tree)
    return "".join(f"{n:4d}  {node}\n" for node, n in sorted(Counter(nodes).items()))


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from perfbench import gen
    from stock_indicators_etl_spark.llmdata.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    import __spark_entry__ as entry_mod

    with tempfile.TemporaryDirectory() as tmp:

        def write(name: str, text: str) -> None:
            with open(os.path.join(out_dir, name), "w") as f:
                f.write(normalise(text.replace(tmp, "<tmp>")))

        path = os.path.join(tmp, "documents.parquet")
        gen.make_corpus(1, 300).to_parquet(path, index=False)
        docs = spark.read.parquet(path)
        cand = minhash_lsh_candidates(docs, max_bucket_size=512)
        write("neardup_candidates.txt", formatted(cand))
        pairs = ngram_jaccard_pairs(docs, "text", 3, threshold=0.5, candidates=cand)
        write("neardup_verify.txt", formatted(pairs))

        reg = entry_mod.REGISTRY
        write("decontaminate.txt", formatted(reg["decontaminate"].build(spark, sf_dir)))

        since = spark._jsparkSession.sharedState().statusStore().executionsCount()
        reg["dedup_incremental"].build(spark, sf_dir)
        plans = verify_executions(spark, since)
        write(
            "dedup_incremental.txt",
            "".join(
                f"===== verify execution {n} =====\n{join_counts(p)}"
                for n, p in enumerate(plans)
            ),
        )
    spark.stop()


if __name__ == "__main__":
    main()
