"""Plan hygiene checks: assert the physical plans we designed for are the
plans Catalyst actually picks (task brief: '.explain' the plan and iterate).

Checks:
  1. point_lookup: IN-list filter is PUSHED to the parquet scan.
  2. pricing_summary: partial (map-side) aggregation before the exchange +
     only the referenced columns in ReadSchema (column pruning).
  3. resolve_pointers: alias-map joins execute as BroadcastHashJoin (via AQE
     or static planning), not sort-merge.
  4. no CartesianProduct anywhere in the KG edge pipeline.
  5. WholeStageCodegen present in the aggregation pipelines.

Exit 0 when all assertions hold.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from kgspark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def plan_of(df, mode="formatted") -> str:
    return df._jdf.queryExecution().explainString(
        getattr(df._sc._jvm.org.apache.spark.sql.execution.ExplainMode,
                "fromString")(mode))


def pushes_term_bucket(plan: str) -> bool:
    """A term_bucket predicate is among a parquet scan's PushedFilters."""
    return re.search(r"PushedFilters: \[[^\n]*\b(In|EqualTo)\(term_bucket,",
                     plan) is not None


def main() -> None:
    spark = get_spark("explain", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = []

    def check(name, cond, detail=""):
        print(f"{'OK ' if cond else 'FAIL'} {name}")
        if not cond:
            failures.append(name)
            if detail:
                print(detail[:3000])

    # 1. predicate pushdown reaches the scan
    p = plan_of(E.q_point_lookup(spark, SF))
    check("point_lookup filter pushed to scan",
          "PushedFilters: [In(l_orderkey" in p or "PushedFilters: [l_orderkey" in p, p)

    # 2. partial aggregation + column pruning
    p = plan_of(E.q_pricing_summary(spark, SF))
    check("pricing_summary partial agg", "partial_" in p or "Partial" in p, p)
    check("pricing_summary column pruning",
          "l_comment" not in p and "l_shipdate" in p, p)
    # AQE hides codegen markers in 'formatted' until finalized — use the
    # codegen explain mode, which prints the generated stages directly
    pcg = plan_of(E.q_pricing_summary(spark, SF), "codegen")
    check("pricing_summary whole-stage codegen", "WholeStageCodegen" in pcg, pcg)

    # 3+4. KG edge pipeline: broadcast pointer joins, no cartesian product
    from kgspark.datagen import pages_spark
    from kgspark.pipeline import build_graph
    out = build_graph(pages_spark(spark, 300), check_text=False,
                      compute_embeddings=False)
    edges = out["edges"]
    p = plan_of(edges)
    check("edge pipeline has no CartesianProduct", "CartesianProduct" not in p, p)
    # The alias map sits behind a localCheckpoint whose Scan ExistingRDD
    # defaults to a huge STATIC size estimate, so the pointer join plans
    # as SortMergeJoin pre-execution by design; AQE converts it to
    # BroadcastHashJoin at runtime from observed shuffle sizes. Assert on
    # the EXECUTED plan of the DataFrame's own QueryExecution (a noop
    # write runs a *separate* QE and plan_of() would re-plan, false-
    # failing the check).
    mentions = out["mentions"]
    mentions.collect()
    pf = plan_of(mentions, "simple")
    check("alias-map pointer join broadcast (AQE, executed plan)",
          "isFinalPlan=true" in pf and "BroadcastHashJoin" in pf, pf)

    # 6. sessionization: native session_window agg = ONE exchange on the
    # key, partial merge before it (no sort-based session reconstruction)
    p = plan_of(E.q_sessionization(spark, SF), "simple")
    check("sessionization single exchange",
          p.count("Exchange hashpartitioning") == 1, p)

    # 7. multimodal decode stages are single-pass Arrow (MapInPandas) with
    # no shuffle at all — decode is embarrassingly parallel
    p = plan_of(E.q_image_decode(spark, SF), "simple")
    check("image_decode no shuffle", "Exchange" not in p, p)
    check("image_decode arrow stage", "MapInPandas" in p, p)

    # 8. persisted BM25 index: the query's term buckets are pushed into
    # the parquet scan, where row-group statistics skip the other buckets
    # (r4: the read-side twin of the ANN index pruning check)
    p = plan_of(E.q_bm25_indexed(spark, SF))
    check("bm25_indexed term buckets pushed to scan", pushes_term_bucket(p), p)

    # 9. hybrid orchestrator with a persisted fulltext index (r5): the
    # fulltext leg prunes to the query's term buckets and the read-side
    # plan contains NO corpus tokenize-aggregate — the scan path's
    # explode(split(lower(text))) must be gone entirely
    import shutil as _sh
    import tempfile as _tmp

    from kgspark import fulltext as _flt
    from kgspark import search as _ks
    hnodes = out["nodes"].withColumn(
        "name_embedding",
        F.array(*[F.lit(0.1)] * 8).cast("array<double>"))
    ftdir = _tmp.mkdtemp(prefix="kgspark_explain_ft_")
    try:
        _flt.build_fulltext_index(out["nodes"], "name", ftdir, num_buckets=16)
        h = _ks.hybrid_search(hnodes, "name", "name_embedding",
                              "priya sharma", fulltext_index_path=ftdir)
        p = plan_of(h)
        check("hybrid indexed fulltext leg prunes term buckets",
              pushes_term_bucket(p), p)
        check("hybrid indexed plan has no corpus tokenize (no explode)",
              "explode" not in p.lower(), p)
    finally:
        _sh.rmtree(ftdir, ignore_errors=True)

    print("FAILURES:", failures or "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
