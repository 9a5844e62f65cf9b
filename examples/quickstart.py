"""Runnable tour of the engine on the bundled sf0.001 fixtures.

    python examples/quickstart.py [sf_dir]

Shows both halves of the engine end to end in one plain session —
the reference-shaped relational pipeline (flagship census count,
pricing summary, key-skew diagnosis) and the training-data side
(curation pipeline, near-dup clustering, retrieval).  Every query
printed here is oracle-verified against DuckDB at sf0.01 by
``tools/verify_local.py`` / ``tools/aux_correctness.py``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q  # noqa: E402
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.core import q_flagship_census_count  # noqa: E402
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("quickstart")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    print(f"== fixtures: {sf_dir}\n")

    print("== relational core: flagship census count (top 5 rows)")
    q_flagship_census_count(spark, sf_dir).show(5, truncate=False)

    print("== relational core: pricing summary")
    q.QUERIES["pricing_summary"](spark, sf_dir).show(truncate=False)

    print("== ops: is the lineitem join key skewed?")
    q.AUX_QUERIES["key_skew_profile"](spark, sf_dir).show(truncate=False)

    # Queries that checkpoint or persist intermediates are consumed
    # inside a Scope, which frees that storage when the block exits.
    print("== curation: end-to-end pipeline survivors")
    with Scope():
        kept = q.AUX_QUERIES["curation_pipeline"](spark, sf_dir)
        print(f"   {kept.count()} documents survive the full curation pass\n")

    print("== dedup: near-dup clusters (top 5 by size)")
    with Scope():
        comps = q.QUERIES["dedup_components"](spark, sf_dir)
        comps.groupBy("component").count().orderBy(
            "count", ascending=False
        ).show(5)

    print("== retrieval: hybrid BM25 + embedding fusion (top 10)")
    q.AUX_QUERIES["hybrid_retrieval"](spark, sf_dir).show(truncate=False)

    print("== events: daily health overview (first 7 days)")
    q.AUX_QUERIES["events_daily_overview"](spark, sf_dir).orderBy(
        "day"
    ).show(7, truncate=False)

    spark.stop()


if __name__ == "__main__":
    main()
