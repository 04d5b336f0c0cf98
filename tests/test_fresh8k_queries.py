"""Round-8 fresh8k queries: semantic pins beyond the DuckDB oracle —
manifest checksum order/partition independence and mutation
sensitivity (the bucket-pruning pin lives in test_plan_guards)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_MID

def test_source_manifest_checksum_is_order_and_partition_independent(spark):
    """Reversing row order and changing the partitioning must not move
    any per-source checksum; mutating ONE document must move exactly
    its source's checksum (content sensitivity)."""
    from mapreduce_system_spark.queries.pipeline import q_source_manifest
    from mapreduce_system_spark.sources.tables import load_table

    base = {r.source: r.content_checksum for r in q_source_manifest(spark, SF_DIR_MID).collect()}
    docs = load_table(spark, SF_DIR_MID, "documents", columns=["source", "text", "n_chars"])
    shuffled = docs.orderBy(F.desc("text")).repartition(7)
    b32 = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
    again = {
        r.source: r.cs
        for r in shuffled.groupBy("source").agg(F.sum(b32).alias("cs")).collect()
    }
    assert again == base
    mutated = docs.withColumn(
        "text",
        F.when(F.col("source") == "src0", F.concat(F.col("text"), F.lit("!"))).otherwise(
            F.col("text")
        ),
    )
    mut = {
        r.source: r.cs
        for r in mutated.groupBy("source").agg(F.sum(b32).alias("cs")).collect()
    }
    assert mut["src0"] != base["src0"]
    assert all(mut[s] == base[s] for s in base if s != "src0")
