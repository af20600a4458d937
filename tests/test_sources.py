"""Table loading (sources/tables.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafka_map_reduce_spark.sources import tables


def test_schema_memo_serves_rewritten_table_and_evicts_old_key(spark, tmp_path):
    """Overwriting a table gives its path a new mtime: load_table must
    serve the new schema, and the memo must keep one key for the path."""
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "nation.parquet")
    spark.range(3).select(F.col("id").alias("n_nationkey")).write.parquet(path)
    first = tables.load_table(spark, sf_dir, "nation")
    assert first.columns == ["n_nationkey"]
    old_mtime = os.path.getmtime(path)

    spark.range(3).select(
        F.col("id").alias("n_nationkey"), F.lit("x").alias("n_name")
    ).write.mode("overwrite").parquet(path)
    assert os.path.getmtime(path) != old_mtime
    second = tables.load_table(spark, sf_dir, "nation")
    assert second.columns == ["n_nationkey", "n_name"]
    assert second.collect()[0].n_name == "x"
    assert [k for k in tables._SCHEMA_MEMO if k[0] == path] == [
        (path, os.path.getmtime(path))
    ]
