"""Final-state oracle, written independently of the engine.

Expected table = base rows, overwritten per key by the latest valid WAL
envelope (highest lsn): an insert or update replaces the row with the
envelope's payload and ``n_tok = size(tokens)``, a delete removes it.
Validity follows the envelope contract (non-null key, op in I/U/D, and for
I/U a non-empty token array of at most 4096 ids in [0, 50257)), restated
here rather than imported, and the per-key winner comes from a window
rank instead of the engine's aggregate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

VOCAB = 50257
MAX_TOKENS = 4096


def expected_table(
    spark: SparkSession, base_dir: str, wal_dirs: list[str], cols: list[str]
) -> DataFrame:
    env = spark.read.option("mergeSchema", "true").parquet(*wal_dirs)
    toks = F.col("tokens")
    valid = (
        F.col("doc_id").isNotNull()
        & F.col("op").isin("I", "U", "D")
        & (
            (F.col("op") == "D")
            | (
                toks.isNotNull()
                & (F.size(toks) > 0)
                & (F.size(toks) <= MAX_TOKENS)
                & (F.array_min(toks) >= 0)
                & (F.array_max(toks) < VOCAB)
                & ~F.exists(toks, lambda t: t.isNull())
            )
        )
    )
    latest = (
        env.filter(valid)
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("lsn").desc())
            ),
        )
        .filter(F.col("_r") == 1)
    )
    base = spark.read.parquet(base_dir)
    for c in cols:
        if c not in base.columns:
            base = base.withColumn(c, F.lit(None).cast("string"))
        if c not in latest.columns:
            latest = latest.withColumn(c, F.lit(None).cast("string"))
    kept = base.join(latest.select("doc_id"), "doc_id", "left_anti")
    upserts = latest.filter(F.col("op") != "D").withColumn(
        "n_tok", F.size("tokens").cast("int")
    )
    return kept.select(*cols).unionByName(upserts.select(*cols))


def check(spark: SparkSession, table, base_dir: str, wal_root: str,
          epochs: int) -> dict:
    """Compare the table's current state with the oracle and run the
    engine's own ``verify``; returns counts and an ``ok`` flag.

    The comparison is a multiset difference in both directions, the same
    result as ``want.exceptAll(got)`` and ``got.exceptAll(want)``, taken in
    one aggregate: rows grouped on every column, counted +1 per expected
    and -1 per actual copy."""
    from e_commerce_batch_etl_pipeline_spark.tables import maintenance

    cols = [n for n, _, _ in table.current().schema.fields]
    wal_dirs = [os.path.join(wal_root, f"epoch-{e:05d}") for e in range(epochs)]
    want = expected_table(spark, base_dir, wal_dirs, cols)
    got = table.read(spark).select(*cols)
    diff = (
        want.withColumn("_d", F.lit(1))
        .unionByName(got.withColumn("_d", F.lit(-1)))
        .groupBy(*cols)
        .agg(F.sum("_d").alias("_d"))
        .agg(
            F.sum(F.when(F.col("_d") > 0, F.col("_d")).otherwise(0)).alias("missing"),
            F.sum(F.when(F.col("_d") < 0, -F.col("_d")).otherwise(0)).alias("extra"),
        )
        .collect()[0]
    )
    missing, extra = int(diff["missing"] or 0), int(diff["extra"] or 0)
    ver = maintenance.verify(table, spark)
    return {
        "ok": missing == 0 and extra == 0 and bool(ver["ok"]),
        "rows": ver["rows"],
        "missing": missing,
        "extra": extra,
        "verify": ver,
    }
