"""Catalog abstraction: the engine is written against *table URIs*, so the
same code runs over Iceberg tables (the north-rule serving store) or plain
parquet paths (this sandbox, which ships no Iceberg runtime jar).

URI forms:
* ``iceberg:<catalog>.<ns>.<table>`` → ``spark.read.table`` /
  ``writeTo(...).createOrReplace`` (requires the Iceberg runtime +
  catalog conf on the cluster: ``spark.sql.catalog.<name> =
  org.apache.iceberg.spark.SparkCatalog`` etc.);
* ``table:<name>`` → session catalog table;
* anything else → parquet path.

Write-side contract at scale: triple tables are written
partitioned-by-bucket(subj) so downstream subject-keyed joins are
co-located; with Iceberg this becomes a real bucket partition transform
(``bucket(N, subj)``), with parquet a ``<col>_bucket`` column +
``partitionBy`` — for ``bucket_col="subj"`` the triple store's bucket hash
(``triples.subj_bucket_of``), same pruning behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.triples import subj_bucket_of

ICEBERG_PREFIX = "iceberg:"
TABLE_PREFIX = "table:"


def has_iceberg(spark: SparkSession) -> bool:
    """True when the Iceberg runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, uri: str) -> DataFrame:
    if uri.startswith(ICEBERG_PREFIX):
        return spark.read.table(uri[len(ICEBERG_PREFIX):])
    if uri.startswith(TABLE_PREFIX):
        return spark.read.table(uri[len(TABLE_PREFIX):])
    return spark.read.parquet(uri)


def write_table(
    df: DataFrame,
    uri: str,
    mode: str = "overwrite",
    bucket_col: str | None = None,
    n_buckets: int = 32,
) -> None:
    """Write with optional bucket layout on ``bucket_col``.

    Iceberg: a real ``bucket(n, col)`` partition transform (co-located
    scans, partition pruning, snapshot isolation). Parquet: a derived
    ``<col>_bucket`` partition column — same physical co-location so the
    downstream join behavior matches what the cluster would see."""
    if uri.startswith(ICEBERG_PREFIX):
        name = uri[len(ICEBERG_PREFIX):]
        w = df.writeTo(name)
        if bucket_col is not None:
            w = w.partitionedBy(F.bucket(n_buckets, F.col(bucket_col)))
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
        return
    if uri.startswith(TABLE_PREFIX):
        df.write.mode(mode).saveAsTable(uri[len(TABLE_PREFIX):])
        return
    if bucket_col is not None:
        df = df.withColumn(f"{bucket_col}_bucket", subj_bucket_of(F.col(bucket_col), n_buckets))
        df.write.mode(mode).partitionBy(f"{bucket_col}_bucket").parquet(uri)
    else:
        df.write.mode(mode).parquet(uri)
