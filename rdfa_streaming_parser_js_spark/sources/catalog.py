"""Graph-table catalog: Iceberg when available, bucketed parquet fallback.

The north-star deployment stores pages/triples/entities as Iceberg
tables (snapshot isolation gives the checkpoint/resume commit point
"for free"; `plans/lineage.py` reproduces that ordering over raw
parquet).  The sandbox ships no iceberg-spark-runtime jar, so this
adapter keeps ONE call site per table operation:

- with Iceberg configured (`spark.sql.catalog.<name>` set and the
  runtime jar on the classpath): `writeTo(...).partitionedBy(bucket(N,
  key))` / `spark.read.table(...)` — hidden-partitioning buckets;
- otherwise: :func:`write_buckets`, the one parquet writer of graph
  tables (``materialize_graph`` uses it too), bucket ``pmod(hash(key),
  N)`` — Spark's murmur3 partition id, so after ``repartition(N, key)``
  each task writes exactly one bucket's file.

Readers prune an entity-centric read to one bucket.  Iceberg's bucket
transform hashes differently, and parquet directories carry no
bucketing spec: a join on the key still shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def bucket_id(key: Column | str, n_buckets: int) -> Column:
    """The bucket of ``key``: ``pmod(hash(key), n_buckets)`` (int)."""
    return F.pmod(F.hash(key), F.lit(n_buckets))


def write_buckets(df: DataFrame, path: str, key: str, n_buckets: int,
                  mode: str = "overwrite") -> None:
    """Parquet under ``path/bucket=K/``, one file per bucket; overwrite
    replaces the whole table.  Input already hash-partitioned by ``key``
    into ``n_buckets`` is written without a shuffle."""
    (df.repartition(n_buckets, key)
     .withColumn("bucket", bucket_id(key, n_buckets))
     .write.mode(mode)
     .option("partitionOverwriteMode", "static")
     .partitionBy("bucket").parquet(path))


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True if an Iceberg catalog named ``catalog`` is usable."""
    conf = spark.conf
    try:
        impl = conf.get(f"spark.sql.catalog.{catalog}")
    except Exception:
        return False
    if not impl:
        return False
    try:  # the class must actually be loadable (jar present)
        spark._jvm.java.lang.Class.forName(impl)
        return True
    except Exception:
        return False


class GraphCatalog:
    """Named graph tables with bucket layout, Iceberg-or-parquet."""

    def __init__(self, spark: SparkSession, warehouse: str,
                 catalog: str = "kg", n_buckets: int = 64):
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        self.catalog = catalog
        self.n_buckets = n_buckets
        self.iceberg = iceberg_available(spark, catalog)

    def _path(self, table: str) -> str:
        return f"{self.warehouse}/{table}"

    def write(self, df: DataFrame, table: str, bucket_key: str,
              mode: str = "overwrite") -> None:
        if self.iceberg:
            writer = (df.writeTo(f"{self.catalog}.{table}")
                      .using("iceberg")
                      .partitionedBy(F.bucket(self.n_buckets, bucket_key)))
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                writer.append()
            return
        write_buckets(df, self._path(table), bucket_key, self.n_buckets,
                      mode)

    def read(self, table: str) -> DataFrame:
        if self.iceberg:
            return self.spark.read.table(f"{self.catalog}.{table}")
        return self.spark.read.parquet(self._path(table))

    def read_bucket_of(self, table: str, key_value: str) -> DataFrame:
        """Partition-pruned read: only the bucket that can hold
        ``key_value`` is scanned (checked in tests via the plan)."""
        df = self.read(table)
        if self.iceberg:
            # Iceberg prunes via hidden partitioning on the key predicate
            return df
        return df.filter(
            F.col("bucket") == bucket_id(F.lit(key_value), self.n_buckets))
