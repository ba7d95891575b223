"""Load log (K8/M4 — reference utils/load_info.py:11-103).

The reference creates a `consumo_dados` table on the destination and
inserts one row per load (vdb, schema, table, user, load_type,
timestamp, row count). Here the log is an append-only parquet metrics
table with the same schema, written as a one-row DataFrame built from
JVM literals (io/writers.literal_frame).

The engine logs ``full_copy`` loads here (``Engine.full_copy``,
operators/copy). ``Engine.sync`` does not: each bucketed root keeps the
records of its latest loads in its manifest (io/bucketed
``read_manifest``, ``loads``), committed with the data they describe.
"""

from __future__ import annotations

import getpass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastetl_spark.io.writers import literal_frame

LOG_SCHEMA = (
    "no_vdb string, no_schema string, no_tabela string, no_usuario string,"
    " tp_carga string, qt_linhas bigint"
)


class LoadInfo:
    def __init__(self, spark: SparkSession, path: str, vdb: str = "spark", schema: str = "default"):
        self.spark = spark
        self.path = path
        self.vdb = vdb
        self.schema = schema

    def save(self, table: str, load_type: str, row_count: int) -> None:
        """One row per load, like LoadInfo.save (load_info.py:82-103)."""
        row = literal_frame(
            self.spark,
            LOG_SCHEMA,
            (self.vdb, self.schema, table, getpass.getuser(), load_type, int(row_count)),
        ).withColumn("dt_consumo", F.current_timestamp())
        row.write.mode("append").parquet(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def throughput(self) -> DataFrame:
        """The reference's 'lines by second' metric is logged at copy time
        (fast_etl.py:354-356); here derive per-table totals from the log."""
        return self.read().groupBy("no_tabela").agg(
            F.sum("qt_linhas").alias("total_rows"), F.count("*").alias("n_loads")
        )
