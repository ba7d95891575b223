"""User-facing API: the Engine facade and operator-shaped wrappers.

A reference user drives fastETL through Airflow operators
(DbToDbOperator, DbToCSVOperator — reference
fastetl/operators/db_to_db_operator.py:157-181, db_to_csv_operator.py:74-109)
that are thin shells over `custom_functions`. The same shape here:
operator classes carry configuration and delegate to the engine;
no Airflow dependency (hook them into any orchestrator — an Airflow
PythonOperator calls `.execute(spark)`).

`Engine` keeps the surface of the ETL job and nothing else:
    land      read, write, sql, full_copy, sync, sync_many
    clean     clean, validate_split, expectations, checksum, schema_drift
    maintain  compact, storage_report, bucketize, generations, read_at,
              vacuum, ingest_new_files
    dedup     build_dedup_index, match_new_documents, index_new_documents

Every other operator is a DataFrame function: import it from its
module, e.g. `operators.graph` (pagerank, label_propagation),
`operators.dedup` (near-dup pair families), `operators.curation2`
(semantic_dedup), `operators.ann_index` (persistent IVF index),
`operators.quantiles` (covering_accuracy, monitor_drift),
`operators.evaluation` (AUC/KS), `operators.multimodal` (media),
`operators.retrieval`, `operators.vector_sketch`,
`operators.rank_quantiles` and `io.zorder`.

Sources/destinations are dicts:
    {"path": "/data/x.parquet"}                      parquet
    {"path": "...", "format": "csv", "options": {}}  csv
    {"jdbc": {...}}                                  database table/query

A JDBC source takes `io.readers.jdbc_scan_options` kwargs; a JDBC
destination takes `io.writers.write_jdbc_options` kwargs (`url`,
`table`, ...) and is written by `write` and `full_copy`. `Engine.sync`
(the incremental replication) reads any source but merges into one
destination layout only: a bucketed parquet root (io/bucketed), which
its first sync creates and `Engine.read` reads; not a JDBC table.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fastetl_spark.io.readers import read_jdbc, read_parquet
from fastetl_spark.io.writers import (
    literal_frame,
    select_intersection,
    write_counted,
    write_csv,
    write_jdbc,
)
from fastetl_spark.meta.load_info import LoadInfo
from fastetl_spark.plans.qa import CleaningPipeline


class Engine:
    """SparkSession-backed engine: read anything, write anything, sync,
    clean, validate, passthrough SQL, and keep the bucketed destinations
    and the dedup index (the reference's whole operator surface)."""

    def __init__(
        self,
        spark: SparkSession,
        load_log_path: str | None = None,
        watermark_store_path: str | None = None,
    ):
        self.spark = spark
        self.load_info = LoadInfo(spark, load_log_path) if load_log_path else None
        self.watermark_store = None
        if watermark_store_path:
            from fastetl_spark.operators.sync import WatermarkStore

            self.watermark_store = WatermarkStore(spark, watermark_store_path)

    # --- io ---------------------------------------------------------------

    def read(self, source: dict) -> DataFrame:
        """Read a source dict (module docstring). A bucketed root, such
        as every sync destination, reads through ``read_bucketed``; other
        parquet through ``io.readers.read_parquet``, which takes the
        schema from one footer instead of an inference job."""
        if "jdbc" in source:
            return read_jdbc(self.spark, **source["jdbc"])
        fmt = source.get("format", "parquet")
        if fmt == "parquet":
            from fastetl_spark.io.bucketed import is_bucketed_root, read_bucketed

            if is_bucketed_root(self.spark, source["path"]):
                return read_bucketed(self.spark, source["path"])
            return read_parquet(self.spark, source["path"], source.get("options"))
        reader = self.spark.read.format(fmt).options(**source.get("options", {}))
        if fmt == "csv":
            reader = reader.option("header", "true")
        return reader.load(source["path"])

    def write(self, df: DataFrame, dest: dict, mode: str = "overwrite") -> None:
        """Write a destination dict (module docstring). Into a JDBC table,
        overwrite truncates the table and loads it, keeping its definition
        (the reference's truncate-and-load); append inserts."""
        if "jdbc" in dest:
            write_jdbc(df, mode=mode, truncate=mode == "overwrite", **dest["jdbc"])
            return
        fmt = dest.get("format", "parquet")
        if fmt == "csv":
            write_csv(df, dest["path"], mode=mode, **dest.get("options", {}))
        else:
            df.write.mode(mode).format(fmt).options(**dest.get("options", {})).save(dest["path"])

    def sql(self, query: str) -> DataFrame:
        """S2 query-as-source."""
        return self.spark.sql(query)

    # --- replication ------------------------------------------------------

    def full_copy(
        self,
        source: dict,
        dest: dict,
        dest_columns: list[str] | None = None,
        columns_to_ignore: list[str] | None = None,
        truncate: bool = True,
        table_name: str = "",
    ) -> int:
        df = self.read(source)
        if dest_columns:
            df = select_intersection(df, dest_columns)
        if columns_to_ignore:
            df = df.drop(*columns_to_ignore)
        mode = "overwrite" if truncate else "append"
        n = write_counted(df, lambda d: self.write(d, dest, mode=mode))
        if self.load_info:
            name = table_name or (dest["jdbc"]["table"] if "jdbc" in dest else dest["path"])
            self.load_info.save(name, "full" if truncate else "append", n)
        return n

    def sync(
        self,
        source: dict,
        dest: dict,
        keys: list[str],
        watermark_col: str,
        deleted_keys: DataFrame | None = None,
        table_name: str = "",
    ) -> int:
        """Incremental sync (§2.9): watermark -> merge, one commit.
        Returns the destination's row count after the sync.

        The destination is a bucketed parquet root (io/bucketed), bucketed
        on ``keys``. The first sync into a missing ``dest["path"]`` creates
        it with ``write_bucketed``: the source's rows minus
        ``deleted_keys``, in ``advise_n_buckets(source path)`` buckets (1
        for a source with no path). Every later sync filters the source by
        the watermark and lands the increment through ``partial_merge``:
        one delta dir for all touched buckets, O(|increment|) per sync.
        An increment holds one row per key (``partial_merge``'s contract):
        dedupe the source first, for example with ``DuplicatedRowCleaner``.

        The watermark and the load record ride the manifest commit that
        publishes the data: the write observes the new watermark (the
        greatest ``watermark_col`` value it lands), and the next sync reads
        it from the manifest, with no Spark job. The configured
        ``WatermarkStore`` is only read, once, for a root whose manifest
        records no watermark (one created before the manifest carried it,
        or by ``bucketize``), keyed by ``table_name`` or the path; without
        a stored value the fallback is one MAX over the destination (None
        for an emptied one: merge everything). The sync writes neither the
        store nor the ``LoadInfo`` log: the root's latest load records are
        in its manifest (``read_manifest``'s ``loads``).

        An increment whose columns differ from the destination's (the
        schema its manifest records) raises ``ValueError`` naming the
        added, removed and retyped columns (``meta.schema_diff``: names
        case-insensitive, nullability not compared), before any Spark
        job; the merge would drop an added column and cast a retyped one.
        A root whose manifest predates the recorded schema is checked
        from its next merge on, which records it.

        Other destinations raise ``ValueError``: an existing root without a
        bucket spec (migrate it once with ``bucketize``), one bucketed on
        other keys, and any non-parquet one. Merging into a JDBC table waits
        on ROADMAP item 3 (JDBC destinations). The Spark jobs are described
        ``fastetl:sync:<phase>`` (watermark, then partial_merge's).
        """
        from fastetl_spark.io.bucketed import (
            advise_n_buckets,
            manifest_watermark,
            merge_dest_spec,
            partial_merge,
            read_bucketed,
            read_manifest,
            write_bucketed,
        )
        from fastetl_spark.meta.schema_diff import schema_diff
        from fastetl_spark.session import job_phase

        if "jdbc" in dest or dest.get("format", "parquet") != "parquet":
            kind = "a JDBC table" if "jdbc" in dest else f"a {dest['format']} destination"
            raise ValueError(
                f"sync merges into bucketed parquet roots only, not into {kind}; "
                "JDBC merge waits on ROADMAP item 3 (JDBC destinations)"
            )
        path = dest["path"]
        spec = merge_dest_spec(self.spark, path, keys)
        wm = m = None
        if spec is not None:
            m = read_manifest(self.spark, path)
            wm = manifest_watermark(m)
            if wm is None:
                with job_phase(self.spark, "sync", "watermark"):
                    if self.watermark_store is not None:
                        wm = self.watermark_store.get(table_name or path)
                    if wm is None:
                        dest_df = read_bucketed(self.spark, path)
                        wm = dest_df.agg(F.max(watermark_col)).first()[0]
        inc = self.read(source)
        if m is not None and "schema" in m:
            drift = [
                c
                for c in schema_diff(StructType.fromJson(m["schema"]), inc.schema)
                if c.kind != "nullability_changed" and c.before != c.after
            ]
            if drift:
                detail = "; ".join(f"{c.kind} {c.column} ({c.before} -> {c.after})" for c in drift)
                raise ValueError(f"increment columns differ from {path}'s: {detail}")
        if wm is not None:
            inc = inc.filter(F.col(watermark_col) > F.lit(wm))
        if spec is None:
            if deleted_keys is not None:
                inc = inc.join(deleted_keys.select(*keys), on=keys, how="left_anti")
            n_buckets = advise_n_buckets(self.spark, source["path"]) if "path" in source else 1
            return write_bucketed(inc, path, keys, n_buckets, watermark_col=watermark_col)
        return partial_merge(self.spark, path, inc, deleted_keys, watermark_col)["rows"]

    # --- cleaning ---------------------------------------------------------

    def clean(self, df: DataFrame, cleaners: list) -> tuple[DataFrame, DataFrame]:
        return CleaningPipeline(cleaners).run(df)

    # --- data-quality / maintenance surface -------------------------------

    def sync_many(self, tables: list[dict], fail_fast: bool = False) -> DataFrame:
        """Sync a LIST of table configs (each: ``{"name", "source",
        "dest", "keys", "watermark_col"}``) and return a load report
        frame (table, rows_merged, status, error) — the engine twin of
        the reference's table-loop DAGs, with per-table isolation: one
        failing table is recorded and the rest continue (``fail_fast``
        re-raises instead). Tables run sequentially by design — each
        sync is itself a parallel job, and serializing tables keeps
        cluster resources predictable; use separate Engine calls from
        an orchestrator for genuine inter-table parallelism."""
        rows = []
        for t in tables:
            name = str(
                t.get("name")
                or t["dest"].get("path")
                or t["dest"].get("table", "?")
            )
            try:
                n = self.sync(
                    t["source"],
                    t["dest"],
                    keys=t["keys"],
                    watermark_col=t["watermark_col"],
                    table_name=name,
                )
                rows.append((name, n, "ok", None))
            except Exception as e:  # noqa: BLE001 - per-table isolation
                if fail_fast:
                    raise
                rows.append((name, None, "error", f"{type(e).__name__}: {e}"))
        # JVM literals, not createDataFrame(list), whose Python RDD starts
        # Python workers (RUNBOOK "Fixed cost per sync round")
        if not rows:
            return literal_frame(
                self.spark, "table string, rows_merged long, status string, error string"
            )
        types = ("STRING", "BIGINT", "STRING", "STRING")
        values = ", ".join(
            "(" + ", ".join(f"CAST(:v{i}_{j} AS {t})" for j, t in enumerate(types)) + ")"
            for i in range(len(rows))
        )
        return self.spark.sql(
            f"SELECT * FROM VALUES {values} AS r(`table`, rows_merged, status, error)",
            args={f"v{i}_{j}": v for i, row in enumerate(rows) for j, v in enumerate(row)},
        )

    def expectations(self, df: DataFrame, rules: list) -> DataFrame:
        """Table-level contract report: one row per rule with
        (n_rows, n_violations, passed), ONE scan for any number of
        rules (plans/expectations). Shares the (name, predicate) rule
        shape with validate_split, so one suite serves both the
        row-level reject channel and the aggregate contract check."""
        from fastetl_spark.plans.expectations import expectations_report

        return expectations_report(df, rules)

    def validate_split(self, df: DataFrame, rules: list) -> tuple[DataFrame, DataFrame]:
        """Row-level validate-and-quarantine (plans/quarantine): rules
        are (name, Column-predicate) pairs, True = valid. Returns
        (valid, rejects-with-failed_rules)."""
        from fastetl_spark.plans.quarantine import validate_split

        return validate_split(df, rules)

    def checksum(self, df: DataFrame, key_col: str, cols: list[str],
                 bucket_width: int = 10_000) -> DataFrame:
        """Per-key-range XOR content checksums (operators/sync) —
        cross-engine comparable sync verification."""
        from fastetl_spark.operators.sync import table_checksum

        return table_checksum(df, key_col, cols, bucket_width)

    def schema_drift(self, old_df: DataFrame, new_df: DataFrame,
                     fail_on_breaking: bool = True) -> list:
        """Column-level drift report between two frames' schemas
        (meta/schema_diff); raises on removed/type-changed columns when
        fail_on_breaking."""
        from fastetl_spark.meta.schema_diff import (
            assert_no_breaking_drift,
            schema_diff,
        )

        if fail_on_breaking:
            return assert_no_breaking_drift(old_df.schema, new_df.schema)
        return schema_diff(old_df.schema, new_df.schema)

    def compact(self, path: str, target_rows_per_file: int = 1_000_000) -> int:
        """Small-file compaction of a parquet directory (io/writers)."""
        from fastetl_spark.io.writers import compact_parquet_dir

        return compact_parquet_dir(self.spark, path, target_rows_per_file)

    def storage_report(
        self, path: str, small_file_bytes: int = 32 * 1024 * 1024
    ) -> dict:
        """Filesystem-metadata profile of a destination (one recursive
        listing, no data read): data-file count, total/avg/max bytes,
        how many files sit under ``small_file_bytes``, and whether a
        compaction pass is advised (>50% small files and more than a
        handful of them) — the check to run BEFORE a small-file problem
        degrades every downstream scan. Underscore/dot-prefixed entries
        (markers, specs, manifests) are excluded, matching what Spark
        scans."""
        from fastetl_spark.io.fsutil import hadoop_fs

        fs, path_cls = hadoop_fs(self.spark, path)
        sizes: list[int] = []
        stack = [path_cls(path.rstrip("/"))]
        while stack:
            p = stack.pop()
            for s in fs.listStatus(p):
                name = s.getPath().getName()
                if name.startswith(("_", ".")):
                    continue
                if s.isDirectory():
                    stack.append(s.getPath())
                elif s.isFile():
                    sizes.append(int(s.getLen()))
        n = len(sizes)
        total = sum(sizes)
        small = sum(1 for b in sizes if b < small_file_bytes)
        return {
            "n_files": n,
            "total_bytes": total,
            "avg_bytes": total // n if n else 0,
            "max_bytes": max(sizes) if n else 0,
            "small_files": small,
            "small_file_bytes": small_file_bytes,
            "compaction_advised": n > 8 and small * 2 > n,
        }

    # --- persistent dedup index (operators/dedup_index) ------------------

    def build_dedup_index(
        self, docs: DataFrame, index_path: str, n_buckets: int = 64
    ) -> None:
        """One-time shingle-index build over a (doc_id, text) corpus —
        afterwards `match_new_documents` costs O(|batch|), not
        O(|corpus|)."""
        from fastetl_spark.operators.dedup_index import build_shingle_index

        build_shingle_index(docs, index_path, n_buckets)

    def match_new_documents(self, index_path: str, new_docs: DataFrame) -> DataFrame:
        """Near-dup matches of a new batch against the indexed corpus,
        reading only the index buckets the batch's shingles hash to."""
        from fastetl_spark.operators.dedup_index import match_against_index

        return match_against_index(self.spark, index_path, new_docs)

    def index_new_documents(self, index_path: str, new_docs: DataFrame) -> None:
        """Append-only index maintenance after a batch merges."""
        from fastetl_spark.operators.dedup_index import append_to_shingle_index

        append_to_shingle_index(new_docs, index_path)

    def bucketize(
        self, path: str, keys: list[str], n_buckets: int, atomic: bool = True
    ) -> None:
        """Migrate a plain-parquet destination to the key-bucketed
        layout (io/bucketed) so subsequent `sync` calls rewrite only the
        buckets each increment touches instead of the whole destination.
        Every merge publishes all its touched buckets with one manifest
        pointer flip, so readers never see a cross-bucket mix (read via
        `io.bucketed.read_bucketed`). ``atomic`` is kept for existing
        callers: the manifest layout is the only one, and False raises."""
        from fastetl_spark.io.bucketed import bucketize

        if not atomic:
            raise ValueError(
                "bucketize writes the manifest (atomic) layout only; "
                "atomic=False is not supported"
            )
        bucketize(self.spark, path, keys, n_buckets)

    def ingest_new_files(self, src_dir: str, dest_path: str,
                         manifest_path: str) -> list[str]:
        """Manifest-committed incremental file ingestion (io/manifest)."""
        from fastetl_spark.io.manifest import ingest_new_files

        return ingest_new_files(self.spark, src_dir, dest_path, manifest_path)

    def generations(self, path: str) -> list[int]:
        """Committed manifest generations of a v2 bucketed destination
        (ascending); the ones inside the GC retention window can be
        read with read_at or rolled back to."""
        from fastetl_spark.io.bucketed import list_generations

        return list_generations(self.spark, path)

    def read_at(self, path: str, gen: int) -> DataFrame:
        """Time-travel read of a v2 bucketed destination at generation
        ``gen`` (must be inside the keep_gens retention window) —
        resolves that generation's manifest instead of the latest
        (gated by the `bucketed_time_travel` query)."""
        from fastetl_spark.io.bucketed import read_bucketed_at

        return read_bucketed_at(self.spark, path, gen)

    def vacuum(self, path: str) -> dict:
        """Clear what a crash leaves beside a destination
        (io/fsutil.vacuum_dest): a stale merge lock, the staging dirs of
        a first write, a fold and a bucketize, and an interrupted
        ``atomic_overwrite``'s staging and backup dirs. Returns
        ``{"dirs_removed": [...]}``. Never run concurrently with an
        in-flight merge on the same destination."""
        from fastetl_spark.io.fsutil import vacuum_dest

        return vacuum_dest(self.spark, path)


# --- operator-shaped wrappers (reference operator parity) ----------------


@dataclass
class DbToDbOperator:
    """Reference DbToDbOperator (db_to_db_operator.py): full or
    incremental replication between two locations."""

    source: dict
    destination: dict
    destination_truncate: bool = True
    is_incremental: bool = False
    key_column: str | None = None
    date_column: str | None = None
    load_log_path: str | None = None

    def execute(self, spark: SparkSession) -> int:
        engine = Engine(spark, self.load_log_path)
        if self.is_incremental:
            return engine.sync(
                self.source,
                self.destination,
                keys=[self.key_column],
                watermark_col=self.date_column or self.key_column,
            )
        return engine.full_copy(
            self.source, self.destination, truncate=self.destination_truncate
        )


@dataclass
class DbToCSVOperator:
    """Reference DbToCSVOperator (db_to_csv_operator.py:74-109): query ->
    CSV extract with column drops and char stripping."""

    source: dict
    csv_path: str
    columns_to_ignore: list[str] = field(default_factory=list)
    chars_to_strip: str | None = None
    sep: str = ","
    compression: str | None = None

    def execute(self, spark: SparkSession) -> int:
        from fastetl_spark.functions.cleaning import strip_chars

        engine = Engine(spark)
        df = engine.read(self.source)
        if self.columns_to_ignore:
            df = df.drop(*self.columns_to_ignore)
        if self.chars_to_strip:
            for c, dtype in df.dtypes:
                if dtype == "string":
                    df = df.withColumn(c, strip_chars(F.col(c), self.chars_to_strip))
        return write_counted(
            df, lambda d: write_csv(d, self.csv_path, sep=self.sep, compression=self.compression)
        )


@dataclass
class PatchworkOperator:
    """Reference patchwork pipeline (patchwork.py docstring): chain
    cleaners over a source, land consolidated parquet + QA parquet."""

    source: dict
    consolidated_path: str
    qa_path: str
    cleaners: list = field(default_factory=list)

    def execute(self, spark: SparkSession) -> tuple[int, int]:
        engine = Engine(spark)
        df = engine.read(self.source)
        cleaned, qa = engine.clean(df, self.cleaners)
        return (
            write_counted(cleaned, lambda d: d.write.mode("overwrite").parquet(self.consolidated_path)),
            write_counted(qa, lambda d: d.write.mode("overwrite").parquet(self.qa_path)),
        )
