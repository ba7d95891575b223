"""User-facing API: the Engine facade and operator-shaped wrappers.

A reference user drives fastETL through Airflow operators
(DbToDbOperator, DbToCSVOperator — reference
fastetl/operators/db_to_db_operator.py:157-181, db_to_csv_operator.py:74-109)
that are thin shells over `custom_functions`. The same shape here:
operator classes carry configuration and delegate to the engine;
no Airflow dependency (hook them into any orchestrator — an Airflow
PythonOperator calls `.execute(spark)`).

Sources/destinations are dicts:
    {"path": "/data/x.parquet"}                      parquet
    {"path": "...", "format": "csv", "options": {}}  csv
    {"jdbc": {...jdbc_scan_options kwargs...}}       database table/query

`Engine.sync` (the incremental replication) reads any source but
merges into one destination layout only: a bucketed parquet root
(io/bucketed), which its first sync creates and `Engine.read` reads.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fastetl_spark.io.readers import read_jdbc
from fastetl_spark.io.writers import select_intersection, write_csv
from fastetl_spark.meta.load_info import LoadInfo
from fastetl_spark.plans.qa import CleaningPipeline


class Engine:
    """SparkSession-backed engine: read anything, write anything, sync,
    clean, passthrough SQL (the reference's whole operator surface)."""

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
        as every sync destination, reads through ``read_bucketed``."""
        if "jdbc" in source:
            return read_jdbc(self.spark, **source["jdbc"])
        fmt = source.get("format", "parquet")
        if fmt == "parquet":
            from fastetl_spark.io.bucketed import is_bucketed_root, read_bucketed

            if is_bucketed_root(self.spark, source["path"]):
                return read_bucketed(self.spark, source["path"])
        reader = self.spark.read.format(fmt).options(**source.get("options", {}))
        if fmt == "csv":
            reader = reader.option("header", "true")
        return reader.load(source["path"])

    def write(self, df: DataFrame, dest: dict, mode: str = "overwrite") -> None:
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
        # The load-log row count rides on the write itself via observe():
        # a second df.count() would be a second full source scan.
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        self.write(df, dest, mode="overwrite" if truncate else "append")
        n = int(obs.get["n_rows"])
        if self.load_info:
            self.load_info.save(table_name or dest.get("path", ""), "full" if truncate else "append", n)
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
        from fastetl_spark.session import job_phase

        if "jdbc" in dest or dest.get("format", "parquet") != "parquet":
            kind = "a JDBC table" if "jdbc" in dest else f"a {dest['format']} destination"
            raise ValueError(
                f"sync merges into bucketed parquet roots only, not into {kind}; "
                "JDBC merge waits on ROADMAP item 3 (JDBC destinations)"
            )
        path = dest["path"]
        spec = merge_dest_spec(self.spark, path, keys)
        wm = None
        if spec is not None:
            wm = manifest_watermark(read_manifest(self.spark, path))
            if wm is None:
                with job_phase(self.spark, "sync", "watermark"):
                    if self.watermark_store is not None:
                        wm = self.watermark_store.get(table_name or path)
                    if wm is None:
                        dest_df = read_bucketed(self.spark, path)
                        wm = dest_df.agg(F.max(watermark_col)).first()[0]
        inc = self.read(source)
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
        return self.spark.createDataFrame(
            rows, "table string, rows_merged long, status string, error string"
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

    def zorder_write(
        self, df: DataFrame, path: str, cols: list[str], n_files: int = 16
    ) -> None:
        """Write parquet laid out on the Z-curve of `cols` (io/zorder):
        per-file min-max stats become selective on every listed column,
        so filters on any of them prune files at planning time."""
        from fastetl_spark.io.zorder import zorder_write

        zorder_write(df, path, cols, n_files=n_files)

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

    def build_ann_index(
        self, vectors: DataFrame, index_path: str, id_col: str, vec_col: str,
        n_cells: int | None = None,
    ) -> None:
        """Materialize the IVF ANN structure once (operators/ann_index):
        corpus partitioned by coarse cell + quantizer metadata; probes
        then read nprobe/n_cells of the corpus."""
        from fastetl_spark.operators.ann_index import build_ivf_index
        from fastetl_spark.operators.similarity import IVF_K

        build_ivf_index(vectors, index_path, id_col, vec_col, n_cells or IVF_K)

    def search_ann(self, index_path: str, queries: DataFrame, k: int = 5,
                   nprobe: int | None = None) -> DataFrame:
        """Probe-only ANN search against a persisted IVF index."""
        from fastetl_spark.operators.ann_index import search_ivf_index
        from fastetl_spark.operators.similarity import IVF_NPROBE

        return search_ivf_index(
            self.spark, index_path, queries, k=k, nprobe=nprobe or IVF_NPROBE
        )

    def match_new_vectors(self, index_path: str, new_vecs: DataFrame,
                          threshold: float = 0.35) -> DataFrame:
        """Persistent SemDeDup matching: flag each new vector whose best
        same-cell corpus cosine clears `threshold`, scanning only the
        increment's assigned cell partitions. Keep the `is_new` rows,
        then `index_new_vectors` them — the embedding twin of
        match_new_documents/index_new_documents."""
        from fastetl_spark.operators.ann_index import match_semantic_index

        return match_semantic_index(self.spark, index_path, new_vecs, threshold)

    def index_new_vectors(self, index_path: str, new_vecs: DataFrame) -> None:
        """O(|increment|) IVF maintenance: assign with stored centroids,
        append to touched cells, auto-compact crept file counts."""
        from fastetl_spark.operators.ann_index import append_to_ivf_index

        append_to_ivf_index(new_vecs, index_path)

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

    def vacuum(self, path: str, keep_commit_markers: int = 1000) -> dict:
        """Maintenance sweep of a swap-published destination: drop
        stranded staging/backup dirs and trim old streaming commit
        markers (io/fsutil.vacuum_dest; also clears a stale merge lock's
        leftovers after a crash). Never run concurrently with an
        in-flight merge on the same destination."""
        from fastetl_spark.io.fsutil import vacuum_dest

        return vacuum_dest(self.spark, path, keep_commit_markers)

    def label_propagation(self, nodes: DataFrame, edges: DataFrame,
                          iterations: int = 3, converge: bool = False,
                          max_iterations: int = 50,
                          info: dict | None = None) -> DataFrame:
        """Deterministic synchronous label propagation over (src, dst)
        edges (operators/graph.label_propagation, gated by the
        `label_propagation_communities` query): (node, community) after
        a fixed iteration count, or — ``converge=True`` — after the
        first zero-change round OR a detected period-2 oscillation
        (sync LPA two-cycles on bipartite-ish structures; the
        higher-modularity side of the cycle is returned), with
        ``max_iterations`` as a safety cap. Pass ``info={}`` to learn
        HOW it stopped: converged / two_cycle / rounds — a capped run
        is not silently presented as convergence. The convergence
        scalars ride each round's materialize action via observe();
        PageRank's exchange profile otherwise."""
        from fastetl_spark.operators.graph import label_propagation

        return label_propagation(nodes, edges, iterations=iterations,
                                 converge=converge,
                                 max_iterations=max_iterations,
                                 info=info)

    def kcore(self, nodes: DataFrame, edges: DataFrame, k: int = 4,
              rounds: int | None = 4) -> DataFrame:
        """Peel toward the k-core (operators/graph.kcore_peel, gated by
        `kcore_membership` and — fixpoint form — `kcore_fixpoint`):
        surviving (node, deg) after `rounds` removals of degree<k
        nodes, or the true k-core with ``rounds=None`` (loop until a
        round removes nothing; the peel is monotone so the fixpoint
        always exists)."""
        from fastetl_spark.operators.graph import kcore_peel

        return kcore_peel(nodes, edges, k=k, rounds=rounds)

    def modularity(self, labels: DataFrame, edges: DataFrame) -> DataFrame:
        """Per-community exact Newman modularity terms of a partition
        (operators/graph.modularity_terms, gated by `lpa_modularity`):
        (community, within2, degree_sum, q_term); sum q_term for Q.
        Integer edge/degree sums, one rational IEEE shape per row."""
        from fastetl_spark.operators.graph import modularity_terms

        return modularity_terms(labels, edges)

    def pagerank(self, nodes: DataFrame, edges: DataFrame,
                 iterations: int = 3, exact: bool = True) -> DataFrame:
        """Damped PageRank over (src, dst) edges (operators/graph):
        exact=True uses source-ordered contribution folds (bit-exact,
        oracle-gated); exact=False is the groupBy-SUM throughput fold
        for billion-edge hub graphs (last-ulp difference only)."""
        from fastetl_spark.operators.graph import pagerank

        return pagerank(nodes, edges, iterations=iterations, exact=exact)

    def semantic_dedup(self, vectors: DataFrame, id_col: str, vec_col: str,
                       n_centroids: int = 16, threshold_pct: int = 35,
                       centroids: list | None = None) -> DataFrame:
        """SemDeDup keep/drop over an embedding table: coarse cells +
        in-cell exact-integer cosine (operators/curation2). Pass
        `centroids` (e.g. from similarity.ivf_train_centroids) in
        production; pair work is sum(cell²), so more centroids → smaller
        cells. Past a few hundred cells use build_ann_index +
        match_new_vectors instead (Arrow-batched assignment)."""
        from fastetl_spark.operators.curation2 import semantic_dedup

        return semantic_dedup(vectors, id_col, vec_col,
                              n_centroids=n_centroids,
                              threshold_pct=threshold_pct,
                              centroids=centroids)

    def chunk(self, df: DataFrame, text_col: str = "text",
              width: int = 200, stride: int = 150) -> DataFrame:
        """Overlapping fixed-width character chunks of `text_col`
        (operators/features.chunk_text) — shuffle-free generator
        fan-out; other columns are carried through."""
        from fastetl_spark.operators.features import chunk_text

        return chunk_text(df, text_col, width=width, stride=stride)

    def near_dup_pairs(self, docs: DataFrame, method: str = "jaccard") -> DataFrame:
        """Duplicate-pair generation over a (doc_id, text) frame, one
        dispatcher for the six pair families (all blocked/inverted-
        index designs — none does an n² pair join):

        - ``exact``       — normalized-fingerprint equality
        - ``jaccard``     — df-capped shingle Jaccard (exact verify)
        - ``containment`` — directed |A∩B|/|A| (sub-document dups)
        - ``cosine``      — df-capped shingle tf-cosine
        - ``minhash``     — MinHash+LSH banding, exact-Jaccard verified
        - ``simhash``     — SimHash Hamming<=3 via pigeonhole segments

        Column schemas differ per family (each carries its own
        evidence: jaccard/shared, cosine sim, hamming); (doc_a, doc_b)
        / (id_a, id_b) ordering is always smaller-id-first."""
        from fastetl_spark.operators import dedup
        from fastetl_spark.operators.curation2 import sparse_cosine_pairs

        dispatch = {
            "exact": dedup.exact_dup_pairs,
            "jaccard": dedup.ngram_jaccard_pairs,
            "containment": dedup.containment_pairs,
            "cosine": sparse_cosine_pairs,
            "minhash": dedup.minhash_lsh_pairs,
            "simhash": dedup.simhash_pairs,
        }
        if method not in dispatch:
            raise ValueError(
                f"unknown near-dup method {method!r}; one of {sorted(dispatch)}"
            )
        return dispatch[method](docs)

    def spatial_neighbors(self, pts: DataFrame, id_col: str = "user_id",
                          radius: int = 256) -> DataFrame:
        """All point pairs within `radius` over an (id, x, y) integer
        frame via grid binning (operators/spatial.grid_neighbor_pairs):
        one cell-key shuffle per side, pair work bounded by local
        density, exact BIGINT distances."""
        from fastetl_spark.operators.spatial import grid_neighbor_pairs

        return grid_neighbor_pairs(pts, id_col=id_col, r=radius)

    def bloom_prefilter(self, probe: DataFrame, probe_key: str,
                        build_keys: DataFrame, key_col: str) -> DataFrame:
        """Tag probe rows with Bloom membership of `build_keys`
        (operators/bloomjoin): broadcast bit-position lookups, no probe
        shuffle; false positives possible, false negatives never —
        filter on `bloom_pass` before an expensive join."""
        from fastetl_spark.operators.bloomjoin import bloom_prefilter

        return bloom_prefilter(probe, probe_key, build_keys, key_col)

    def join_view_delta(self, a_old: DataFrame, a_new: DataFrame,
                        b_old: DataFrame, b_new: DataFrame,
                        on: list[str]) -> DataFrame:
        """Maintenance delta of an inner-join view under insert-only
        increments (operators/ivm): dA><B0 + A0><dB + dA><dB with
        broadcast increments — O(|increment|) join work."""
        from fastetl_spark.operators.ivm import join_view_delta

        return join_view_delta(a_old, a_new, b_old, b_new, on)

    def distinct_view_delta(self, view_vals: DataFrame,
                            increment: DataFrame) -> DataFrame:
        """New members a DISTINCT view gains from `increment`
        (operators/ivm): distinct(increment) anti-joined on the view."""
        from fastetl_spark.operators.ivm import distinct_view_delta

        return distinct_view_delta(view_vals, increment)

    def bm25(self, docs: DataFrame, terms: tuple[str, ...],
             k: int = 20) -> DataFrame:
        """Top-k docs by BM25 (operators/retrieval.bm25_topk) over a
        (doc_id, text) frame: one tf/dl scan, one broadcast stats row,
        TakeOrdered top-k — no full sort, no UDFs."""
        from fastetl_spark.operators.retrieval import bm25_topk

        return bm25_topk(docs, terms=tuple(terms), k=k)

    def project_vectors(self, vectors: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        k_dims: int = 16) -> DataFrame:
        """Johnson-Lindenstrauss +-1 random projection to `k_dims`
        exact integer components (operators/vector_sketch.jl_project,
        gated by `jl_random_projection`): the dimensionality-reduction
        primitive before clustering/ANN at scale. One explode +
        broadcast weight table + map-side-combined groupBy."""
        from fastetl_spark.operators.vector_sketch import jl_project

        return jl_project(vectors, id_col=id_col, vec_col=vec_col,
                          k_dims=k_dims)

    def embedding_covariance(self, df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
        """Exact upper-triangle covariance + Pearson correlation over a
        vector column (operators/vector_sketch.embedding_cov, gated by
        `embedding_cov_matrix`): the PCA/whitening/ZCA training
        statistics — quantized-exact integer moments, DECIMAL(38)
        numerators, pinned divisions (sqrt only). d*(d+1)/2 output
        rows; one corpus scan + one vec_id-keyed Gram expansion."""
        from fastetl_spark.operators.vector_sketch import embedding_cov

        return embedding_cov(df, id_col=id_col, vec_col=vec_col)

    def retrieval_eval(self, ranked: DataFrame, qrels: DataFrame,
                       query_ids: DataFrame, k: int = 10) -> DataFrame:
        """Standard IR eval metrics at k over any ranking frame
        (query_id, doc_id, rank) and binary qrels (query_id, doc_id)
        (operators/retrieval.retrieval_eval, gated by
        `retrieval_eval_metrics`): per query n_relevant / hits@k /
        MRR@k / P@k / R@k / nDCG@k — nDCG with import-time-quantized
        integer log2 discounts, so every metric is exact integers
        through one pinned division. ``query_ids`` pins the output
        universe (queries with zero hits or zero relevant docs still
        report, as zeros). All joins keyed by query_id; the corpus
        never enters."""
        from fastetl_spark.operators.retrieval import retrieval_eval

        return retrieval_eval(ranked, qrels, query_ids, k=k)

    def bm25_search(self, docs: DataFrame, queries: DataFrame,
                    k: int = 10,
                    broadcast_queries: bool = True) -> DataFrame:
        """BM25 top-k docs PER QUERY for an arbitrary (query_id, terms
        array<string>) query frame (operators/retrieval.
        bm25_query_scores): inverted-index join — one posting-list scan
        of the corpus, fixed-point exact per-(query, doc) totals,
        per-query ranked output. The arbitrary-workload form of `bm25`
        (which is fixed-term and O(#terms) in plan width). Queries are
        broadcast by default (human-sized workloads); pass
        ``broadcast_queries=False`` for machine-generated 10k+ query
        sets — the joins stay keyed equi-joins on term (PERF.md #39)."""
        from fastetl_spark.operators.retrieval import bm25_query_scores

        return bm25_query_scores(docs, queries, k=k,
                                 broadcast_queries=broadcast_queries)

    def train_bpe(self, docs: DataFrame, iterations: int = 3,
                  top: int = 30) -> DataFrame:
        """Run `iterations` exact BPE merges over the corpus vocabulary
        (operators/features.bpe_merge_loop_tokens, gated by the
        `bpe_merge_loop` query) and return the top token frequencies
        after training. Per iteration: one vocabulary-sized pair count
        with a deterministic argmax (a single collected row — the model
        step), one literal string-replace merge application."""
        from fastetl_spark.operators.features import bpe_merge_loop_tokens

        return bpe_merge_loop_tokens(docs, iterations=iterations, top=top)

    def lm_score(self, docs: DataFrame) -> DataFrame:
        """Per-doc stupid-backoff trigram LM score against the corpus's
        own n-gram counts (operators/retrieval.stupid_backoff_scores) —
        the CCNet-style fluency ranking for corpus filtering. Exact
        fixed-point accumulation; keyed equi-joins only."""
        from fastetl_spark.operators.retrieval import stupid_backoff_scores

        return stupid_backoff_scores(docs)

    def drift_report(self, df: DataFrame, key_col: str = "event_type",
                     value_col: str = "value", order_col: str = "event_id",
                     us_col: str = "us", exact: bool = False,
                     accuracy: int | None = None) -> DataFrame:
        """Two-halves value-drift report per key over any (key, value,
        order, epoch-micros) frame (operators/analytics.drift_bins,
        gated by `value_drift_bins`): reference-half decile bins,
        Laplace-smoothed per-bin triangular-discrimination terms — the
        pre-publish distribution check a feature pipeline runs on a new
        window. A key first seen after the midpoint reports all its
        rows in bin 0 (maximal drift). Sum drift_term per key
        downstream; 0.1/0.25 are PSI's usual alert bands.

        The DEFAULT is the scale path (``exact=False``): decile
        boundaries from percentile_approx sketches in a plain groupBy —
        no per-key sort window, so a low-cardinality key column cannot
        degrade to a skewed single-partition sort at 100 TB. With the
        default ``accuracy=None`` a covering accuracy is derived from
        the reference half, making the result BIT-EQUAL to
        ``exact=True`` (equivalence-tested) while keeping the scalable
        plan; the derivation costs one EAGER scalar job per call (an
        extra input scan — reuse ``Engine.covering_accuracy`` when the
        frame feeds several sketch calls) and clamps at Spark's 2^31-1
        accuracy cap (keys past ~2^30 reference rows get the sketch
        estimate, rank error < n/2^31). Pass an explicit lower
        ``accuracy`` to trade rank error <= n/accuracy for sketch size
        at extreme scale; ``exact=True`` keeps the rank-window form
        the gated query pins."""
        from fastetl_spark.operators.analytics import drift_bins

        return drift_bins(df, key_col=key_col, value_col=value_col,
                          order_col=order_col, us_col=us_col,
                          exact=exact, accuracy=accuracy)

    def monitor_drift(self, df: DataFrame, bounds: DataFrame,
                      key_col: str = "event_type",
                      value_col: str = "value") -> DataFrame:
        """Bin a live frame (batch OR stream) against FROZEN per-key
        boundary arrays (gated by `streaming_drift_monitor`): broadcast
        join + bin_by_bounds + per-(key, bin) counts — the deployment
        half of drift_report, stateless and windowless so it runs
        per micro-batch at stream speed. ``bounds`` is (key, bounds
        array<double>) from operators/quantiles.group_quantile_bounds
        over the reference slice. drift_bins semantics hold: NULL
        values AND NULL keys are not observations (drift_bins drops
        both — a NULL key must not survive into a NULL group through
        the left join), and a key the reference never saw
        (absent from ``bounds`` — the strongest drift signal) still
        reports, every row in bin 0, instead of vanishing through an
        inner join."""
        from fastetl_spark.operators.quantiles import bin_by_bounds

        return (
            df.filter(
                F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
            )
            .join(F.broadcast(bounds), key_col, "left")
            .select(
                key_col,
                F.coalesce(
                    bin_by_bounds(F.col(value_col), F.col("bounds")),
                    F.lit(0),
                ).alias("bin"),
            )
            .groupBy(key_col, "bin")
            .agg(F.count(F.lit(1)).alias("n_cur"))
        )

    def quantize_vectors(self, vectors: DataFrame,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
        """SQ8 scalar quantization (operators/vector_sketch.sq8_codes,
        gated by `embedding_sq8_codes`): every (vector, dim) mapped to
        one byte against per-dimension corpus bounds — FAISS-style 4x
        embedding compression before IVF/PQ, exact integers end to end.
        Returns (id, dim, code, min_q, max_q); dequantize with
        (min_q + code*(max_q-min_q)/255)/1e6."""
        from fastetl_spark.operators.vector_sketch import sq8_codes

        return sq8_codes(vectors, id_col=id_col, vec_col=vec_col)

    def rrf_fuse(self, a: DataFrame, b: DataFrame,
                 k: int = 60) -> DataFrame:
        """Reciprocal-rank fusion of two (query_id, doc_id, rank)
        rankings (operators/retrieval.rrf_fuse, gated end-to-end by
        `rrf_hybrid_retrieval` over BM25 + cosine) — the standard
        hybrid-search combiner: rrf_score = sum of 1/(k + rank) over
        the systems listing the doc, deterministic fused_rank per
        query. Feed it Engine.bm25_search ranks and a dense top-k
        (cosine/IVF) for lexical+semantic RAG retrieval."""
        from fastetl_spark.operators.retrieval import rrf_fuse

        return rrf_fuse(a, b, k=k)

    def media_profile(self, media: DataFrame, id_col: str = "doc_id",
                      payload_col: str = "payload",
                      arrow: bool = False) -> DataFrame:
        """Format detection (real magic bytes: PNG/JPEG/GIF/RIFF-WAVE)
        + exact byte-statistics profile over an opaque binary column
        (operators/multimodal.payload_byte_profile, gated by
        `binary_format_profile`): (id, format, n_bytes, distinct_bytes,
        top_byte, top_byte_count, byte_collision_prob) — the
        corruption/mislabel screen to run BEFORE any decode.
        ``arrow=True`` switches to the mapInPandas twin (one numpy
        bincount per payload, bytes never become rows — the 100 TB
        shape; bit-identical, equality-tested)."""
        from fastetl_spark.operators.multimodal import (
            payload_byte_profile,
            payload_byte_profile_pandas,
        )

        fn = payload_byte_profile_pandas if arrow else payload_byte_profile
        return fn(media, id_col=id_col, payload_col=payload_col)

    def audio_stats(self, media: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "payload",
                    arrow: bool = True) -> DataFrame:
        """Exact per-(doc, channel) PCM sample statistics decoded from
        WAV payloads (operators/multimodal, gated by
        `wav_sample_stats`): (doc_id, channel, n_samples, min_s, max_s,
        sum_s, mean_s). DEFAULT ``arrow=True`` — the mapInPandas/numpy
        twin (one frombuffer pass per payload, <= channels rows out per
        doc) IS the production path at real audio sizes; the JVM
        explode twin it is equality-tested against keeps the full
        payload in every per-sample row and exists to be gateable, not
        to scale."""
        from fastetl_spark.operators.multimodal import (
            wav_sample_stats,
            wav_sample_stats_pandas,
        )

        fn = wav_sample_stats_pandas if arrow else wav_sample_stats
        return fn(media, id_col=id_col, payload_col=payload_col)

    def audio_qa_report(self, media: DataFrame, id_col: str = "doc_id",
                        payload_col: str = "payload", arrow: bool = True,
                        dc_num: int = 1, dc_den: int = 20) -> DataFrame:
        """Per-(doc, channel) audio defect screen (operators/
        multimodal.audio_qa_report, gated by `wav_audio_qa`): clip
        (sample at the bit-depth's integer full-scale bound), dc_offset
        (|mean| > full_scale * dc_num/dc_den, exact integers) and dead
        (constant channel) — the pre-decode QA pass an audio corpus
        runs at ingest. ``arrow=True`` (default) derives the stats via
        the numpy twin — the 100 TB plan."""
        from fastetl_spark.operators.multimodal import audio_qa_report

        return audio_qa_report(media, id_col=id_col,
                               payload_col=payload_col, arrow=arrow,
                               dc_num=dc_num, dc_den=dc_den)

    def image_dims(self, media: DataFrame, id_col: str = "doc_id",
                   payload_col: str = "payload",
                   deep: bool = False) -> DataFrame:
        """Width/height straight from image container headers — PNG
        IHDR, GIF87a/89a screen descriptor, JPEG SOF0/SOF2 behind a
        bounded marker walk (operators/multimodal.image_dims_info,
        gated by `image_dims_parse`): (id, format, width, height),
        honest NULL dims when no SOF within the hop/prefix bounds.
        JVM-side hex arithmetic over a fixed-size payload prefix.

        ``deep=True`` routes the Arrow twin instead
        (multimodal.image_dims_pandas, equality-tested against the JVM
        walk on the gated fixture): an UNBOUNDED marker walk inside
        mapInPandas that additionally recovers JPEGs whose SOF sits
        past the hop/prefix bounds — THE path for EXIF-laden real
        corpora, where kilobytes of APP1 metadata precede the SOF
        (same facade convention as audio_stats/audio_qa_report's
        ``arrow=`` routing)."""
        from fastetl_spark.operators.multimodal import (
            image_dims_info,
            image_dims_pandas,
        )

        fn = image_dims_pandas if deep else image_dims_info
        return fn(media, id_col=id_col, payload_col=payload_col)

    def psi_terms(self, counts: DataFrame) -> DataFrame:
        """Turn a COMPLETE per-(event_type, bin) count grid (n_ref,
        n_cur — zeros included) into Laplace-smoothed triangular-
        discrimination drift terms (operators/analytics.
        psi_terms_from_counts — the shared tail gated by BOTH
        `value_drift_bins` and, live from a stream's foreachBatch,
        `streaming_drift_psi`). Compose with monitor_drift's counts +
        a frozen reference grid to alert on the exact gated statistic;
        sum drift_term per key for the scalar PSI."""
        from fastetl_spark.operators.analytics import psi_terms_from_counts

        return psi_terms_from_counts(counts)

    def contamination_report(self, train: DataFrame, eval_set: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text", n: int = 8,
                             threshold: int = 1) -> DataFrame:
        """Benchmark decontamination (operators/curation.
        ngram_contamination, gated by `benchmark_ngram_contamination`):
        per training doc, distinct n-gram overlap with the eval set +
        contaminated flag — the GPT-3/Dolma pre-export leakage check.
        Anti-join the flagged ids to decontaminate."""
        from fastetl_spark.operators.curation import ngram_contamination

        return ngram_contamination(train, eval_set, id_col=id_col,
                                   text_col=text_col, n=n,
                                   threshold=threshold)

    def covering_accuracy(self, df: DataFrame, key_col: str,
                          value_col: str) -> int:
        """Derive ONCE the percentile_approx accuracy that makes the
        sketch paths of drift_report / winsorize_report /
        quantile_normalize bit-equal to their exact forms
        (operators/quantiles.covering_accuracy_for: 2*max_group+1,
        clamped to Spark's 2^31-1 cap). This is one eager per-key
        count job — when several sketch calls share a frame, call this
        once and pass the result as ``accuracy=`` to each instead of
        letting every call re-derive (``accuracy=None`` re-scans the
        input per call)."""
        from fastetl_spark.operators.quantiles import covering_accuracy_for

        base = df.filter(F.col(value_col).isNotNull()).filter(
            F.col(key_col).isNotNull()
        )
        return covering_accuracy_for(base, key_col)

    def winsorize_report(self, df: DataFrame, key_col: str,
                         value_col: str, order_col: str,
                         lo_pct: int = 5, hi_pct: int = 95,
                         exact: bool = False,
                         accuracy: int | None = None) -> DataFrame:
        """Per-key winsorization bounds + clamp counts
        (operators/curation2.winsorize_bounds, gated by
        `winsorize_event_values`): (key, n, lo, hi, n_below, n_above)
        at the p{lo_pct}/p{hi_pct} disc order statistics. The DEFAULT
        is the scale path (``exact=False`` — percentile_approx
        sketches, no per-key rank window to skew on low-cardinality
        keys at 100 TB) at a DERIVED covering accuracy
        (``accuracy=None``), which is bit-equal to ``exact=True``
        (equivalence-tested). NOTE: the ``accuracy=None`` derivation
        runs one EAGER per-key count job at call time (an extra input
        scan even if the result is never collected) — when the same
        frame feeds several sketch calls, derive once with
        ``Engine.covering_accuracy`` and pass it explicitly; or pass a
        lower ``accuracy`` to cap sketch size, or ``exact=True`` for
        the gated rank-window form."""
        from fastetl_spark.operators.curation2 import winsorize_bounds

        return winsorize_bounds(df, key_col, value_col, order_col,
                                lo_pct=lo_pct, hi_pct=hi_pct,
                                exact=exact, accuracy=accuracy)

    def quantile_normalize(self, df: DataFrame, key_col: str,
                           value_col: str, order_col: str,
                           levels: int = 128, exact: bool = True,
                           accuracy: int | None = None) -> DataFrame:
        """Quantile-mapping normalization
        (operators/curation2.quantile_map_values, gated by
        `quantile_mapping_normalize`): each value mapped to the global
        distribution's value at its per-key relative rank through a
        ``levels+1``-point exact-DISC grid (distributed rank selection
        on rank_quantiles — same elements percentile_disc would pick,
        without its gathered-multiset merge buffer). The DEFAULT stays
        ``exact=True`` (the gated query's rank-window form): unlike
        drift_report/winsorize_report, whose sketch modes are bit-equal
        at covering accuracy, here the two LEVEL CONVENTIONS differ
        structurally — # boundaries reached vs (r-1)*L div (n-1) — so
        ``exact=False`` agrees with exact only to within one level on
        distinct values (tested), and silently flipping the default
        would change existing callers' outputs. Opt into
        ``exact=False`` at scale when per-key rank windows would skew
        on low-cardinality keys and one-level drift is acceptable;
        ``accuracy=None`` then derives a covering accuracy via one
        EAGER per-key count job (reuse ``Engine.covering_accuracy``
        across calls on the same frame)."""
        from fastetl_spark.operators.curation2 import quantile_map_values

        return quantile_map_values(df, key_col, value_col, order_col,
                                   levels=levels, exact=exact,
                                   accuracy=accuracy)

    def bootstrap_means(self, df: DataFrame, key_col: str, id_col: str,
                        qv_col: str, reps: int = 32) -> DataFrame:
        """Poisson-bootstrap replicate means per key over an integer-
        quantized value column (operators/analytics.
        poisson_bootstrap_means, gated by `bootstrap_mean_ci`):
        distribution-free uncertainty with NO resampling shuffle — the
        bootstrap form that scales to a 100 TB fact table. Take
        nearest-rank quantiles of boot_mean across reps for the CI."""
        from fastetl_spark.operators.analytics import poisson_bootstrap_means

        return poisson_bootstrap_means(df, key_col, id_col, qv_col, reps=reps)

    def heavy_hitters(self, df: DataFrame, key_col: str,
                      k: int = 64, topk: int = 20) -> DataFrame:
        """Misra-Gries frequent items (operators/heavy_hitters): k
        counters per partition, summary-sized merge shuffle; returns
        (token, est_count, err_bound, rank) with est <= true <= est +
        err_bound. Set k above the expected distinct count to get exact
        results from the same pipeline."""
        from fastetl_spark.operators.heavy_hitters import misra_gries_topk

        tokens = df.select(F.col(key_col).cast("string").alias("token"))
        return misra_gries_topk(tokens, k, topk=topk)

    def vector_simhash(self, vectors: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       dim: int = 64) -> DataFrame:
        """32-bit sign sketch per vector (operators/vector_sketch):
        md5-parity hyperplanes, exact integer dot products — one BIGINT
        per embedding for Hamming-space dedup."""
        from fastetl_spark.operators.vector_sketch import simhash_signatures

        return simhash_signatures(vectors, id_col=id_col, vec_col=vec_col,
                                  dim=dim)

    def vector_neardup_pairs(self, vectors: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding", dim: int = 64,
                             max_hamming: int = 6) -> DataFrame:
        """Hamming near-dup candidate pairs over embeddings via banded
        sign sketches (operators/vector_sketch.simhash_hamming_pairs):
        LSH candidates-then-verify, never all-pairs."""
        from fastetl_spark.operators.vector_sketch import (
            simhash_hamming_pairs,
            simhash_signatures,
        )

        sigs = simhash_signatures(vectors, id_col=id_col, vec_col=vec_col,
                                  dim=dim)
        return simhash_hamming_pairs(sigs, max_hamming=max_hamming)

    def neighbor_similarity(self, und_edges: DataFrame,
                            degree_cap: int = 64,
                            topk: int = 100) -> DataFrame:
        """Top-k node pairs by Jaccard of undirected neighbor sets
        (operators/graph.neighbor_jaccard_pairs) over a (u, v) edge
        frame with u < v; candidate fan-out bounded by degree_cap."""
        from fastetl_spark.operators.graph import neighbor_jaccard_pairs

        return neighbor_jaccard_pairs(und_edges, degree_cap=degree_cap,
                                      topk=topk)

    def kmeans(self, vectors: DataFrame, id_col: str, vec_col: str,
               k: int = 8, iterations: int = 2) -> DataFrame:
        """Exact-integer Lloyd k-means (operators/kmeans): quantized
        vectors, BIGINT L2 argmin assignment, floor-div centroid
        updates — the oracle-gated trainer. Returns (cell, dim, c_val,
        n_points) centroid rows; per iteration one map-side-combined
        shuffle, only k*d partial sums reach the driver. For fast
        float training on a sample use similarity.ivf_train_centroids."""
        from fastetl_spark.operators.kmeans import lloyd_kmeans_exact

        return lloyd_kmeans_exact(vectors, id_col, vec_col,
                                  k=k, iterations=iterations)

    def dup_spans(self, docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 8) -> DataFrame:
        """Maximal repeated >=k-token spans corpus-wide
        (operators/curation.maximal_dup_spans) — suffix-array-style
        span dedup: fingerprinted rolling windows, occurrence count,
        gaps-and-islands merge; linear in total windows, never
        all-pairs. Rows: (doc_id, start_tok, end_tok, span_len,
        n_windows), 1-based token positions."""
        from fastetl_spark.operators.curation import maximal_dup_spans

        return maximal_dup_spans(docs, id_col=id_col,
                                 text_col=text_col, k=k)

    def pack_sequences(self, docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       capacity: int = 256) -> DataFrame:
        """Concat-and-chunk training-sequence layout
        (operators/packing.pack_sequences): documents in id order cut
        every `capacity` tokens; (doc_id, seq_id, start_in_seq,
        doc_tok_start, frag_len) rows for a shard writer. Offsets via
        a hierarchical prefix sum — no single-task global sort."""
        from fastetl_spark.operators.packing import pack_sequences

        return pack_sequences(docs, id_col=id_col, text_col=text_col,
                              capacity=capacity)

    def interval_join(self, points: DataFrame, intervals: DataFrame,
                      on: list[str], point_us: str, start_us: str,
                      end_us: str, grain_us: int) -> DataFrame:
        """Big-to-big point-in-interval join (operators/asof.
        interval_join_bucketed): intervals explode into covered time
        grains, points equi-join on (keys, grain), exact range filter —
        the bounded-candidates shape of the spatial grid join applied to
        time; no nested loop, no broadcast requirement. Pick `grain_us`
        >= the typical interval length (explode stays <=2 rows)."""
        from fastetl_spark.operators.asof import interval_join_bucketed

        return interval_join_bucketed(points, intervals, on=on,
                                      point_us=point_us, start_us=start_us,
                                      end_us=end_us, grain_us=grain_us)

    def resolve_entities(self, pairs: DataFrame, nodes: DataFrame,
                         a_col: str, b_col: str, id_col: str) -> DataFrame:
        """Transitive entity clusters from candidate pairs
        (dedup.connected_components, generic over node type): each id
        mapped to the smallest reachable id as `component`."""
        from fastetl_spark.operators.dedup import connected_components

        return connected_components(
            pairs, nodes=nodes, a_col=a_col, b_col=b_col, id_col=id_col
        )

    def auc_report(self, df: DataFrame, label_col: str, score_col: str,
                   binned: bool = False,
                   num_bins: int = 16384) -> DataFrame:
        """One-vs-rest AUC per label (operators/evaluation.auc_by_class,
        gated by `auc_score_eval`): exact Mann-Whitney pair counts via
        the distributed rank primitive — no single-partition sort, no
        pairwise join.  The exact path's support frames scale with
        |distinct scores|; for CONTINUOUS scores at 100 TB pass
        ``binned=True`` (fixed-width bins, every frame bounded at
        ``num_bins`` rows per label; within-bin distinct scores count
        as ties, and binned == exact bit-for-bit whenever the bins
        cover the distinct values — equality-tested).  Runs 2-3 bounded
        eager jobs at call time (split points + bucket offsets)."""
        from fastetl_spark.operators.evaluation import auc_binned, auc_by_class

        if binned:
            return auc_binned(df, label_col, score_col, num_bins=num_bins)
        return auc_by_class(df, label_col, score_col)

    def ks_report(self, df: DataFrame, label_col: str, value_col: str,
                  binned: bool = False, num_bins: int = 16384) -> DataFrame:
        """Two-sample KS per label vs rest (operators/evaluation.
        ks_from_counts, gated by `ks_two_sample`): exact D over the
        merged value support via the distributed rank primitive.  For
        CONTINUOUS values at 100 TB pass ``binned=True`` — the merged
        support is bounded at ``num_bins`` rows and the binned D
        lower-bounds the exact D by at most the largest within-bin CDF
        movement (exact when the bins cover the distinct values —
        equality-tested)."""
        from fastetl_spark.operators.evaluation import ks_binned, ks_from_counts

        base = df.filter(
            F.col(value_col).isNotNull() & ~F.isnan(value_col)
        )
        if binned:
            return ks_binned(base, label_col, value_col, num_bins=num_bins)
        vt = base.groupBy(label_col, value_col).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        return ks_from_counts(vt, label_col, value_col)

    def exact_quantiles(self, df: DataFrame, value_col: str,
                        probs: list[tuple[int, int]] | None = None,
                        key_col: str | None = None) -> DataFrame:
        """Exact DISC quantiles at rational probs by distributed rank
        selection (operators/rank_quantiles, gated by
        `exact_value_quantiles` / `exact_group_quantiles`): distinct-
        value compression + bucketed cumulative counts, value at rank
        k = ceil(num*n/den) as filter+min — no gathered value lists
        (percentile_disc's ceiling) and no single-partition sort.
        With ``key_col`` the cum partitions by (key, bucket); keys
        must be dictionary-bounded.  2 bounded eager jobs per call."""
        from fastetl_spark.operators.rank_quantiles import (
            _PROBS,
            exact_quantiles_by_key,
            exact_quantiles_global,
        )

        pr = probs or _PROBS
        if key_col is None:
            return exact_quantiles_global(df, value_col, probs=pr)
        return exact_quantiles_by_key(df, key_col, value_col, probs=pr)

    def iqr_outliers(self, df: DataFrame, key_col: str, value_col: str,
                     whisker: float = 1.5) -> DataFrame:
        """Tukey-fence outlier counts per key on the distributed exact
        quartiles (gated by `iqr_outlier_screen`): two passes, fences
        broadcast, zero value gathering — the scale twin of
        robust_outlier_events' MAD screen."""
        from fastetl_spark.operators.rank_quantiles import iqr_outlier_counts

        return iqr_outlier_counts(df, key_col, value_col, whisker=whisker)


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
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from fastetl_spark.functions.cleaning import strip_chars

        engine = Engine(spark)
        df = engine.read(self.source)
        if self.columns_to_ignore:
            df = df.drop(*self.columns_to_ignore)
        if self.chars_to_strip:
            for c, dtype in df.dtypes:
                if dtype == "string":
                    df = df.withColumn(c, strip_chars(F.col(c), self.chars_to_strip))
        write_csv(df, self.csv_path, sep=self.sep, compression=self.compression)
        return df.count()


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
        cleaned.write.mode("overwrite").parquet(self.consolidated_path)
        qa.write.mode("overwrite").parquet(self.qa_path)
        return (
            spark.read.parquet(self.consolidated_path).count(),
            spark.read.parquet(self.qa_path).count(),
        )
