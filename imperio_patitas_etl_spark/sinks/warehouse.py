"""Warehouse sink (K1-K7, SURVEY.md §2.2): the 4 warehouse tables as
managed parquet datasets with declared schemas and idempotent upsert.

The reference loads into BigQuery — streaming inserts (bigquery_client.py:
28-43), batched MERGE SQL (etl_service.py:252-293), DELETE+INSERT fallback
(:296-325), DELETE WHERE TRUE truncate (endpoints.py:29-32), and
ensure-table DDL (bigquery_client.py:58-133). Here the same operations are
DataFrame writes against a parquet directory layout:

- schemas are declared ``StructType``s (never inferred at the sink);
- ``upsert`` is one shuffle by the merge key (latest-wins over
  target ∪ source), then an atomic directory swap — the plain-parquet
  equivalent of a transactional MERGE;
- writes default to snappy parquet; at 100 TB the tables would be
  date-partitioned (``partition_cols``) so incremental upserts rewrite only
  the touched partitions and readers prune by date.

The atomic swap (``swap_dir``: write to ``_tmp``, then rename) mirrors
what a table format's commit protocol gives for free; it keeps readers
from ever observing a half-written table in plain-parquet mode.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imperio_patitas_etl_spark.operators.upsert import upsert_latest_wins

#: Warehouse schemas — exact mapping of bigquery_client.py:80-128
#: (INTEGER→long, STRING→string, FLOAT→double, TIMESTAMP→timestamp).
WAREHOUSE_SCHEMAS: dict[str, T.StructType] = {
    "cliente": T.StructType(
        [
            T.StructField("id_cliente", T.LongType(), nullable=False),
            T.StructField("nombre", T.StringType()),
            T.StructField("apellido", T.StringType()),
            T.StructField("rut", T.StringType()),
            T.StructField("email", T.StringType()),
            T.StructField("telefono", T.StringType()),
            T.StructField("direccion", T.StringType()),
            T.StructField("fecha_creacion", T.TimestampType()),
        ]
    ),
    "producto": T.StructType(
        [
            T.StructField("id_producto", T.LongType(), nullable=False),
            T.StructField("nombre", T.StringType()),
            T.StructField("descripcion", T.StringType()),
            T.StructField("codigo_sku", T.StringType()),
            T.StructField("codigo_barras", T.StringType()),
            T.StructField("controla_stock", T.IntegerType()),
            T.StructField("precio_neto", T.DoubleType()),
            T.StructField("costo_neto", T.DoubleType()),
            T.StructField("estado", T.IntegerType()),
            T.StructField("fecha_creacion", T.TimestampType()),
        ]
    ),
    "documento_venta": T.StructType(
        [
            T.StructField("id_documento", T.LongType(), nullable=False),
            T.StructField("id_cliente", T.LongType()),
            T.StructField("id_tipo_documento", T.LongType()),
            T.StructField("folio", T.LongType()),
            T.StructField("fecha_emision", T.TimestampType()),
            T.StructField("monto_neto", T.DoubleType()),
            T.StructField("monto_iva", T.DoubleType()),
            T.StructField("monto_total", T.DoubleType()),
            T.StructField("fecha_creacion", T.TimestampType()),
        ]
    ),
    "detalle_documento": T.StructType(
        [
            T.StructField("id_detalle", T.LongType(), nullable=False),
            T.StructField("id_documento", T.LongType()),
            T.StructField("id_producto", T.LongType()),
            T.StructField("cantidad", T.DoubleType()),
            T.StructField("precio_neto_unitario", T.DoubleType()),
            T.StructField("descuento_porcentual", T.DoubleType()),
            T.StructField("monto_total_linea", T.DoubleType()),
            T.StructField("fecha_creacion", T.TimestampType()),
        ]
    ),
}

#: Merge key per table (etl_service.py:358,400,451,488).
MERGE_KEYS = {
    "cliente": "id_cliente",
    "producto": "id_producto",
    "documento_venta": "id_documento",
    "detalle_documento": "id_detalle",
}

#: Column-subset MERGE updates: documento_venta updates only these on match
#: (etl_service.py:452-457); None ⇒ update all columns.
UPDATE_COLS: dict[str, list[str] | None] = {
    "cliente": None,
    "producto": None,
    "documento_venta": ["id_cliente", "monto_neto", "monto_iva", "monto_total"],
    "detalle_documento": None,
}


#: Date-partition layout for the fact tables (scale path): partition column
#: name → timestamp column it is derived from. Partition key MUST be stable
#: per merge key (a fact's emission date never moves partitions on update —
#: the standard date-partitioned-fact contract).
PARTITION_SPEC: dict[str, tuple[str, str]] = {
    "documento_venta": ("fecha_dia", "fecha_emision"),
    "detalle_documento": ("fecha_dia", "fecha_creacion"),
}


def swap_dir(tmp: str, final: str) -> None:
    """Replace directory ``final`` with the fully written ``tmp``.

    The live directory moves aside to ``<final>_prev`` and ``tmp`` is
    renamed in; if that rename raises, ``<final>_prev`` is renamed back
    before re-raising, so ``final`` holds the old or the new table. A
    ``<final>_prev`` left by a killed run is cleared first: ``os.rename``
    onto a non-empty directory fails, so it would block every later swap.
    """
    prev = final + "_prev"
    shutil.rmtree(prev, ignore_errors=True)
    if os.path.isdir(final):
        os.rename(final, prev)
    try:
        os.rename(tmp, final)
    except BaseException:
        if os.path.isdir(prev):
            os.rename(prev, final)
        raise
    shutil.rmtree(prev, ignore_errors=True)


class ParquetWarehouse:
    """The 4-table warehouse rooted at a directory, one parquet dataset per
    table. Whole-table rewrites (overwrite, truncate, compact and the
    unpartitioned upsert) commit through ``swap_dir``, so a reader sees
    either the old or the new table, never a partial write.

    With ``partitioned=True`` the fact tables are laid out as
    ``fecha_dia=YYYY-MM-DD/`` date partitions (PARTITION_SPEC) and upserts
    become PARTITION-SCOPED: only the dates present in the source are read,
    merged, and dynamically overwritten, so an incremental day rewrites one
    day's partitions, not the table. The dimension tables stay
    unpartitioned (they are small and broadcast)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partitioned: bool = False,
        merge_skip_unchanged: bool = False,
    ):
        self.spark = spark
        self.root = root
        self.partitioned = partitioned
        #: with merge_skip_unchanged=True the partition-scoped MERGE
        #: compares each touched partition's merged content against what
        #: is already on disk (order-insensitive multiset digest) and
        #: skips the dynamic-overwrite commit for partitions that are
        #: byte-equivalent — the dominant case on idempotent re-syncs,
        #: where the r17 A/B isolated the full re-sync wall to ~2,405
        #: per-partition commit overheads (SCALE.md §r18 candidate).
        #: Off by default: the compare adds one columnar re-read of the
        #: touched partitions to every merge, which only pays for itself
        #: when most merges are no-ops (periodic full re-syncs, replayed
        #: windows). A manifest table format gets the same skip from
        #: content-addressed data files; this is the plain-parquet
        #: equivalent.
        self.merge_skip_unchanged = merge_skip_unchanged
        os.makedirs(root, exist_ok=True)

    def _part_col(self, table: str) -> tuple[str, str] | None:
        return PARTITION_SPEC.get(table) if self.partitioned else None

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for _, _, files in os.walk(p):
            if any(f.endswith(".parquet") or f == "_SUCCESS" for f in files):
                return True
        return False

    # -- K6: DDL / ensure-table ------------------------------------------
    def ensure_table(self, table: str) -> None:
        """Create the table with its declared schema iff missing
        (bigquery_client.py:58-73)."""
        if not self.exists(table):
            empty = self.spark.createDataFrame([], self._storage_schema(table))
            w = empty.write.mode("overwrite")
            part = self._part_col(table)
            if part:
                w = w.partitionBy(part[0])
            w.parquet(self.path(table))

    def ensure_all(self) -> None:
        """Called at every sync start (etl_service.py:511,555,657)."""
        for t in WAREHOUSE_SCHEMAS:
            self.ensure_table(t)

    def _storage_schema(self, table: str) -> T.StructType:
        schema = WAREHOUSE_SCHEMAS[table]
        part = self._part_col(table)
        if part:
            schema = T.StructType(
                list(schema.fields) + [T.StructField(part[0], T.StringType())]
            )
        return schema

    def _with_part(self, table: str, df: DataFrame) -> DataFrame:
        part = self._part_col(table)
        if not part:
            return df
        name, ts_col = part
        return df.withColumn(name, F.date_format(F.col(ts_col), "yyyy-MM-dd"))

    def _raw_read(self, table: str) -> DataFrame:
        """Storage-layout read (includes the partition column if any)."""
        self.ensure_table(table)
        return self.spark.read.schema(self._storage_schema(table)).parquet(
            self.path(table)
        )

    def read(self, table: str) -> DataFrame:
        """Public-schema read — partition layout is an implementation
        detail, so the derived date column is dropped."""
        df = self._raw_read(table)
        part = self._part_col(table)
        return df.drop(part[0]) if part else df

    def read_window(self, table: str, start_date: str, end_date: str | None = None) -> DataFrame:
        """Incremental read: on a partitioned table the predicate lands on
        the partition column, so the scan LISTS only the matching date
        directories (partition pruning) — the 100 TB incremental path. On
        unpartitioned tables it degrades to a normal filter."""
        part = self._part_col(table)
        if part:
            df = self._raw_read(table)
            cond = F.col(part[0]) >= start_date
            if end_date:
                cond = cond & (F.col(part[0]) <= end_date)
            return df.filter(cond).drop(part[0])
        ts_col = PARTITION_SPEC.get(table, (None, None))[1]
        df = self.read(table)
        if ts_col is None:
            return df
        cond = F.col(ts_col) >= F.to_timestamp(F.lit(start_date))
        if end_date:
            cond = cond & (F.col(ts_col) < F.date_add(F.to_timestamp(F.lit(end_date)), 1))
        return df.filter(cond)

    def _conform(self, table: str, df: DataFrame) -> DataFrame:
        """Cast/reorder the incoming frame to the declared schema — the
        sink-side analog of the reference's fixed column lists in its MERGE
        builders (etl_service.py:328-503)."""
        schema = WAREHOUSE_SCHEMAS[table]
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )

    def _swap_in(self, table: str, df: DataFrame) -> None:
        """Materialize ``df`` then atomically replace the table directory.

        The tmp-write is required even for plain overwrite: ``df`` may read
        from the very directory being replaced (upsert reads target), and
        Spark's lazy evaluation would otherwise clobber its own input.
        """
        tmp = self.path(table) + "_tmp"
        w = df.write.mode("overwrite")
        part = self._part_col(table)
        if part:
            w = w.partitionBy(part[0])
        w.parquet(tmp)
        swap_dir(tmp, self.path(table))

    def compact(self, table: str, max_records_per_file: int = 1_000_000) -> tuple[int, int]:
        """Rewrite the table into as few files as its size allows —
        the small-files maintenance every incremental parquet warehouse
        needs (each partition-scoped upsert / append leaves one file per
        task, and file count, not byte count, is what kills scan planning
        at scale). Returns (files_before, files_after). Goes through the
        same atomic swap as every other mutation; partitioned tables
        compact within partitions."""
        before = self._count_files(table)
        df = self._raw_read(table)
        part = self._part_col(table)
        # cluster rows so the writer emits one file per (partition) up to
        # the records cap: repartition on the partition column keeps each
        # date's rows in one task; unpartitioned tables collapse to one
        df = df.repartition(F.col(part[0])) if part else df.coalesce(1)
        prev = self.spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
        self.spark.conf.set(
            "spark.sql.files.maxRecordsPerFile", str(max_records_per_file)
        )
        try:
            self._swap_in(table, df)
        finally:
            self.spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
        return before, self._count_files(table)

    def _count_files(self, table: str) -> int:
        n = 0
        for _, _, files in os.walk(self.path(table)):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    # -- K1: append -------------------------------------------------------
    def append(self, table: str, df: DataFrame) -> None:
        """Streaming-insert analog (bigquery_client.py:28-43)."""
        self.ensure_table(table)
        out = self._with_part(table, self._conform(table, df))
        w = out.write.mode("append")
        part = self._part_col(table)
        if part:
            w = w.partitionBy(part[0])
        w.parquet(self.path(table))

    # -- K4: truncate / overwrite ----------------------------------------
    def overwrite(self, table: str, df: DataFrame) -> None:
        self._swap_in(table, self._with_part(table, self._conform(table, df)))

    def truncate(self, table: str) -> None:
        """DELETE ... WHERE TRUE (endpoints.py:29-32)."""
        empty = self.spark.createDataFrame([], self._storage_schema(table))
        self._swap_in(table, empty)

    def truncate_all(self) -> None:
        for t in WAREHOUSE_SCHEMAS:
            self.truncate(t)

    # -- K2 (+K3 fallback semantics): upsert ------------------------------
    def upsert(self, table: str, source: DataFrame) -> None:
        """MERGE ON key: matched → UPDATE (column subset per UPDATE_COLS),
        not matched → INSERT. Idempotent — re-running with the same source
        yields the same table (scheduler_endpoints.py:71-125).

        An unpartitioned table is merged latest-wins (operators/upsert.py)
        and swapped in whole. A partitioned table is merged partition by
        partition (``_upsert_partitioned``); with ``merge_skip_unchanged``
        the touched partitions whose merged content equals what is on disk
        skip their overwrite commit (``_changed_partition_values``).
        """
        self.ensure_table(table)
        key = MERGE_KEYS[table]
        src = self._conform(table, source)
        part = self._part_col(table)
        if not part:
            merged = upsert_latest_wins(self.read(table), src, key, UPDATE_COLS[table])
            self._swap_in(table, merged)
            return
        self._upsert_partitioned(table, src, key, part[0])

    def _upsert_partitioned(
        self, table: str, src: DataFrame, key: str, part_name: str
    ) -> None:
        """Partition-scoped MERGE: read only touched partitions, merge,
        dynamic-overwrite exactly those partitions. Requires the partition
        key to be stable per merge key (PARTITION_SPEC contract)."""
        src = self._with_part(table, src)
        days = [r[0] for r in src.select(part_name).distinct().collect()]
        # NULL partition values (NULL timestamp → __HIVE_DEFAULT_PARTITION__)
        # never match isin(); without the explicit isNull branch the
        # existing null-partition rows would be dropped when dynamic
        # overwrite replaces that directory with source-only rows
        cond = F.col(part_name).isin([d for d in days if d is not None])
        if any(d is None for d in days):
            cond = cond | F.col(part_name).isNull()
        target = self._raw_read(table).filter(cond)
        update_cols = UPDATE_COLS[table]
        merged = upsert_latest_wins(target, src, key, update_cols)
        # materialize: merged reads the same files dynamic overwrite replaces
        tmp = self.path(table) + "_stage"
        merged.write.mode("overwrite").parquet(tmp)
        staged = self.spark.read.schema(self._storage_schema(table)).parquet(tmp)
        if self.merge_skip_unchanged and self._has_partitions(table, part_name):
            changed = self._changed_partition_values(staged, target, part_name)
            if not changed:
                # every touched partition merged to exactly what is on
                # disk — the whole MERGE is a no-op; skip all commits
                shutil.rmtree(tmp, ignore_errors=True)
                return
            if len(changed) < len(days):
                # filter only when something is actually skippable — on
                # an all-changed merge the unfiltered staged write is
                # the exact default-path plan (no 10^3-literal isin in
                # the write stage)
                ccond = F.col(part_name).isin(
                    [d for d in changed if d is not None]
                )
                if any(d is None for d in changed):
                    ccond = ccond | F.col(part_name).isNull()
                staged = staged.filter(ccond)
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_name)
            .parquet(self.path(table))
        )
        shutil.rmtree(tmp, ignore_errors=True)

    def _has_partitions(self, table: str, part_name: str) -> bool:
        """Cheap directory-listing probe: a table with no
        ``<part_name>=`` directories (the first sync into a freshly
        ensured table) has nothing skippable, so the digest compare is
        bypassed entirely — no Spark job, no extra scan."""
        p = self.path(table)
        try:
            return any(d.startswith(part_name + "=") for d in os.listdir(p))
        except FileNotFoundError:
            return False

    def _changed_partition_values(
        self, staged: DataFrame, target: DataFrame, part_name: str
    ) -> list:
        """Touched-partition values whose merged content differs from the
        partition already on disk, by exact order-insensitive multiset
        digest: per partition, row count plus two independent sums of
        64-bit per-row hashes (``xxhash64`` over every storage column;
        the second sum salts the hash with a literal prefix). Equal
        digests ⇔ equal row multisets up to a ~2^-128 random-collision
        bound — the inputs are the warehouse's own rows, not
        attacker-chosen, so the non-cryptographic bound is the right
        trade for a JVM-side whole-stage-codegen compare (same rationale
        as ``table_checksum_blocks``, queries/analytics.py). Sum (not
        XOR) folding: XOR cancels duplicate rows pairwise, so a
        partition gaining two copies of an existing row would digest
        equal; a sum shifts by 2·h. Both sides collect one row per
        touched partition — bounded by the source's date span, never by
        table size — and the scans are columnar reads of exactly the
        touched partitions (partition-pruned on the target side).

        At 100 TB this turns an idempotent re-sync from write-bound to
        read-bound: the r17 compacted-layout A/B isolated the full
        re-sync wall to ~2,405 per-partition dynamic-overwrite commits
        whose staged content was byte-equivalent to the target
        (BASELINE.md §r17); a manifest-committing table format would
        skip those by content-addressed data files, and this is the
        plain-parquet equivalent."""
        cols = list(staged.columns)
        h1 = F.xxhash64(*cols).cast("decimal(38,0)")
        h2 = F.xxhash64(F.lit("resync-salt"), *cols).cast("decimal(38,0)")

        def digests(df: DataFrame) -> dict:
            rows = (
                df.groupBy(part_name)
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum(h1).alias("s1"),
                    F.sum(h2).alias("s2"),
                )
                .collect()
            )
            return {r[part_name]: (r["cnt"], r["s1"], r["s2"]) for r in rows}

        a = digests(staged)
        b = digests(target.select(*cols))
        return [p for p in set(a) | set(b) if a.get(p) != b.get(p)]

    # -- K5: full-refresh export (Sheets analog) --------------------------
    def export_stringified(self, table: str) -> list[list[str]]:
        """Sheets mirror: header row + every cell stringified with '' for
        NULL (sheets_sync.py:24-47). Driver-side egress — only sane for
        small dims; errors here must stay non-fatal to the sync
        (etl_service.py:737-741), which is the caller's contract."""
        df = self.read(table)
        header = list(df.columns)
        body = [
            ["" if v is None else str(v) for v in row]
            for row in df.collect()
        ]
        return [header] + body

    # -- K7: raw SQL ------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Run SQL against the warehouse tables registered as temp views."""
        for t in WAREHOUSE_SCHEMAS:
            self.read(t).createOrReplaceTempView(t)
        return self.spark.sql(query)
