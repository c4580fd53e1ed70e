"""Warehouse sink (K1-K7, SURVEY.md §2.2): the 4 warehouse tables as
managed parquet datasets with declared schemas and idempotent upsert.

The reference loads into BigQuery — streaming inserts (bigquery_client.py:
28-43), batched MERGE SQL (etl_service.py:252-293), DELETE+INSERT fallback
(:296-325), DELETE WHERE TRUE truncate (endpoints.py:29-32), and
ensure-table DDL (bigquery_client.py:58-133). Here the same operations are
DataFrame writes against a parquet directory layout:

- schemas are declared ``StructType``s (never inferred at the sink);
- ``upsert`` on an unpartitioned table is one shuffle by the merge key
  (latest-wins over target ∪ source), then an atomic directory swap — the
  plain-parquet equivalent of a transactional MERGE;
- with ``partitioned=True`` the fact tables live in ``fecha_dia=`` date
  directories, and ``upsert`` reads and merges only the directories of the
  dates in its source and swaps each of them in, so its cost follows the
  window, not the history;
- ``export_stringified`` (the Sheets mirror) reads the committed parquet
  files with pyarrow on the driver, without a Spark job.

Every rewrite commits through one primitive, ``swap_dir``: the new copy is
written in full beside the live one, then renamed in. It mirrors what a
table format's commit protocol gives for free and keeps readers from ever
observing a half-written table or partition in plain-parquet mode.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.dataset as ds
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

#: directory value Spark writes for a NULL partition key
HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

#: Arrow type of each warehouse column type, as the mirror reads the files
_ARROW_TYPES = {
    T.LongType(): pa.int64(),
    T.IntegerType(): pa.int32(),
    T.DoubleType(): pa.float64(),
    T.StringType(): pa.string(),
    T.TimestampType(): pa.timestamp("us"),
}


def swap_dir(tmp: str, final: str) -> None:
    """Replace directory ``final`` with the fully written ``tmp``.

    The live directory moves aside to ``<tmp>_prev`` and ``tmp`` is renamed
    in; if that rename raises, ``<tmp>_prev`` is renamed back before
    re-raising, so ``final`` holds the old or the new copy. The old copy
    waits beside ``tmp``, not beside ``final``: when ``final`` is a table
    partition, a copy next to it would read as one more partition until it
    is removed. A ``<tmp>_prev`` left by a killed run is cleared first:
    ``os.rename`` onto a non-empty directory fails, so it would block every
    later swap.
    """
    prev = tmp + "_prev"
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
    table. Every rewrite commits through ``swap_dir``: overwrite, truncate,
    compact and the unpartitioned upsert swap the whole table, the
    partitioned upsert swaps each partition it rewrites. A reader sees the
    old or the new copy of each directory, never a partial write.

    With ``partitioned=True`` the fact tables are laid out as
    ``fecha_dia=YYYY-MM-DD/`` date partitions (PARTITION_SPEC) and upserts
    become PARTITION-SCOPED: only the partition directories of the dates
    present in the source are read, merged and swapped in, so an
    incremental day reads and rewrites one day's partitions, not the
    table. The dimension tables stay unpartitioned (they are small and
    broadcast)."""

    def __init__(self, spark: SparkSession, root: str, partitioned: bool = False):
        self.spark = spark
        self.root = root
        self.partitioned = partitioned
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

        The merge is ``upsert_latest_wins`` (operators/upsert.py): the table
        keeps one row per key, and a key the source repeats is stored once,
        as the same row on every run. An unpartitioned table is merged and
        swapped in whole. A partitioned table merges only the
        partitions its source touches (``_upsert_partitioned``); every
        touched partition is rewritten, changed or not.
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
        """Partition-scoped MERGE: read the existing directories of the
        partitions the source touches (none on a first load or for new
        days: the target is then empty), merge, write the merged rows once,
        partitioned, to ``<table>_tmp``, and ``swap_dir`` each partition
        written there into the table. Each partition commits atomically;
        the upsert as a whole does not. Untouched partitions are never
        listed or opened. Requires the partition key to be stable per merge
        key (PARTITION_SPEC contract)."""
        src = self._with_part(table, src)
        days = [r[0] for r in src.select(part_name).distinct().collect()]
        root = self.path(table)
        dirs = [
            os.path.join(root, f"{part_name}={HIVE_NULL_PARTITION if d is None else d}")
            for d in days
        ]
        dirs = [d for d in dirs if os.path.isdir(d)]
        schema = self._storage_schema(table)
        if dirs:
            # naming the directories keeps Spark from listing the whole
            # table; basePath recovers the partition column from the paths
            target = (
                self.spark.read.schema(schema).option("basePath", root).parquet(*dirs)
            )
        else:
            target = self.spark.createDataFrame([], schema)
        merged = upsert_latest_wins(target, src, key, UPDATE_COLS[table])
        # written in full before any swap: merged reads the directories
        # the swaps replace
        tmp = root + "_tmp"
        merged.write.mode("overwrite").partitionBy(part_name).parquet(tmp)
        for d in os.listdir(tmp):
            if d.startswith(part_name + "="):
                swap_dir(os.path.join(tmp, d), os.path.join(root, d))
        shutil.rmtree(tmp, ignore_errors=True)

    # -- K5: full-refresh export (Sheets analog) --------------------------
    def export_stringified(self, table: str) -> list[list[str]]:
        """Sheets mirror: header row + every cell stringified with '' for
        NULL (sheets_sync.py:24-47), in no particular row order (the mirror
        is a full refresh). The committed parquet files are read with
        pyarrow on the driver, declared columns only, so the partition
        column drops out; each cell is ``str`` of the value a Spark ``Row``
        carries (timestamps as local-zone naive ``datetime``). Driver-side
        egress — only sane for small dims; errors here must stay non-fatal
        to the sync (etl_service.py:737-741), which is the caller's
        contract."""
        self.ensure_table(table)
        fields = WAREHOUSE_SCHEMAS[table].fields
        header = [f.name for f in fields]
        # the explicit schema also covers a table holding only _SUCCESS,
        # where pyarrow would otherwise find no schema to infer
        schema = pa.schema([(f.name, _ARROW_TYPES[f.dataType]) for f in fields])
        fmt = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        data = ds.dataset(self.path(table), format=fmt, schema=schema).to_table()
        cols = [_stringified(data.column(f.name), f.dataType) for f in fields]
        return [header] + [list(row) for row in zip(*cols)]


def _stringified(col: pa.ChunkedArray, dtype: T.DataType) -> list[str]:
    """``str`` of each value as a Spark ``Row`` holds it, '' for NULL."""
    if isinstance(dtype, T.TimestampType):
        to_py = dtype.fromInternal
        values = col.cast(pa.int64()).to_pylist()
        return ["" if v is None else str(to_py(v)) for v in values]
    return ["" if v is None else str(v) for v in col.to_pylist()]
