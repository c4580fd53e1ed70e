"""Commit and compaction on the parquet warehouse.

Every whole-table rewrite commits through ``swap_dir``: the live table
moves aside, the new copy is renamed in, and a failure at any point
leaves the table exactly as it was. Compaction rewrites through the same
swap.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from imperio_patitas_etl_spark.sinks.warehouse import ParquetWarehouse


def _clients(spark, rows):
    return (
        spark.createDataFrame(
            rows, "id_cliente long, nombre string, rut string, email string"
        )
        .withColumn("apellido", F.lit(None).cast("string"))
        .withColumn("telefono", F.lit(None).cast("string"))
        .withColumn("direccion", F.lit(None).cast("string"))
        .withColumn("fecha_creacion", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    )


@pytest.fixture()
def wh(spark, tmp_path):
    return ParquetWarehouse(spark, str(tmp_path / "wh"))


def _rows(wh):
    return sorted(map(tuple, wh.read("cliente").collect()))


def test_failed_rename_keeps_old_table(wh, spark, monkeypatch):
    """The temp→live rename raising mid-commit rolls the live table back."""
    wh.overwrite("cliente", _clients(spark, [(1, "ana", "1-9", "a@x.cl")]))
    before = _rows(wh)
    real_rename = os.rename
    tmp = wh.path("cliente") + "_tmp"

    def rename(src, dst):
        if src == tmp:
            raise OSError("injected rename failure")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected"):
        wh.upsert("cliente", _clients(spark, [(2, "ben", "2-7", "b@x.cl")]))
    monkeypatch.setattr(os, "rename", real_rename)
    assert _rows(wh) == before
    # the leftover temp copy does not block the next commit
    wh.upsert("cliente", _clients(spark, [(2, "ben", "2-7", "b@x.cl")]))
    assert [r[0] for r in _rows(wh)] == [1, 2]


def test_failed_source_leaves_table_unchanged(wh, spark):
    """A source that fails while the merged copy is written never reaches
    the swap: the table reads exactly its old rows."""
    wh.overwrite(
        "cliente",
        _clients(spark, [(1, "old", "1-9", "a@x.cl"), (2, "keep", "2-7", "b@x.cl")]),
    )
    before = _rows(wh)
    bad = _clients(spark, [(3, None, "3-3", "c@x.cl")]).withColumn(
        "nombre", F.expr("raise_error('boom')")
    )
    with pytest.raises(Exception, match="boom"):
        wh.upsert("cliente", bad)
    assert _rows(wh) == before


def test_stale_prev_dir_does_not_block_upsert(wh, spark):
    """A ``<table>_tmp_prev`` left by a killed run is cleared by the next swap."""
    wh.overwrite("cliente", _clients(spark, [(1, "ana", "1-9", "a@x.cl")]))
    stale = wh.path("cliente") + "_tmp_prev"
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "w") as f:
        f.write("left by a killed run")
    wh.upsert("cliente", _clients(spark, [(2, "ben", "2-7", "b@x.cl")]))
    assert [r[0] for r in _rows(wh)] == [1, 2]
    assert not os.path.exists(stale)


def test_compact_reduces_files_preserves_rows(wh, spark):
    # many small appends -> many small files
    for i in range(5):
        wh.append("cliente", _clients(spark, [(i, f"n{i}", "1-9", "x@x.cl")]))
    before_rows = wh.read("cliente").count()
    files_before, files_after = wh.compact("cliente")
    assert files_before >= 5
    assert files_after == 1
    assert wh.read("cliente").count() == before_rows


def test_compact_partitioned_keeps_layout(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh3"), partitioned=True)
    df = spark.createDataFrame(
        [
            (i, 10, None, i, f"2024-01-0{1 + i % 2} 10:00:00", 100.0, 19.0, 119.0,
             "2024-01-01 00:00:00")
            for i in range(6)
        ],
        "id_documento long, id_cliente long, id_tipo_documento long, folio long, "
        "fecha_emision string, monto_neto double, monto_iva double, "
        "monto_total double, fecha_creacion string",
    ).withColumn("fecha_emision", F.to_timestamp("fecha_emision")).withColumn(
        "fecha_creacion", F.to_timestamp("fecha_creacion")
    )
    for i in range(3):
        wh.append("documento_venta", df.filter(F.col("id_documento") % 3 == i))
    rows = wh.read("documento_venta").count()
    files_before, files_after = wh.compact("documento_venta")
    assert files_after <= 2  # one file per date partition
    assert files_after < files_before
    assert wh.read("documento_venta").count() == rows
    dirs = {d for d in os.listdir(wh.path("documento_venta")) if d.startswith("fecha_dia=")}
    assert dirs == {"fecha_dia=2024-01-01", "fecha_dia=2024-01-02"}
