"""Partitioned-warehouse tests: date-partition layout, partition-scoped
upsert (only touched date directories read and rewritten, each swapped in
on its own), and public-schema stability."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from pyspark.sql import functions as F

from imperio_patitas_etl_spark.sinks.warehouse import ParquetWarehouse


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            (i, cust, None, folio, ts, 100.0, 19.0, total, ts)
            for (i, cust, folio, ts, total) in rows
        ],
        "id_documento long, id_cliente long, id_tipo_documento long, folio long, "
        "fecha_emision string, monto_neto double, monto_iva double, "
        "monto_total double, fecha_creacion string",
    ).withColumn("fecha_emision", F.to_timestamp("fecha_emision")).withColumn(
        "fecha_creacion", F.to_timestamp("fecha_creacion")
    )


@pytest.fixture()
def wh(spark, tmp_path):
    return ParquetWarehouse(spark, str(tmp_path / "wh"), partitioned=True)


D1, D2, D3 = "2024-01-01 10:00:00", "2024-01-02 10:00:00", "2024-01-03 10:00:00"


def test_partition_layout_and_public_schema(wh, spark):
    wh.overwrite("documento_venta", _docs(spark, [(1, 10, 7, D1, 119.0), (2, 11, 8, D2, 119.0)]))
    dirs = sorted(
        d for d in os.listdir(wh.path("documento_venta")) if d.startswith("fecha_dia=")
    )
    assert dirs == ["fecha_dia=2024-01-01", "fecha_dia=2024-01-02"]
    # public read hides the partition column
    assert "fecha_dia" not in wh.read("documento_venta").columns
    assert wh.read("documento_venta").count() == 2


def test_partition_scoped_upsert(wh, spark):
    wh.overwrite(
        "documento_venta",
        _docs(spark, [(1, 10, 7, D1, 119.0), (2, 11, 8, D2, 119.0), (3, 12, 9, D3, 119.0)]),
    )
    p = wh.path("documento_venta")
    untouched = os.path.join(p, "fecha_dia=2024-01-01")
    before = sorted(os.listdir(untouched))
    # upsert touching only day 2 (update doc 2) and day 3 (new doc 4)
    wh.upsert(
        "documento_venta",
        _docs(spark, [(2, 99, 8, D2, 238.0), (4, 13, 10, D3, 119.0)]),
    )
    after = sorted(os.listdir(untouched))
    assert before == after  # day-1 partition files untouched
    rows = {r["id_documento"]: r for r in wh.read("documento_venta").collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[2]["id_cliente"] == 99          # updated (in UPDATE_COLS)
    assert rows[2]["monto_total"] == 238.0      # updated
    assert rows[2]["folio"] == 8                # column-subset: target wins
    assert rows[1]["id_cliente"] == 10


def test_partition_scoped_upsert_idempotent(wh, spark):
    wh.overwrite("documento_venta", _docs(spark, [(1, 10, 7, D1, 119.0)]))
    src = _docs(spark, [(1, 20, 7, D1, 200.0), (2, 30, 8, D2, 119.0)])
    wh.upsert("documento_venta", src)
    snap1 = sorted(map(tuple, wh.read("documento_venta").collect()))
    wh.upsert("documento_venta", src)
    snap2 = sorted(map(tuple, wh.read("documento_venta").collect()))
    assert snap1 == snap2


def test_upsert_never_lists_untouched_partitions(wh, spark):
    """The merge reads only the touched days' directories: a stray
    directory holding a file that is not parquet, in an untouched
    partition, is neither listed nor removed. (Listing the table root
    would fail on it: its depth conflicts with the partition layout.)"""
    wh.overwrite(
        "documento_venta",
        _docs(spark, [(1, 10, 7, D1, 119.0), (2, 11, 8, D2, 119.0)]),
    )
    stray = os.path.join(wh.path("documento_venta"), "fecha_dia=2024-01-01", "stray=1")
    os.makedirs(stray)
    bogus = os.path.join(stray, "part-bogus.parquet")
    with open(bogus, "w") as f:
        f.write("not a parquet file")
    wh.upsert("documento_venta", _docs(spark, [(2, 99, 8, D2, 238.0), (3, 12, 9, D3, 119.0)]))
    assert os.path.exists(bogus)
    shutil.rmtree(stray)
    rows = {r["id_documento"]: r for r in wh.read("documento_venta").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["id_cliente"] == 99


def test_upsert_of_new_days_only_keeps_history(wh, spark):
    """A source whose days have no directory yet merges against an empty
    target and leaves every existing partition as it was."""
    wh.overwrite(
        "documento_venta",
        _docs(spark, [(1, 10, 7, D1, 119.0), (2, 11, 8, D2, 119.0)]),
    )
    p = wh.path("documento_venta")
    before = {d: sorted(os.listdir(os.path.join(p, d))) for d in os.listdir(p)
              if d.startswith("fecha_dia=")}
    wh.upsert("documento_venta", _docs(spark, [(3, 12, 9, D3, 119.0), (4, 13, 10, D3, 50.0)]))
    for d, files in before.items():
        assert sorted(os.listdir(os.path.join(p, d))) == files
    assert sorted(d for d in os.listdir(p) if d.startswith("fecha_dia=")) == [
        "fecha_dia=2024-01-01", "fecha_dia=2024-01-02", "fecha_dia=2024-01-03"
    ]
    rows = {r["id_documento"]: r["monto_total"] for r in wh.read("documento_venta").collect()}
    assert rows == {1: 119.0, 2: 119.0, 3: 119.0, 4: 50.0}


def test_detalle_partitioned_roundtrip(wh, spark):
    det = spark.createDataFrame(
        [(1, 10, 101, 2.0, 50.0, 0.0, 100.0, D1), (2, 10, 102, 1.0, 10.0, 0.0, 10.0, D2)],
        "id_detalle long, id_documento long, id_producto long, cantidad double, "
        "precio_neto_unitario double, descuento_porcentual double, "
        "monto_total_linea double, fecha_creacion string",
    ).withColumn("fecha_creacion", F.to_timestamp("fecha_creacion"))
    wh.upsert("detalle_documento", det)
    assert wh.read("detalle_documento").count() == 2
    assert sorted(
        d for d in os.listdir(wh.path("detalle_documento")) if d.startswith("fecha_dia=")
    ) == ["fecha_dia=2024-01-01", "fecha_dia=2024-01-02"]


def test_null_partition_rows_survive_upsert(wh, spark):
    """A NULL timestamp lands in __HIVE_DEFAULT_PARTITION__; an upsert whose
    source also carries NULL-partition rows must MERGE with the existing
    ones, not replace the directory with source-only rows."""
    wh.overwrite(
        "documento_venta",
        _docs(spark, [(1, 10, 7, None, 119.0), (2, 11, 8, D1, 119.0)]),
    )
    # source: one NEW null-partition row + one dated row
    wh.upsert(
        "documento_venta",
        _docs(spark, [(3, 12, 9, None, 119.0), (4, 13, 10, D2, 119.0)]),
    )
    rows = {r["id_documento"]: r for r in wh.read("documento_venta").collect()}
    assert set(rows) == {1, 2, 3, 4}  # doc 1 (null partition) survived
    assert rows[1]["fecha_creacion"] is None
    # and updates inside the null partition still apply
    wh.upsert("documento_venta", _docs(spark, [(1, 99, 7, None, 238.0)]))
    rows = {r["id_documento"]: r for r in wh.read("documento_venta").collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["id_cliente"] == 99 and rows[1]["monto_total"] == 238.0


def _by_id(wh):
    rows = wh.read("documento_venta").collect()
    by_id = {r["id_documento"]: r for r in rows}
    assert len(by_id) == len(rows)  # each key once
    return by_id


def test_failed_partition_rename_keeps_that_partition(wh, spark, monkeypatch):
    """The rename of one touched partition raising mid-commit rolls that
    partition back; an untouched day stays as it was, and rerunning the
    upsert converges."""
    wh.overwrite(
        "documento_venta",
        _docs(spark, [(1, 10, 7, D1, 119.0), (2, 11, 8, D2, 119.0), (3, 12, 9, D3, 119.0)]),
    )
    before = _by_id(wh)
    p = wh.path("documento_venta")
    day3 = os.path.join(p, "fecha_dia=2024-01-03")
    day3_files = sorted(os.listdir(day3))
    failing = os.path.join(p + "_tmp", "fecha_dia=2024-01-02")
    real_rename = os.rename

    def rename(src, dst):
        if src == failing:
            raise OSError("injected rename failure")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    src = _docs(spark, [(1, 20, 7, D1, 200.0), (2, 21, 8, D2, 238.0)])
    with pytest.raises(OSError, match="injected"):
        wh.upsert("documento_venta", src)
    monkeypatch.setattr(os, "rename", real_rename)
    rows = _by_id(wh)
    assert set(rows) == {1, 2, 3}
    assert rows[2] == before[2]
    assert rows[3] == before[3]
    assert sorted(os.listdir(day3)) == day3_files
    # day 1 committed or not, depending on the order of the swaps
    assert rows[1]["monto_total"] in (119.0, 200.0)
    wh.upsert("documento_venta", src)
    rows = _by_id(wh)
    assert {i: r["monto_total"] for i, r in rows.items()} == {1: 200.0, 2: 238.0, 3: 119.0}
    assert rows[3] == before[3]


def test_crash_before_cleanup_leaves_no_extra_partition(wh, spark, monkeypatch):
    """A run that dies after its swaps but before removing the old copies
    (``shutil.rmtree`` a no-op) leaves only partition directories and
    Spark's marker files under the table root: every key reads once."""
    wh.overwrite(
        "documento_venta",
        _docs(spark, [(1, 10, 7, D1, 119.0), (2, 11, 8, D2, 119.0)]),
    )
    monkeypatch.setattr(shutil, "rmtree", lambda *a, **k: None)
    wh.upsert("documento_venta", _docs(spark, [(2, 99, 8, D2, 238.0), (3, 12, 9, D3, 119.0)]))
    monkeypatch.undo()
    rows = _by_id(wh)
    assert set(rows) == {1, 2, 3}
    assert rows[2]["id_cliente"] == 99
    part = re.compile(r"fecha_dia=(\d{4}-\d{2}-\d{2}|__HIVE_DEFAULT_PARTITION__)")
    for name in os.listdir(wh.path("documento_venta")):
        assert part.fullmatch(name) or name in ("_SUCCESS", "._SUCCESS.crc"), name
