"""Local stand-in for the driver's correctness gate — Arrow-type strict.

A checker that rounds floats and strips timezones masks oracle-side type
bugs (DuckDB ``SUM(BIGINT)`` → HUGEINT/decimal128, ``to_timestamp`` →
TIMESTAMPTZ) that the driver's type-sensitive hash catches. This version
compares a CANONICAL
TYPE per column on both sides — decimal, hugeint, and tz-aware timestamps
never canonicalize to Spark's int64/float64/naive-timestamp, so the whole
class fails loudly here before the driver sees it — and compares values
EXACTLY (no rounding).

Usage:

    python tools/check.py [sf_dir] [key ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pyarrow as pa


def _canon_arrow_type(t: pa.DataType) -> str:
    """Canonical type label for an Arrow type (DuckDB result side)."""
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"  # never matches Spark int64
    if pa.types.is_timestamp(t):
        return "timestamptz" if t.tz else "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{_canon_arrow_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{_canon_arrow_type(t.field(i).type)}" for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    return str(t)


def _canon_spark_type(t) -> str:
    """Canonical type label for a Spark SQL type (same label space)."""
    from pyspark.sql import types as T

    if isinstance(t, T.LongType):
        return "int64"
    if isinstance(t, T.IntegerType):
        return "int32"
    if isinstance(t, T.ShortType):
        return "int16"
    if isinstance(t, T.ByteType):
        return "int8"
    if isinstance(t, T.DoubleType):
        return "float64"
    if isinstance(t, T.FloatType):
        return "float32"
    if isinstance(t, T.DecimalType):
        return f"decimal({t.precision},{t.scale})"
    # Spark TIMESTAMP (LTZ) collects as naive datetimes under the pinned UTC
    # session TZ, which is how the driver hashes it — treat both as naive.
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, T.StringType):
        return "string"
    if isinstance(t, T.BinaryType):
        return "binary"
    if isinstance(t, T.ArrayType):
        return f"list<{_canon_spark_type(t.elementType)}>"
    if isinstance(t, T.StructType):
        inner = ",".join(f"{f.name}:{_canon_spark_type(f.dataType)}" for f in t.fields)
        return f"struct<{inner}>"
    return t.simpleString()


def _norm_cell(v):
    """Exact normalization: no rounding, no TZ stripping. Decimals stay
    Decimal (they already failed the type gate; shown in diffs only)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, datetime):
        # tz-aware would have failed the type gate; keep full precision.
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t)), [colnames[i] for i in order]


def main() -> int:
    # argparse: a typo'd flag like --vanila errors during parsing instead
    # of landing in the key-subset filter and passing "0/0" with exit 0;
    # both `--flag` and `--flag=value` spellings parse uniformly.
    import argparse

    parser = argparse.ArgumentParser(
        description="oracle-compare registry queries vs DuckDB",
        allow_abbrev=False,
    )
    parser.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    parser.add_argument("keys", nargs="*", help="registry-key subset")
    parser.add_argument(
        "--vanilla",
        action="store_true",
        help="bare driver-shaped session instead of the tuned get_spark",
    )
    # parse_intermixed_args: plain parse_args cannot re-open the `keys`
    # positional once `--vanilla` interrupts the positional run, so the
    # historical `check.py <sf_dir> --vanilla k1 k2` spelling would error
    ns = parser.parse_intermixed_args()
    vanilla = ns.vanilla
    sf_dir = ns.sf_dir
    only = set(ns.keys)
    # pre-Spark, like the key validation below — and the clear diagnosis
    # for `check.py count_star` (a forgotten sf_dir binds the first key
    # to the sf_dir positional)
    if not os.path.isdir(sf_dir):
        parser.error(
            f"no such sf_dir: {sf_dir!r} (did you forget the sf_dir "
            "argument before the keys?)"
        )

    import __spark_entry__ as m

    # Validate the key subset BEFORE building the Spark session and the
    # DuckDB views: the registry import is enough, so a
    # typo'd key errors in ~1 s instead of after a full JVM spin-up.
    qs, oracles = m.queries(), m.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        # a mistyped key would otherwise check nothing and exit 0
        sys.exit(f"unknown registry keys: {' '.join(unknown)}")

    if vanilla:
        # the DRIVER's condition: a bare session with none of get_spark's
        # configs — any query that only passes under the tuned session is
        # a bug this flag exists to catch
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from imperio_patitas_etl_spark.session import get_spark

        spark = get_spark("check")
    from imperio_patitas_etl_spark.operators.checkpoint import release_plan

    con = duckdb.connect()
    # pin the session TZ like the Spark side (session.py): DuckDB's
    # TIMESTAMPTZ→TIMESTAMP casts otherwise use the HOST timezone, shifting
    # CAST(to_timestamp(...) AS TIMESTAMP) oracles on any non-UTC box
    con.execute("SET TimeZone='UTC'")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    n_checked = 0
    for key, fn in sorted(qs.items()):
        if only and key not in only:
            continue
        n_checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_types = {f.name: _canon_spark_type(f.dataType) for f in sdf.schema.fields}
            s_rows = [tuple(r) for r in sdf.collect()]
            # the rows are collected: free the checkpoints the result
            # reads, so later keys do not schedule around them
            release_plan(sdf)
        except Exception as e:
            failures.append(key)
            print(f"FAIL {key}: spark error: {e}")
            continue
        if key not in oracles:
            print(f"ok   {key}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            tbl = con.execute(oracles[key]).arrow()
            d_cols = tbl.column_names
            # duplicate result column names would silently collapse in a
            # name-keyed dict — build rows positionally instead
            assert len(set(d_cols)) == len(d_cols), f"duplicate oracle columns: {d_cols}"
            d_types = {
                name: _canon_arrow_type(tbl.schema.field(name).type) for name in d_cols
            }
            d_rows = list(zip(*[col.to_pylist() for col in tbl.columns])) if tbl.num_columns else []
        except Exception as e:
            failures.append(key)
            print(f"FAIL {key}: duckdb error: {e}")
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append(key)
            print(f"FAIL {key}: columns differ spark={sorted(s_cols)} duck={sorted(d_cols)}")
            continue
        type_diffs = {
            c: (s_types[c], d_types[c]) for c in s_cols if s_types[c] != d_types[c]
        }
        if type_diffs:
            failures.append(key)
            print(f"FAIL {key}: TYPE mismatch (driver hash would fail): {type_diffs}")
            continue
        s_norm, _ = _normalize(s_rows, s_cols)
        d_norm, _ = _normalize(d_rows, d_cols)
        if len(s_norm) != len(d_norm):
            failures.append(key)
            print(f"FAIL {key}: rowcount spark={len(s_norm)} duck={len(d_norm)}")
            continue
        if s_norm != d_norm:
            failures.append(key)
            diff = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:3]
            print(f"FAIL {key}: values differ; first diffs {diff}")
            continue
        print(f"ok   {key}: {len(s_norm)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{n_checked - len(failures)}/{n_checked} checked queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
