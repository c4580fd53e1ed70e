"""Seeded synthetic inputs for the benchmark, written as parquet with pyarrow.

Two kinds of input:

- ``write_tables``: the star-schema tables the query registry reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), in the column layout the registry expects. The
  values are uniform draws over the domains the registry's predicates name
  (``Brand#1..25``, ``NATION_0..24``, the five market segments, ...), so
  every query returns rows.
- ``write_bsale_sources``: Bsale-API-shaped nested sources (clients,
  products, price_list, costs, documents) derived from a customer / part /
  orders / lineitem draw the same way ``tools/pipeline_bench.py`` derives
  them, with dirt injected on every validation branch. The seed picks the
  residues at which each kind of dirt lands.

Everything is a pure function of its arguments: the same seed and sizes give
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
NAME_ADJ = ["small", "red", "blue", "hot", "new", "green", "old", "big"]
NAME_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "rod", "plate"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data join vector customer"
).split()

DAY_US = 86_400 * 1_000_000
EPOCH = dt.datetime(1970, 1, 1)


def epoch_s(d: dt.date) -> int:
    """Unix seconds at the start of day ``d`` (UTC)."""
    return int((dt.datetime(d.year, d.month, d.day) - EPOCH).total_seconds())


def _us(d: dt.date) -> int:
    return epoch_s(d) * 1_000_000


def _money(x: np.ndarray) -> np.ndarray:
    """Two-decimal values built from integer cents, so every value is the
    closest double to an exact cent amount."""
    return np.round(x).astype(np.int64) / 100.0


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


@dataclass(frozen=True)
class Sizes:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lines_per_order: int  # mean; the count per order is uniform in [1, 2*mean-1]
    first_day: dt.date
    last_day: dt.date


def _core_tables(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    """customer, supplier, part, orders, lineitem."""
    ck = np.arange(s.customers, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
            "c_acctbal": _money(rng.integers(-99_999, 1_000_000, s.customers)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, s.customers)],
        }
    )
    sk = np.arange(s.suppliers, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
            "s_acctbal": _money(rng.integers(-99_999, 1_000_000, s.suppliers)),
        }
    )
    pk = np.arange(s.parts, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{NAME_ADJ[a]} {NAME_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, s.parts), rng.integers(0, 8, s.parts))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, s.parts)],
            "p_size": rng.integers(1, 51, s.parts).astype(np.int32),
            "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
        }
    )
    ok = np.arange(s.orders, dtype=np.int64)
    span = (s.last_day - s.first_day).days + 1
    odate = _us(s.first_day) + rng.integers(0, span, s.orders) * DAY_US
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
            "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, s.orders)],
            "o_totalprice": _money(rng.integers(100_000, 50_000_000, s.orders)),
            "o_orderdate": _ts(odate),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, s.orders)],
        }
    )
    per_order = rng.integers(1, 2 * s.lines_per_order, s.orders)
    lok = np.repeat(ok, per_order)
    n = len(lok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit_cents = rng.integers(50_000, 350_000, n)
    lineitem = pa.table(
        {
            "l_orderkey": lok,
            "l_partkey": rng.integers(0, s.parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, s.suppliers, n).astype(np.int64),
            # numbered per order, so (l_orderkey, l_linenumber) is a key
            "l_linenumber": (
                np.arange(n) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
            ).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(qty * unit_cents),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": _ts(
                np.repeat(odate, per_order) + rng.integers(1, 122, n) * DAY_US
            ),
        }
    )
    return {
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad texts over a 30-word vocabulary; about a tenth are near
    copies (one word replaced) and a fiftieth exact copies of an earlier
    text, so the dedup keys find clusters."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{k % 20}" for k in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Ten labelled clusters; every twentieth vector repeats an earlier one."""
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vecs = (centers[label] + 0.05 * rng.normal(size=(n, dim))).astype(np.float32)
    for i in range(20, n, 20):
        j = int(rng.integers(0, i))
        vecs[i], label[i] = vecs[j], label[j]
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
            ),
            "label": label.astype(np.int32),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start = _us(dt.date(2024, 1, 1))
    ts = start + np.cumsum(rng.integers(1, 60_000_000, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": _money(rng.integers(0, 20_000, n)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


#: registry tables at roughly TPC-H scale factor 0.001
QUERY_SIZES = Sizes(
    customers=150,
    suppliers=10,
    parts=200,
    orders=1500,
    lines_per_order=4,
    first_day=dt.date(1995, 1, 1),
    last_day=dt.date(2001, 8, 1),
)


def write_tables(out_dir: str, seed: int = 42) -> None:
    """Write the ten registry tables to ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = _core_tables(rng, QUERY_SIZES)
    tables["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    tables["documents"] = _documents(rng, 500)
    tables["embeddings"] = _embeddings(rng, 500)
    tables["events"] = _events(rng, 1000, 200)
    for name, table in tables.items():
        _write(out_dir, name, table)


# -- Bsale-shaped ETL sources ---------------------------------------------

#: ETL document history: HISTORY_DAYS days before the seed-chosen tick
#: start, one warehouse partition per day on the partitioned layout. What a
#: daily request pays per partition (listing, pruning, commits) scales with
#: the partition count, not with the row count, so history days hold only
#: HISTORY_DOCS_PER_DAY documents each. 240 days, not the ~2,400 of sf0.1's
#: calendar, so that a run fits the benchmark's time budget (README.md,
#: "Sizing"). The TICK_DAYS days from the tick start hold TICK_DOCS_PER_DAY
#: each, so every seed preloads the same history and every daily request
#: sees the same volume.
HISTORY_DAYS = 240
HISTORY_DOCS_PER_DAY = 2
TICK_DAYS = 20
TICK_DOCS_PER_DAY = 50
#: tick starts fall in the last year of a calendar ending on this day
LAST_DAY = dt.date(2001, 8, 1)


def tick_start(seed: int) -> dt.date:
    rng = np.random.default_rng([seed, 2])
    return LAST_DAY - dt.timedelta(days=int(rng.integers(TICK_DAYS, 366)))


def etl_sizes(seed: int) -> Sizes:
    start = tick_start(seed)
    return Sizes(
        customers=300,
        suppliers=10,
        parts=200,
        orders=HISTORY_DAYS * HISTORY_DOCS_PER_DAY + TICK_DAYS * TICK_DOCS_PER_DAY,
        lines_per_order=4,
        first_day=start - dt.timedelta(days=HISTORY_DAYS),
        last_day=start + dt.timedelta(days=TICK_DAYS - 1),
    )


def _emission_days(sizes: Sizes) -> np.ndarray:
    """Day offset from ``sizes.first_day`` of each document, in id order:
    a fixed number per history day, then a fixed number per tick day."""
    return np.concatenate(
        [
            np.repeat(np.arange(HISTORY_DAYS), HISTORY_DOCS_PER_DAY),
            HISTORY_DAYS + np.repeat(np.arange(TICK_DAYS), TICK_DOCS_PER_DAY),
        ]
    )

#: dirt kinds and the stride each lands on; the seed picks the residue
DIRT_STRIDES = {
    "client_null_id": 53,
    "client_sentinel_name": 41,
    "client_bad_rut": 37,
    "client_bad_email": 11,
    "product_sentinel_name": 43,
    "product_missing_sku": 31,
    "product_inactive_first": 5,
    "price_missing": 19,
    "price_zero": 47,
    "cost_zero_history": 3,
    "doc_negative_net": 29,
    "doc_null_emission": 31,
    "doc_dangling_client": 13,
    "line_zero_qty": 23,
}


@dataclass(frozen=True)
class BsaleSources:
    """What the source system supplied, and when."""

    #: per entity, the units the source supplied: clients and documents
    #: count records, products count products (each has one candidate)
    units: dict[str, int]
    first_day: dt.date
    tick_start: dt.date


def dirt_residues(seed: int) -> dict[str, int]:
    rng = np.random.default_rng([seed, 1])
    return {k: int(rng.integers(0, m)) for k, m in DIRT_STRIDES.items()}


def write_bsale_sources(out_dir: str, seed: int) -> BsaleSources:
    """Derive the five Bsale-shaped sources from a fixed customer / part /
    orders / lineitem draw, with seed-chosen dirt residues and a
    seed-chosen calendar position of the document history."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = etl_sizes(seed)
    t = _core_tables(np.random.default_rng(7), sizes)
    r = dirt_residues(seed)

    def hit(keys: np.ndarray, kind: str) -> np.ndarray:
        return keys % DIRT_STRIDES[kind] == r[kind]

    ck = t["customer"]["c_custkey"].to_numpy()
    clients = pa.table(
        {
            "id": pa.array(ck, mask=hit(ck, "client_null_id")),
            "firstName": np.where(hit(ck, "client_sentinel_name"), "  ", "Customer"),
            "lastName": t["customer"]["c_mktsegment"],
            "code": np.where(
                hit(ck, "client_bad_rut"),
                "BADRUT",
                [f"{10_000_000 + k}-{k % 10}" for k in ck],
            ),
            "email": np.where(
                hit(ck, "client_bad_email"),
                "not-an-email",
                [f"u{k}@example.com" for k in ck],
            ),
            "phone": [f"+56 9 {k}" for k in ck],
            "address": [f"Calle {k % 999}" for k in ck],
            "creationDate": 1_700_000_000 + ck,
        }
    )
    _write(out_dir, "clients", clients)

    pk = t["part"]["p_partkey"].to_numpy()
    variant_t = pa.struct(
        [
            ("id", pa.int64()),
            ("code", pa.string()),
            ("barCode", pa.string()),
            ("state", pa.int32()),
            ("track", pa.bool_()),
        ]
    )
    items = [
        [
            {
                "id": int(k * 10),
                "code": None if hit(k, "product_missing_sku") else f"SKU{k * 10}",
                "barCode": None,
                "state": int(hit(k, "product_inactive_first")),
                "track": bool(k % 2 == 0),
            },
            {
                "id": int(k * 10 + 1),
                "code": f"SKU{k * 10 + 1}",
                "barCode": None,
                "state": 0,
                "track": bool(k % 2 == 0),
            },
        ]
        for k in pk
    ]
    products = pa.table(
        {
            "product_order": pk,
            "id": pk,
            "name": np.where(hit(pk, "product_sentinel_name"), "null", t["part"]["p_name"]),
            "description": t["part"]["p_type"],
            "creationDate": 1_700_000_000 + pk,
            "variants": pa.array(
                [{"items": it} for it in items],
                type=pa.struct([("items", pa.list_(variant_t))]),
            ),
        }
    )
    _write(out_dir, "products", products)

    priced = pk[~hit(pk, "price_missing")]
    value = np.where(hit(priced, "price_zero"), 0.0, (1000 + priced % 9000).astype(np.float64))
    price_list = pa.table(
        {
            "variantid": np.concatenate([priced * 10, priced * 10 + 1]),
            "variantValue": np.concatenate([value, value]),
        }
    )
    _write(out_dir, "price_list", price_list)

    costed = pk[pk % 2 == 0]
    avg = ((costed % 5000) + 100).astype(np.float64)
    costs = pa.table(
        {
            "variant_id": costed * 10,
            "averageCost": avg,
            "history": pa.array(
                [
                    [{"cost": 0.0 if z else float(a)}]
                    for z, a in zip(hit(costed, "cost_zero_history"), avg)
                ],
                type=pa.list_(pa.struct([("cost", pa.float64())])),
            ),
        }
    )
    _write(out_dir, "costs", costs)

    o = t["orders"]
    li = t["lineitem"]
    ok = o["o_orderkey"].to_numpy()
    total = o["o_totalprice"].to_numpy()
    odate_s = epoch_s(sizes.first_day) + _emission_days(sizes) * 86_400
    null_date = hit(ok, "doc_null_emission")
    l_ok = li["l_orderkey"].to_numpy()
    l_rn = li["l_linenumber"].to_numpy().astype(np.int64)
    l_qty = li["l_quantity"].to_numpy()
    l_ext = li["l_extendedprice"].to_numpy()
    l_zero = (l_ok + l_rn) % DIRT_STRIDES["line_zero_qty"] == r["line_zero_qty"]
    line_items = [
        {
            "id": int(a * 1000 + b),
            "variant": {"id": int(p * 10)},
            "quantity": 0.0 if z else float(q),
            "netUnitValue": float(e / q),
            "discount": float(d),
            "netTotal": float(e),
        }
        for a, b, p, q, e, d, z in zip(
            l_ok,
            l_rn,
            li["l_partkey"].to_numpy(),
            l_qty,
            l_ext,
            li["l_discount"].to_numpy(),
            l_zero,
        )
    ]
    starts = np.searchsorted(l_ok, ok, side="left")
    ends = np.searchsorted(l_ok, ok, side="right")
    line_t = pa.struct(
        [
            ("id", pa.int64()),
            ("variant", pa.struct([("id", pa.int64())])),
            ("quantity", pa.float64()),
            ("netUnitValue", pa.float64()),
            ("discount", pa.float64()),
            ("netTotal", pa.float64()),
        ]
    )
    documents = pa.table(
        {
            "id": ok,
            "emissionDate": pa.array(odate_s, mask=null_date),
            "number": ok,
            "client": pa.array(
                [
                    {"id": int(c + 1 if d else c)}
                    for c, d in zip(o["o_custkey"].to_numpy(), hit(ok, "doc_dangling_client"))
                ],
                type=pa.struct([("id", pa.int64())]),
            ),
            "documentType": pa.array(
                [{"id": 5}] * len(ok), type=pa.struct([("id", pa.int64())])
            ),
            "netAmount": np.where(hit(ok, "doc_negative_net"), -total, total),
            "taxAmount": total * 0.19,
            "totalAmount": total * 1.19,
            "details": pa.array(
                [{"items": line_items[s:e]} for s, e in zip(starts, ends)],
                type=pa.struct([("items", pa.list_(line_t))]),
            ),
        }
    )
    _write(out_dir, "documents", documents)

    return BsaleSources(
        units={"cliente": len(ck), "producto": len(pk), "documento_venta": len(ok)},
        first_day=sizes.first_day,
        tick_start=tick_start(seed),
    )
