"""Entity transform plans: Bsale-shaped nested input → warehouse rows.

Each ``transform_*`` re-expresses one of the reference's sync loops
(app/services/etl_service.py sync_clients :508-547, sync_products :550-649,
sync_documents :652-722) as a declarative DataFrame plan:

    scan → (explode) → (broadcast joins) → derive → validate/project

The validators F1-F4 (etl_service.py:20-201) become ``EntitySpec``s; the
N+1 price/cost lookups (:589,600) become broadcast joins; the per-product
variant loop with its break/continue control flow (:570-633) becomes
window functions over an explicit ordering column (SURVEY.md §7
hard-part 4).

Fidelity note (documented divergence): the reference shares one
``processed_variants`` set across the whole run, and a product's
break-on-first-valid stops that product's later variants from entering the
set. Here dedup-first-wins runs over ALL state-active variants in order;
for orderings where a later product's variant duplicates one the reference
never processed (because of an earlier break), results can differ. The
declarative form is deterministic and order-stable, which the reference is
not across API pagination.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from imperio_patitas_etl_spark.functions import cleaning as c
from imperio_patitas_etl_spark.operators.dedup import dedup_first_wins
from imperio_patitas_etl_spark.operators.joins import (
    broadcast_lookup,
    derive_cost,
    explode_nested,
)
from imperio_patitas_etl_spark.operators.validate import EntitySpec, Rule, ValidationResult


def _not_sentinel(col: Column) -> Column:
    return c.normalize_sentinels(col).isNotNull()


# -- F1: clients ----------------------------------------------------------

def client_spec() -> EntitySpec:
    """validate_client (etl_service.py:20-56): drop on missing id, sentinel
    first name, or present-but-invalid RUT; bad email warns only."""
    rut_clean = c.normalize_sentinels(F.col("code"))
    return EntitySpec(
        name="cliente",
        rules=[
            Rule("missing_id", F.col("id").isNotNull()),
            Rule("invalid_name", _not_sentinel(F.col("firstName"))),
            Rule("invalid_rut", rut_clean.isNull() | c.is_valid_rut(rut_clean)),
        ],
        warnings={
            "invalid_email": c.blank_to_null(F.col("email")).isNotNull()
            & ~c.is_valid_email(F.col("email"))
        },
        projection={
            "id_cliente": F.col("id").cast("long"),
            "nombre": c.clean_string("firstName"),
            "apellido": c.blank_to_null(F.col("lastName")),
            "rut": rut_clean,
            "email": c.blank_to_null(F.col("email")),
            "telefono": c.blank_to_null(F.col("phone")),
            "direccion": c.blank_to_null(F.col("address")),
            "fecha_creacion": c.ts_from_unix(F.col("creationDate")),
        },
    )


def transform_clients(raw_clients: DataFrame) -> ValidationResult:
    return client_spec().apply(raw_clients)


# -- F2 + J1-J4 + A5/A6: products ----------------------------------------

def product_spec() -> EntitySpec:
    """validate_product (etl_service.py:59-107) over the exploded+joined
    variant rows: drop on missing variant id, sentinel name, missing SKU,
    non-positive price, negative/missing cost; price ≤ cost warns only."""
    return EntitySpec(
        name="producto",
        rules=[
            Rule("missing_variant_id", F.col("variant_id").isNotNull()),
            Rule("invalid_name", _not_sentinel(F.col("name"))),
            Rule("missing_sku", c.blank_to_null(F.col("sku")).isNotNull()),
            Rule("invalid_price", F.col("precio_neto").isNotNull() & (F.col("precio_neto") > 0)),
            Rule("invalid_cost", F.col("costo_neto").isNotNull() & (F.col("costo_neto") >= 0)),
        ],
        warnings={"price_below_cost": F.col("precio_neto") <= F.col("costo_neto")},
        projection={
            "id_producto": F.col("variant_id").cast("long"),
            "nombre": c.clean_string("name"),
            "descripcion": c.blank_to_null(F.col("description")),
            "codigo_sku": c.clean_string("sku"),
            "codigo_barras": c.blank_to_null(F.col("barCode")),
            "controla_stock": c.bool_to_int(F.col("track")),
            "precio_neto": c.money("precio_neto"),
            "costo_neto": c.money("costo_neto"),
            "estado": F.lit(1),
            "fecha_creacion": c.ts_from_unix(F.col("creationDate")),
        },
    )


def transform_products(
    raw_products: DataFrame,
    price_list: DataFrame,
    costs: DataFrame,
) -> ValidationResult:
    """sync_products (etl_service.py:550-649) as one declarative plan.

    ``raw_products`` must carry an explicit ordering column ``product_order``
    (API page order in the reference); variant order inside a product comes
    from the array position.

    The reference's per-product loop processes exactly ONE variant — every
    path out of the loop body ``break``s (:593-633): the first state-active
    variant not already claimed by an earlier product is the product's sole
    candidate, and if its price row is missing (:593-597) or its validation
    fails (:626-633) the WHOLE product is dropped — a later valid variant is
    never considered. Steps:

    1. inner-explode ``variants.items`` (zero-variant products vanish, J1);
    2. state filter (state == 0, :584-585 ``continue``);
    3. cross-product first-wins dedup on variant id (A5, :580-581
       ``continue``; see the module fidelity note on the success-conditional
       ``processed_variants`` set);
    4. candidate selection: first remaining variant per product (the
       unconditional ``break``);
    5. broadcast-join price list 2 (J2) and costs (J3) + conditional cost
       derivation (J4) on the candidates only — the reference's N+1 lookups
       also run after candidate selection;
    6. validate/project (F2): a candidate missing its price row or failing
       any rule rejects, dropping its product entirely.
    """
    v = explode_nested(raw_products, "variants.items", "v")
    flat = v.select(
        "product_order",
        F.col("id").alias("product_id"),
        "name",
        "description",
        "creationDate",
        "v_pos",
        F.col("v.id").alias("variant_id"),
        F.col("v.code").alias("sku"),
        F.col("v.barCode").alias("barCode"),
        F.col("v.state").alias("state"),
        F.col("v.track").alias("track"),
    )
    active = flat.filter(F.col("state") == 0)

    deduped = dedup_first_wins(
        active, "variant_id", [F.col("product_order"), F.col("v_pos")]
    )
    candidate = dedup_first_wins(deduped, "product_id", [F.col("v_pos")])

    priced = broadcast_lookup(
        candidate,
        price_list.select(
            F.col("variantid").alias("variant_id"),
            F.col("variantValue").alias("precio_neto"),
        ),
        on="variant_id",
        how="left",
    )
    costed = broadcast_lookup(
        priced,
        costs.select(
            F.col("variant_id"),
            F.col("averageCost"),
            F.col("history"),
        ),
        on="variant_id",
        how="left",
    )
    derived = derive_cost(costed).drop("averageCost", "history")

    return product_spec().apply(derived)


# -- F3/F4 + J5: documents (header + lines from one input) ----------------

def document_spec() -> EntitySpec:
    """validate_document (etl_service.py:110-155)."""
    net, tax, total = F.col("netAmount"), F.col("taxAmount"), F.col("totalAmount")
    return EntitySpec(
        name="documento_venta",
        rules=[
            Rule("missing_id", F.col("id").isNotNull()),
            Rule("missing_emission_date", F.col("emissionDate").isNotNull()),
            Rule("negative_net", F.coalesce(net, F.lit(0.0)) >= 0),
            Rule("negative_tax", F.coalesce(tax, F.lit(0.0)) >= 0),
            Rule("invalid_total", F.coalesce(total, F.lit(0.0)) > 0),
        ],
        warnings={
            "amount_mismatch": c.consistency_flag(
                total, F.coalesce(net, F.lit(0.0)) + F.coalesce(tax, F.lit(0.0))
            )
        },
        projection={
            "id_documento": F.col("id").cast("long"),
            "id_cliente": F.col("client.id").cast("long"),
            "id_tipo_documento": F.col("documentType.id").cast("long"),
            "folio": F.col("number").cast("long"),
            "fecha_emision": c.ts_from_unix(F.col("emissionDate")),
            "monto_neto": c.money(F.coalesce(net, F.lit(0.0))),
            "monto_iva": c.money(F.coalesce(tax, F.lit(0.0))),
            "monto_total": c.money("totalAmount"),
            "fecha_creacion": c.ts_from_unix(F.col("emissionDate")),
        },
    )


def detail_spec() -> EntitySpec:
    """validate_document_detail (etl_service.py:158-201) on exploded lines."""
    qty, price = F.col("d.quantity"), F.col("d.netUnitValue")
    disc = F.coalesce(F.col("d.discount"), F.lit(0.0))
    expected = qty * price * (F.lit(1.0) - disc / F.lit(100.0))
    return EntitySpec(
        name="detalle_documento",
        rules=[
            Rule("missing_detail_id", F.col("d.id").isNotNull()),
            Rule("missing_variant", F.col("d.variant.id").isNotNull()),
            Rule("invalid_quantity", qty.isNotNull() & (qty > 0)),
            Rule("invalid_unit_price", price.isNotNull() & (price > 0)),
        ],
        warnings={
            "line_total_mismatch": c.consistency_flag(F.col("d.netTotal"), expected)
        },
        projection={
            "id_detalle": F.col("d.id").cast("long"),
            "id_documento": F.col("id").cast("long"),
            "id_producto": F.col("d.variant.id").cast("long"),
            "cantidad": c.money(qty),
            "precio_neto_unitario": c.money(price),
            "descuento_porcentual": c.money(disc),
            "monto_total_linea": c.money(F.col("d.netTotal")),
            "fecha_creacion": c.ts_from_unix(F.col("emissionDate")),
        },
    )


def document_lines(raw_documents: DataFrame, headers: DataFrame) -> ValidationResult:
    """The validated detail lines of ``raw_documents`` whose id has an
    accepted header in ``headers`` (``document_spec`` accepted rows).

    The filter is a left-semi join on the accepted ids, not on the header
    rows themselves: when a batch repeats a document id and one copy is
    valid, the lines of every copy load, and the upsert keeps one row per
    line id."""
    valid_ids = headers.select(F.col("id_documento").alias("id"))
    with_lines = raw_documents.join(F.broadcast(valid_ids), on="id", how="left_semi")
    return detail_spec().apply(explode_nested(with_lines, "details.items", "d"))


def transform_documents(
    raw_documents: DataFrame,
) -> tuple[ValidationResult, ValidationResult]:
    """sync_documents (etl_service.py:652-722): one input, two outputs,
    ``(headers, lines)``, each with ``.accepted``.

    Headers keep documents with zero detail lines (outer semantics, J5);
    lines come from an inner explode of ``details.items`` of the documents
    with a VALID header (``document_lines``; the reference validates the
    document before iterating its details, :683-694). FK validation is
    intentionally absent (:667-670) — dangling id_cliente / id_producto
    pass through.
    """
    headers = document_spec().apply(raw_documents)
    return headers, document_lines(raw_documents, headers.accepted)
