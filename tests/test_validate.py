"""Unit tests for the declarative validate/filter/project operator
(F1-F4 semantics, SURVEY.md §2.3): accept/reject split, first-failing
reason, accepted ∪ rejected = input, warning flags."""

from __future__ import annotations

from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.validate import EntitySpec, Rule


def _spec():
    return EntitySpec(
        name="client",
        rules=[
            Rule("missing_id", F.col("id").isNotNull()),
            Rule("bad_name", F.length(F.trim(F.col("name"))) > 0),
        ],
        warnings={"long_name": F.length("name") > 5},
        projection={
            "id_cliente": F.col("id").cast("long"),
            "nombre": F.trim("name"),
        },
    )


def _data(spark):
    return spark.createDataFrame(
        [(1, "ana"), (None, "bob"), (2, "   "), (3, "carolina")],
        "id int, name string",
    )


def test_split_and_projection(spark):
    res = _spec().apply(_data(spark))
    acc = {r["id_cliente"]: r["nombre"] for r in res.accepted.collect()}
    assert acc == {1: "ana", 3: "carolina"}
    assert set(res.accepted.columns) == {"id_cliente", "nombre", "warn_long_name"}


def test_reject_reason_first_rule_wins(spark):
    res = _spec().apply(_data(spark))
    reasons = {r["name"]: r["reject_reason"] for r in res.rejected.collect()}
    assert reasons == {"bob": "missing_id", "   ": "bad_name"}


def test_partition_invariant(spark):
    # accepted + rejected == input (property 4 of SURVEY.md §5)
    df = _data(spark)
    res = _spec().apply(df)
    assert res.accepted.count() + res.rejected.count() == df.count()


def test_null_predicate_rejects(spark):
    # NULL comparison results must reject, not silently pass
    spec = EntitySpec(
        name="x",
        rules=[Rule("pos", F.col("v") > 0)],
        projection={"v": F.col("v")},
    )
    df = spark.createDataFrame([(1,), (None,), (-1,)], "v int")
    res = spec.apply(df)
    assert [r["v"] for r in res.accepted.collect()] == [1]
    assert res.rejected.count() == 2


def test_warning_flags_dont_drop(spark):
    res = _spec().apply(_data(spark))
    warns = {r["id_cliente"]: r["warn_long_name"] for r in res.accepted.collect()}
    assert warns == {1: False, 3: True}


def test_accept_over_tagged_is_accepted(spark):
    """``spec.accept`` over the tagged rows (without ``reject_reason``)
    gives ``accepted`` again, which is how the pipeline derives the
    accepted rows from its one materialized copy of ``tagged``."""
    res = _spec().apply(_data(spark))
    again = res.spec.accept(res.tagged.drop("reject_reason"))
    assert again.columns == res.accepted.columns
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, res.accepted.collect()))
