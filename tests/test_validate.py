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
    # a row failing both rules carries the first rule's name; accepted
    # rows carry NULL in the tagged frame both outputs derive from
    df = spark.createDataFrame(
        [(None, "  "), (None, "bob"), (2, "   "), (3, "ok")], "id int, name string"
    )
    res = _spec().apply(df)
    reasons = {(r["id"], r["name"]): r["reject_reason"] for r in res.rejected.collect()}
    assert reasons == {
        (None, "  "): "missing_id",
        (None, "bob"): "missing_id",
        (2, "   "): "bad_name",
    }
    assert [r["reject_reason"] for r in res.tagged.filter("id = 3").collect()] == [None]


def test_partition_invariant(spark):
    # accepted + rejected == input (property 4 of SURVEY.md §5): every
    # input row lands in exactly one output, and the accepted side is
    # exactly the rows that pass every rule
    spec = EntitySpec(name="client", rules=_spec().rules, projection={"k": F.col("k")})
    rows = [
        (k, None if k % 5 == 0 else k, [None, "  ", "", "ana"][k % 4])
        for k in range(40)
    ]
    res = spec.apply(spark.createDataFrame(rows, "k int, id int, name string"))
    acc = [r["k"] for r in res.accepted.collect()]
    rej = [r["k"] for r in res.rejected.collect()]
    assert sorted(acc + rej) == list(range(40))
    assert set(acc) == {k for k, i, name in rows if i is not None and name == "ana"}


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


def test_counts_report(spark):
    res = _spec().apply(_data(spark))
    counts = {r["status"]: r["count"] for r in res.counts().collect()}
    assert counts == {"valid": 2, "invalid": 2}
    assert res.valid_invalid() == (2, 2)
    # one aggregate over one scan of the input, not a union of two filters
    plan = res.counts()._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") + plan.count("LocalRelation") == 1


def test_accepted_plan_keeps_the_parquet_pushdown(spark, tmp_path):
    # accepted filters with the AND of the rules, which Catalyst pushes
    # through the tagging projection into the scan; a filter on the
    # reject_reason CASE chain would leave PushedFilters empty
    path = str(tmp_path / "src")
    _data(spark).write.parquet(path)
    res = _spec().apply(spark.read.parquet(path))
    plan = res.accepted._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "IsNotNull(id)" in pushed
