"""Golden conformance corpus — the reference's own test cases re-run against
the batch ViewEngine (FIXTURES.md §1-2, SURVEY §5).

- sum view: values 1,2,3 → 6 (reference tests/scripts/test_worker.py:98-116)
- count view: 3 reports, 1 org → 3 (tests/test_mapreduce.py:266-276)
- join view last-writer-wins (tests/test_mapreduce.py:186-195)
- empty-group elimination (tests/test_processor.py:153-157)
- dict-valued map output (tests/test_mapreduce.py:541-575)
"""

import pytest
from pyspark.sql import Row, functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.operators import (
    ViewEngine,
    map_expr,
    map_item,
    reduce_agg,
    reduce_count,
    reduce_join,
)
from qvarn_mr_spark.operators.mapreduce import ConfigError, validate_config


def make_catalog(spark, **tables):
    cat = Catalog(spark)
    for name, rows in tables.items():
        cat.register(name, spark.createDataFrame(rows))
    return cat


def rows_by_key(df):
    return {r["_mr_key"]: r.asDict() for r in df.collect()}


def test_sum_view(spark):
    cat = make_catalog(spark, source=[
        Row(id="1", type="source", revision="a", key=1, value=1),
        Row(id="2", type="source", revision="a", key=1, value=2),
        Row(id="3", type="source", revision="a", key=1, value=3),
        Row(id="4", type="source", revision="a", key=2, value=10),
    ])
    eng = ViewEngine(cat, {
        "source__map": {"source": map_item("key", "value")},
        "sum_target": {"source__map": reduce_agg(F.sum)},
    })
    got = rows_by_key(eng.reduce_table("sum_target"))
    assert got["1"]["_mr_value"] == 6
    assert got["2"]["_mr_value"] == 10


def test_count_view(spark):
    # orgs ∪ reports → one map target; count per org key
    cat = make_catalog(
        spark,
        orgs=[Row(id="o1", type="org", revision="r", country="fi")],
        reports=[Row(id=f"r{i}", type="report", revision="r", org="o1")
                 for i in range(3)],
    )
    eng = ViewEngine(cat, {
        "company_reports__map": {
            "orgs": map_item("id"),
            "reports": map_item("org"),
        },
        "company_reports_count": {"company_reports__map": reduce_count()},
    })
    got = rows_by_key(eng.reduce_table("company_reports_count"))
    # org row + 3 report rows share key o1 → count 4 of mapped rows for key
    assert got["o1"]["_mr_value"] == 4


def test_join_view_last_writer_wins(spark):
    # README flagship: org ⋈ reports; 2 reports → LAST report's id wins
    # (reference tests/test_mapreduce.py:186-195)
    cat = make_catalog(
        spark,
        orgs=[Row(id="o1", type="org", revision="r", country="fi")],
        reports=[
            Row(id="r1", type="report", revision="r", org="o1", seq=1),
            Row(id="r2", type="report", revision="r", org="o1", seq=2),
        ],
    )
    eng = ViewEngine(cat, {
        "company_reports__map": {
            "orgs": map_item("id"),
            "reports": map_item("org"),
        },
        "company_reports": {"company_reports__map": reduce_join(
            {"orgs": {"org_id": "id"}, "reports": {"report_id": "id"}},
            order_by={"reports": "seq"},
        )},
    }, id_cols={})
    got = rows_by_key(eng.reduce_table("company_reports"))
    assert got == {"o1": {"_mr_key": "o1", "org_id": "o1", "report_id": "r2"}}


def test_join_view_outer_semantics(spark):
    # group exists if >=1 source row exists; missing type contributes nulls
    cat = make_catalog(
        spark,
        orgs=[Row(id="o1", type="org", revision="r", country="fi"),
              Row(id="o2", type="org", revision="r", country="se")],
        reports=[Row(id="r1", type="report", revision="r", org="o1", seq=1)],
    )
    eng = ViewEngine(cat, {
        "m": {"orgs": map_item("id"), "reports": map_item("org")},
        "v": {"m": reduce_join(
            {"orgs": {"org_id": "id"}, "reports": {"report_id": "id"}})},
    })
    got = rows_by_key(eng.reduce_table("v"))
    assert got["o1"]["report_id"] == "r1"
    assert got["o2"]["org_id"] == "o2" and got["o2"]["report_id"] is None


def test_dict_valued_map(spark):
    # map emits a dict → fields inlined, _mr_value NULL
    # (reference tests/test_mapreduce.py:541-575: result = foo * bar)
    cat = make_catalog(spark, data=[
        Row(id="d1", type="data", revision="r", foo=2, bar=3),
        Row(id="d2", type="data", revision="r", foo=5, bar=7),
    ])
    eng = ViewEngine(cat, {
        "data__map": {"data": map_expr(
            key="id", fields={"result": F.col("foo") * F.col("bar")})},
    })
    got = rows_by_key(eng.map_table("data__map"))
    assert got["d1"]["result"] == 6 and got["d1"]["_mr_value"] is None
    assert got["d2"]["result"] == 35


def test_generator_map_explode(spark):
    # U2: map handler yields many pairs → explode
    cat = make_catalog(spark, docs=[
        Row(id="d1", type="doc", revision="r", words=["a", "b"]),
        Row(id="d2", type="doc", revision="r", words=["b"]),
    ])
    eng = ViewEngine(cat, {
        "words__map": {"docs": map_expr(key="words", explode_key=True)},
        "word_count": {"words__map": reduce_count()},
    })
    got = rows_by_key(eng.reduce_table("word_count"))
    assert got == {
        "a": {"_mr_key": "a", "_mr_value": 1},
        "b": {"_mr_key": "b", "_mr_value": 2},
    }


def test_map_where_filters(spark):
    cat = make_catalog(spark, src=[
        Row(id="1", type="s", revision="r", key="k", value=1, ok=True),
        Row(id="2", type="s", revision="r", key="k", value=2, ok=False),
    ])
    eng = ViewEngine(cat, {
        "m": {"src": map_expr(key="key", value="value", where="ok")},
        "v": {"m": reduce_agg(F.sum)},
    })
    got = rows_by_key(eng.reduce_table("v"))
    assert got["k"]["_mr_value"] == 1


def test_validation_rules(spark):
    cat = Catalog(spark)
    # mixed map+reduce in one target
    with pytest.raises(ConfigError):
        validate_config({"t": {"a": map_item("k"), "b": reduce_count()}})
    # reduce with 2 sources
    with pytest.raises(ConfigError):
        validate_config({
            "m1": {"s": map_item("k")}, "m2": {"s": map_item("k")},
            "t": {"m1": reduce_count(), "m2": reduce_count()}})
    # reduce source must be a map target
    with pytest.raises(ConfigError):
        validate_config({"t": {"nonmap": reduce_count()}})
    # valid config passes
    validate_config({"m": {"s": map_item("k")}, "t": {"m": reduce_count()}})


def test_extended_dag_reduce_of_reduce(spark, sf_dir):
    """Extended (non-strict) mode: map over a derived reduce target —
    arbitrary DAG depth the reference forbids (validation.py) but Spark
    composes freely. Pipeline: orders/customer counts → distribution of
    customers per order-count."""
    from qvarn_mr_spark.catalog import Catalog, load_tables
    from qvarn_mr_spark.operators.mapreduce import ConfigError

    cat = Catalog(spark, tables=load_tables(spark, sf_dir, tables=("orders",)))
    cfg = {
        "opc__map": {"orders": map_item("o_custkey")},
        "opc": {"opc__map": reduce_count()},
        "dist__map": {"opc": map_item("_mr_value")},
        "dist": {"dist__map": reduce_count()},
    }
    # reduce-of-reduce is what strict (compat) mode rejects; extended allows
    ror = {"m": {"s": map_item("k")}, "r1": {"m": reduce_count()},
           "r2": {"r1": reduce_count()}}
    with pytest.raises(ConfigError):
        validate_config(ror)
    validate_config(ror, strict=False)

    eng = ViewEngine(cat, cfg, id_cols={"orders": "o_orderkey"}, strict=False)
    got = {int(r["_mr_key"]): r["_mr_value"]
           for r in eng.reduce_table("dist").collect()}
    orders = cat.get("orders")
    opc = orders.groupBy("o_custkey").count()
    want = {r["count"]: r["n"] for r in
            opc.groupBy("count").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_extended_dag_rejects_cycles(spark):
    from qvarn_mr_spark.catalog import Catalog
    from qvarn_mr_spark.operators.mapreduce import ConfigError, validate_config

    cfg = {
        "a": {"b": map_item("x")},
        "b": {"a": map_item("y")},
    }
    with pytest.raises(ConfigError, match="cycle"):
        validate_config(cfg, strict=False)
