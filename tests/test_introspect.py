from __future__ import annotations

from dbt_osmosis_spark.introspect import (
    generate_catalog,
    get_columns,
    load_catalog,
    write_catalog,
)
from dbt_osmosis_spark.session import register_testdata


def test_get_columns_ordered(spark, sf_dir):
    register_testdata(spark, sf_dir)
    cols = get_columns(spark, "lineitem")
    assert [c.name for c in cols][:3] == ["l_orderkey", "l_partkey", "l_suppkey"]
    assert cols[0].data_type == "bigint"
    assert [c.index for c in cols] == list(range(len(cols)))


def test_catalog_roundtrip(spark, sf_dir, tmp_path):
    register_testdata(spark, sf_dir)
    path = tmp_path / "catalog.json"
    written = write_catalog(spark, path, relations=["nation", "region"])
    loaded = load_catalog(path)
    assert loaded == written
    assert [c["name"] for c in loaded["nodes"]["region"]["columns"]] == [
        "r_regionkey",
        "r_name",
    ]


def test_generate_catalog_discovers_views(spark, sf_dir):
    register_testdata(spark, sf_dir)
    cat = generate_catalog(spark)
    assert "lineitem" in cat["nodes"]


def test_get_columns_sees_reregistered_relation(spark, sf_dir):
    """A relation re-registered with an added column reports the new column."""
    register_testdata(spark, sf_dir)
    spark.table("region").createOrReplaceTempView("region_live")
    assert [c.name for c in get_columns(spark, "region_live")] == ["r_regionkey", "r_name"]
    spark.sql("select *, 1 as r_added from region").createOrReplaceTempView("region_live")
    assert [c.name for c in get_columns(spark, "region_live")] == ["r_regionkey", "r_name", "r_added"]
    spark.catalog.dropTempView("region_live")
