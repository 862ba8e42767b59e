"""Engine core: manifest parsing, Jinja compile, topo-ordered run.

Mirrors the reference's test strategy of running the real pipeline against a
real engine on a small fixed project (reference: tests/conftest.py:22-60),
with DuckDB as the cross-engine oracle for the materialized marts.
"""

from __future__ import annotations

import pytest

from dbt_osmosis_spark.compile import JinjaCompiler, has_jinja, relation_name
from dbt_osmosis_spark.project import load_project
from dbt_osmosis_spark.runner import materialize
from dbt_osmosis_spark.sql_ops import execute_sql_code

DEMO = "/root/repo/demo_spark"


@pytest.fixture(scope="module")
def manifest():
    return load_project(DEMO)


def test_manifest_shape(manifest):
    assert set(manifest.seeds) == {"raw_customers", "raw_orders", "raw_payments"}
    assert set(manifest.models) == {
        "stg_customers",
        "stg_orders",
        "stg_payments",
        "orders",
        "customers",
        "order_totals",
        "order_sizes",
        "segment_stats",
    }
    assert manifest.models["order_totals"].materialized == "ephemeral"
    assert manifest.models["segment_stats"].language == "python"
    assert manifest.sources["analytics.events"].format == "parquet"
    assert manifest.models["customers"].depends_on == [
        "stg_customers",
        "stg_orders",
        "stg_payments",
    ]


def test_topo_sort_parents_first(manifest):
    order = manifest.topo_sort()
    assert order.index("stg_orders") < order.index("orders")
    assert order.index("stg_payments") < order.index("customers")


def test_topo_sort_cycle_detection(manifest):
    import copy

    m = copy.deepcopy(manifest)
    m.models["stg_orders"].depends_on.append("customers")
    with pytest.raises(ValueError, match="cycle"):
        m.topo_sort()


def test_compile_resolves_refs_and_vars(manifest):
    compiled = JinjaCompiler(manifest).compile(manifest.models["orders"].raw_sql)
    assert "{{" not in compiled.compiled_sql
    assert "stg_payments" in compiled.compiled_sql
    # the Jinja loop over var('payment_methods') expanded to 4 CASE aggregates
    assert compiled.compiled_sql.count("sum(case when payment_method") == 4
    assert set(compiled.refs) == {"stg_orders", "stg_payments"}


def test_compile_unknown_ref_raises(manifest):
    with pytest.raises(KeyError, match="no_such_model"):
        JinjaCompiler(manifest).compile("select * from {{ ref('no_such_model') }}")


def test_has_jinja():
    assert has_jinja("select {{ ref('x') }}")
    assert not has_jinja("select 1")


def test_run_and_query(spark, manifest, tmp_path):
    report = materialize(spark, manifest, warehouse_dir=str(tmp_path), count_rows=True)
    kinds = {r.name: r.kind for r in report.results}
    assert kinds["raw_customers"] == "seed"
    assert kinds["customers"] == "model"

    # ad-hoc Jinja SQL against the materialized DAG (M1+M2 path)
    compiled, df = execute_sql_code(
        spark,
        manifest,
        "select count(*) as n from {{ ref('customers') }} where number_of_orders > 0",
    )
    assert "customers" in compiled.compiled_sql
    assert df.collect()[0].n > 0


def test_demo_marts_match_duckdb(spark, manifest, tmp_path):
    """Cross-engine check: the same compiled SQL over the same seeds must
    produce identical mart rows in DuckDB (portable-SQL subset)."""
    import duckdb

    materialize(spark, manifest, warehouse_dir=str(tmp_path))
    con = duckdb.connect()
    for name, seed in manifest.seeds.items():
        con.execute(
            f"CREATE VIEW {relation_name(name)} AS "
            f"SELECT * FROM read_csv('{seed.path}', header=true)"
        )
    compiler = JinjaCompiler(manifest)
    for name in manifest.topo_sort():
        node = manifest.models[name]
        if node.language == "python" or node.materialized == "ephemeral":
            # python models aren't SQL; ephemeral bodies are inlined into
            # their consumers' compiled SQL as __dbt__cte__ CTEs
            continue
        sql = compiler.compile(node.raw_sql).compiled_sql
        con.execute(f"CREATE VIEW {relation_name(name)} AS {sql}")

    for mart, key in [("customers", "customer_id"), ("orders", "order_id")]:
        sdf = spark.table(relation_name(mart)).orderBy(key).toPandas()
        ddf = con.execute(f"SELECT * FROM {mart} ORDER BY {key}").fetchdf()
        assert list(sdf.columns) == list(ddf.columns)
        assert len(sdf) == len(ddf)
        import pandas as pd

        def norm(series: pd.Series) -> list[str]:
            import datetime as dt

            def one(v):
                if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NaT:
                    return "NULL"
                if isinstance(v, (dt.date, dt.datetime, pd.Timestamp)):
                    return pd.Timestamp(v).isoformat()
                try:
                    return repr(float(v))
                except (TypeError, ValueError):
                    return str(v)

            return [one(v) for v in series.tolist()]

        for c in sdf.columns:
            assert norm(sdf[c]) == norm(ddf[c]), (mart, c)


def test_project_macros_in_scope(spark, tmp_path):
    """macros/*.sql {% macro %} definitions usable from any model
    (dbt macro semantics; SURVEY S17)."""
    from dbt_osmosis_spark.project import load_project
    from dbt_osmosis_spark.runner import materialize

    proj = tmp_path / "mproj"
    (proj / "models").mkdir(parents=True)
    (proj / "macros").mkdir()
    (proj / "project.yml").write_text("name: macrodemo\n")
    (proj / "sources.yml").write_text(
        "sources:\n- name: tpch\n  tables:\n"
        "  - name: orders\n    path: /root/testdata/sf0.001/orders.parquet\n"
    )
    (proj / "macros" / "money.sql").write_text(
        "{% macro cents_to_dollars(col, scale=2) %}"
        "round({{ col }} / 100.0, {{ scale }})"
        "{% endmacro %}"
    )
    (proj / "models" / "priced.sql").write_text(
        "select o_orderkey, {{ cents_to_dollars('o_totalprice') }} as dollars\n"
        "from {{ source('tpch', 'orders') }}"
    )
    manifest = load_project(proj)
    report = materialize(spark, manifest)
    priced = [r for r in report.results if r.name == "priced"][0]
    assert "round(o_totalprice / 100.0, 2)" in priced.compiled_sql
    assert spark.table("priced").columns == ["o_orderkey", "dollars"]


def test_run_with_dbt_style_selection(spark, tmp_path):
    """--select semantics: selected models honor their materialization,
    unselected ancestors become lazy views, unrelated models are skipped."""
    from dbt_osmosis_spark.project import load_project
    from dbt_osmosis_spark.runner import materialize

    proj = tmp_path / "selproj"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: seldemo\n")
    (proj / "sources.yml").write_text(
        "sources:\n- name: tpch\n  tables:\n"
        "  - name: orders\n    path: /root/testdata/sf0.001/orders.parquet\n"
    )
    (proj / "models" / "a.sql").write_text(
        "select o_orderkey, o_totalprice from {{ source('tpch', 'orders') }}"
    )
    (proj / "models" / "b.sql").write_text(
        "select o_orderkey, o_totalprice * 2 as double_price from {{ ref('a') }}"
    )
    (proj / "models" / "c.sql").write_text(
        "select count(*) as n from {{ ref('b') }}"
    )
    (proj / "models" / "d.sql").write_text(
        "{{ config(tags=['unrelated']) }}\n"
        "select 1 as one from {{ source('tpch', 'orders') }} limit 1"
    )
    manifest = load_project(proj)

    assert manifest.select(["b+"]) == {"b", "c"}
    assert manifest.select(["+c"]) == {"a", "b", "c"}
    assert manifest.select(["tag:unrelated"]) == {"d"}

    report = materialize(spark, manifest, select=["b+"])
    kinds = {r.name: r.materialized for r in report.results if r.kind == "model"}
    assert kinds["a"] == "view(upstream)"
    assert kinds["b"] == "view" and kinds["c"] == "view"
    assert "d" not in kinds
    assert spark.table("c").collect()[0].n > 0


def test_compile_dbt_builtin_context(manifest, monkeypatch):
    """env_var / target / run_started_at render like dbt's compile context;
    missing env var without default is a compile error."""
    c = JinjaCompiler(manifest)
    monkeypatch.setenv("OSMO_TEST_REGION", "eu")
    out = c.compile(
        "select '{{ env_var('OSMO_TEST_REGION') }}' as region, "
        "'{{ target.type }}' as engine, "
        "'{{ run_started_at.isoformat() }}' as started"
    ).compiled_sql
    assert "'eu' as region" in out and "'spark' as engine" in out
    assert str(c.run_started_at.year) in out
    # same compiler → same pinned timestamp on a second compile
    out2 = c.compile("select '{{ run_started_at.isoformat() }}' as s").compiled_sql
    assert c.run_started_at.isoformat() in out2
    with pytest.raises(KeyError, match="OSMO_MISSING"):
        c.compile("select {{ env_var('OSMO_MISSING') }}")


def test_seed_column_types_override(spark, tmp_path):
    """dbt seed config `column_types`: per-column cast on top of CSV
    inference (project.yml seeds: section)."""
    from dbt_osmosis_spark.project import load_project
    from dbt_osmosis_spark.runner import materialize

    proj = tmp_path / "proj"
    (proj / "seeds").mkdir(parents=True)
    (proj / "project.yml").write_text(
        "name: seeddemo\nseeds:\n  zips:\n    column_types:\n"
        "      zip: string\n      amount: decimal(10,2)\n"
    )
    (proj / "seeds" / "zips.csv").write_text("zip,amount,city\n02134,10.5,boston\n")
    manifest = load_project(proj)
    assert manifest.seeds["zips"].column_types == {"zip": "string", "amount": "decimal(10,2)"}
    materialize(spark, manifest)
    schema = {f.name: f.dataType.simpleString() for f in spark.table("zips").schema.fields}
    assert schema == {"zip": "string", "amount": "decimal(10,2)", "city": "string"}
    # leading zero preserved — the canonical reason this config exists
    assert spark.table("zips").first().zip == "02134"


def test_ephemeral_materialization_inlines_as_cte(spark, tmp_path):
    """dbt ephemeral: no relation is created; consumers inline the body as
    a dependency-ordered __dbt__cte__ WITH clause (nested ephemerals too,
    and merging into a consumer's own WITH)."""
    from dbt_osmosis_spark.compile import JinjaCompiler
    from dbt_osmosis_spark.project import load_project
    from dbt_osmosis_spark.runner import materialize

    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: ephdemo\n")
    (proj / "sources.yml").write_text(
        "sources:\n- name: raw\n  tables:\n"
        f"  - name: feed\n    path: {tmp_path}/feed.parquet\n"
    )
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/feed.parquet")
    (proj / "models" / "eph_base.sql").write_text(
        "{{ config(materialized='ephemeral') }}\n"
        "select id, v from {{ source('raw', 'feed') }} where v > 10\n"
    )
    (proj / "models" / "eph_mid.sql").write_text(
        "{{ config(materialized='ephemeral') }}\n"
        "select id, v * 2 as v2 from {{ ref('eph_base') }}\n"
    )
    (proj / "models" / "eph_final.sql").write_text(
        "with local_cte as (select 1 as one)\n"
        "select e.id, e.v2, l.one from {{ ref('eph_mid') }} e cross join local_cte l\n"
    )
    manifest = load_project(proj)
    compiled = JinjaCompiler(manifest).compile(
        manifest.models["eph_final"].raw_sql
    ).compiled_sql
    low = compiled.lower()
    # both ephemeral CTEs present, dependency-ordered, merged into the
    # consumer's own WITH
    assert low.count("with") >= 1 and low.startswith("with")
    assert low.index("__dbt__cte__eph_base") < low.index("__dbt__cte__eph_mid")
    assert "local_cte" in low

    r = materialize(spark, manifest, count_rows=True)
    mats = {x.name: x.materialized for x in r.results if x.kind == "model"}
    assert mats["eph_base"] == "ephemeral" and mats["eph_mid"] == "ephemeral"
    # no relation registered for ephemerals
    assert "eph_base" not in [t.name for t in spark.catalog.listTables()]
    got = {row.id: (row.v2, row.one) for row in spark.table("eph_final").collect()}
    assert got == {2: (40.0, 1), 3: (60.0, 1)}


def test_orc_source_format(spark, tmp_path):
    from dbt_osmosis_spark.project import load_project
    from dbt_osmosis_spark.runner import materialize

    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").write.mode(
        "overwrite"
    ).orc(f"{tmp_path}/feed_orc")
    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: orcdemo\n")
    (proj / "sources.yml").write_text(
        "sources:\n- name: raw\n  tables:\n"
        f"  - name: feed\n    path: {tmp_path}/feed_orc\n    format: orc\n"
    )
    (proj / "models" / "m.sql").write_text(
        "select count(*) as n from {{ source('raw', 'feed') }}\n"
    )
    materialize(spark, load_project(proj))
    assert spark.table("m").first().n == 2


def test_threaded_materialize_matches_sequential(spark, manifest, tmp_path):
    """dbt threads: layer-parallel materialization produces the same
    relations and rows as the sequential run."""
    seq = materialize(spark, manifest, warehouse_dir=str(tmp_path / "a"), count_rows=True)
    seq_rows = {r.name: r.rows for r in seq.results}
    par = materialize(
        spark, manifest, warehouse_dir=str(tmp_path / "b"), count_rows=True, threads=4
    )
    par_rows = {r.name: r.rows for r in par.results}
    assert seq_rows == par_rows
    # layers respect dependencies
    layers = manifest.topo_layers()
    pos = {n: i for i, layer in enumerate(layers) for n in layer}
    for name, node in manifest.models.items():
        for d in node.depends_on:
            if d in manifest.models:
                assert pos[d] < pos[name], (d, name)


def test_run_exclude_selector(spark, tmp_path):
    """dbt --exclude: subtract from --select (or from all models); excluded
    nodes still register lazily when a kept model refs them."""
    from dbt_osmosis_spark.project import load_project
    from dbt_osmosis_spark.runner import materialize

    proj = tmp_path / "p"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: p\n")
    (proj / "models" / "a.sql").write_text("select 1 as x")
    (proj / "models" / "b.sql").write_text("select x + 1 as y from {{ ref('a') }}")
    (proj / "models" / "c.sql").write_text("select 3 as z")
    m = load_project(proj)
    r = materialize(spark, m, warehouse_dir=str(tmp_path / "wh"), exclude=["c"])
    mats = {x.name: x.materialized for x in r.results if x.kind == "model"}
    assert "c" not in mats and {"a", "b"} <= set(mats)
    r2 = materialize(
        spark, m, warehouse_dir=str(tmp_path / "wh"), select=["b"], exclude=["b"]
    )
    assert [x for x in r2.results if x.kind == "model"] == []


def test_select_accepts_seed_and_source_names(spark, tmp_path):
    """dbt selectors accept seeds/sources: `seed_name+` selects the models
    reading it; a bare seed name is valid and selects no models (seeds
    always register)."""
    import shutil

    proj = tmp_path / "proj"
    shutil.copytree("/root/repo/demo_spark", proj)
    from dbt_osmosis_spark.project import load_project

    m = load_project(proj)
    seed = next(iter(m.seeds))
    assert m.select([seed]) == set()
    desc = m.select([f"{seed}+"])
    direct = {n for n, node in m.models.items() if seed in node.depends_on}
    assert direct <= desc and desc  # descendants include direct readers


def test_source_selector_prefix(spark, tmp_path):
    """dbt `source:src.table+` selects the source's model descendants."""
    import shutil

    proj = tmp_path / "proj"
    shutil.copytree("/root/repo/demo_spark", proj)
    from dbt_osmosis_spark.project import load_project

    m = load_project(proj)
    if not m.sources:
        return
    key = next(iter(m.sources))
    direct = {n for n, node in m.models.items() if key in node.depends_on}
    assert direct <= m.select([f"source:{key}+"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown source"):
        m.select(["source:nope.nothing"])


def test_table_readback_matches_inferred_schema(spark, sf_dir, tmp_path):
    """A materialized table is registered with the schema and rows a
    schema-inferring parquet read of its output gives, partitioned or not
    (a partition column of digit strings reads back as int)."""
    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    (proj / "project.yml").write_text("name: readback\n")
    (proj / "sources.yml").write_text(
        "sources:\n- name: tpch\n  tables:\n"
        f"  - name: orders\n    path: {sf_dir}/orders.parquet\n"
    )
    select = (
        "select o_orderkey, o_orderstatus, o_totalprice, o_orderdate, "
        "cast(o_orderkey % 3 as int) as o_bucket, cast(o_orderkey % 2 as string) as o_parity, "
        "1 as one from {{ source('tpch', 'orders') }}"
    )
    (proj / "models" / "orders_flat.sql").write_text(
        "{{ config(materialized='table') }}\n" + select
    )
    (proj / "models" / "orders_part.sql").write_text(
        "{{ config(materialized='table', partition_by=['o_orderstatus', 'o_bucket', 'o_parity']) }}\n" + select
    )
    wh = tmp_path / "wh"
    materialize(spark, load_project(proj), warehouse_dir=str(wh))
    for name in ("orders_flat", "orders_part"):
        registered = spark.table(name)
        inferred = spark.read.parquet(str(wh / f"{name}.parquet"))
        assert registered.schema == inferred.schema, name
        assert sorted(registered.collect()) == sorted(inferred.collect()), name
