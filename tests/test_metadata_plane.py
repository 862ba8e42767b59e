"""Metadata plane: YAML engine, inheritance, transforms, diff, migration,
validation, lint — the reference's own dataflow operators (SURVEY §2B)."""

from __future__ import annotations

import shutil

import pytest
import yaml as pyyaml

from dbt_osmosis_spark.diff import ChangeSeverity, classify_type_change, diff_columns
from dbt_osmosis_spark.inheritance import ancestor_generations, build_knowledge_graph
from dbt_osmosis_spark.lint import lint_sql
from dbt_osmosis_spark.migration import plan_migration
from dbt_osmosis_spark.project import load_project
from dbt_osmosis_spark.runner import materialize
from dbt_osmosis_spark.transforms import (
    YamlRefactorContext,
    inherit_upstream_column_knowledge,
    inject_missing_columns,
    load_docs_from_yaml,
    remove_columns_not_in_database,
    sort_columns_as_in_database,
    sync_to_yaml,
    synchronize_data_types,
)
from dbt_osmosis_spark.validation import validate_model, validate_models
from dbt_osmosis_spark.yaml_engine import YamlHandler

DEMO = "/root/repo/demo_spark"


@pytest.fixture()
def project_copy(tmp_path):
    dst = tmp_path / "proj"
    shutil.copytree(DEMO, dst)
    return str(dst)


@pytest.fixture()
def ctx(spark, project_copy, tmp_path):
    manifest = load_project(project_copy)
    materialize(spark, manifest, warehouse_dir=str(tmp_path / "wh"))
    return YamlRefactorContext(spark=spark, manifest=manifest, project_dir=project_copy)


def test_refactor_pipeline_end_to_end(ctx):
    pipeline = (
        inject_missing_columns
        >> remove_columns_not_in_database
        >> inherit_upstream_column_knowledge
        >> sort_columns_as_in_database
        >> synchronize_data_types
    )
    pipeline(ctx)
    assert ctx.mutated
    cols = ctx.columns_of["customers"]
    assert list(cols)[:2] == ["customer_id", "first_name"]  # db order
    assert cols["customer_id"]["data_type"] in ("int", "bigint", "INT", "BIGINT")
    # timing metadata recorded per op
    assert len(pipeline.timings) == 5

    paths = sync_to_yaml(ctx)
    doc = pyyaml.safe_load(paths[-1].read_text())
    names = {m["name"] for m in doc["models"]}
    assert names <= set(ctx.manifest.models)


def test_second_sync_over_unchanged_project_writes_nothing(ctx):
    """A second refactor pass over an unchanged project changes no YAML:
    sync_to_yaml (and its dry run) returns no path and no file is
    rewritten — every mtime is unchanged."""
    import time
    from pathlib import Path

    def refactor_pass(**kw):
        c = YamlRefactorContext(
            spark=ctx.spark, manifest=ctx.manifest, project_dir=ctx.project_dir
        )
        load_docs_from_yaml(c)
        (
            inject_missing_columns
            >> remove_columns_not_in_database
            >> inherit_upstream_column_knowledge
            >> sort_columns_as_in_database
            >> synchronize_data_types
        )(c)
        return sync_to_yaml(c, **kw)

    assert refactor_pass()  # the demo's hand-written YAML is normalized once
    ymls = sorted(Path(ctx.project_dir).rglob("*.yml"))
    before = {p: p.stat().st_mtime_ns for p in ymls}
    time.sleep(0.05)  # a rewrite would now land a later mtime
    assert refactor_pass(dry_run=True) == []
    assert refactor_pass() == []
    assert {p: p.stat().st_mtime_ns for p in ymls} == before


def _full_pipeline():
    return (
        inject_missing_columns
        >> remove_columns_not_in_database
        >> inherit_upstream_column_knowledge
        >> sort_columns_as_in_database
        >> synchronize_data_types
    )


def test_pipeline_reads_each_live_schema_once(ctx, monkeypatch):
    """One pipeline call reads each non-ephemeral model's schema exactly
    once, however many of its steps look at the live columns."""
    import dbt_osmosis_spark.transforms as transforms
    from dbt_osmosis_spark.compile import relation_name

    reads = []
    real = transforms.get_columns

    def counting(spark, relation):
        reads.append(relation)
        return real(spark, relation)

    monkeypatch.setattr(transforms, "get_columns", counting)
    _full_pipeline()(ctx)
    want = sorted(
        relation_name(n) for n, m in ctx.manifest.models.items() if m.materialized != "ephemeral"
    )
    assert want and sorted(reads) == want


def test_reused_context_sees_column_added_between_calls(ctx):
    """The schema read is shared within one pipeline call only: the next
    call on the same context picks up a column the relation gained."""
    from pyspark.sql import functions as F

    from dbt_osmosis_spark.compile import relation_name

    _full_pipeline()(ctx)
    assert "added_col" not in ctx.columns_of["customers"]
    rel = relation_name("customers")
    original = ctx.spark.table(rel)
    original.withColumn("added_col", F.lit(1)).createOrReplaceTempView(rel)
    try:
        _full_pipeline()(ctx)
    finally:
        original.createOrReplaceTempView(rel)
    assert list(ctx.columns_of["customers"])[-1] == "added_col"


_AWKWARD_STRINGS = [
    "x" * 200,
    "word " * 60,
    "a" * 80 + "\n" + "b " * 60,
    "line one\nline two\n",
    "line one\n\nline two",
    "ends with space \nnext",
    "  leading",
    "trailing  ",
    "it's \"quoted\"",
    "back\\slash",
    "",
    " ",
    "héllo wörld ✓ 日本語",
    "emoji 😀 outside the BMP",
    "next\x85line",
    "line\u2028separator",
    "tab\there",
    "yes",
    "no",
    "on",
    "0123",
    "1e3",
    "null",
    "~",
    "2020-01-01",
    "key: value",
    "- item",
    "# not a comment",
    "? not a key",
]


def test_yaml_handler_writes_pure_python_emitter_bytes(ctx, tmp_path):
    """Whatever emitter backs YamlHandler, the bytes it writes are
    ``yaml.safe_dump(..., sort_keys=False, allow_unicode=True)``'s: on the
    repo's YAML, on a refactor pass's output, and on awkward strings and
    mapping keys either side of the emitters' inline-key limits."""
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    texts = [(repo / d).glob("**/*.yml") for d in ("demo_spark", "demo_dbt")]
    texts = [p.read_text() for group in texts for p in group]
    _full_pipeline()(ctx)
    sync_to_yaml(ctx)
    texts += [p.read_text() for p in Path(ctx.project_dir).rglob("*.yml")]
    docs = [d for d in map(pyyaml.safe_load, texts) if isinstance(d, dict)]
    docs += [
        {"version": 2, "models": [{"name": "m", "description": s, "columns": [{"name": s, "meta": {s: [s]}}]}]}
        for s in _AWKWARD_STRINGS
    ]
    docs += [
        {"version": 2, "models": [{"name": "m", "meta": {ch * n: ch}}]}
        for ch in ("k", "é", "日")
        for n in range(38, 132)
    ]
    h = YamlHandler()
    for i, doc in enumerate(docs):
        path = tmp_path / f"doc{i}.yml"
        # an existing file, so the merge keeps the document's key order
        path.write_text(pyyaml.safe_dump(doc, sort_keys=False))
        h.write(path, doc)
        assert path.read_text() == pyyaml.safe_dump(doc, sort_keys=False, allow_unicode=True), i


def test_inheritance_propagates_descriptions(ctx):
    # document customer_id at the staging layer, then inherit into the mart
    inject_missing_columns(ctx)
    ctx.columns_of["stg_customers"]["customer_id"]["description"] = "PK of customer"
    ctx.columns_of["stg_customers"]["customer_id"]["tags"] = ["pk"]
    inherit_upstream_column_knowledge(ctx, "customers")
    got = ctx.columns_of["customers"]["customer_id"]
    assert got["description"] == "PK of customer"
    assert "pk" in got["tags"]


def test_ancestor_generations_order(ctx):
    gens = ancestor_generations(ctx.manifest, "customers")
    assert gens[0] == ["stg_customers", "stg_orders", "stg_payments"]
    # seeds are not model nodes; generation walk stops at models
    assert all(g for g in gens)


def test_knowledge_graph_closest_wins(ctx):
    inject_missing_columns(ctx)
    ctx.columns_of["stg_orders"]["order_id"]["description"] = "close desc"
    graph = build_knowledge_graph(ctx.manifest, "orders", ctx.columns_of)
    assert graph["order_id"].description == "close desc"
    assert graph["order_id"].progenitor == "stg_orders"


def test_remove_stale_columns(ctx):
    inject_missing_columns(ctx)
    ctx.columns_of["customers"]["ghost_column"] = {"description": "stale"}
    remove_columns_not_in_database(ctx, "customers")
    assert "ghost_column" not in ctx.columns_of["customers"]


def test_yaml_handler_atomic_and_preserves_unmanaged(tmp_path):
    p = tmp_path / "schema.yml"
    p.write_text("version: 2\ncustom_section:\n  keep: true\nmodels: []\n")
    h = YamlHandler()
    doc = dict(h.read(p))
    doc["models"] = [{"name": "m1", "columns": []}]
    h.write(p, doc)
    out = pyyaml.safe_load(p.read_text())
    assert out["custom_section"] == {"keep": True}
    assert out["models"][0]["name"] == "m1"
    assert not list(tmp_path.glob("*.tmp"))


def test_diff_rename_and_type_changes():
    diff = diff_columns(
        "m",
        documented={"customer_id": "bigint", "full_name": "string", "amount": "double"},
        live={"customer_id": "int", "fullname": "string", "amount": "double"},
    )
    kinds = {c.kind for c in diff.changes}
    assert "renamed" in kinds  # full_name -> fullname via fuzzy match
    tc = [c for c in diff.changes if c.kind == "type_changed"][0]
    assert tc.column == "customer_id"
    assert tc.severity == ChangeSeverity.BREAKING  # bigint -> int narrowing


def test_type_family_classification():
    assert classify_type_change("int", "bigint") == ChangeSeverity.SAFE
    assert classify_type_change("bigint", "smallint") == ChangeSeverity.BREAKING
    assert classify_type_change("int", "double") == ChangeSeverity.WARNING
    assert classify_type_change("date", "timestamp") == ChangeSeverity.WARNING
    assert classify_type_change("string", "int") == ChangeSeverity.BREAKING


def test_migration_plan_forward_rollback_and_gating():
    diff = diff_columns(
        "orders",
        documented={"a": "int", "gone": "string"},
        live={"a": "int", "brand_new": "double"},
    )
    plan = plan_migration(diff, table="orders")
    assert any("ADD COLUMNS (brand_new double)" in s for s in plan.forward)
    assert any("DROP COLUMN gone" in s for s in plan.blocked)  # breaking gated
    plan2 = plan_migration(diff, table="orders", allow_breaking=True)
    assert any("DROP COLUMN gone" in s for s in plan2.forward)
    assert len(plan2.rollback) == len(plan2.forward)
    assert plan2.to_markdown().startswith("## Migration: orders")


def test_validation_success_and_error(spark, ctx):
    ok = validate_model(spark, ctx.manifest, "customers")
    assert ok.status == "success" and ok.row_count == 30 and ok.seconds > 0
    ctx.manifest.models["customers"].raw_sql = "select broken_col from {{ ref('stg_orders') }}"
    bad = validate_model(spark, ctx.manifest, "customers")
    assert bad.status == "error"
    assert "broken_col" in (bad.error or "")


def test_validate_all_models(spark, ctx):
    results = validate_models(spark, ctx.manifest)
    assert all(r.status == "success" for r in results)
    assert len(results) == len(ctx.manifest.models)


def test_lint_rules():
    sql = (
        "SELECT * from orders o\n"
        + "select " + "x" * 120 + "\n"
        + 'select "plain_name" from t\n'
    )
    findings = lint_sql(sql, keyword_case="lower")
    rules = {f.rule for f in findings}
    assert {"keyword-case", "select-star", "short-alias", "line-length", "unneeded-quotes"} <= rules


def test_load_docs_roundtrip(ctx):
    inject_missing_columns(ctx)
    ctx.columns_of["stg_orders"]["order_id"]["description"] = "order PK"
    sync_to_yaml(ctx, "stg_orders")
    ctx2 = YamlRefactorContext(
        spark=ctx.spark, manifest=ctx.manifest, project_dir=ctx.project_dir
    )
    load_docs_from_yaml(ctx2)
    assert ctx2.columns_of["stg_orders"]["order_id"]["description"] == "order PK"


def test_lint_tokenizer_ignores_literals_and_comments():
    """The regex linter's failure mode: rule text appearing inside string
    literals or comments must NOT be flagged (reference parity —
    sqlglot-parsed rules see token kinds, not raw text)."""
    sql = (
        "select col_a as c_alias, 'SELECT * FROM x' as msg from orders ord1\n"
        "-- SELECT * from commented_out t\n"
        "/* FROM x AS q */\n"
        'select \'it said "quoted" here\' as s from tbl1\n'
    )
    findings = lint_sql(sql, keyword_case="lower")
    rules = {f.rule for f in findings}
    assert "select-star" not in rules  # only inside a string literal
    assert "keyword-case" not in rules  # SELECT/FROM uppercase only in literals/comments
    assert "unneeded-quotes" not in rules  # double quotes inside a string
    assert "short-alias" not in rules  # ord1/tbl1 are long enough


def test_lint_short_alias_and_count_star():
    findings = lint_sql("select count(*) as n from orders o join nation na on 1=1\n")
    rules = [f.rule for f in findings]
    assert "select-star" not in rules  # count(*) is not select-star
    assert rules.count("short-alias") == 2  # 'o' and 'na'


def test_lint_dotted_relation_alias():
    findings = lint_sql("select 1 from warehouse.schema.orders od where 1=1\n")
    assert [f.rule for f in findings] == ["short-alias"]
