"""YAML-refactor transform pipeline (SURVEY M9-M15, M23).

The reference's flagship `yaml refactor` chains column transforms over
topo-sorted candidate nodes with a `>>` combinator that records per-op
timing (reference: src/dbt_osmosis/core/transforms.py:53-214; pipeline
composition at src/dbt_osmosis/cli/main.py:475-485). Same shape here, with
Spark introspection replacing warehouse adapters:

    pipeline = (inject_missing_columns >> remove_columns_not_in_database
                >> inherit_upstream_column_knowledge
                >> sort_columns_as_in_database >> synchronize_data_types)
    pipeline(ctx)           # all models, parents-first
    sync_to_yaml(ctx)       # commit docs to schema YAML files

Metadata is small (thousands of nodes) → driver-side by design; the *data*
introspected (spark.table(...).schema) is catalog metadata, not rows.

One schema read per node per pipeline call: within one
``TransformPipeline.__call__`` every step gets a node's live columns from
the same ``get_columns`` read (``YamlRefactorContext.db_columns``). No
transform touches Spark, so no relation can change mid-call; the next
call reads again, so a context reused after a rebuild sees the new schema.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import SparkSession

from dbt_osmosis_spark.compile import relation_name
from dbt_osmosis_spark.inheritance import build_knowledge_graph, plugin_manager
from dbt_osmosis_spark.introspect import get_columns
from dbt_osmosis_spark.project import Manifest
from dbt_osmosis_spark.yaml_engine import YamlHandler, ensure_model_entry


@dataclass
class YamlRefactorContext:
    """Carries session, manifest, per-node column docs, and settings
    (reference analog: src/dbt_osmosis/core/settings.py:100-413)."""

    spark: SparkSession
    manifest: Manifest
    project_dir: str
    # node -> {column_name -> {description, data_type, tags, meta}}
    columns_of: dict[str, dict[str, dict]] = field(default_factory=dict)
    yaml: YamlHandler = field(default_factory=YamlHandler)
    settings: dict = field(default_factory=dict)
    mutated: bool = False
    pm: object = None
    # node -> live columns read during the current pipeline call
    _live: dict | None = field(default=None, init=False, repr=False, compare=False)

    def __post_init__(self):
        if self.pm is None:
            self.pm = plugin_manager()
        for name in self.manifest.models:
            self.columns_of.setdefault(name, {})
        # explicit settings (code/CLI) are captured BEFORE merging in the
        # supplementary dbt-osmosis.yml: the two are distinct tiers of the
        # resolution chain (explicit > dbt-osmosis.yml > project vars,
        # reference: src/dbt_osmosis/core/introspection.py:834-864)
        self.explicit_settings = dict(self.settings)
        self.supplementary = {}
        supp = Path(self.project_dir) / "dbt-osmosis.yml"
        if supp.exists():
            try:
                import yaml as _pyyaml

                self.supplementary = _pyyaml.safe_load(supp.read_text()) or {}
                for k, v in self.supplementary.items():
                    self.settings.setdefault(k.replace("-", "_"), v)
            except Exception:  # malformed supplementary file is non-fatal
                pass

    def resolver(self):
        """Per-node/per-column settings resolution over the full chain,
        with this context's explicit settings, its dbt-osmosis.yml, and the
        project vars each in their own tier."""
        from dbt_osmosis_spark.settings import SettingsResolver

        return SettingsResolver(
            context_settings=self.explicit_settings,
            supplementary=self.supplementary,
            project_vars=self.manifest.vars,
        )

    def setting_for(self, name: str, node_name: str | None = None, column: str | None = None, fallback=None):
        """Resolve a setting for a node/column through the chain (the
        reference's _get_setting_for_node analog)."""
        node = self.manifest.models.get(node_name) if node_name else None
        col = None
        if node is not None and column is not None:
            col = next((c for c in node.columns if c.get("name") == column), None)
        return self.resolver().resolve(name, node=node, column=col, fallback=fallback)

    def doc_path(self, model_name: str) -> Path:
        """YAML location: sidecar `<model>.yml` next to the model file —
        the default routing template (the reference's full `{parent}/
        {schema}` templating is config surface, reference:
        src/dbt_osmosis/core/path_management.py:56-260). All versions of a
        versioned model share ONE property file named for the base model
        (dbt keeps one models[] entry with a versions[] list)."""
        node = self.manifest.models[model_name]
        p = Path(self.project_dir) / Path(node.path).with_suffix(".yml")
        ver = self.manifest.version_of(model_name)
        if ver is not None:
            p = p.with_name(f"{ver[0]}.yml")
        return p

    def db_columns(self, model_name: str):
        """Live columns of a model's relation, read once per pipeline call."""
        if self._live is None:
            return get_columns(self.spark, relation_name(model_name))
        cols = self._live.get(model_name)
        if cols is None:
            cols = self._live[model_name] = get_columns(self.spark, relation_name(model_name))
        return cols


TransformFn = Callable[[YamlRefactorContext, str], None]


@dataclass
class Transform:
    """A named per-node operation, composable with `>>`
    (reference: transforms.py:92-122)."""

    name: str
    fn: TransformFn

    def __rshift__(self, other: "Transform | TransformPipeline") -> "TransformPipeline":
        if isinstance(other, TransformPipeline):
            return TransformPipeline([self, *other.steps])
        return TransformPipeline([self, other])

    def __call__(self, ctx: YamlRefactorContext, node: str | None = None) -> None:
        TransformPipeline([self])(ctx, node)


@dataclass
class TransformPipeline:
    steps: list[Transform]
    timings: list[tuple[str, float]] = field(default_factory=list)

    def __rshift__(self, other: "Transform | TransformPipeline") -> "TransformPipeline":
        steps = other.steps if isinstance(other, TransformPipeline) else [other]
        return TransformPipeline([*self.steps, *steps])

    def __call__(self, ctx: YamlRefactorContext, node: str | None = None) -> None:
        # reference candidate filter excludes ephemeral nodes from all
        # osmosis processing (src/dbt_osmosis/core/node_filters.py:126) —
        # they have no relation to introspect
        nodes = [node] if node else [
            n
            for n in ctx.manifest.topo_sort()
            if ctx.manifest.models[n].materialized != "ephemeral"
        ]
        ctx._live = {}
        try:
            for step in self.steps:
                t0 = time.perf_counter()
                for n in nodes:
                    step.fn(ctx, n)
                self.timings.append((step.name, time.perf_counter() - t0))
        finally:
            ctx._live = None


def _transform(name: str) -> Callable[[TransformFn], Transform]:
    def deco(fn: TransformFn) -> Transform:
        return Transform(name, fn)

    return deco


@_transform("inject_missing_columns")
def inject_missing_columns(ctx: YamlRefactorContext, node: str) -> None:
    """DB columns absent from docs → append placeholders
    (reference: transforms.py:321-399)."""
    docs = ctx.columns_of[node]
    for col in ctx.db_columns(node):
        if col.name not in docs:
            docs[col.name] = {
                "description": "",
                "data_type": col.data_type,
                "tags": [],
                "meta": {},
            }
            ctx.mutated = True


@_transform("remove_columns_not_in_database")
def remove_columns_not_in_database(ctx: YamlRefactorContext, node: str) -> None:
    """Doc columns absent from the DB → drop (reference: transforms.py:402-455)."""
    docs = ctx.columns_of[node]
    live = {c.name for c in ctx.db_columns(node)}
    for stale in [c for c in docs if c not in live]:
        del docs[stale]
        ctx.mutated = True


@_transform("inherit_upstream_column_knowledge")
def inherit_upstream_column_knowledge(ctx: YamlRefactorContext, node: str) -> None:
    """Apply the ancestor knowledge graph to undocumented columns
    (reference: transforms.py:217-318). force_inherit via settings."""
    force = bool(ctx.settings.get("force_inherit_descriptions"))
    graph = build_knowledge_graph(ctx.manifest, node, ctx.columns_of, ctx.pm)
    docs = ctx.columns_of[node]
    for col, know in graph.items():
        entry = docs.get(col)
        if entry is None or know.empty():
            continue
        if know.description and (force or not (entry.get("description") or "").strip()):
            if entry.get("description") != know.description:
                entry["description"] = know.description
                ctx.mutated = True
        for tag in know.tags:
            if tag not in entry.setdefault("tags", []):
                entry["tags"].append(tag)
                ctx.mutated = True
        for k, v in know.meta.items():
            if entry.setdefault("meta", {}).get(k) != v:
                entry["meta"][k] = v
                ctx.mutated = True


@_transform("sort_columns_as_in_database")
def sort_columns_as_in_database(ctx: YamlRefactorContext, node: str) -> None:
    """Reorder docs by warehouse ordinal; unknown columns sink to the end
    (ordinal 99_999 — reference: transforms.py:458-508)."""
    docs = ctx.columns_of[node]
    order = {c.name: c.index for c in ctx.db_columns(node)}
    ranked = sorted(docs.items(), key=lambda kv: (order.get(kv[0], 99_999), kv[0]))
    if list(docs) != [k for k, _ in ranked]:
        ctx.columns_of[node] = dict(ranked)
        ctx.mutated = True


@_transform("sort_columns_alphabetically")
def sort_columns_alphabetically(ctx: YamlRefactorContext, node: str) -> None:
    """(reference: transforms.py:511-547)"""
    docs = ctx.columns_of[node]
    ranked = sorted(docs.items(), key=lambda kv: kv[0])
    if list(docs) != [k for k, _ in ranked]:
        ctx.columns_of[node] = dict(ranked)
        ctx.mutated = True


@_transform("synchronize_data_types")
def synchronize_data_types(ctx: YamlRefactorContext, node: str) -> None:
    """Copy live types into docs (reference: transforms.py:583-644);
    output case per `output-to-lower` setting."""
    docs = ctx.columns_of[node]
    lower = bool(ctx.settings.get("output_to_lower"))
    for col in ctx.db_columns(node):
        entry = docs.get(col.name)
        if entry is None:
            continue
        dt = col.data_type.lower() if lower else col.data_type
        if entry.get("data_type") != dt:
            entry["data_type"] = dt
            ctx.mutated = True


def sort_columns_as_configured(ctx: YamlRefactorContext, node: str | None = None) -> None:
    """Dispatch on the `sort-by` setting (reference: transforms.py:550-580)."""
    mode = ctx.settings.get("sort_by", "database")
    step = sort_columns_alphabetically if mode == "alphabetical" else sort_columns_as_in_database
    step(ctx, node)


def sync_to_yaml(
    ctx: YamlRefactorContext, node: str | None = None, dry_run: bool = False
) -> list[Path]:
    """Write per-node column docs into sidecar schema YAML (SURVEY M23,
    reference: src/dbt_osmosis/core/sync_operations.py:21-313) with atomic
    replace; returns the paths whose content changed — a file that would
    be rewritten with identical bytes is left untouched. ``dry_run``
    computes the same merged documents and returns the paths that WOULD
    change without touching disk (the reference's --dry-run mutation
    tracking, src/dbt_osmosis/core/schema/writer.py:118-240).

    With the `fusion_compat` setting on, column meta/tags nest under
    `config:` (the dbt-fusion schema layout, reference:
    src/dbt_osmosis/core/sync_operations.py:210-257); default is the
    classic flat layout."""
    fusion = bool(ctx.settings.get("fusion_compat"))
    lower = bool(ctx.settings.get("output_to_lower"))
    written: list[Path] = []
    candidates = [node] if node else [
        n
        for n in ctx.manifest.topo_sort()
        if ctx.manifest.models[n].materialized != "ephemeral"
    ]
    from dbt_osmosis_spark.yaml_engine import ensure_version_entry

    for name in candidates:
        path = ctx.doc_path(name)
        doc = ctx.yaml.read(path) if path.exists() else {}
        ver = ctx.manifest.version_of(name)
        if ver is not None:
            # versioned model: one models[] entry keyed by base name, column
            # docs nested under the matching versions[] item; both lookups
            # fail closed on ambiguous duplicates (yaml_engine guards)
            base, vnum = ver
            entry = ensure_model_entry(doc, base)
            entry["latest_version"] = ctx.manifest.latest_version_num(base)
            entry = ensure_version_entry(entry, vnum)
        else:
            entry = ensure_model_entry(doc, name)
        cols_out = []
        for col, meta in ctx.columns_of[name].items():
            item = {
                "name": col,
                **{
                    k: v
                    for k, v in meta.items()
                    if v or k == "description"  # keep empty description keys
                },
            }
            if lower:
                # reference --output-to-lower: column names and types land
                # lowercase in the written YAML (transforms.py:321-399)
                item["name"] = item["name"].lower()
                if isinstance(item.get("data_type"), str):
                    item["data_type"] = item["data_type"].lower()
            if fusion and (item.get("meta") or item.get("tags")):
                item["config"] = {
                    k: item.pop(k) for k in ("meta", "tags") if item.get(k)
                }
            cols_out.append(item)
        entry["columns"] = cols_out
        node_obj = ctx.manifest.models[name]
        if node_obj.description:
            entry["description"] = node_obj.description
        if ctx.yaml.changes(path, doc) if dry_run else ctx.yaml.write(path, doc):
            written.append(path)
    return written


def load_docs_from_yaml(ctx: YamlRefactorContext) -> None:
    """Seed ctx.columns_of from existing sidecar YAML files."""
    from dbt_osmosis_spark.yaml_engine import model_entry, version_entry

    for name in ctx.manifest.models:
        path = ctx.doc_path(name)
        if not path.exists():
            continue
        ver = ctx.manifest.version_of(name)
        if ver is not None:
            entry = model_entry(ctx.yaml.read(path), ver[0])
            entry = version_entry(entry, ver[1]) if entry else None
        else:
            entry = model_entry(ctx.yaml.read(path), name)
        if not entry:
            continue
        for col in entry.get("columns") or []:
            ctx.columns_of[name][col["name"]] = {
                "description": col.get("description", ""),
                "data_type": col.get("data_type"),
                "tags": list(col.get("tags") or []),
                "meta": dict(col.get("meta") or {}),
            }
