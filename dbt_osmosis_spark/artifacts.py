"""Public dbt `manifest.json` artifact interop.

The reference operates on dbt-core's LIVE Manifest object (it loads a dbt
project in-process: src/dbt_osmosis/core/config.py:437-453). A user who
already ran `dbt parse` / `dbt compile` has the same information serialized
to the public artifact schema (`target/manifest.json`,
https://schemas.getdbt.com/dbt/manifest/v12.json). This module maps that
artifact to and from this engine's :class:`Manifest`, so a standard dbt
project can be handed over WITHOUT dbt-core installed in this container:

- :func:`load_manifest_json` — artifact file → engine Manifest (models,
  snapshots, seeds, sources, exposures, versioned models, project macros,
  on-run-start/end operations). Unknown resource types (tests, metrics,
  semantic models) are skipped; dbt-internal macros (``package_name`` ≠
  project) are skipped because the engine's Jinja context provides its own
  implementations of dbt's global macros.
- :func:`write_manifest_json` — engine Manifest → artifact file, enough of
  the schema that :func:`load_manifest_json` round-trips it losslessly
  (the interop contract is pinned by tests/test_dbt_interop.py).

Scale note: this is all driver-side metadata (KBs–MBs of JSON); no Spark
jobs run here. Project `vars` are NOT part of dbt's artifact schema — pass
them via the ``vars`` parameter when the project uses ``{{ var(...) }}``.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from dbt_osmosis_spark.project import Manifest, ModelNode, SeedNode, SourceNode

_SCHEMA_URL = "https://schemas.getdbt.com/dbt/manifest/v12.json"


# --------------------------------------------------------------------------
# write: engine Manifest -> public artifact
# --------------------------------------------------------------------------


def _uid_for(manifest: Manifest, dep: str) -> str | None:
    """Map a local node name to its artifact unique_id."""
    proj = manifest.project_name
    if dep in manifest.models:
        node = manifest.models[dep]
        ver = manifest.version_of(dep)
        rtype = "snapshot" if node.materialized == "snapshot" else "model"
        if ver is not None:
            return f"{rtype}.{proj}.{ver[0]}.v{ver[1]}"
        return f"{rtype}.{proj}.{dep}"
    if dep in manifest.sources:
        return f"source.{proj}.{dep}"
    if dep in manifest.seeds:
        return f"seed.{proj}.{dep}"
    return None


def _portable_path(p: str | None, project_dir: str | None) -> str | None:
    """Artifact path for a seed/source file location. With ``project_dir``,
    paths inside the project root are written project-relative (dbt's own
    convention for ``original_file_path``) so the artifact can be re-rooted
    on another machine via load_manifest_json(..., project_dir=...);
    everything else is made absolute for same-machine hand-off."""
    if not p:
        return p
    ap = os.path.abspath(p)
    if project_dir is not None:
        root = os.path.abspath(project_dir)
        rel = os.path.relpath(ap, root)
        if not rel.startswith(".."):
            return rel
    return ap


def manifest_to_artifact(manifest: Manifest, project_dir: str | None = None) -> dict:
    proj = manifest.project_name
    nodes: dict[str, dict] = {}
    for name, node in manifest.models.items():
        uid = _uid_for(manifest, name)
        ver = manifest.version_of(name)
        entry = {
            "resource_type": "snapshot" if node.materialized == "snapshot" else "model",
            "name": ver[0] if ver else name,
            "package_name": proj,
            "path": node.path,
            "original_file_path": node.path,
            "raw_code": node.raw_sql,
            "language": node.language,
            "description": node.description,
            "tags": list(node.tags),
            "config": {"materialized": node.materialized, **node.config},
            "unrendered_config": dict(node.unrendered_config),
            "meta": dict(node.meta),
            "depends_on": {
                "nodes": [u for d in node.depends_on if (u := _uid_for(manifest, d))],
                "macros": [],
            },
            "columns": {
                c["name"]: dict(c) for c in node.columns if isinstance(c, dict) and c.get("name")
            },
            "contract": {"enforced": bool(node.contract)},
            "access": node.access,
            "group": node.group,
            "version": ver[1] if ver else None,
            "latest_version": manifest.latest_version_num(ver[0]) if ver else None,
        }
        nodes[uid] = entry
    for name, seed in manifest.seeds.items():
        nodes[f"seed.{proj}.{name}"] = {
            "resource_type": "seed",
            "name": name,
            "package_name": proj,
            "path": seed.path,
            "original_file_path": _portable_path(seed.path, project_dir),
            "description": seed.description,
            "config": {"column_types": dict(seed.column_types)},
            "depends_on": {"nodes": [], "macros": []},
        }
    for which, hooks in (
        ("on-run-start", manifest.on_run_start),
        ("on-run-end", manifest.on_run_end),
    ):
        for j, sql in enumerate(hooks):
            nodes[f"operation.{proj}.{proj}-{which}-{j}"] = {
                "resource_type": "operation",
                "name": f"{proj}-{which}-{j}",
                "package_name": proj,
                "raw_code": sql,
                "index": j,
                "tags": [which],
                "depends_on": {"nodes": [], "macros": []},
            }

    sources: dict[str, dict] = {}
    for key, src in manifest.sources.items():
        source_name, table = key.split(".", 1)
        ext: dict = {}
        if src.path is not None:
            ext = {"location": _portable_path(src.path, project_dir), "file_format": src.format}
        sources[f"source.{proj}.{key}"] = {
            "resource_type": "source",
            "source_name": source_name,
            "name": table,
            "package_name": proj,
            "schema": src.schema,
            "description": src.description,
            "external": ext,
            "meta": {},
            "loaded_at_field": src.loaded_at_field,
            "freshness": dict(src.freshness),
        }

    macros: dict[str, dict] = {}
    if manifest.macro_source:
        macros[f"macro.{proj}.__project_macros__"] = {
            "name": "__project_macros__",
            "package_name": proj,
            "macro_sql": manifest.macro_source,
        }

    exposures: dict[str, dict] = {}
    for ename, exp in manifest.exposures.items():
        exposures[f"exposure.{proj}.{ename}"] = {
            "resource_type": "exposure",
            "name": ename,
            "package_name": proj,
            "type": exp.get("type", "dashboard"),
            "owner": exp.get("owner") or {},
            "description": exp.get("description", ""),
            "depends_on": {
                "nodes": [
                    u for d in exp.get("depends_on", []) if (u := _uid_for(manifest, d))
                ]
            },
        }

    return {
        "metadata": {
            "dbt_schema_version": _SCHEMA_URL,
            "project_name": proj,
            "adapter_type": "spark",
        },
        "nodes": nodes,
        "sources": sources,
        "macros": macros,
        "exposures": exposures,
        "docs": {},
        "child_map": {},
        "parent_map": {},
    }


def write_manifest_json(
    manifest: Manifest, path: str | Path, project_dir: str | None = None
) -> Path:
    """Serialize to ``path`` (atomically); returns the written path.
    Pass ``project_dir`` to write seed/source paths project-relative so the
    artifact survives a machine/directory move (see :func:`_portable_path`)."""
    out = Path(path)
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = out.with_suffix(out.suffix + ".tmp")
    tmp.write_text(
        json.dumps(manifest_to_artifact(manifest, project_dir), indent=1, sort_keys=True)
    )
    os.replace(tmp, out)
    return out


# --------------------------------------------------------------------------
# load: public artifact -> engine Manifest
# --------------------------------------------------------------------------


def _local_name(entry: dict) -> str:
    """Local node name for a model/snapshot artifact entry; versioned models
    keep the engine's ``base_vN`` node naming."""
    name = entry.get("name", "")
    ver = entry.get("version")
    if ver is not None and str(ver).lstrip("-").isdigit():
        return f"{name}_v{int(ver)}"
    return name


def load_manifest_json(
    path: str | Path,
    vars: dict | None = None,
    project_dir: str | Path | None = None,
) -> Manifest:
    """Load a public ``target/manifest.json`` artifact as an engine Manifest.

    ``project_dir`` resolves relative seed/source file paths (dbt writes
    project-relative ``original_file_path``); absolute paths pass through.
    ``vars`` supplies project vars (not part of dbt's artifact schema).
    """
    doc = json.loads(Path(path).read_text())
    meta = doc.get("metadata") or {}
    proj = meta.get("project_name") or "project"
    manifest = Manifest(project_name=proj, vars=dict(vars or {}))
    base_dir = Path(project_dir) if project_dir else Path(path).resolve().parent.parent

    def _resolve(p: str | None) -> str | None:
        if not p:
            return None
        return p if os.path.isabs(p) else str(base_dir / p)

    # pass 1: unique_id -> local name (so depends_on can be remapped)
    uid_to_local: dict[str, str] = {}
    for uid, entry in (doc.get("nodes") or {}).items():
        rt = entry.get("resource_type")
        if rt in ("model", "snapshot"):
            uid_to_local[uid] = _local_name(entry)
        elif rt == "seed":
            uid_to_local[uid] = entry.get("name", "")
    for uid, entry in (doc.get("sources") or {}).items():
        uid_to_local[uid] = f"{entry.get('source_name')}.{entry.get('name')}"

    # pass 2: build nodes
    latest_seen: dict[str, tuple[int | None, list[int]]] = {}
    operations: dict[str, list[tuple[int, str]]] = {"on-run-start": [], "on-run-end": []}
    for uid, entry in (doc.get("nodes") or {}).items():
        rt = entry.get("resource_type")
        if rt == "operation":
            tags = entry.get("tags") or []
            # dbt tags hook operations with the hook name; fall back to the
            # conventional "<project>-on-run-start-N" node naming
            which = next(
                (t for t in tags if t in operations),
                "on-run-start" if "on-run-start" in entry.get("name", "") else
                "on-run-end" if "on-run-end" in entry.get("name", "") else None,
            )
            if which:
                operations[which].append(
                    (int(entry.get("index") or 0), entry.get("raw_code") or entry.get("raw_sql") or "")
                )
            continue
        if rt == "seed":
            name = entry.get("name", "")
            cfg = entry.get("config") or {}
            manifest.seeds[name] = SeedNode(
                name=name,
                path=_resolve(entry.get("original_file_path") or entry.get("path")) or "",
                description=entry.get("description", ""),
                column_types=dict(cfg.get("column_types") or {}),
            )
            continue
        if rt not in ("model", "snapshot"):
            continue  # tests/analyses/metrics execute elsewhere
        local = _local_name(entry)
        cfg = dict(entry.get("config") or {})
        materialized = "snapshot" if rt == "snapshot" else cfg.pop("materialized", "view")
        if rt == "snapshot":
            cfg.pop("materialized", None)
        cols = entry.get("columns") or {}
        manifest.models[local] = ModelNode(
            name=local,
            raw_sql=entry.get("raw_code") or entry.get("raw_sql") or "",
            path=entry.get("original_file_path") or entry.get("path") or f"{local}.sql",
            materialized=materialized,
            language=entry.get("language", "sql"),
            depends_on=sorted(
                {
                    uid_to_local[d]
                    for d in (entry.get("depends_on") or {}).get("nodes", [])
                    if d in uid_to_local
                }
            ),
            description=entry.get("description", ""),
            config=cfg,
            tags=list(entry.get("tags") or []),
            columns=[dict(c) for c in cols.values()] if isinstance(cols, dict) else list(cols),
            contract=bool((entry.get("contract") or {}).get("enforced")),
            group=entry.get("group"),
            access=entry.get("access") or "protected",
            meta=dict(entry.get("meta") or {}),
            unrendered_config=dict(entry.get("unrendered_config") or {}),
        )
        ver = entry.get("version")
        if ver is not None and str(ver).lstrip("-").isdigit():
            base = entry.get("name", "")
            latest_raw = entry.get("latest_version")
            latest = (
                int(latest_raw)
                if latest_raw is not None and str(latest_raw).lstrip("-").isdigit()
                else None
            )
            prev = latest_seen.get(base, (None, []))
            latest_seen[base] = (latest if latest is not None else prev[0], prev[1] + [int(ver)])

    for base, (latest, nums) in latest_seen.items():
        # same degradation rule as load_project: an out-of-range
        # latest_version must not mint a dangling alias
        if latest is None or latest not in nums:
            latest = max(nums)
        manifest.version_aliases[base] = f"{base}_v{latest}"

    for uid, entry in (doc.get("sources") or {}).items():
        key = uid_to_local[uid]
        ext = entry.get("external") or {}
        smeta = entry.get("meta") or {}
        manifest.sources[key] = SourceNode(
            name=key,
            path=_resolve(ext.get("location") or smeta.get("path")),
            format=ext.get("file_format") or smeta.get("format") or "parquet",
            schema=entry.get("schema") or entry.get("source_name"),
            description=entry.get("description", ""),
            loaded_at_field=entry.get("loaded_at_field"),
            freshness=dict(entry.get("freshness") or {}),
        )

    # project-package macros only: dbt-internal macros (package "dbt") are
    # reimplemented by the engine's Jinja context, and third-party packages
    # may use dbt internals the engine doesn't emulate
    parts = [
        m.get("macro_sql", "")
        for m in (doc.get("macros") or {}).values()
        if m.get("package_name") == proj and m.get("macro_sql")
    ]
    manifest.macro_source = "\n".join(parts)

    for uid, exp in (doc.get("exposures") or {}).items():
        manifest.exposures[exp.get("name") or uid.rsplit(".", 1)[-1]] = {
            "type": exp.get("type", "dashboard"),
            "owner": exp.get("owner") or {},
            "description": exp.get("description", ""),
            "depends_on": sorted(
                {
                    uid_to_local[d]
                    for d in (exp.get("depends_on") or {}).get("nodes", [])
                    if d in uid_to_local
                }
            ),
        }

    manifest.on_run_start = [sql for _, sql in sorted(operations["on-run-start"])]
    manifest.on_run_end = [sql for _, sql in sorted(operations["on-run-end"])]
    if manifest.version_aliases:
        for node in manifest.models.values():
            node.depends_on = sorted(
                {manifest.version_aliases.get(d, d) for d in node.depends_on}
            )
    return manifest


# --------------------------------------------------------------------------
# run_results.json: the public dbt run artifact
# --------------------------------------------------------------------------
# Schema: https://schemas.getdbt.com/dbt/run-results/v6.json (subset). dbt
# writes this after every run/build/test invocation; CI systems and
# `dbt retry` consume it. The engine writes/reads the same shape so those
# integrations work unchanged.

_RUN_RESULTS_SCHEMA_URL = "https://schemas.getdbt.com/dbt/run-results/v6.json"


def write_run_results(
    manifest: Manifest,
    results,
    path: str | Path,
    elapsed: float | None = None,
) -> Path:
    """Serialize a RunReport's results to the public run_results schema.

    ``results`` is an iterable of runner.RunResult. Statuses map 1:1
    (success/error/skipped); seeds/sources get their artifact unique_ids so
    `retry`-style consumers can select precisely.
    """
    entries = []
    for r in results:
        if r.kind == "model":
            uid = _uid_for(manifest, r.name) or f"model.{manifest.project_name}.{r.name}"
        elif r.kind == "seed":
            uid = f"seed.{manifest.project_name}.{r.name}"
        else:
            uid = f"source.{manifest.project_name}.{r.name}"
        entries.append(
            {
                "unique_id": uid,
                "status": r.status,
                "message": r.error,
                "execution_time": r.execution_time or 0.0,
                "adapter_response": {"rows_affected": r.rows},
                "relation_name": r.name,
                "failures": None,
            }
        )
    doc = {
        "metadata": {
            "dbt_schema_version": _RUN_RESULTS_SCHEMA_URL,
            "project_name": manifest.project_name,
            "adapter_type": "spark",
        },
        "results": entries,
        "elapsed_time": elapsed or 0.0,
        "args": {},
    }
    out = Path(path)
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = out.with_suffix(out.suffix + ".tmp")
    tmp.write_text(json.dumps(doc, indent=1, sort_keys=True))
    os.replace(tmp, out)
    return out


def load_run_results(path: str | Path) -> dict[str, str]:
    """{local node name: status} from a run_results.json (ours or
    dbt-core's). Names come from the unique_id — dbt-core's
    ``relation_name`` is a quoted fully-qualified relation string, NOT the
    node name, so it is only a last-resort fallback. unique_id shapes:
    ``model.proj.name``, versioned ``model.proj.base.vN`` (local node
    ``base_vN``), ``source.proj.src.tbl`` (local key ``src.tbl``)."""
    import re as _re

    doc = json.loads(Path(path).read_text())
    out: dict[str, str] = {}
    for entry in doc.get("results") or []:
        parts = (entry.get("unique_id") or "").split(".")
        if len(parts) >= 3 and parts[0] == "source":
            name = ".".join(parts[2:])
        elif len(parts) >= 4 and _re.fullmatch(r"v\d+", parts[3]):
            name = f"{parts[2]}_{parts[3]}"
        elif len(parts) >= 3:
            name = parts[2]
        else:
            name = entry.get("relation_name") or ""
        if name:
            out[name] = entry.get("status") or "unknown"
    return out


# --------------------------------------------------------------------------
# catalog.json: the public dbt docs artifact
# --------------------------------------------------------------------------
# Schema: https://schemas.getdbt.com/dbt/catalog/v1.json. dbt docs sites and
# dbt-osmosis's catalog path key nodes by unique_id with name-keyed column
# dicts; the engine's internal catalog (introspect.py) keeps its simpler
# relation-keyed shape for its own cache, and `docs generate` emits THIS
# public form.

_CATALOG_SCHEMA_URL = "https://schemas.getdbt.com/dbt/catalog/v1.json"


def write_catalog_json(manifest: Manifest, spark, path: str | Path) -> dict:
    """Public dbt catalog artifact for every manifest node with a live
    relation (models/seeds by relation name, sources by key). Columns come
    from the Spark catalog — one schema lookup per node, no data scans."""
    from dbt_osmosis_spark.introspect import get_columns
    from dbt_osmosis_spark.runner import relation_name

    def entry(uid: str, rel: str, schema: str) -> dict | None:
        try:
            cols = get_columns(spark, rel)
        except Exception:  # noqa: BLE001 - node without a live relation
            return None
        return {
            "unique_id": uid,
            "metadata": {"type": "view", "schema": schema, "name": rel},
            "columns": {
                c.name: {
                    "name": c.name,
                    "type": c.data_type,
                    "index": i + 1,
                    "comment": None,
                }
                for i, c in enumerate(cols)
            },
            "stats": {},
        }

    nodes: dict[str, dict] = {}
    for name, node in manifest.models.items():
        if node.materialized == "ephemeral":
            continue
        uid = _uid_for(manifest, name) or f"model.{manifest.project_name}.{name}"
        e = entry(uid, relation_name(name), "main")
        if e:
            nodes[uid] = e
    for name in manifest.seeds:
        e = entry(f"seed.{manifest.project_name}.{name}", relation_name(name), "main")
        if e:
            nodes[f"seed.{manifest.project_name}.{name}"] = e
    sources: dict[str, dict] = {}
    for key, src in manifest.sources.items():
        if src.path is None:
            continue
        uid = f"source.{manifest.project_name}.{key}"
        e = entry(uid, relation_name(key), src.schema or "main")
        if e:
            sources[uid] = e

    doc = {
        "metadata": {
            "dbt_schema_version": _CATALOG_SCHEMA_URL,
            "project_name": manifest.project_name,
            "adapter_type": "spark",
        },
        "nodes": nodes,
        "sources": sources,
        "errors": None,
    }
    out = Path(path)
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = out.with_suffix(out.suffix + ".tmp")
    tmp.write_text(json.dumps(doc, indent=1, sort_keys=True))
    os.replace(tmp, out)
    return doc
