"""Schema introspection + catalog artifact (SURVEY M16/M17, S18).

The reference introspects live relations via the adapter with a
per-connection cache and prefers a cached catalog.json artifact
(reference: src/dbt_osmosis/core/introspection.py:1370-1514, :1517-1576).
Spark's catalog is in-process, so "live" introspection is a metadata call —
but the artifact shape is preserved so downstream tooling (YAML sync, diff,
doc coverage) works unchanged.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession


@dataclass
class ColumnInfo:
    """Reference ColumnInfo analog (name/type/comment/index)
    (reference shape: src/dbt_osmosis/core/introspection.py:1517-1576)."""

    name: str
    data_type: str
    index: int
    comment: str = ""
    meta: dict = field(default_factory=dict)


def get_columns(spark: SparkSession, relation: str) -> list[ColumnInfo]:
    """Ordered columns of a registered relation, read from the session's
    catalog on every call, so a relation re-registered with a new schema
    is seen at once. The reference caches columns per run
    (src/dbt_osmosis/core/introspection.py:99-140); here the refactor
    pipeline shares one read per relation within a pipeline call
    (``transforms.YamlRefactorContext.db_columns``)."""
    schema = spark.table(relation).schema
    return [
        ColumnInfo(
            name=f.name,
            data_type=f.dataType.simpleString(),
            index=i,
            comment=str(f.metadata.get("comment", "")) if f.metadata else "",
        )
        for i, f in enumerate(schema.fields)
    ]


def generate_catalog(spark: SparkSession, relations: list[str] | None = None) -> dict:
    """catalog.json-shaped artifact: relation → ordered column dicts.

    One sweep over temp views + catalog tables (the reference's
    `create_catalog_if_not_exists` analog)."""
    if relations is None:
        relations = sorted(
            t.name for t in spark.catalog.listTables() if t.tableType in ("TEMPORARY", "VIEW", "MANAGED", "EXTERNAL")
        )
    nodes = {}
    for rel in relations:
        nodes[rel] = {"columns": [asdict(c) for c in get_columns(spark, rel)]}
    return {"nodes": nodes}


def write_catalog(spark: SparkSession, path: str | Path, relations: list[str] | None = None) -> dict:
    catalog = generate_catalog(spark, relations)
    Path(path).write_text(json.dumps(catalog, indent=2))
    return catalog


def load_catalog(path: str | Path) -> dict | None:
    p = Path(path)
    if not p.exists():
        return None
    return json.loads(p.read_text())
