"""Schema-YAML engine (SURVEY M24/M25/M26, simplified).

The reference round-trips YAML with ruamel (comment/format preservation,
LRU buffer cache with dirty pinning, atomic temp-file writes — reference:
src/dbt_osmosis/core/schema/reader.py:34-178, writer.py:118-260,
parser.py:15-22). ruamel is not available here, so this engine uses pyyaml:
structure and managed-key partitioning are preserved verbatim; comments are
NOT (documented limitation — swap the load/dump functions for ruamel when
present).

Managed top-level keys: {version, models, sources, seeds} — everything else
in a document is preserved untouched on write (the reference's "partition
into managed/unmanaged" behavior, parser.py:49-65).
"""

from __future__ import annotations

import os
import tempfile
from collections import OrderedDict
from pathlib import Path

import yaml

MANAGED_KEYS = ("version", "models", "sources", "seeds")


class YamlHandler:
    """Buffer-cached YAML IO with atomic writes.

    Cache semantics follow the reference: a bounded buffer of clean parses;
    dirty (mutated, unwritten) entries are pinned until committed
    (reference: schema/reader.py:151-159)."""

    def __init__(self, max_clean: int = 256):
        self._cache: OrderedDict[str, dict] = OrderedDict()
        self._dirty: set[str] = set()
        self._max_clean = max_clean

    def read(self, path: str | Path) -> dict:
        key = str(Path(path).resolve())
        if key in self._cache:
            self._cache.move_to_end(key)
            return self._cache[key]
        doc = yaml.safe_load(Path(path).read_text()) or {}
        self._put(key, doc)
        return doc

    def _put(self, key: str, doc: dict) -> None:
        self._cache[key] = doc
        self._cache.move_to_end(key)
        clean = [k for k in self._cache if k not in self._dirty]
        while len(clean) > self._max_clean:
            evict = clean.pop(0)
            del self._cache[evict]

    def mark_dirty(self, path: str | Path) -> None:
        self._dirty.add(str(Path(path).resolve()))

    def _merge(self, path: str | Path, doc: dict | None) -> tuple[str, dict, str, bool]:
        """(cache key, merged document, its YAML text, whether that text
        differs from the file on disk). Managed keys come from ``doc``,
        everything else from the document on disk — taken from the cache
        without a re-parse when ``doc`` IS the cached parse (``read``
        hands out the cached object)."""
        key = str(Path(path).resolve())
        cached = self._cache.get(key)
        if doc is None:
            doc = cached if cached is not None else {}
        on_disk = Path(path).read_text() if Path(path).exists() else None
        if on_disk is None:
            existing: dict = {}
        elif doc is cached:
            existing = doc
        else:
            existing = yaml.safe_load(on_disk) or {}
        merged = dict(existing)
        for k in MANAGED_KEYS:
            if k in doc:
                merged[k] = doc[k]
        text = yaml.safe_dump(merged, sort_keys=False, allow_unicode=True)
        return key, merged, text, text != on_disk

    def changes(self, path: str | Path, doc: dict | None = None) -> bool:
        """Whether ``write(path, doc)`` would change the file on disk."""
        return self._merge(path, doc)[3]

    def write(self, path: str | Path, doc: dict | None = None) -> bool:
        """Merge managed keys into any existing document, then atomically
        replace the file (write-to-temp + rename, reference:
        writer.py:118-240). A file whose content would not change is left
        untouched. Returns whether the file was written."""
        key, merged, text, changed = self._merge(path, doc)
        if changed:
            Path(path).parent.mkdir(parents=True, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=str(Path(path).parent), suffix=".yml.tmp")
            try:
                with os.fdopen(fd, "w") as f:
                    f.write(text)
                # validate the temp file parses before replacing
                yaml.safe_load(Path(tmp).read_text())
                os.replace(tmp, path)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        self._put(key, merged)
        self._dirty.discard(key)
        return changed

    def commit_all(self) -> int:
        """Write every dirty buffer (the reference's commit_yamls);
        returns how many files changed."""
        n = 0
        for key in sorted(self._dirty):
            n += self.write(key)
        return n


class YamlSyncError(ValueError):
    """Fail-closed sync guard: the document is ambiguous (duplicate
    entries) and picking one would silently delete user-authored YAML
    (reference contract: src/dbt_osmosis/core/sync_operations.py:535-604)."""


def model_entry(doc: dict, model_name: str) -> dict | None:
    """Find a model's entry in a schema document; fail closed on
    duplicates — syncing into either copy would drop the other's
    user-authored content."""
    hits = [
        (i, e)
        for i, e in enumerate(doc.get("models", []) or [])
        if isinstance(e, dict) and e.get("name") == model_name
    ]
    if len(hits) > 1:
        idx = ", ".join(str(i) for i, _ in hits)
        raise YamlSyncError(
            f"duplicate models[] entries for '{model_name}' at indexes {idx}; "
            "consolidate them before syncing"
        )
    return hits[0][1] if hits else None


def ensure_model_entry(doc: dict, model_name: str) -> dict:
    doc.setdefault("version", 2)
    models = doc.setdefault("models", [])
    entry = model_entry(doc, model_name)
    if entry is None:
        entry = {"name": model_name, "columns": []}
        models.append(entry)
    entry.setdefault("columns", [])
    return entry


def version_entry(entry: dict, v) -> dict | None:
    """Find a version's entry under a model; fail closed when two entries
    identify the same version (v: 1, v: 1.0 and v: "1" all count as the
    same — the same float-canonical identity schema_validation uses, so the
    sync guard and `yaml check-schemas` agree on what a duplicate is)."""
    from dbt_osmosis_spark.schema_validation import _version_key

    seen: dict[str, tuple[int, dict]] = {}
    for i, ve in enumerate(entry.get("versions") or []):
        if not isinstance(ve, dict) or ve.get("v") is None:
            continue
        key = _version_key(ve.get("v"))
        if key in seen:
            raise YamlSyncError(
                f"duplicate versions[] entries for model '{entry.get('name')}' "
                f"at indexes {seen[key][0]} and {i} both identify v={ve.get('v')!r}; "
                "consolidate them before syncing"
            )
        seen[key] = (i, ve)
    hit = seen.get(_version_key(v))
    return hit[1] if hit else None


def ensure_version_entry(entry: dict, v) -> dict:
    versions = entry.setdefault("versions", [])
    ve = version_entry(entry, v)
    if ve is None:
        ve = {"v": v, "columns": []}
        versions.append(ve)
    ve.setdefault("columns", [])
    return ve
