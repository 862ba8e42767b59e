"""Schema-YAML engine (SURVEY M24/M25/M26, simplified).

The reference round-trips YAML with ruamel (comment/format preservation,
an LRU buffer cache, atomic temp-file writes — reference:
src/dbt_osmosis/core/schema/reader.py:34-178, writer.py:118-260,
parser.py:15-22). This engine uses PyYAML instead: structure and
managed-key partitioning are preserved verbatim; comments are NOT
(documented limitation). Loading and dumping go through libyaml's C
classes when PyYAML was built with them, and through the pure-Python
classes otherwise; either way the bytes written are the pure-Python
emitter's (see ``_dump``), so switching builds never rewrites a file.

Managed top-level keys: {version, models, sources, seeds} — everything else
in a document is preserved untouched on write (the reference's "partition
into managed/unmanaged" behavior, parser.py:49-65).
"""

from __future__ import annotations

import os
import re
import tempfile
from collections import OrderedDict
from pathlib import Path

import yaml

try:
    from yaml import CSafeDumper as _Dumper
    from yaml import CSafeLoader as _Loader
except ImportError:  # PyYAML built without libyaml
    from yaml import SafeDumper as _Dumper
    from yaml import SafeLoader as _Loader

MANAGED_KEYS = ("version", "models", "sources", "seeds")

# where libyaml's text can differ from the pure-Python emitter's (_dump):
# an escape, an empty mapping key, a line long enough for a 123+ char key
_LIBYAML_DIVERGES = re.compile(r"\\|'':|^.{123}", re.M)


def _load(text: str):
    return yaml.load(text, Loader=_Loader)


def _dump(doc: dict) -> str:
    """``yaml.safe_dump(doc, sort_keys=False, allow_unicode=True)``, byte
    for byte, emitted by libyaml where that gives the same bytes.

    libyaml's emitter departs from the pure-Python one in four places:
    it escapes U+0085 and characters above U+FFFF (Python writes them
    raw), it folds long double-quoted scalars at spaces (Python ends the
    line with an escape), it writes an empty mapping key inline (Python
    as an explicit ``? ''``), and it keeps a mapping key inline up to 128
    bytes (Python below 123 characters, as it counts the ``!!str`` tag).
    Its text is kept only when it shows none of them: no backslash (no
    escape, hence no double-quoted scalar), no ``'':``, no line of 123+
    characters and, in non-ASCII text, no ``?`` (no key made explicit by
    its byte count). Anything else is emitted again in Python."""
    text = yaml.dump(doc, Dumper=_Dumper, sort_keys=False, allow_unicode=True)
    if _Dumper is yaml.SafeDumper:
        return text
    if _LIBYAML_DIVERGES.search(text) or (not text.isascii() and "?" in text):
        return yaml.safe_dump(doc, sort_keys=False, allow_unicode=True)
    return text


class YamlHandler:
    """Buffer-cached YAML IO with atomic writes.

    The buffer holds up to ``max_entries`` parsed documents, least
    recently used evicted first (reference: schema/reader.py:151-159).
    ``read`` hands out the cached object itself; ``write`` caches the
    document it merged."""

    def __init__(self, max_entries: int = 256):
        self._cache: OrderedDict[str, dict] = OrderedDict()
        self._max_entries = max_entries

    def read(self, path: str | Path) -> dict:
        key = str(Path(path).resolve())
        if key in self._cache:
            self._cache.move_to_end(key)
            return self._cache[key]
        doc = _load(Path(path).read_text()) or {}
        self._put(key, doc)
        return doc

    def _put(self, key: str, doc: dict) -> None:
        self._cache[key] = doc
        self._cache.move_to_end(key)
        if len(self._cache) > self._max_entries:
            self._cache.popitem(last=False)

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
            existing = _load(on_disk) or {}
        merged = dict(existing)
        for k in MANAGED_KEYS:
            if k in doc:
                merged[k] = doc[k]
        text = _dump(merged)
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
                _load(Path(tmp).read_text())
                os.replace(tmp, path)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        self._put(key, merged)
        return changed

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
