"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow/text output; the program under test
only ever sees the files these functions write.

- ``star_tables``: the star schema (TPC-H-like tables plus an ``events``
  table) at scale factor 0.1, with the row counts, key ranges and category
  sets of the sf0.1 corpus the operator registry is written against. It uses a fixed internal seed, so
  every run reads byte-identical tables; it is cached per work directory.
- ``dbt_project``: a layered dbt project (staging -> 4 derived layers ->
  ``table`` marts) over the star tables, with documented and tagged staging
  columns in sidecar YAML.
- ``zipf_corpus``: document texts with a Zipf vocabulary and lognormal
  lengths, plus revised texts for the upsert stream.
"""

from __future__ import annotations

import multiprocessing
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_SEED = 42
STAR_VERSION = "v2"  # bump when the generated tables change shape

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "green", "large", "red", "shiny", "small", "steel", "tiny"]
_PART_NOUN = ["anvil", "bolt", "gear", "nut", "pipe", "ring", "valve", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + seconds.astype("timedelta64[s]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(out_dir: str | Path) -> Path:
    """Write the sf0.1 star schema under ``out_dir`` (one parquet file per
    table) unless a complete copy is already there; returns the directory.
    A child process writes it, so the first run in a work directory has the
    same driver peak RSS as the runs that find the tables cached."""
    out = Path(out_dir)
    if not (out / "_COMPLETE").exists():
        child = multiprocessing.get_context("fork").Process(target=_write_star, args=(out,))
        child.start()
        child.join()
        if child.exitcode != 0:
            raise RuntimeError(f"star table generation failed (exit {child.exitcode})")
    return out


def _write_star(out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(STAR_SEED)
    n_cust, n_supp, n_part, n_ord, n_line = 15_000, 1_000, 20_000, 150_000, 600_000
    n_events, n_users = 100_000, 1_500

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    retail = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(retail),
    })
    day_s = 86_400
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord) * day_s),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[partkey] * rng.uniform(1.0, 2.1, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * day_s),
    })
    ts = np.sort(rng.uniform(0, 30 * day_s, n_events))
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + (ts * 1e6).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(60.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    (out / "_COMPLETE").write_text(STAR_VERSION)


# ---------------------------------------------------------------------------
# dev_loop: layered dbt project

# staging model -> (source table, [(out_col, expr, description, tags)])
_STAGING = {
    "stg_customer": ("customer", [
        ("customer_id", "c_custkey", "Surrogate key of the customer.", ["pk"]),
        ("customer_name", "c_name", "Display name of the customer.", ["pii"]),
        ("nation_id", "c_nationkey", "Nation the customer is billed in.", ["fk"]),
        ("account_balance", "c_acctbal", "Account balance in USD.", ["finance"]),
        ("market_segment", "c_mktsegment", "Market segment of the customer.", []),
    ]),
    "stg_orders": ("orders", [
        ("order_id", "o_orderkey", "Surrogate key of the order.", ["pk"]),
        ("customer_id", "o_custkey", "Customer who placed the order.", ["fk"]),
        ("order_status", "o_orderstatus", "Fulfilment status code.", []),
        ("order_total", "o_totalprice", "Order total in USD.", ["finance"]),
        ("order_date", "cast(o_orderdate as date)", "Calendar date of the order.", []),
        ("order_priority", "o_orderpriority", "Priority class of the order.", []),
    ]),
    "stg_lineitem": ("lineitem", [
        ("order_id", "l_orderkey", "Order the line belongs to.", ["fk"]),
        ("part_id", "l_partkey", "Part sold on the line.", ["fk"]),
        ("supplier_id", "l_suppkey", "Supplier of the line.", ["fk"]),
        ("quantity", "l_quantity", "Units sold.", []),
        ("extended_price", "l_extendedprice", "Gross line price in USD.", ["finance"]),
        ("discount", "l_discount", "Discount rate applied.", ["finance"]),
        ("return_flag", "l_returnflag", "Return status code.", []),
        ("ship_date", "cast(l_shipdate as date)", "Calendar date the line shipped.", []),
    ]),
    "stg_part": ("part", [
        ("part_id", "p_partkey", "Surrogate key of the part.", ["pk"]),
        ("part_name", "p_name", "Catalogue name of the part.", []),
        ("brand", "p_brand", "Brand label.", []),
        ("part_type", "p_type", "Part type family.", []),
        ("retail_price", "p_retailprice", "List price in USD.", ["finance"]),
    ]),
    "stg_supplier": ("supplier", [
        ("supplier_id", "s_suppkey", "Surrogate key of the supplier.", ["pk"]),
        ("supplier_name", "s_name", "Display name of the supplier.", []),
        ("nation_id", "s_nationkey", "Nation the supplier ships from.", ["fk"]),
        ("supplier_balance", "s_acctbal", "Supplier account balance in USD.", ["finance"]),
    ]),
    "stg_events": ("events", [
        ("event_id", "event_id", "Surrogate key of the event.", ["pk"]),
        ("event_ts", "ts", "Event timestamp (UTC).", []),
        ("user_id", "user_id", "User who emitted the event.", ["fk"]),
        ("event_type", "event_type", "Kind of event.", []),
        ("event_value", "value", "Numeric payload of the event.", []),
    ]),
    "stg_nation": ("nation", [
        ("nation_id", "n_nationkey", "Surrogate key of the nation.", ["pk"]),
        ("nation_name", "n_name", "Name of the nation.", []),
        ("region_id", "n_regionkey", "Region the nation belongs to.", ["fk"]),
    ]),
    "stg_region": ("region", [
        ("region_id", "r_regionkey", "Surrogate key of the region.", ["pk"]),
        ("region_name", "r_name", "Name of the region.", []),
    ]),
}

# staging models the derived layers build on: (numeric column, group key)
_CHAIN_ROOTS = {
    "stg_lineitem": ("extended_price", "supplier_id"),
    "stg_orders": ("order_total", "customer_id"),
    "stg_customer": ("account_balance", "nation_id"),
    "stg_part": ("retail_price", "brand"),
    "stg_events": ("event_value", "user_id"),
    "stg_supplier": ("supplier_balance", "nation_id"),
}


def dbt_project(out_dir: str | Path, star_dir: str | Path, seed: int,
                per_layer: int = 28, layers: int = 4, marts: int = 8) -> dict:
    """Write the layered project under ``out_dir``; returns its shape:
    ``{"models": [...], "marts": [...], "staging_yaml": {path: text},
    "mart_keys": {mart: (staging model, key column)}}``."""
    rng = np.random.default_rng(seed)
    root = Path(out_dir)
    (root / "models" / "staging").mkdir(parents=True, exist_ok=True)
    (root / "models" / "marts").mkdir(parents=True, exist_ok=True)
    (root / "project.yml").write_text("name: perfbench_project\nvars:\n  min_value: 0\n")
    src_lines = ["sources:", "  - name: tpch", "    tables:"]
    for model, (table, _cols) in _STAGING.items():
        src_lines += [
            f"      - name: {table}",
            f"        path: {Path(star_dir).resolve() / (table + '.parquet')}",
            "        format: parquet",
        ]
    (root / "sources.yml").write_text("\n".join(src_lines) + "\n")

    staging_yaml: dict[str, str] = {}
    for model, (table, cols) in _STAGING.items():
        body = ",\n".join(f"    {expr} as {name}" for name, expr, _d, _t in cols)
        (root / "models" / "staging" / f"{model}.sql").write_text(
            f"select\n{body}\nfrom {{{{ source('tpch', '{table}') }}}}\n"
        )
        ylines = ["version: 2", "models:", f"  - name: {model}",
                  f"    description: Staged {table} rows.", "    columns:"]
        for name, _expr, desc, tags in cols:
            ylines += [f"      - name: {name}", f"        description: {desc}"]
            if tags:
                ylines.append(f"        tags: [{', '.join(tags)}]")
        path = root / "models" / "staging" / f"{model}.yml"
        staging_yaml[str(path)] = "\n".join(ylines) + "\n"
        path.write_text(staging_yaml[str(path)])

    # derived layers: each model selects from one parent of the layer
    # above, carries the parent's columns through and adds one column.
    # Model j of every layer descends from staging root j % 6, so the
    # project's shape (depth, columns, rows per model) is the same for every
    # seed; the seed picks parents within a root, the added expressions and
    # the multipliers.
    roots = list(_CHAIN_ROOTS)
    info: dict[str, tuple[str, str, str]] = {r: (r, *_CHAIN_ROOTS[r]) for r in roots}
    by_root: dict[str, list[str]] = {r: [r] for r in roots}
    models = list(_STAGING)
    for layer in range(1, layers + 1):
        d = root / "models" / f"layer{layer}"
        d.mkdir(exist_ok=True)
        cur: dict[str, list[str]] = {r: [] for r in roots}
        for j in range(per_layer):
            stg = roots[j % len(roots)]
            parent = by_root[stg][int(rng.integers(0, len(by_root[stg])))]
            _, num, key = info[parent]
            name = f"l{layer}_{j:02d}_{stg[4:]}"
            kind = int(rng.integers(0, 3))
            mult = round(float(rng.uniform(0.5, 2.0)), 3)
            if kind == 0:
                extra = f"{num} * {mult} as m{layer}_{j:02d}"
                where = ""
            elif kind == 1:
                extra = f"case when {num} > {{{{ var('min_value') }}}} then 'pos' else 'neg' end as m{layer}_{j:02d}"
                where = ""
            else:
                extra = f"round({num} / {mult}, 2) as m{layer}_{j:02d}"
                where = f"\nwhere {num} >= {{{{ var('min_value') }}}}"
            (d / f"{name}.sql").write_text(
                f"select\n    *,\n    {extra}\nfrom {{{{ ref('{parent}') }}}}{where}\n"
            )
            info[name] = (stg, num, key)
            cur[stg].append(name)
            models.append(name)
        by_root = cur

    mart_names, mart_keys = [], {}
    for j in range(marts):
        stg = roots[j % len(roots)]
        parent = by_root[stg][int(rng.integers(0, len(by_root[stg])))]
        _, num, key = info[parent]
        name = f"mart_{j:02d}_{stg[4:]}"
        (root / "models" / "marts" / f"{name}.sql").write_text(
            "{{ config(materialized='table') }}\n"
            f"select\n    {key},\n    count(*) as n_rows,\n    sum({num}) as total_{num}\n"
            f"from {{{{ ref('{parent}') }}}}\ngroup by {key}\n"
        )
        mart_names.append(name)
        mart_keys[name] = (stg, key)
        models.append(name)
    return {"models": models, "marts": mart_names, "staging_yaml": staging_yaml,
            "mart_keys": mart_keys}


def reset_yaml(project_dir: str | Path, staging_yaml: dict[str, str]) -> None:
    """Return the project's YAML to its generated state: the staging
    sidecars as written, no sidecar anywhere else."""
    for p in Path(project_dir, "models").rglob("*.yml"):
        if str(p) not in staging_yaml:
            p.unlink()
    for path, text in staging_yaml.items():
        Path(path).write_text(text)


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` draws of item indices 0..n_items-1 with Zipf(s) popularity."""
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


# ---------------------------------------------------------------------------
# index_lifecycle: Zipf corpus

_SYLL = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu", "an", "el",
         "or", "ix", "ub", "ye"]


def _vocab(n: int) -> list[str]:
    """``n`` distinct pronounceable words (2-4 syllables), rank order fixed."""
    out, seen = [], set()
    k = len(_SYLL)
    i = 0
    while len(out) < n:
        a, b, c, d = i % k, (i // k) % k, (i // k**2) % k, i // k**3
        w = _SYLL[a] + _SYLL[b] + (_SYLL[c] if i >= k**2 else "") + (_SYLL[d % k] if i >= k**3 else "")
        if w not in seen:
            seen.add(w)
            out.append(w)
        i += 1
    return out


def zipf_corpus(seed: int, n_docs: int, n_revised: int, vocab_size: int = 5_000,
                median_len: int = 120, max_len: int = 2_000) -> tuple[list, list, list]:
    """``(vocab, texts, revised)``: the vocabulary in rank order, ``n_docs``
    document texts and ``n_revised`` replacement texts, all drawn from the
    same Zipf vocabulary and lognormal length distribution."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(vocab_size))
    p = 1.0 / np.arange(1, vocab_size + 1)
    p /= p.sum()

    def texts(n: int) -> list[str]:
        lens = np.clip(rng.lognormal(np.log(median_len), 0.7, n).astype(int), 1, max_len)
        flat = vocab[rng.choice(vocab_size, int(lens.sum()), p=p)]
        offs = np.concatenate([[0], np.cumsum(lens)])
        return [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(n)]

    return vocab.tolist(), texts(n_docs), texts(n_revised)


def write_docs(path: str | Path, cols: dict) -> None:
    """Write plain python columns (``doc_id`` int64, the rest inferred) as parquet."""
    pq.write_table(pa.table({k: pa.array(v, pa.int64() if k in ("doc_id", "cycle") else None)
                             for k, v in cols.items()}), path)


def dir_stats(path: str | Path) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
