"""Model runner: topo-ordered materialization (the `dbt run` analog).

The reference delegates materialization to dbt-core + warehouse; our runner
walks the manifest parents-first (Kahn order, SURVEY M4) and registers every
node as a Spark relation:

- seed   → CSV read → temp view (+ optional parquet persist)
- source → parquet/csv/json read → temp view
- model  → Jinja-compile (M1) → spark.sql → temp view (`view`),
           or parquet write + re-read (`table`) for materialized models.

`view` materialization keeps the whole DAG lazy: Catalyst inlines the chain
and optimizes across model boundaries (filter pushdown through a stack of
models — something the reference's per-model warehouse round-trips cannot
do). `table` cuts the lineage for reuse-heavy nodes — the 100 TB analog of
dbt's table materialization, and where bucketing/partitioning is applied.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from dbt_osmosis_spark.compile import JinjaCompiler, relation_name
from dbt_osmosis_spark.contracts import enforce_contract
from dbt_osmosis_spark.project import Manifest
from dbt_osmosis_spark.sources.registry import read_source
from dbt_osmosis_spark.sources.seeds import load_seed


@dataclass
class RunResult:
    name: str
    kind: str  # seed | source | model
    materialized: str
    rows: int | None = None  # only counted when count_rows=True
    compiled_sql: str | None = None
    # dbt run_results fields: success | error | skipped (upstream failed)
    status: str = "success"
    error: str | None = None
    execution_time: float | None = None


@dataclass
class RunReport:
    results: list[RunResult] = field(default_factory=list)

    def names(self) -> list[str]:
        return [r.name for r in self.results]

    @property
    def ok(self) -> bool:
        return all(r.status == "success" for r in self.results)


def _swap_dirs(out: str, tmp: str) -> None:
    """Replace ``out`` with ``tmp`` leaving a recoverable copy at every
    failure point: rename old aside, rename new into place, then delete the
    old copy — a crash mid-swap leaves either ``out`` or ``out.old`` intact
    (the warehouse-atomic-MERGE analog for parquet directories)."""
    import shutil

    old = out + ".old"
    shutil.rmtree(old, ignore_errors=True)  # leftover from a prior crash
    os.rename(out, old)
    os.rename(tmp, out)
    shutil.rmtree(old)


def materialize(
    spark: SparkSession,
    manifest: Manifest,
    warehouse_dir: str | None = None,
    count_rows: bool = False,
    partition_overrides: dict[str, list[str]] | None = None,
    select: list[str] | None = None,
    exclude: list[str] | None = None,
    previous_state: dict[str, str] | None = None,
    threads: int = 1,
    full_refresh: bool = False,
    read_only: bool = False,
    on_error: str = "raise",
) -> RunReport:
    """Register all nodes as Spark relations, parents first.

    ``warehouse_dir`` is where `table`-materialized models persist as
    parquet; ``partition_overrides`` maps model name → partitionBy columns
    (scale lever: physical layout of hot tables). ``select`` takes dbt-style
    selectors (`name`, `name+`, `+name`, `tag:x` — Manifest.select): only
    selected models run with their configured materialization; unselected
    ancestors register as plain views so refs resolve (lazy — Catalyst
    inlines them, no compute), and everything else is skipped.

    ``threads`` is dbt's setting of the same name: models within one
    dependency layer (Kahn level) materialize concurrently. Each thread
    only SUBMITS Spark jobs — the cluster parallelizes within a job
    already, so threads>1 pays off when the DAG is wide and individual
    models leave executors idle (small models, skewed tails, blocking
    writes). Spark job submission is thread-safe; view registration is
    per-name so layer-mates never race on a relation.

    ``read_only=True`` registers the DAG without mutating warehouse state —
    the mode for test/profile/lineage/yaml/sql commands (dbt's test and
    docs commands never write). table/incremental/snapshot models register
    their existing warehouse parquet when present (falling back to a lazy
    view of the compiled body), hooks are skipped, and nothing is written —
    so a blind-append incremental can never double rows under `test`.

    ``on_error="continue"`` is dbt's default run behavior: a model failure
    records an error result, its transitive dependents record skipped
    results, and independent subtrees keep building (``"raise"``, the
    library default, keeps the fail-fast contract existing callers rely
    on). Source/seed registration always raises — a broken input is a
    project config error, not a per-model failure.
    """
    report = RunReport()
    manifest.check_access()
    compiler = JinjaCompiler(manifest, spark=spark)
    selected: set[str] | None = None
    needed: set[str] | None = None
    if select is not None or exclude is not None:
        # dbt semantics: --exclude subtracts its selection from --select's
        # (or from all models when --select is absent); excluded models'
        # still-needed ancestors register lazily like any unselected node
        selected = (
            manifest.select(select, previous_state)
            if select is not None
            else set(manifest.models)
        )
        if exclude:
            selected -= manifest.select(exclude, previous_state)
        needed = selected | manifest.ancestors(selected)

    run_set = needed if needed is not None else set(manifest.models)
    declared_only: set[str] = set()
    for key, src in manifest.sources.items():
        rel = relation_name(key)
        if src.path is None:
            # declared-only source (no path/meta.path/external.location):
            # nothing to register. The error is deferred to the model that
            # actually compiles against it (_require_sources) — a read-only
            # registration whose reader is served by its existing warehouse
            # relation never touches the source and must not fail.
            declared_only.add(key)
            continue
        df = read_source(spark, src.path, src.format)
        df.createOrReplaceTempView(rel)
        report.results.append(RunResult(key, "source", "view"))

    for name, seed in manifest.seeds.items():
        df = load_seed(
            spark, seed.path, name=relation_name(name), column_types=seed.column_types
        )
        report.results.append(
            RunResult(name, "seed", "view", rows=df.count() if count_rows else None)
        )

    def _run_hooks(node, which: str) -> None:
        # dbt pre_hook/post_hook: arbitrary SQL around the model build
        # (grants, ANALYZE, audit inserts). Compiled through the same Jinja
        # context ({{ this }} resolves to the model's relation).
        hooks = node.config.get(which)
        if not hooks:
            return
        if isinstance(hooks, str):
            hooks = [hooks]
        for h in hooks:
            spark.sql(compiler.compile(h, this=relation_name(node.name)).compiled_sql)

    def _missing_sources(node) -> list[str]:
        """Declared-only sources this model's COMPILE touches. Ephemeral
        dependencies inline into the compile, so their sources count too."""
        deps = set(node.depends_on)
        stack = [
            d
            for d in deps
            if d in manifest.models and manifest.models[d].materialized == "ephemeral"
        ]
        while stack:
            for d in manifest.models[stack.pop()].depends_on:
                if d not in deps:
                    deps.add(d)
                    if d in manifest.models and manifest.models[d].materialized == "ephemeral":
                        stack.append(d)
        return sorted(d for d in deps if d in declared_only)

    def _require_sources(name: str, node) -> None:
        """Named diagnostic for a model about to compile against a
        declared-only source — never a generic unresolved-view error
        pointing at the model instead of the source."""
        missing = _missing_sources(node)
        if missing:
            raise ValueError(
                f"model '{name}' reads source(s) {missing} declared without a "
                f"file location (path / meta.path / external.location); add a "
                f"location or deselect the model"
            )

    def _existing_relation(node) -> DataFrame | None:
        """The model's already-materialized warehouse relation, if any —
        what dbt's ref() resolves to for a node that is not being rebuilt."""
        if node.materialized not in ("table", "incremental", "snapshot"):
            return None
        if node.config.get("bucket_by") and node.config.get("buckets"):
            rel = relation_name(node.name)
            return spark.table(rel) if spark.catalog.tableExists(rel) else None
        if warehouse_dir is None:
            return None
        out = os.path.join(warehouse_dir, f"{node.name}.parquet")
        if not os.path.exists(out):
            return None
        df = spark.read.option("mergeSchema", "true").parquet(out)
        if "event_batch" in df.columns:  # microbatch partition column
            df = df.drop("event_batch")
        return df

    def _register_lazy(name: str, node, rel: str, label: str) -> RunResult:
        """Register without touching warehouse state: the existing
        materialized relation when there is one (so snapshot/incremental
        refs see dbt_valid_* / accumulated state, not the bare query),
        else a lazy view of the compiled body."""
        existing = _existing_relation(node)
        if existing is not None:
            existing.createOrReplaceTempView(rel)
            return RunResult(name, "model", f"{node.materialized}(existing)")
        if declared_only and _missing_sources(node):
            # read-only/unselected registration of a model whose source has
            # no file location and no existing materialization: degrade to a
            # skip so metadata commands (test/yaml/docs) over the REST of
            # the project still work — `run` on this model raises a named
            # error instead (_require_sources in _materialize_body)
            return RunResult(name, "model", "skipped(declared-only-source)")
        if node.language == "python":
            _run_python_model(spark, node).createOrReplaceTempView(rel)
        else:
            compiled = compiler.compile(node.raw_sql)
            spark.sql(compiled.compiled_sql).createOrReplaceTempView(rel)
        return RunResult(name, "model", label)

    # on_error="continue": names that errored or were skipped. Guarded by a
    # lock — the layer-parallel runner mutates it from worker threads.
    import threading as _threading
    import time as _time

    blocked: set[str] = set()
    blocked_lock = _threading.Lock()

    def _process_model_tracked(name: str) -> RunResult | None:
        """dbt-run semantics around _process_model: time every model, and
        under on_error='continue' convert a failure into an error result and
        cascade 'skipped' to dependents instead of aborting the command."""
        node = manifest.models.get(name)
        # the skip cascade applies only to models that would EXECUTE their
        # materialization: out-of-selection dependents must stay absent
        # from the report (and run_results.json — a retry must not rebuild
        # nodes the user never selected), and lazily-registered ancestors
        # keep their own error handling
        executes = (
            node is not None
            and not read_only
            and (needed is None or name in needed)
            and (selected is None or name in selected)
        )
        if executes and on_error == "continue":
            with blocked_lock:
                bad = sorted(d for d in node.depends_on if d in blocked)
            if bad:
                with blocked_lock:
                    blocked.add(name)
                return RunResult(
                    name,
                    "model",
                    node.materialized,
                    status="skipped",
                    error=f"upstream failed: {bad}",
                )
        t0 = _time.perf_counter()
        try:
            result = _process_model(name)
        except Exception as exc:  # noqa: BLE001 - per-model failure boundary
            if on_error != "continue":
                raise
            with blocked_lock:
                blocked.add(name)
            return RunResult(
                name,
                "model",
                node.materialized if node is not None else "?",
                status="error",
                error=f"{type(exc).__name__}: {exc}",
                execution_time=round(_time.perf_counter() - t0, 4),
            )
        if result is not None:
            result.execution_time = round(_time.perf_counter() - t0, 4)
        return result

    def _process_model(name: str) -> RunResult | None:
        node = manifest.models[name]
        rel = relation_name(name)
        if needed is not None and name not in needed:
            return None
        if node.materialized == "ephemeral":
            # dbt contract: ephemeral models never become relations — every
            # consumer inlines the body as a __dbt__cte__ CTE at compile time
            return RunResult(name, "model", "ephemeral")
        if read_only:
            # test/profile/docs-style commands: resolve refs, write nothing,
            # run no hooks
            return _register_lazy(name, node, rel, "view(read-only)")
        if selected is not None and name not in selected:
            # unselected ancestor: refs resolve to existing warehouse state
            return _register_lazy(name, node, rel, "view(upstream)")
        _run_hooks(node, "pre_hook")
        result = _materialize_body(name, node, rel)
        _run_hooks(node, "post_hook")
        return result

    def _materialize_body(name: str, node, rel: str) -> RunResult:
        _require_sources(name, node)
        if node.materialized in ("incremental", "snapshot"):
            # dbt --full-refresh: drop and rebuild from scratch — unless the
            # model pins full_refresh=false (the guard that keeps a fat
            # event table from being accidentally nuked). Snapshots never
            # full-refresh in dbt (history would be unrecoverable).
            if (
                full_refresh
                and node.materialized == "incremental"
                and node.config.get("full_refresh") is not False
                and warehouse_dir is not None
            ):
                import shutil

                shutil.rmtree(
                    os.path.join(warehouse_dir, f"{name}.parquet"), ignore_errors=True
                )
        if node.materialized == "incremental":
            return _materialize_incremental(
                spark, compiler, node, rel, warehouse_dir, count_rows
            )
        if node.materialized == "snapshot":
            return _materialize_snapshot(
                spark, compiler, node, rel, warehouse_dir, count_rows
            )
        if node.language == "python":
            df: DataFrame = _run_python_model(spark, node)
            compiled_sql = None
        else:
            compiled = compiler.compile(node.raw_sql)
            df = spark.sql(compiled.compiled_sql)
            compiled_sql = compiled.compiled_sql
        if node.contract:
            enforce_contract(node, df)
        if node.materialized == "table":
            bucket_by = node.config.get("bucket_by")
            buckets = int(node.config.get("buckets") or 0)
            if bucket_by and buckets:
                # Bucketed catalog table: co-locates joins/aggs on the bucket
                # key — two tables bucketed the same way join with ZERO
                # shuffle (asserted in tests/test_plans.py). At 100 TB this
                # is the difference between re-shuffling every fact join and
                # none; bucket count is the config knob.
                cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
                spark.sql(f"DROP TABLE IF EXISTS {rel}")
                (
                    df.write.mode("overwrite")
                    .format("parquet")
                    .bucketBy(buckets, *cols)
                    .sortBy(*cols)
                    .saveAsTable(rel)
                )
                return RunResult(
                    name,
                    "model",
                    "table(bucketed)",
                    rows=spark.table(rel).count() if count_rows else None,
                    compiled_sql=compiled_sql,
                )
            if warehouse_dir is None:
                raise ValueError(f"model {name} is materialized=table but no warehouse_dir")
            out = os.path.join(warehouse_dir, f"{name}.parquet")
            sort_by = node.config.get("sort_by")
            if sort_by:
                # Zone-map layout: range-partition then sort so every output
                # file owns a disjoint key range. Parquet row-group min/max
                # stats become tight — a later range/point filter on the sort
                # key skips whole files/row-groups instead of scanning 100 TB
                # and discarding. One extra shuffle at write time buys every
                # downstream read. (tests/test_scale_levers.py asserts the
                # disjoint-range property on the written footers.)
                cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
                n_files = int(node.config.get("sort_files") or 0)
                if n_files:
                    df = df.repartitionByRange(n_files, *cols)
                else:
                    # AQE picks the count from data size (coalesces tiny SFs
                    # to one file; fans out at real scale).
                    df = df.repartitionByRange(*cols)
                df = df.sortWithinPartitions(*cols)
            writer = df.write.mode("overwrite")
            parts = (partition_overrides or {}).get(name) or node.config.get("partition_by")
            if parts:
                if isinstance(parts, str):
                    parts = [parts]
                writer = writer.partitionBy(*parts)
            writer.parquet(out)
            # register the written schema instead of inferring it again (an
            # extra Spark job) — except for partitioned output, whose read
            # types partition columns from the directory names (a string
            # column of digits reads back as int) and must keep doing so
            df = spark.read.parquet(out) if parts else spark.read.schema(df.schema).parquet(out)
        df.createOrReplaceTempView(rel)
        return RunResult(
            name,
            "model",
            node.materialized,
            rows=df.count() if count_rows else None,
            compiled_sql=compiled_sql,
        )

    if not read_only:
        for h in manifest.on_run_start:
            spark.sql(compiler.compile(h).compiled_sql)

    if threads <= 1:
        for name in manifest.topo_sort():
            result = _process_model_tracked(name)
            if result is not None:
                report.results.append(result)
    else:
        from concurrent.futures import ThreadPoolExecutor

        for layer in manifest.topo_layers():
            with ThreadPoolExecutor(max_workers=threads) as pool:
                for result in pool.map(_process_model_tracked, sorted(layer)):
                    if result is not None:
                        report.results.append(result)

    if not read_only:
        for h in manifest.on_run_end:
            spark.sql(compiler.compile(h).compiled_sql)
    return report


class _PyModelConfig:
    """`dbt.config` inside a python model: callable to SET (a parse-time
    no-op at runtime — load_project already extracted the literals) and
    `.get()` to READ resolved config, matching dbt's python-model API."""

    def __init__(self, config: dict):
        self._config = config

    def __call__(self, **kwargs) -> None:
        return None

    def get(self, key: str, default=None):
        return self._config.get(key, default)


class _DbtShim:
    """The `dbt` object passed to `def model(dbt, session)` — dbt's
    python-model contract. ref()/source() return DataFrames of already-
    materialized upstream relations (the runner walks parents first, so
    they exist by construction)."""

    def __init__(self, spark: SparkSession, node, incremental: bool = False):
        self._spark = spark
        self.config = _PyModelConfig(node.config)
        self.this = relation_name(node.name)
        # dbt python-model contract: dbt.is_incremental is a bool attribute
        self.is_incremental = incremental

    def ref(self, name: str) -> DataFrame:
        return self._spark.table(relation_name(name))

    def source(self, source_name: str, table_name: str) -> DataFrame:
        return self._spark.table(relation_name(f"{source_name}.{table_name}"))


def _run_python_model(spark: SparkSession, node, incremental: bool = False) -> DataFrame:
    """Execute a dbt python model: the module body runs, then
    `model(dbt, session)` must return a DataFrame.

    This is where Spark is the *native* target rather than an adapter
    afterthought: `session` IS the SparkSession, so the model body uses
    the full DataFrame API (pandas UDFs, ML, applyInPandas) and the
    returned plan fuses into the same Catalyst optimization as SQL models
    — refs stay lazy, no materialization boundary inside the model.
    """
    ns: dict = {}
    exec(compile(node.raw_sql, node.path, "exec"), ns)  # noqa: S102 — dbt executes model files by contract
    fn = ns.get("model")
    if not callable(fn):
        raise ValueError(f"python model {node.name}: no `def model(dbt, session)` found")
    df = fn(_DbtShim(spark, node, incremental), spark)
    if not isinstance(df, DataFrame):
        raise TypeError(
            f"python model {node.name}: model() must return a DataFrame, got {type(df).__name__}"
        )
    return df


def _materialize_incremental(
    spark: SparkSession,
    compiler: "JinjaCompiler",
    node,
    rel: str,
    warehouse_dir: str | None,
    count_rows: bool,
) -> RunResult:
    """Incremental materialization — dbt's `materialized='incremental'`
    contract on parquet.

    First run = full build. Later runs compile with `is_incremental()=True`
    and `{{ this }}` bound to the existing relation so the model SQL can
    filter to new rows, then apply the configured strategy:

    - `append` (default): blind append — the 100 TB event-log path, zero
      read of existing data;
    - `merge` (+ `unique_key`): upsert semantics via existing-rows
      anti-join ∪ new rows. Parquet has no row-level MERGE, so this
      rewrites — bounded by partitioning in real deployments (swap in
      Delta/Iceberg for true MERGE; the runner contract stays identical);
    - `insert_overwrite` (+ `partition_by`): replaces only the partitions
      present in the increment (dynamic partition overwrite) — the
      idempotent backfill pattern at scale.

    `on_schema_change` (dbt contract): `ignore` (default) projects the
    increment onto the frozen target schema; `fail` raises listing the
    drift; `append_new_columns` keeps evolved columns (mergeSchema reads
    null-fill old files); `sync_all_columns` adopts the model's current
    schema (dropped columns leave the VIEW immediately — a metadata op;
    old files rewrite only where the strategy rewrites anyway).
    """
    if warehouse_dir is None:
        raise ValueError(f"model {node.name} is incremental but no warehouse_dir")
    out = os.path.join(warehouse_dir, f"{node.name}.parquet")
    exists = os.path.exists(out)
    strategy = node.config.get("incremental_strategy", "append" if not node.config.get("unique_key") else "merge")
    if strategy == "microbatch":
        return _materialize_microbatch(spark, compiler, node, rel, out, exists, count_rows)
    parts = node.config.get("partition_by")
    if isinstance(parts, str):
        parts = [parts]

    if exists:
        spark.read.parquet(out).createOrReplaceTempView(rel)
    if node.language == "python":
        # python incremental: the model reads prior state via
        # spark.table(dbt.this) and branches on dbt.is_incremental
        new_rows: DataFrame = _run_python_model(spark, node, incremental=exists)
        compiled_sql = None
    else:
        compiled = compiler.compile(node.raw_sql, this=rel, incremental=exists)
        new_rows = spark.sql(compiled.compiled_sql)
        compiled_sql = compiled.compiled_sql
    if node.contract:
        enforce_contract(node, new_rows)

    model_cols = list(new_rows.columns)
    on_sc = node.config.get("on_schema_change", "ignore")
    if exists:
        # dbt's on_schema_change contract, at schema cost only (no data
        # read): target schema comes from the parquet footers.
        target_schema = spark.read.parquet(out).schema
        tnames = [f.name for f in target_schema.fields]
        added = [c for c in new_rows.columns if c not in tnames]
        removed = [c for c in tnames if c not in new_rows.columns]
        if added or removed:
            if on_sc == "fail":
                raise ValueError(
                    f"incremental model {node.name}: schema changed "
                    f"(added={added}, removed={removed}) and on_schema_change='fail'"
                )
            if on_sc == "ignore":
                # project the increment onto the frozen target schema:
                # new columns dropped, vanished columns null-filled
                from pyspark.sql import functions as F

                new_rows = new_rows.select(
                    *[
                        F.col(f.name)
                        if f.name in new_rows.columns
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in target_schema.fields
                    ]
                )
            # append_new_columns / sync_all_columns: increment files keep
            # the evolved schema; mergeSchema reads unify (removed columns
            # are dropped from the registered view under sync — a metadata
            # op, no rewrite of old files, same as warehouse DROP COLUMN)

    if not exists:
        writer = new_rows.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(out)
    elif strategy == "append":
        writer = new_rows.write.mode("append")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(out)
    elif strategy == "merge":
        from pyspark.sql import functions as F

        key = node.config.get("unique_key")
        if not key:
            raise ValueError(f"incremental model {node.name}: merge needs unique_key")
        existing = spark.read.option("mergeSchema", "true").parquet(out)

        # dbt incremental_predicates: bound the portion of the target the
        # merge examines. Out-of-scope rows pass through untouched and —
        # critically for scale — their predicate is pushed to the parquet
        # scan, so with zone-mapped/partitioned layout the in-scope scan
        # reads only the merge window, not the whole table. (dbt's
        # documented contract: a key appearing outside the window is NOT
        # deduplicated — the user promises the window covers the keys.)
        preds = node.config.get("incremental_predicates")
        if preds:
            if isinstance(preds, str):
                preds = [preds]
            pred = F.expr(" AND ".join(f"({p})" for p in preds))
            in_scope = existing.filter(pred)
            out_scope = existing.filter(~F.coalesce(pred, F.lit(False)))
        else:
            in_scope, out_scope = existing, None

        upd_cols = node.config.get("merge_update_columns")
        excl_cols = node.config.get("merge_exclude_columns")
        if isinstance(upd_cols, str):
            upd_cols = [upd_cols]
        if isinstance(excl_cols, str):
            excl_cols = [excl_cols]
        if upd_cols or excl_cols:
            # partial-update merge: matched rows take NEW values only for
            # the update set; every other column retains the OLD value
            data_cols = [c for c in existing.columns if c != key]
            upd = list(upd_cols or [c for c in data_cols if c not in (excl_cols or [])])
            o, n = in_scope.alias("o"), new_rows.alias("n")
            matched = o.join(n, key, "inner").select(
                key,
                *[
                    (F.col(f"n.{c}") if c in upd else F.col(f"o.{c}")).alias(c)
                    for c in data_cols
                ],
            )
            old_unmatched = in_scope.join(new_rows.select(key).distinct(), key, "left_anti")
            new_unmatched = new_rows.join(existing.select(key).distinct(), key, "left_anti")
            merged = old_unmatched.unionByName(matched).unionByName(
                new_unmatched.select(old_unmatched.columns)
            )
        else:
            keep = in_scope.join(new_rows.select(key).distinct(), key, "left_anti")
            merged = keep.unionByName(new_rows, allowMissingColumns=True)
        if out_scope is not None:
            merged = out_scope.unionByName(merged, allowMissingColumns=True)
        if on_sc == "sync_all_columns":
            # the rewrite adopts the model's current schema outright
            merged = merged.select(*model_cols)
        tmp = out + ".tmp"
        w = merged.write.mode("overwrite")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(tmp)
        _swap_dirs(out, tmp)
    elif strategy == "insert_overwrite":
        if not parts:
            raise ValueError(f"incremental model {node.name}: insert_overwrite needs partition_by")
        # per-write option, not the session conf: takes precedence over
        # spark.sql.sources.partitionOverwriteMode and is thread-safe under
        # the layer-parallel runner (a session-conf set/restore races with
        # layer-mates, and a static-mode partitioned overwrite would drop
        # every pre-existing partition)
        (
            new_rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*parts)
            .parquet(out)
        )
    else:
        raise ValueError(f"unknown incremental_strategy: {strategy}")

    df = spark.read.option("mergeSchema", "true").parquet(out)
    if exists and on_sc == "sync_all_columns":
        df = df.select(*model_cols)
    df.createOrReplaceTempView(rel)
    return RunResult(
        node.name,
        "model",
        f"incremental({strategy})" if exists else "incremental(full build)",
        rows=df.count() if count_rows else None,
        compiled_sql=compiled_sql,
    )


_BATCH_FMT = {  # (strptime fmt, Spark date_format pattern)
    "hour": ("%Y-%m-%d %H", "yyyy-MM-dd HH"),
    "day": ("%Y-%m-%d", "yyyy-MM-dd"),
    "month": ("%Y-%m", "yyyy-MM"),
}


def _materialize_microbatch(
    spark: SparkSession,
    compiler: "JinjaCompiler",
    node,
    rel: str,
    out: str,
    exists: bool,
    count_rows: bool,
) -> RunResult:
    """Microbatch incremental — dbt 1.9's `incremental_strategy='microbatch'`
    contract on parquet.

    The model output carries an `event_time` column; processing is sliced
    into `batch_size` periods (hour|day|month). Each run (re)processes only
    the open batch plus `lookback` closed batches and replaces exactly those
    period partitions — the idempotent, retry-safe backfill unit. `begin`
    bounds the first full build.

    Spark-first instead of dbt's N sequential per-batch queries: ONE job
    filters the increment to `event_time >= cutoff` — a direct column
    predicate that Catalyst pushes through the model plan to the upstream
    parquet scan — and dynamically overwrites only the `event_batch`
    partitions present in the increment. Same semantics (bounded
    reprocessing window, partition-grain idempotence), no scheduler
    round-trips. The cutoff batch comes from the target's partition values
    (directory listing — zero data read at any table size), and a re-run
    with unchanged input rewrites the same partitions to the same bytes.
    """
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    event_time = node.config.get("event_time")
    if not event_time:
        raise ValueError(f"microbatch model {node.name} needs event_time")
    batch_size = node.config.get("batch_size", "day")
    if batch_size not in _BATCH_FMT:
        raise ValueError(f"microbatch model {node.name}: batch_size must be one of {sorted(_BATCH_FMT)}")
    lookback = int(node.config.get("lookback", 1))
    py_fmt, spark_fmt = _BATCH_FMT[batch_size]

    if exists:
        spark.read.parquet(out).drop("event_batch").createOrReplaceTempView(rel)
    compiled = compiler.compile(node.raw_sql, this=rel, incremental=exists)
    new_rows: DataFrame = spark.sql(compiled.compiled_sql)
    if node.contract:
        enforce_contract(node, new_rows)

    if not exists:
        begin = node.config.get("begin")
        if begin:
            new_rows = new_rows.filter(F.col(event_time) >= F.lit(begin).cast("timestamp"))
    else:
        # partition-column-only scan: values come from the directory
        # listing, zero data read. Cast to string — Spark type-infers
        # date-like partition values into DateType.
        batches = (
            spark.read.parquet(out)
            .select(F.col("event_batch").cast("string").alias("event_batch"))
            .distinct()
            .collect()
        )
        max_batch = max(r.event_batch for r in batches)
        mx = datetime.strptime(max_batch, py_fmt)
        if batch_size == "month":
            months = mx.year * 12 + (mx.month - 1) - lookback
            cutoff = datetime(months // 12, months % 12 + 1, 1)
        elif batch_size == "day":
            cutoff = mx - timedelta(days=lookback)
        else:
            cutoff = mx - timedelta(hours=lookback)
        new_rows = new_rows.filter(F.col(event_time) >= F.lit(cutoff))

    with_batch = new_rows.withColumn(
        "event_batch", F.date_format(F.col(event_time), spark_fmt)
    )
    if not exists:
        with_batch.write.mode("overwrite").partitionBy("event_batch").parquet(out)
    else:
        # per-write dynamic overwrite (thread-safe; see insert_overwrite)
        (
            with_batch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_batch")
            .parquet(out)
        )

    df = spark.read.parquet(out).drop("event_batch")
    df.createOrReplaceTempView(rel)
    return RunResult(
        node.name,
        "model",
        "incremental(microbatch)" if exists else "incremental(full build)",
        rows=df.count() if count_rows else None,
        compiled_sql=compiled.compiled_sql,
    )


def _materialize_snapshot(
    spark: SparkSession,
    compiler: "JinjaCompiler",
    node,
    rel: str,
    warehouse_dir: str | None,
    count_rows: bool,
) -> RunResult:
    """SCD2 snapshot — dbt's `materialized='snapshot'` contract on parquet.

    Tracks row-level change history of a mutable relation: each key's
    versions carry (dbt_valid_from, dbt_valid_to]; the open version has
    dbt_valid_to IS NULL. Strategies mirror dbt snapshots:

    - `check` (default): a row changed when any check column differs
      (`check_cols` config, else every non-key column), null-safe;
    - `timestamp` (+ `updated_at`): changed when the timestamp advanced.

    Set-based at scale: ONE full-outer join of current open rows against
    the new state per run classifies every key as unchanged / changed /
    added / deleted — no per-row driver logic, shuffles once on the key.
    Hard deletes close the open row (dbt's invalidate_hard_deletes=true).
    Parquet rewrite stands in for MERGE exactly as in incremental merge;
    on Delta/Iceberg the same plan becomes a row-level MERGE. `snapshot_at`
    config pins the effective timestamp (deterministic replays/backfills);
    default is the run's wall clock.
    """
    from pyspark.sql import functions as F

    if warehouse_dir is None:
        raise ValueError(f"model {node.name} is a snapshot but no warehouse_dir")
    key = node.config.get("unique_key")
    if not key:
        raise ValueError(f"snapshot model {node.name} needs unique_key")
    out = os.path.join(warehouse_dir, f"{node.name}.parquet")
    exists = os.path.exists(out)
    compiled = compiler.compile(node.raw_sql)
    new = spark.sql(compiled.compiled_sql)
    snap_at = node.config.get("snapshot_at")
    ts = F.lit(snap_at).cast("timestamp") if snap_at else F.current_timestamp()
    data_cols = list(new.columns)

    if not exists:
        snap = new.withColumn("dbt_valid_from", ts).withColumn(
            "dbt_valid_to", F.lit(None).cast("timestamp")
        )
        snap.write.mode("overwrite").parquet(out)
    else:
        hist = spark.read.parquet(out)
        closed = hist.filter(F.col("dbt_valid_to").isNotNull())
        open_rows = hist.filter(F.col("dbt_valid_to").isNull()).alias("o")
        n = new.alias("n")
        strategy = node.config.get("strategy", "check")
        if strategy == "timestamp":
            upd = node.config.get("updated_at")
            if not upd:
                raise ValueError(f"snapshot {node.name}: timestamp strategy needs updated_at")
            changed = F.col(f"n.{upd}") > F.col(f"o.{upd}")
        elif strategy == "check":
            check_cols = node.config.get("check_cols") or [c for c in data_cols if c != key]
            if isinstance(check_cols, str):
                check_cols = [check_cols]
            changed = F.lit(False)
            for c in check_cols:
                changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        else:
            raise ValueError(f"unknown snapshot strategy: {strategy}")

        j = open_rows.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer").persist()
        in_old = F.col(f"o.{key}").isNotNull()
        in_new = F.col(f"n.{key}").isNotNull()
        old_cols = [F.col(f"o.{c}").alias(c) for c in data_cols] + [F.col("o.dbt_valid_from").alias("dbt_valid_from")]
        unchanged = j.filter(in_old & in_new & ~changed).select(
            *old_cols, F.col("o.dbt_valid_to").alias("dbt_valid_to")
        )
        closed_now = j.filter(in_old & (~in_new | changed)).select(
            *old_cols, ts.alias("dbt_valid_to")
        )
        opened_now = j.filter(in_new & (~in_old | changed)).select(
            *[F.col(f"n.{c}").alias(c) for c in data_cols],
            ts.alias("dbt_valid_from"),
            F.lit(None).cast("timestamp").alias("dbt_valid_to"),
        )
        merged = closed.unionByName(unchanged).unionByName(closed_now).unionByName(opened_now)
        tmp = out + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        j.unpersist()
        _swap_dirs(out, tmp)

    df = spark.read.parquet(out)
    df.createOrReplaceTempView(rel)
    return RunResult(
        node.name,
        "model",
        "snapshot" if not exists else f"snapshot({node.config.get('strategy', 'check')})",
        rows=df.count() if count_rows else None,
        compiled_sql=compiled.compiled_sql,
    )
