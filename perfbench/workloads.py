"""The benchmark workloads: dev_loop and index_lifecycle.

Each workload is a closed loop (one client thread, one SparkSession) with
four phases driven by ``run.py``:

- ``generate()``: write the seeded inputs; not part of ``setup_s``.
- ``setup()``: load inputs and warm up at the measured scale.
- ``stream(ops, n_cycles)``: the fixed operation sequence, each call
  through ``ops.run(kind, fn)`` so it is timed and checked.
- ``check(ops)``: output checks outside the timed window; a failed check
  marks the operations it covers as failed.

For the traced part of a ``--trace 1`` run the workload installs its span
wrappers in ``patch(tracer)`` and reports layer counters in
``layer_metrics(tracer, ops)``; ``ops.tracer`` is None everywhere else.
"""

from __future__ import annotations

import math
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np

import gen_inputs as gen
from tracing import catalyst_phases


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs):
    """The highest percentile with at least 10 samples beyond it:
    returns (value, percentile, n) or (None, None, n) below 11 samples."""
    n = len(xs)
    if n < 11:
        return None, None, n
    pct = math.floor(100 * (n - 10) / n)
    s = sorted(xs)
    return s[min(n - 1, math.ceil(pct / 100 * n) - 1)], pct, n


class Ops:
    """Records every timed operation: kind, wall seconds, ok flag, and in
    the traced run the Spark counters and Catalyst phases it caused."""

    def __init__(self, sampler=None, captured: list | None = None):
        self.records: list[dict] = []
        self.sampler = sampler
        self.captured = captured  # DataFrames created/collected during an op
        self.tracer = None

    def run(self, kind: str, fn, *args, **kwargs):
        rec = {"type": kind, "ok": True}
        if self.sampler is not None:
            self.sampler.sample()  # drop jobs of untimed work between operations
        if self.tracer is not None:
            self.tracer.op_id = len(self.records)
        if self.captured is not None:
            self.captured.clear()
        t0 = time.perf_counter()
        try:
            out = self.tracer.span(f"op.{kind}", fn, *args, **kwargs) if self.tracer else fn(*args, **kwargs)
        except Exception:  # counted in failed_frac; the stream goes on
            out = None
            rec["ok"] = False
            print(f"op {kind} failed:", file=sys.stderr)
            traceback.print_exc()
        rec["wall"] = time.perf_counter() - t0
        if self.sampler is not None:
            rec["spark"] = self.sampler.sample()
        if self.captured is not None:
            ph = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
            for df in self.captured:
                for k, v in catalyst_phases(df).items():
                    ph[k] += v
            rec["catalyst"] = ph
            self.captured.clear()
        self.records.append(rec)
        return out, rec

    def fail(self, rec: dict, why: str) -> None:
        if rec["ok"]:
            print(f"check failed for {rec['type']}: {why}", file=sys.stderr)
        rec["ok"] = False

    def walls(self, kind: str) -> list[float]:
        return [r["wall"] for r in self.records if r["type"] == kind]

    def kinds(self) -> list[str]:
        return list(dict.fromkeys(r["type"] for r in self.records))


# ---------------------------------------------------------------------------


class DevLoop:
    """A dbt developer at the editor: workbench previews of Zipf-popular
    models, a ``run --select`` of one ``table`` mart, and a whole-project
    YAML refactor pass, per cycle."""

    name = "dev_loop"
    cycle_s = 3.5  # measured wall seconds per cycle, in-cycle checks included, 4-core host
    previews_per_cycle = 8
    warm_cycles = 3  # cycles keep speeding up until about the fourth; time past that ramp
    # The most YAML files a second refactor pass over an unchanged project
    # may write. The target is 0, but sync_to_yaml rewrites every model's
    # file with identical bytes, so the ceiling is one write per model
    # until it skips unchanged files.
    second_pass_writes_max = 128

    def __init__(self, spark, seed: int, run_dir: Path, inputs_dir: Path):
        self.spark, self.seed, self.run_dir = spark, seed, run_dir
        self.inputs_dir = inputs_dir
        self.layer: dict[str, float] = {}

    def generate(self, n_cycles: int) -> None:
        star = gen.star_tables(self.inputs_dir / f"star-{gen.STAR_VERSION}")
        self.project_dir = self.run_dir / "project"
        self.shape = gen.dbt_project(self.project_dir, star, self.seed)
        self.warehouse = str(self.run_dir / "warehouse")

    def setup(self, n_cycles: int) -> None:
        from dbt_osmosis_spark.project import load_project
        from dbt_osmosis_spark.runner import materialize
        from dbt_osmosis_spark.serving import SqlSession

        t = time.perf_counter()
        self.manifest = load_project(self.project_dir)
        self.layer["project.load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        materialize(self.spark, self.manifest, warehouse_dir=self.warehouse, read_only=True)
        self.layer["runner.register_s"] = time.perf_counter() - t
        self.session = SqlSession(self.spark, self.manifest)
        # preview targets: every non-mart model, ranked by popularity in a
        # fixed order; the seed draws the Zipf sequence over those ranks
        marts = set(self.shape["marts"])
        cands = [m for m in self.shape["models"] if m not in marts]
        order = np.random.default_rng(0).permutation(len(cands))
        ranked = [cands[i] for i in order]
        rng = np.random.default_rng(self.seed)
        total = (n_cycles + self.warm_cycles) * self.previews_per_cycle
        self.targets = [ranked[i] for i in gen.zipf_ranks(rng, len(ranked), total)]
        # cycle i rebuilds mart i % 8, so every run rebuilds the same roots
        self.marts = self.shape["marts"]
        # warm-up: full cycles at the measured scale
        self.pipes = []
        self.next_cycle = 0
        self.stream(Ops(), self.warm_cycles)
        self.pipes = []

    # -- operations ------------------------------------------------------
    def preview(self, model: str) -> dict:
        out = self.session.workbench(self.manifest.models[model].raw_sql)
        if not out["columns"]:
            raise RuntimeError(f"empty preview for {model}")
        return out

    # run_select and refactor import the package names at call time, so
    # they see the traced run's patched attributes
    def run_select(self, mart: str):
        from dbt_osmosis_spark.runner import materialize

        report = materialize(self.spark, self.manifest, warehouse_dir=self.warehouse, select=[mart])
        if not report.ok:
            raise RuntimeError(f"run --select {mart} failed")
        return report

    def refactor(self):
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

        ctx = YamlRefactorContext(spark=self.spark, manifest=self.manifest,
                                  project_dir=str(self.project_dir))
        load_docs_from_yaml(ctx)
        pipe = (inject_missing_columns >> remove_columns_not_in_database
                >> inherit_upstream_column_knowledge >> sort_columns_as_in_database
                >> synchronize_data_types)
        pipe(ctx)
        written = sync_to_yaml(ctx)
        return pipe, written

    def _cycle(self, ops: Ops, i: int) -> None:
        for model in self.targets[i * self.previews_per_cycle:(i + 1) * self.previews_per_cycle]:
            ops.run("preview", self.preview, model)
        mart = self.marts[i % len(self.marts)]
        _, rec = ops.run("run_select", self.run_select, mart)
        rec["bytes_written"] = gen.dir_stats(Path(self.warehouse, f"{mart}.parquet"))[1]
        self.rowcount_check(ops, rec, mart)
        gen.reset_yaml(self.project_dir, self.shape["staging_yaml"])
        out, rec = ops.run("refactor", self.refactor)
        if out is not None:
            self.pipes.append(out[0])

    def stream(self, ops: Ops, n_cycles: int) -> None:
        for _ in range(n_cycles):
            self._cycle(ops, self.next_cycle)
            self.next_cycle += 1

    # -- checks ----------------------------------------------------------
    def rowcount_check(self, ops: Ops, rec: dict, mart: str) -> None:
        """The table ``run --select`` wrote has the model view's row count."""
        from dbt_osmosis_spark.compile import JinjaCompiler, relation_name

        if not rec["ok"]:
            return
        sql = JinjaCompiler(self.manifest).compile(self.manifest.models[mart].raw_sql).compiled_sql
        got = self.spark.table(relation_name(mart)).count()
        want = self.spark.sql(sql).count()
        if got != want or got == 0:
            ops.fail(rec, f"{mart}: table rows {got} != view rows {want}")

    def check(self, ops: Ops) -> dict:
        import yaml

        refactors = [r for r in ops.records if r["type"] == "refactor"]
        ymls = sorted(Path(self.project_dir, "models").rglob("*.yml"))
        before = {p: p.read_bytes() for p in ymls}
        pipe, written = self.refactor()
        changed = [p for p in sorted(Path(self.project_dir, "models").rglob("*.yml"))
                   if before.get(p) != p.read_bytes()]
        if changed:
            for r in refactors:
                ops.fail(r, f"second pass changed {len(changed)} yaml file(s)")
        if len(written) > self.second_pass_writes_max:
            for r in refactors:
                ops.fail(r, f"second pass wrote {len(written)} yaml files, "
                            f"more than {self.second_pass_writes_max}")
        # inherited descriptions reach the mart columns
        staging = {}
        for text in self.shape["staging_yaml"].values():
            doc = yaml.safe_load(text)
            for m in doc["models"]:
                staging[m["name"]] = {c["name"]: c["description"] for c in m["columns"]}
        missing = []
        for mart, (stg, key) in self.shape["mart_keys"].items():
            doc = yaml.safe_load(Path(self.project_dir, "models", "marts", f"{mart}.yml").read_text())
            cols = {c["name"]: c.get("description", "") for c in doc["models"][0]["columns"]}
            if cols.get(key) != staging[stg][key]:
                missing.append(f"{mart}.{key}")
        if missing:
            for r in refactors:
                ops.fail(r, f"descriptions not inherited: {missing}")
        return {"second_pass_changed_files": len(changed),
                "second_pass_files_written": len(written),
                "second_pass_writes_max": self.second_pass_writes_max,
                # the goal, which sync_to_yaml does not meet yet
                "second_pass_writes_zero": not written,
                "marts_missing_inherited_docs": missing}

    # -- metrics ---------------------------------------------------------
    def headline(self, ops: Ops) -> dict:
        pv = ops.walls("preview")
        t, pct, n = tail(pv)
        return {
            "preview_p50_s": (median(pv), "s"),
            "preview_tail_s": (t, "s", {"percentile": pct, "samples": n}),
            "run_select_p50_s": (median(ops.walls("run_select")), "s"),
            "refactor_p50_s": (median(ops.walls("refactor")), "s"),
        }

    def patch(self, tracer) -> None:
        from dbt_osmosis_spark import compile as compile_mod
        from dbt_osmosis_spark import lint, runner, serving, transforms, yaml_engine

        tracer.patch(compile_mod.JinjaCompiler, "compile", "compile.compile")
        tracer.patch(lint, "lint_sql", "lint.lint_sql")
        tracer.patch(serving.SqlSession, "workbench", "serving.workbench")
        tracer.patch(runner, "materialize", "runner.materialize")
        tracer.patch(transforms, "get_columns", "introspect.get_columns")
        tracer.patch(transforms, "build_knowledge_graph", "inheritance.knowledge_graph")
        tracer.patch(transforms, "sync_to_yaml", "transforms.sync_to_yaml")
        tracer.patch(transforms, "load_docs_from_yaml", "transforms.load_docs_from_yaml")
        tracer.patch(yaml_engine.YamlHandler, "read", "yaml.read")
        tracer.patch(yaml_engine.YamlHandler, "write", "yaml.write")

    def layer_metrics(self, tracer, ops: Ops) -> dict:
        steps: dict[str, float] = {}
        for p in self.pipes:
            for name, dt in p.timings:
                steps[name] = steps.get(name, 0.0) + dt
        runs = [r for r in ops.records if r["type"] == "run_select"]
        out = {
            "runner.materialize_s": tracer.total("runner.materialize"),
            "runner.models_built": sum(1 for r in runs if r["ok"]),
            "runner.bytes_written": sum(r.get("bytes_written", 0) for r in runs),
            "compile.calls": tracer.counts["compile.compile"],
            "compile.s": tracer.total("compile.compile"),
            "lint.s": tracer.total("lint.lint_sql"),
            # the serving layer's only span is the workbench
            "serving.workbench_self_s": tracer.layer_report([]).get("serving", {}).get("self_s", 0.0),
            "introspect.get_columns_calls": tracer.counts["introspect.get_columns"],
            "introspect.get_columns_s": tracer.total("introspect.get_columns"),
            "inheritance.knowledge_graph_s": tracer.total("inheritance.knowledge_graph"),
            "yaml.read_s": tracer.total("yaml.read"),
            "yaml.write_s": tracer.total("yaml.write"),
            "yaml.files_written": tracer.counts["yaml.write"],
        }
        for step in ("inject_missing_columns", "remove_columns_not_in_database",
                     "inherit_upstream_column_knowledge", "sort_columns_as_in_database",
                     "synchronize_data_types"):
            out[f"transforms.{step}_s"] = steps.get(step, 0.0)
        return out


# ---------------------------------------------------------------------------

# lifecycle stream sizes
BASE_DOCS = 5_000
INGEST_DOCS = 1_000
UPSERT_DOCS = 200
DELETE_DOCS = 100
TOP_K = 10
SERVES = ("bm25", "phrase", "proximity", "pinned")
PARTS = ("compact", "checkpoint", "vacuum")


class IndexLifecycle:
    """The maintained positional index: per cycle an ingest batch, an upsert
    batch of revised earlier docs, a delete batch and one serve of each
    class; compact -> checkpoint -> vacuum every ``compact_every`` cycles
    and at the end of the stream."""

    name = "index_lifecycle"
    cycle_s = 16.0  # measured wall seconds per cycle, in-cycle checks included, 4-core host
    compact_every = 2

    def __init__(self, spark, seed: int, run_dir: Path, inputs_dir: Path):
        self.spark, self.seed, self.run_dir = spark, seed, run_dir
        self.layer: dict[str, float] = {}

    def generate(self, n_cycles: int) -> None:
        """Write the corpus and the revisions as parquet and plan every
        cycle (the warm-up cycle 0 and the timed ones): which docs each
        batch ingests, revises and deletes."""
        n = n_cycles + 1
        vocab, texts, revised = gen.zipf_corpus(self.seed, BASE_DOCS + INGEST_DOCS * n, UPSERT_DOCS * n)
        self.corpus = str(self.run_dir / "corpus.parquet")
        self.revisions = str(self.run_dir / "revisions.parquet")
        gen.write_docs(self.corpus, {"doc_id": range(len(texts)), "text": texts})
        rng = np.random.default_rng(self.seed + 1)
        live = dict(enumerate(texts[:BASE_DOCS]))
        self.plan, rev = [], {"cycle": [], "doc_id": [], "text": []}
        for c in range(n):
            lo = BASE_DOCS + c * INGEST_DOCS
            live.update((i, texts[i]) for i in range(lo, lo + INGEST_DOCS))
            known = sorted(live)
            picks = [known[int(j)] for j in rng.choice(len(known), UPSERT_DOCS + DELETE_DOCS, replace=False)]
            up, gone = picks[:UPSERT_DOCS], picks[UPSERT_DOCS:]
            up_texts = revised[c * UPSERT_DOCS:(c + 1) * UPSERT_DOCS]
            rev["cycle"] += [c] * UPSERT_DOCS
            rev["doc_id"] += up
            rev["text"] += up_texts
            live.update(zip(up, up_texts))
            for i in gone:
                del live[i]
            self.plan.append({
                "ingest": (lo, lo + INGEST_DOCS),
                "ingest_bytes": sum(len(texts[i].encode()) for i in range(lo, lo + INGEST_DOCS)),
                "upsert_bytes": sum(len(t.encode()) for t in up_texts),
                "delete": gone,
                "live": dict(live),
            })
        gen.write_docs(self.revisions, rev)
        # the live corpus after the last cycle: the input of the fresh
        # reference build the output check compares against
        self.live_path = str(self.run_dir / "live.parquet")
        final = sorted(live.items())
        gen.write_docs(self.live_path, {"doc_id": [i for i, _ in final], "text": [t for _, t in final]})
        # query terms at fixed frequent, middle and rare Zipf ranks, so the
        # posting volume a serve reads is the same for every seed
        self.bm25_q = tuple((f"q{i}", vocab[r]) for i, r in enumerate((0, 10, 50, 500, 1500)))
        self.phrase_q = tuple((f"p{i}", (vocab[a], vocab[b]))
                              for i, (a, b) in enumerate(((0, 1), (2, 5), (3, 20))))
        self.prox_q = tuple((f"x{i}", vocab[a], vocab[b], 5)
                            for i, (a, b) in enumerate(((0, 4), (1, 10), (6, 30))))

    # -- layout bookkeeping ------------------------------------------------
    def _snapshot(self) -> dict[str, tuple[int, int]]:
        out = {}
        root = Path(self.layout)
        if root.exists():
            for p in root.rglob("*"):
                if p.is_file():
                    st = p.stat()
                    out[str(p)] = (st.st_size, st.st_mtime_ns)
        return out

    def _timed(self, ops: Ops, kind: str, fn, *args, **kwargs):
        """Run one lifecycle operation and account the bytes it wrote."""
        before = self._snapshot()
        out, rec = ops.run(kind, fn, *args, **kwargs)
        after = self._snapshot()
        rec["bytes_written"] = sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))
        rec["layout_files"], rec["layout_bytes"] = len(after), sum(s for s, _ in after.values())
        return out, rec

    # -- operations ------------------------------------------------------
    def ingest(self, docs, upsert: bool):
        from dbt_osmosis_spark.operators import retrieval_ext as R

        R.ingest_positional_segment(self.spark, docs, self.layout, self.seg, upsert=upsert)
        self.seg += 1

    def delete(self, ids):
        from dbt_osmosis_spark.operators import retrieval_ext as R

        R.delete_segmented(self.spark, self.layout, self.spark.createDataFrame(
            [(i,) for i in ids], "doc_id long"), self.del_id)
        self.del_id += 1

    def serve(self, cls: str, tracer=None):
        from dbt_osmosis_spark.operators import retrieval_ext as R

        build = {
            "bm25": lambda: R.query_bm25_segmented(self.spark, self.layout, self.bm25_q, TOP_K),
            "phrase": lambda: R.query_phrase_segmented(self.spark, self.layout, self.phrase_q, TOP_K),
            "proximity": lambda: R.query_proximity_segmented(self.spark, self.layout, self.prox_q, TOP_K),
            "pinned": lambda: R.query_bm25_segmented(self.spark, self.layout, self.bm25_q, TOP_K,
                                                     mgen=self.pin[0]),
        }[cls]
        df = tracer.span(f"lifecycle.serve.{cls}.build", build) if tracer else build()
        if self.captured is not None:
            self.captured.append(df)
        rows = tracer.span(f"lifecycle.serve.{cls}.collect", df.collect) if tracer else df.collect()
        return sorted(tuple(r) for r in rows)

    def _maintain(self, parts: dict) -> int:
        from dbt_osmosis_spark.operators import retrieval_ext as R

        t = time.perf_counter()
        R.compact_segments(self.spark, self.layout)
        t1 = time.perf_counter()
        gen_id = R.checkpoint_manifest(self.layout)
        t2 = time.perf_counter()
        R.vacuum_segments(self.layout)
        parts.update(compact=t1 - t, checkpoint=t2 - t1, vacuum=time.perf_counter() - t2)
        return gen_id

    def maintain(self, ops: Ops) -> None:
        """compact -> checkpoint -> vacuum as one operation. Maintenance
        changes no answer, so the cycle's last live bm25 serve is the answer
        a serve pinned to the new generation must reproduce."""
        parts: dict[str, float] = {}
        gen_id, rec = self._timed(ops, "maintain", self._maintain, parts)
        rec["parts"] = parts
        self.pin = (gen_id, self.last["bm25"][0])

    def _cycle(self, ops: Ops, c: int, serves=SERVES, ingest: bool = True) -> None:
        from pyspark.sql import functions as F

        from dbt_osmosis_spark.sources.parquet import read_parquet

        step = self.plan[c]
        if ingest:
            lo, hi = step["ingest"]
            batch = read_parquet(self.spark, self.corpus).filter(F.col("doc_id").between(lo, hi - 1))
            _, rec = self._timed(ops, "ingest", self.ingest, batch, True)
            rec["text_bytes"] = step["ingest_bytes"]
        revised = read_parquet(self.spark, self.revisions).filter(F.col("cycle") == c).drop("cycle")
        _, rec = self._timed(ops, "upsert", self.ingest, revised, True)
        rec["text_bytes"] = step["upsert_bytes"]
        self._timed(ops, "delete", self.delete, step["delete"])
        self.live = step["live"]
        for cls in serves:
            rows, rec = self._timed(ops, cls, self.serve, cls, ops.tracer)
            if cls == "pinned" and rows is not None and rows != self.pin[1]:
                ops.fail(rec, "pinned serve differs from the result recorded at its checkpoint")
            self.last[cls] = (rows, rec)

    def setup(self, n_cycles: int) -> None:
        from pyspark.sql import functions as F

        from dbt_osmosis_spark.sources.parquet import read_parquet

        self.layout = str(self.run_dir / "layout")
        self.captured = None
        self.seg = 0
        self.del_id = 0
        self.last: dict[str, tuple] = {}
        # warm-up at the measured scale: the base segment, which takes
        # cycle 0's ingest batch too, the rest of cycle 0 without the pinned
        # serve (no checkpoint exists yet) and one maintenance step, whose
        # checkpoint the timed pinned serves use
        warm = Ops()
        base = read_parquet(self.spark, self.corpus).filter(F.col("doc_id") < BASE_DOCS + INGEST_DOCS)
        self._timed(warm, "ingest", self.ingest, base, False)
        self._cycle(warm, 0, SERVES[:-1], ingest=False)
        self.maintain(warm)
        self.cycle0 = 1

    def stream(self, ops: Ops, n_cycles: int) -> None:
        self.captured = ops.captured
        for k in range(n_cycles):
            self._cycle(ops, self.cycle0 + k)
            if (k + 1) % self.compact_every == 0 or k == n_cycles - 1:
                self.maintain(ops)
        self.cycle0 += n_cycles

    def check(self, ops: Ops) -> dict:
        """Each serve class on the maintained layout equals the same query
        on a fresh positional build over the live corpus."""
        from dbt_osmosis_spark.operators import retrieval_ext as R

        from dbt_osmosis_spark.sources.parquet import read_parquet

        if self.live is not self.plan[-1]["live"]:
            raise RuntimeError("the stream must end after the last planned cycle")
        ref = str(self.run_dir / "fresh")
        R.write_positional_index(self.spark, read_parquet(self.spark, self.live_path), ref)
        want = {
            "bm25": R.query_bm25_from_positional(self.spark, ref, self.bm25_q, TOP_K),
            "phrase": R.query_phrase_index(self.spark, ref, self.phrase_q, TOP_K),
            "proximity": R.query_proximity_index(self.spark, ref, self.prox_q, TOP_K),
        }
        bad = []
        for cls, df in want.items():
            rows, rec = self.last[cls]
            if rows != sorted(tuple(r) for r in df.collect()):
                bad.append(cls)
                ops.fail(rec, "differs from a fresh build over the live corpus")
        shutil.rmtree(ref, ignore_errors=True)
        return {"live_docs": len(self.live), "serve_mismatch": bad}

    def headline(self, ops: Ops) -> dict:
        from dbt_osmosis_spark.operators import retrieval_ext as R

        serves = [w for c in SERVES for w in ops.walls(c)]
        t, pct, n = tail(serves)
        batches = len(ops.walls("ingest")) + len(ops.walls("upsert"))
        maint = sum(w for k in ("ingest", "upsert", "delete", "maintain") for w in ops.walls(k))
        written = sum(r.get("bytes_written", 0) for r in ops.records)
        text_in = sum(r.get("text_bytes", 0) for r in ops.records)
        live_bytes = sum(len(t.encode()) for t in self.live.values())
        _files, layout_bytes = gen.dir_stats(self.layout)
        self.segments_live = len(R._live_segments(self.layout))
        return {
            "serve_geomean_s": (geomean([median(ops.walls(c)) for c in SERVES]), "s"),
            "serve_tail_s": (t, "s", {"percentile": pct, "samples": n}),
            "maintain_s": (maint / max(1, batches), "s"),
            "write_amp": (written / text_in, "ratio"),
            "space_amp": (layout_bytes / max(1, live_bytes), "ratio"),
        }

    def patch(self, tracer) -> None:
        from dbt_osmosis_spark.operators import retrieval_ext as R

        tracer.patch_sinks(R)
        tracer.patch(R, "read_layout", "parquet.read_layout")
        for fn, span in (("ingest_positional_segment", "lifecycle.ingest"),
                         ("delete_segmented", "lifecycle.delete"),
                         ("compact_segments", "lifecycle.compact"),
                         ("checkpoint_manifest", "lifecycle.checkpoint"),
                         ("vacuum_segments", "lifecycle.vacuum")):
            tracer.patch(R, fn, span)

    def layer_metrics(self, tracer, ops: Ops) -> dict:
        out = {f"lifecycle.{k}_s": sum(ops.walls(k)) for k in ("ingest", "upsert", "delete")}
        for k in PARTS:
            out[f"lifecycle.{k}_s"] = sum(r["parts"].get(k, 0.0) for r in ops.records if "parts" in r)
        for cls in SERVES:
            out[f"lifecycle.serve.{cls}.build_s"] = tracer.total(f"lifecycle.serve.{cls}.build")
            out[f"lifecycle.serve.{cls}.collect_s"] = tracer.total(f"lifecycle.serve.{cls}.collect")
        wall, thunks = tracer.total("sinks.run"), tracer.total("sinks.thunk")
        out.update({
            "operators.build_s": sum(tracer.total(f"lifecycle.serve.{c}.build") for c in SERVES),
            "operators.collect_s": sum(tracer.total(f"lifecycle.serve.{c}.collect") for c in SERVES),
            "sinks.calls": tracer.counts["sinks.run"],
            "sinks.wall_s": wall,
            "sinks.thunk_sum_s": thunks,
            "sinks.overlap": thunks / wall if wall else 0.0,
            "parquet.read_layout_calls": tracer.counts["parquet.read_layout"],
            "parquet.read_layout_s": tracer.total("parquet.read_layout"),
            "layout.segments_live": getattr(self, "segments_live", 0),
            "layout.files": ops.records[-1].get("layout_files", 0) if ops.records else 0,
            "layout.bytes": ops.records[-1].get("layout_bytes", 0) if ops.records else 0,
            "layout.bytes_written": sum(r.get("bytes_written", 0) for r in ops.records),
        })
        return out


WORKLOADS = {w.name: w for w in (DevLoop, IndexLifecycle)}
