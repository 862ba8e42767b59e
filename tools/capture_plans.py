"""Capture normalized .explain("formatted") output for registered queries.

Writes ``<out dir>/<query>_<suffix>.txt`` for each named query so plan
claims can be checked without running Spark. Usage::

    python tools/capture_plans.py <suffix> <query> [<query> ...]

``$SPARK_GRAFT_SF_DIR`` picks the data directory (default sf0.1 — the
bench scale, so the captured join strategies match the benched plans)
and ``$SPARK_GRAFT_PLANS_DIR`` the output directory (default
``plans/r13``). Building the DataFrame may run real jobs (index builds,
BPE training collects); that is the cost of capturing the exact serve
plan the bench times. A one-line summary (exchange count, join
strategies) heads each file.

Plans are always normalized (``normalize``): expression ids, exchange
``plan_id``s, RDD and codegen-stage counters, the repository root and
the per-process ``-<pid>`` suffix of scratch layouts are replaced by
placeholders, and scan locations are
rendered untruncated. Two captures of the same plans — from two
checkouts, two processes — are then byte-equal, so ``diff -r`` of two
capture directories is empty exactly when the plans are equal.
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from dbt_osmosis_spark.operators import QUERIES, load_all  # noqa: E402
from dbt_osmosis_spark.plans.audit import formatted_plan  # noqa: E402
from dbt_osmosis_spark.session import get_spark  # noqa: E402


def normalize(plan: str) -> str:
    """Replace the run-specific tokens of a formatted plan with fixed
    placeholders: ``#123`` expression ids, ``plan_id=N``, the session's
    RDD and whole-stage-codegen counters, the repository root and the
    ``-<pid>`` suffix of per-process scratch layouts."""
    plan = plan.replace(_REPO, "<repo>")
    plan = re.sub(rf"-{os.getpid()}(?=[/\],\s]|$)", "-<pid>", plan)
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(r"codegen id : \d+", "codegen id : N", plan)
    return re.sub(r"plan_id=\d+", "plan_id=N", plan)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get("SPARK_GRAFT_PLANS_DIR", os.path.join(_REPO, "plans", "r13"))
    os.makedirs(out_dir, exist_ok=True)
    load_all()
    spark = get_spark(app_name=f"capture-plans-{suffix}")
    # scan locations print whole, so the root/pid placeholders always apply
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = normalize(formatted_plan(df))
        except Exception as exc:  # capture must not die mid-list
            plan = f"CAPTURE FAILED: {type(exc).__name__}: {exc}"
        # formatted-plan node syntax: "(12) Exchange" is a shuffle;
        # broadcasts print as "BroadcastExchange" (a different token).
        n_exch = len(re.findall(r"\(\d+\) Exchange\b", plan))
        joins = sorted(
            set(
                re.findall(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                    r"BroadcastNestedLoopJoin|CartesianProduct)",
                    plan,
                )
            )
        )
        summary = (
            f"== summary: sf_dir={sf_dir} shuffle_exchanges={n_exch} "
            f"join_nodes={joins or ['none']} =="
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(summary + "\n\n" + plan + "\n")
        print(f"{name}: {summary}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
