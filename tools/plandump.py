"""Physical-plan audit artifact: writes PLANS.md.

For every catalog query, records the scale-relevant physical-plan
properties (exchanges, join strategies, Python stages, pushed filters,
whole-stage-codegen coverage) in one table, plus the full formatted
plans of the flagship queries — so a reviewer can audit the plans
without running Spark. tests/test_plans.py PINS the properties that are
contractual; this artifact makes the whole surface visible.

Usage: python tools/plandump.py [sf_dir] [out_md] [plans_dir]

With ``plans_dir``, the full formatted plan of EVERY catalog query is
also written to ``plans_dir/<query>.txt`` (the per-round evidence dumps
under plans/; compare two heads by dumping each into its own directory).

Plans are captured from ``df.explain(mode="formatted")``'s stdout, not
from the private classic-mode JVM internals
(``df._jdf.queryExecution()``), which do not exist under Spark Connect.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FLAGSHIPS = [
    "q_latest_state",
    "q_join_star",
    "q_minhash_lsh",
    "q_quality_signals",
    "q_corpus_hygiene",
    "q_ann_ivf",
]


def plan_props(plan: str) -> dict:
    return {
        "exchanges": plan.count(") Exchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "python": plan.count("MapInPandas")
        + plan.count("BatchEvalPython")
        + plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas"),
        "aqe": "yes" if "AdaptiveSparkPlan" in plan else "",
        "pushed": "yes"
        if re.search(r"PushedFilters: \[[^\]]", plan)
        else "",
        "takeordered": "yes" if "TakeOrderedAndProject" in plan else "",
        "cartesian": "YES" if "CartesianProduct" in plan else "",
    }


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    plans_dir = sys.argv[3] if len(sys.argv) > 3 else None

    from nexus_event_stream_spark.plans.catalog import CATALOG
    from nexus_event_stream_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    if plans_dir is not None:
        os.makedirs(plans_dir, exist_ok=True)

    rows = []
    full = {}
    for name, spec in CATALOG.items():
        plan = formatted_plan(spec.build(spark, sf_dir))
        rows.append((name, plan_props(plan)))
        if name in FLAGSHIPS:
            full[name] = plan
        if plans_dir is not None:
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)

    lines = [
        "# PLANS — physical-plan audit of the declared catalog",
        "",
        f"Generated by `python tools/plandump.py {sf_dir}` at the current",
        "head; regenerate after plan-affecting changes. Contractual",
        "properties are PINNED in tests/test_plans.py — this file makes",
        "the whole surface reviewable without running Spark.",
        "",
        "Columns: Exchange nodes (shuffles/broadcasts), broadcast-hash vs",
        "sort-merge joins, Python stages (MapInPandas etc. — the Arrow",
        "codec/UDAF kernels, everything else is JVM), AQE runtime",
        "re-planning, parquet filter pushdown, TakeOrdered top-k,",
        "cartesian products (must be NONE).",
        "",
        "| query | Exch | BHJ | SMJ | Py | AQE | pushed | top-k | cartesian |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, p in rows:
        lines.append(
            f"| {name} | {p['exchanges']} | {p['bhj']} | {p['smj']} | "
            f"{p['python']} | {p['aqe']} | {p['pushed']} | "
            f"{p['takeordered']} | {p['cartesian']} |"
        )

    lines += ["", "## Flagship plans (full, formatted)", ""]
    for name in FLAGSHIPS:
        lines += [f"### {name}", "", "```", full[name].rstrip(), "```", ""]

    with open(out_md, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}: {len(rows)} queries, {len(full)} full plans")
    if plans_dir is not None:
        print(f"wrote {len(rows)} formatted plans to {plans_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
