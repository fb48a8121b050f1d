"""Capture .explain("formatted") for every catalog query → plans/r15/.

Usage: python tools/r15_plans.py <suffix> [sf_dir]
Writes plans/r15/<query>_<suffix>.txt for each declared query.

This captures ``df.explain(mode="formatted")`` output via stdout
redirection instead of reaching into private classic-mode JVM internals
(``df._jdf.queryExecution()``) — ADVICE r14: the JVM path
does not exist under Spark Connect and can break across versions.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r15",
    )
    os.makedirs(out_dir, exist_ok=True)

    from nexus_event_stream_spark.plans.catalog import CATALOG
    from nexus_event_stream_spark.session import get_spark

    spark = get_spark(
        app_name="r15-plandump", master="local[4]", shuffle_partitions=8
    )
    n = 0
    for name, spec in CATALOG.items():
        df = spec.build(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        n += 1
    print(f"wrote {n} plans to {out_dir} (suffix={suffix})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
