"""Dump ``explain("formatted")`` for registered queries to files.

Optimization-round evidence capture (r13): writes
``plans/<tag>/<query>_<suffix>.txt`` for each named query (default:
all), including any pre-checkpoint subtrees the query materializes at
build time (the plan_debug ledger — the same machinery plan_audit.py
uses, so the committed plan files show the SAME subtrees the audit
sees, not just the post-checkpoint LogicalRDD scan).

Usage: python tools/dump_plans.py <tag> <suffix> [sf_dir] [query ...]
e.g.   python tools/dump_plans.py r15 before "$SF_DIR" c56_grid_scan_cycle
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    tag = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    only = set(sys.argv[4:])

    from trendr_data_pipeline_spark import plan_debug
    from trendr_data_pipeline_spark.plans.registry import all_queries
    from trendr_data_pipeline_spark.session import get_spark

    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("dump-plans")
    plan_debug.start_capture()

    def explain(df) -> str:
        try:
            return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:  # noqa: BLE001
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            return buf.getvalue()

    for name, q in sorted(all_queries().items()):
        if only and name not in only:
            continue
        plan_debug.drain()
        try:
            df = q.fn(spark, sf_dir)
            plan = explain(df)
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ERROR {ex}")
            continue
        parts = [f"== {name} ({suffix}, {sf_dir}) ==\n\n{plan}"]
        for label, sub_df in plan_debug.drain():
            parts.append(
                f"\n== pre-checkpoint subtree: {label} ==\n\n{explain(sub_df)}"
            )
        path = out_dir / f"{name}_{suffix}.txt"
        path.write_text("\n".join(parts))
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
