"""Physical-plan audit: for every registered query, report scan
pushdown (PushedFilters / ReadSchema pruning), join strategies, and
whole-stage-codegen coverage. The per-operator scale notes live in
SCALING.md; this tool is the evidence.

Also flags UNPARTITIONED windows (``WindowExec`` with an empty
partition spec — the "move all data to a single partition" shape that
kills at 100×) and asserts them against the documented allowlist of
deliberately bounded frames below; exits non-zero on a violation.

CHECKPOINT SUBTREES (r12, closing the r11 blind spot): a query that
returns a ``localCheckpoint`` frame explains as a LogicalRDD scan, so
windows executed BEFORE the checkpoint used to be invisible here
(c26/c27/c28 were audited by dev-time narration). Every checkpoint
site now routes through ``plan_debug.note_subtree``; this tool turns
capture on, drains the pre-checkpoint frames recorded while each
query BUILT (eager checkpoints execute at build time, which is
exactly why the top-level explain can't see them), and audits each
captured subtree with the same metrics and the same global-window
tripwire — mechanically, every round, not by narration.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# Queries allowed to carry a global (unpartitioned) window, each with
# a written cardinality bound (SCALING.md): the single-partition frame
# holds |buckets| / |top-k| / |histogram| rows, never |corpus|.
GLOBAL_WINDOW_ALLOWLIST = {
    "x04_sequence_packing": "bucket-total base rows (packing.py:75)",
    "x06_budget_selection": "bucket-total base rows (packing.py:75)",
    "x22_zipf_stats": "top-50 tokens only (TakeOrderedAndProject feeds it)",
    # first catch of the r12 subtree audit (formerly the blind spot):
    # the distinct-ppl histogram cumsum, RUNTIME-GUARDED at
    # _PPL_HIST_SINGLE_PARTITION_MAX rows with a two-phase
    # global_running_offsets fallback above the bound
    # (text_ops.py c28; hash-equality across the threshold is
    # pytest-pinned)
    "c28_bigram_perplexity": "distinct-ppl histogram rows, guarded ≤ 262144 + two-phase fallback",
}


def _first_spec_arg(s: str, start: int) -> str:
    """First top-level argument of the ``windowspecdefinition(`` that
    opens at ``start`` (index of the char after the open paren)."""
    depth = 0
    for i in range(start, len(s)):
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return s[start:i]
            depth -= 1
        elif c == "," and depth == 0:
            return s[start:i]
    return s[start:]


def count_global_windows(plan: str) -> int:
    """Window nodes whose spec has NO partition columns. Bracket-group
    counting on the Arguments line is ambiguous (a partitioned
    order-less window prints the same number of groups as a global
    ordered one), so inspect each ``windowspecdefinition(...)``: its
    argument list is ``partitionCols..., orderCols..., frame`` where
    order columns carry ``ASC``/``DESC`` and the frame is
    ``specifiedwindowframe(...)`` — a spec whose FIRST argument is an
    order column or the frame itself has no partition columns."""
    n = 0
    for line in plan.splitlines():
        s = line.strip()
        if not (s.startswith("Arguments:") and "windowspecdefinition(" in s):
            continue
        node_global = False
        for m in re.finditer(r"windowspecdefinition\(", s):
            first = _first_spec_arg(s, m.end())
            if (
                first.startswith("specifiedwindowframe(")
                or " ASC" in first
                or " DESC" in first
            ):
                node_global = True
        n += int(node_global)
    return n


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from trendr_data_pipeline_spark import plan_debug
    from trendr_data_pipeline_spark.plans.registry import all_queries
    from trendr_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit")
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

    violations: list[str] = []
    for name, q in sorted(all_queries().items()):
        if only and name not in only:
            continue
        plan_debug.drain()  # a fresh ledger per query
        try:
            df = q.fn(spark, sf_dir)
            plan = explain(df)
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ERROR {ex}")
            continue
        subtrees = plan_debug.drain()
        def audit_line(label: str, plan_text: str) -> int:
            n_scans = plan_text.count("Scan parquet")
            pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan_text))
            # partition-layout evidence (r10 verdict item 6): scans
            # with a non-empty PartitionFilters spec, and how many are
            # DYNAMIC (runtime dim-driven pruning — the c53 shape)
            part_f = len(re.findall(r"PartitionFilters: \[[^\]]", plan_text))
            dpp = plan_text.count("dynamicpruningexpression")
            bhj = plan_text.count("BroadcastHashJoin")
            smj = plan_text.count("SortMergeJoin")
            shj = plan_text.count("ShuffledHashJoin")
            bnl = plan_text.count("BroadcastNestedLoopJoin")
            exch = plan_text.count("Exchange")
            wsc = len(set(re.findall(r"\[codegen id : (\d+)\]", plan_text)))
            schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan_text)
            widest = max((s.count(",") + 1 for s in schemas), default=0)
            gwin = count_global_windows(plan_text)
            allowed = name in GLOBAL_WINDOW_ALLOWLIST
            print(
                f"{label}: scans={n_scans} pushedFilters={pushed} "
                f"joins[bhj={bhj} smj={smj} shj={shj} bnl={bnl}] "
                f"exchanges={exch} codegen={wsc} widestScan={widest}cols"
                f" globalWindows={gwin}"
                + (f" partFilters={part_f} dpp={dpp}" if part_f or dpp else "")
                + (" ALLOWED" if gwin and allowed else "")
                + (" VIOLATION" if gwin and not allowed else "")
            )
            return gwin

        gwin = audit_line(name, plan)
        if gwin and name not in GLOBAL_WINDOW_ALLOWLIST:
            violations.append(name)
        # audit every pre-checkpoint subtree the query recorded while
        # building (same tripwire, attributed to the query's name; one
        # line per DISTINCT label — iterative loops re-note a label
        # per round with the same plan shape)
        seen_labels: set[str] = set()
        for label, sub in subtrees:
            if label in seen_labels:
                continue
            seen_labels.add(label)
            sub_g = audit_line(f"  {name} ⊂ {label}", explain(sub))
            if sub_g and name not in GLOBAL_WINDOW_ALLOWLIST:
                violations.append(f"{name}⊂{label}")
    # standing skew probe (r12 verdict item 4): a planted 30 %-hot-key
    # SMJ executed with data-scaled thresholds must be re-planned by
    # AQE's skew handler — runtime evidence, like c53's pruning pin,
    # because the decision never appears in a static explain. A Spark
    # upgrade or session-conf drift that silently disables the skew
    # path turns this line into a violation. Skipped when auditing a
    # named subset (pass 'skewprobe' to force it).
    if not only or "skewprobe" in only:
        n = run_skew_probe(spark)
        if n == 0:
            violations.append("skewprobe:skewJoin=0")
    if violations:
        print(
            f"AUDIT VIOLATIONS ({len(violations)}): {violations} — "
            "global windows: repartition (two-phase bucket prefix, "
            "packing.global_running_offsets) or document the cardinality "
            "bound in GLOBAL_WINDOW_ALLOWLIST; skewprobe: AQE skew "
            "handling stopped activating (tests/test_skew.py pins the "
            "same shape)"
        )
        return 1
    return 0


def run_skew_probe(spark) -> int:
    """Execute the tests/test_skew.py probe shape and print its
    runtime counters; returns the skew-join activation count."""
    from pyspark.sql import functions as F

    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            saved[k] = None
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 3, 0)
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(200)))
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pay"),
        )
        dim = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = fact.join(dim, "k", "inner")
        rows = len(j.collect())
        plan = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        n_skew = plan.count("skew=true")
        print(
            f"skewprobe: skewJoin={n_skew} "
            f"aqeShuffleRead={plan.count('AQEShuffleRead')} rows={rows}"
        )
        return n_skew
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


if __name__ == "__main__":
    raise SystemExit(main())
