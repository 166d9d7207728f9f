"""Skew evidence harness (r4 verdict item 6): the fixture's 31-token
vocabulary cannot show what `df_cap` buys at scale, so this tool
builds synthetic workloads with REALISTIC shape — a hot-token,
low-pair-density corpus and a giant-group sample — and measures each
mitigation against its naive plan.

Run: python tools/skew_bench.py [--docs 20000] [--rows 2000000]
Prints one JSON object; the numbers land in SCALING.md ("Skew
mitigations, measured").

Workloads:

1. **df_cap on the exact-Jaccard join** — corpus of `--docs` docs,
   ~40 tokens each from a 50k-word vocabulary, with the stop token
   'the' planted in 95% of docs and ~0.5% planted near-dup clones
   (pair density well under 1%, unlike the 24%-dense fixture). The
   uncapped inverted-index join fans the hot token into
   df_in·df_corp pair rows; df_cap routes it off the join and
   recovers exact intersections from per-doc hot arrays. Both plans
   must return IDENTICAL pairs (asserted).

Everything is hash-derived (no RNG): rerunning reproduces the same
corpus and the same numbers modulo machine noise.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402


def _timed(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    return round(sorted(ts)[reps // 2], 2)


def synth_corpus(spark, n_docs: int):
    """Deterministic synthetic corpus: doc i draws 40 pseudo-random
    vocabulary words (hash-derived), 95% of docs get the stop token,
    every 200th doc is a near-clone of its neighbor (drop one word)."""
    base = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    # 40 hash-derived words out of a 50k vocabulary; clones share the
    # seed of their anchor so the texts overlap in all but one word
    anchor = F.when(F.col("doc_id") % 200 == 1, F.col("doc_id") - 1).otherwise(
        F.col("doc_id")
    )
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(anchor, i), F.lit(50000)).cast("string"),
        ),
    )
    # the clone drops its last word → Jaccard 39/40 ≈ 0.975 ≥ 0.9
    words = F.when(
        F.col("doc_id") % 200 == 1, F.slice(words, 1, 39)
    ).otherwise(words)
    hot = F.when(
        F.pmod(F.xxhash64(F.col("doc_id"), F.lit(777)), F.lit(100)) < 95,
        F.concat_ws(" ", F.lit("the"), F.concat_ws(" ", words)),
    ).otherwise(F.concat_ws(" ", words))
    return base.select("doc_id", hot.alias("text"))


def bench_df_cap(spark, n_docs: int) -> dict:
    from trendr_data_pipeline_spark.operators.dedup import jaccard_topk_join

    docs = spark.read.parquet(
        str(_materialize(spark, synth_corpus(spark, n_docs), f"skew_docs_{n_docs}"))
    )
    incoming = docs.filter(F.col("doc_id") % 10 == 0)

    def run(df_cap):
        spark.catalog.clearCache()
        return {
            tuple(r)
            for r in jaccard_topk_join(
                incoming, docs, threshold=0.9, k=5, df_cap=df_cap,
                df_cap_check=df_cap is not None,
            ).collect()
        }

    uncapped_rows = run(None)
    capped_rows = run(n_docs // 20)  # df_cap = 5% of corpus → prunes 'the'
    assert capped_rows == uncapped_rows, (
        len(capped_rows), len(uncapped_rows))
    t_uncapped = _timed(lambda: run(None))
    t_capped = _timed(lambda: run(n_docs // 20))
    return {
        "docs": n_docs,
        "true_pairs": len(uncapped_rows),
        "uncapped_s": t_uncapped,
        "df_cap_s": t_capped,
        "speedup": round(t_uncapped / t_capped, 2),
    }


def bench_containment_cap(spark, n_docs: int) -> dict:
    """Workload 3 (r7): df_cap on the CONTAINMENT self-join. The
    containment form is harsher than workload 1: it is corpus×corpus
    (not incoming×corpus) and has NO size-compatibility prune, so
    the planted 95%-df stop token alone fans out df² pair rows.
    Both plans must return identical pairs (asserted; only 'the' is
    hot at this cap, and every qualifying pair shares ≥ ceil(0.9·39)
    = 36 > 1 tokens, so the provable bound holds — df_cap_check=True
    verifies it at runtime)."""
    from trendr_data_pipeline_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(
        str(_materialize(spark, synth_corpus(spark, n_docs), f"skew_docs_{n_docs}"))
    )

    def run(df_cap):
        spark.catalog.clearCache()
        return {
            tuple(r)
            for r in containment_pairs(
                docs, threshold=0.9, df_cap=df_cap,
                df_cap_check=df_cap is not None,
            ).collect()
        }

    uncapped_rows = run(None)
    capped_rows = run(n_docs // 20)
    assert capped_rows == uncapped_rows, (len(capped_rows), len(uncapped_rows))
    t_uncapped = _timed(lambda: run(None))
    t_capped = _timed(lambda: run(n_docs // 20))
    return {
        "docs": n_docs,
        "true_pairs": len(uncapped_rows),
        "uncapped_s": t_uncapped,
        "df_cap_s": t_capped,
        "speedup": round(t_uncapped / t_capped, 2),
    }


def bench_stratified_threshold(spark, n_rows: int) -> dict:
    """Workload 4 (r8): the stratified-sample giant-group shape — one
    language holds ~all rows (the real lang distribution at corpus
    scale). The naive per-group rank sends the WHOLE group through
    one task's sort; the hardened path pre-filters to ~oversample·k
    candidates with a per-group hash threshold and ranks those. Both
    paths select the identical set (asserted here, not assumed)."""
    from pyspark.sql import functions as F

    from trendr_data_pipeline_spark.operators import sampling

    # the payload column is what makes the naive shape expensive: the
    # full row rides the group exchange into ONE task's sort, so the
    # giant group moves |group|·row_width bytes through a single
    # reducer — the hardened path moves ~oversample·k rows instead
    df = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 100 == 0, F.concat(F.lit("g"), F.col("id") % 7))
            .otherwise(F.lit("giant"))
            .alias("lang"),
            F.repeat(F.concat(F.lit("x"), F.col("id").cast("string")), 48).alias(
                "payload"
            ),
        )
    )
    pq = _materialize(spark, df, "strat_rows")
    frame = spark.read.parquet(str(pq))

    def run(oversample):
        # select the payload too — otherwise Catalyst column-prunes
        # it out of the whole plan and the naive window sorts narrow
        # rows (measured: the two paths then tie; the wide-row cost
        # is the point of this workload)
        return {
            (r["lang"], r["doc_id"], r["rk"], len(r["payload"]))
            for r in sampling.stratified_sample(
                frame, k=20, oversample=oversample
            ).collect()
        }

    # hardened: threshold path (default oversample); naive-equivalent:
    # oversample so large the threshold admits EVERY row, i.e. the
    # window sorts the full giant group (the pre-r8 shape)
    t_hard = _timed(lambda: run(16))
    t_naive = _timed(lambda: run(1 << 40))
    assert run(16) == run(1 << 40)
    return {
        "rows": n_rows,
        "hardened_s": t_hard,
        "naive_full_window_s": t_naive,
        "speedup": round(t_naive / t_hard, 2),
    }


def _materialize(spark, df, name: str) -> Path:
    """Write the synthetic frame once so every timed leg reads the
    same parquet instead of re-deriving the generator expressions."""
    import tempfile

    out = Path(tempfile.gettempdir()) / f"spark_graft_{name}"
    if not (out / "_SUCCESS").exists():
        df.write.mode("overwrite").parquet(str(out))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--rows", type=int, default=2_000_000)
    # containment is corpus×corpus on the hot token (df² rows, no
    # size prune), so its uncapped leg needs a smaller corpus to
    # finish in bench time
    ap.add_argument("--containment-docs", type=int, default=16000)
    args = ap.parse_args()

    from trendr_data_pipeline_spark.session import get_spark

    spark = get_spark("skew-bench", cpus=32)
    out = {
        "df_cap": bench_df_cap(spark, args.docs),
        "containment_cap": bench_containment_cap(spark, args.containment_docs),
        "stratified_threshold": bench_stratified_threshold(spark, args.rows),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
