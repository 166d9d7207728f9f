"""The driver-contract gate, run at sf0.001 as the standing smoke+oracle
test: every registered query must run, and every oracle-expressible one
must hash-match its DuckDB twin (mirrors the driver's t2 check)."""

from __future__ import annotations

import pytest

from tests.conftest import ORACLE_SF, SMOKE_SF
from tools.verify_local import value_hash


def _pairs():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    return [(name, fn, oracles.get(name)) for name, fn in qs.items()]


@pytest.mark.parametrize("name,fn,oracle", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(spark, duck, name, fn, oracle):
    sdf = fn(spark, SMOKE_SF)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    if oracle is None:
        assert srows is not None  # rows-only smoke: plan executed
        return
    res = duck.execute(oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), f"rowcount {len(srows)} != {len(drows)}"
    assert sorted(scols) == sorted(dcols)
    assert value_hash(scols, srows) == value_hash(dcols, drows)


def test_entry_smoke(spark):
    """The driver checks entry() for rows > 0; entry() is the
    c55_spatial_association query on the smoke SF."""
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) > 0
    c55 = e.queries()["c55_spatial_association"](spark, SMOKE_SF)
    assert df.columns == c55.columns
    assert value_hash(df.columns, rows) == value_hash(
        c55.columns, [tuple(r) for r in c55.collect()]
    )


def test_approx_percentile_bound(spark):
    """A7's approximate twin (r11): ``percentile_approx`` is the
    100 TB fast path for score-distribution cuts (one pass, bounded
    sketch memory, mergeable across partitions) where e06 pins the
    exact nearest-rank form cross-engine. Pin the approximation to
    the exact ``percentile`` within 1 % relative error at accuracy
    10 000 so a future Spark upgrade can't silently degrade the
    sketch the calibration/quality operators would lean on."""
    from pyspark.sql import functions as F

    from trendr_data_pipeline_spark.io import read_table

    events = read_table(spark, SMOKE_SF, "events")
    row = events.agg(
        F.expr("percentile(value, array(0.5, 0.95, 0.99))").alias("exact"),
        F.expr(
            "percentile_approx(value, array(0.5, 0.95, 0.99), 10000)"
        ).alias("approx"),
    ).first()
    for ex, ap in zip(row["exact"], row["approx"]):
        assert abs(ap - ex) <= 0.01 * max(abs(ex), 1e-9), (ex, ap)


def test_query_schemas_stable_across_sf(spark):
    """The driver smoke-checks entry() for a stable schema; extend the
    guarantee to every query: identical column names and types at
    sf0.001 and sf0.01 (scale must never leak into the schema)."""
    import __spark_entry__ as e

    for name, fn in e.queries().items():
        s1 = fn(spark, SMOKE_SF).schema.simpleString()
        s2 = fn(spark, ORACLE_SF).schema.simpleString()
        assert s1 == s2, f"{name}: schema differs across scale factors"


def test_cap_window_holds_only_oracle_queries():
    """The driver records correctness for only the FIRST 50 sorted
    query names (established r3, COVERAGE.md). Guard the r8 rotation
    invariant: every name inside that window must carry a DuckDB
    oracle — a future registration sorting into the window without an
    oracle (or pushing an oracle-bearing name out) would silently
    shrink the driver-signed surface. r8's window rotates the eight
    never-driver-signed r7 gates inside (c26-c33: winnowing, MOSS
    pairs, bigram-ppl, chunking, DSIR, filtered ANN, containment,
    snapshot diff) by z-pushing eight r7-driver-signed names out
    (za01-za04, zq04/zq05/zq08, ze07 — all hash-green in
    CORRECTNESS_r07.json under their old names; BENCH's ``renames``
    map records the mapping)."""
    import __spark_entry__ as e

    names = sorted(e.queries().keys())
    oracles = e.oracle_sql()
    in_cap = names[:50]
    missing = [n for n in in_cap if n not in oracles]
    assert not missing, (
        f"non-oracle queries inside the driver's 50-name window: {missing} — "
        "rename them past the cap (x/z prefix) or add an oracle"
    )
    # and the window boundary is where COVERAGE.md documents it
    # (r11: c51-c54 displaced q01/p08/p07/p04; r12: c55-c57 displaced
    # p02/p05/m03; r13: c58-c62 displaced m01/e09/e08/e06/e03 — all
    # z-pushed, RENAMES_R11/RENAMES_R12/RENAMES_R13). Deleting c23, c38,
    # c51 and c57 with their features moved s08, t01, t02 and t03 into
    # the window; deleting the vector-search and data-card queries (c24,
    # c31, c40, c44, c47, t16) moved t05, x03, x04, x06 and x07 in.
    assert in_cap[0].startswith("c05") and in_cap[-1].startswith("x07"), in_cap[-1]
    for must_sign in (
        "c05_", "c18_", "c25_",
        "c26_", "c27_", "c28_", "c29_", "c30_", "c32_", "c33_",
        "c34_", "c35_", "c36_", "c37_", "c39_", "c41_", "c42_",
        "c43_", "c45_", "c46_", "c48_", "c49_", "c50_",
        "c52_", "c53_", "c54_", "c55_", "c56_", "c58_",
        "c59_", "c60_", "c61_", "c62_",
    ):
        assert any(n.startswith(must_sign) for n in in_cap), must_sign
    # review finding (r8): a NEW oracle-bearing registration sorting
    # past the window would silently miss driver attestation — every
    # oracle-bearing name outside the cap must be either z-rotated
    # (signed under its old name) or a documented legacy name signed
    # in r4-r6 (s08/t01-t05/x-series, COVERAGE.md rotation history)
    legacy_signed = {
        "s08_maxby_best_per_group", "t01_token_stats", "t02_language_id",
        "t03_quality_score", "t05_corpus_clean", "x03_dedup_components",
        "x04_sequence_packing", "x06_budget_selection", "x07_tfidf_topk",
        "x08_unigram_perplexity", "x10_temperature_mix",
        "x13_duplicated_spans", "x17_quality_embedding_corr",
        "x20_hashed_vectors", "x21_semantic_dedup", "x22_zipf_stats",
    }
    unsigned = [
        n for n in names[50:]
        if n in oracles and not n.startswith("z") and n not in legacy_signed
    ]
    assert not unsigned, (
        f"oracle-bearing queries outside the driver window with no "
        f"attestation lineage: {unsigned} — rotate them in (c-prefix) or "
        "record their signed history"
    )


def test_registry_v1_name_freeze():
    """r8 verdict item 1 — the registry v1 NAME FREEZE. All r8
    names carry a driver signature (CORRECTNESS_r08 window + pinned
    z/legacy lineage), so nothing is left to rotate for: a frozen
    name never changes again, EXCEPT a z-push (old → "z"+old,
    recorded in bench.RENAMES_R9) that admits a same-round NEW gate
    into the driver's 50-name window. New oracle gates must register
    inside the window at creation. This keeps CORRECTNESS files
    longitudinally comparable from r9 on."""
    import bench
    import __spark_entry__ as e

    # 89 at the freeze; six left with the multimodal, BPE and
    # corpus-pipeline queries (bench.REGISTRY_V1_FROZEN's comment)
    assert len(bench.REGISTRY_V1_FROZEN) == 83
    names = set(e.queries())
    frozen = set(bench.REGISTRY_V1_FROZEN)
    renames = bench.RENAMES  # cumulative z-push record (r9 + r10 + …)
    for old, new in renames.items():
        assert old in frozen, f"z-push of a non-frozen name: {old}"
        assert new == "z" + old, f"substantive rename forbidden: {old} -> {new}"
    expected = (frozen - set(renames)) | set(renames.values())
    # names deleted with their feature leave the expected set, and
    # must really be gone (bench.REMOVED_NAMES)
    removed_names = set(bench.REMOVED_NAMES)
    assert removed_names <= expected, sorted(removed_names - expected)
    assert not removed_names & names, sorted(removed_names & names)
    expected -= removed_names
    assert expected <= names, f"frozen names missing: {sorted(expected - names)}"
    # bench-only fast legs (r10): z-named PAST the window at creation,
    # deliberately oracle-less — approximate variants whose exactness
    # story is pytest-pinned against the exact gate (the x02/x12
    # device, now with an explicit declaration instead of
    # grandfathering). Anything NOT declared here follows the gate
    # rule below.
    oracles = e.oracle_sql()
    bench_only = set(bench.BENCH_ONLY_LEGS)
    window = set(sorted(names)[:50])
    for leg in bench_only:
        assert leg in names, f"declared bench-only leg missing: {leg}"
        assert leg.startswith("z"), f"bench-only leg must be z-named: {leg}"
        assert leg not in window, f"bench-only leg sorted into the window: {leg}"
        assert leg not in oracles, (
            f"bench-only leg {leg} carries an oracle — register it as a "
            "c-gate inside the window instead (oracle-bearing names "
            "outside the window skip driver attestation)"
        )
    new_gates = sorted(names - expected - bench_only)
    for g in new_gates:
        assert g in window, f"new gate {g} parked outside the driver window"
        assert g in oracles, f"new gate {g} registered without a DuckDB oracle"
    # each insertion displaces one window slot — one z-push per new
    # gate keeps every displaced (already-signed) name z-recorded; a
    # gate deleted with its feature keeps its push record
    # (bench.REMOVED_GATES)
    removed = set(bench.REMOVED_GATES)
    assert not removed & names, sorted(removed & names)
    assert len(new_gates) + len(removed) == len(renames), (new_gates, renames)


def test_bench_compact_line_fits_driver_stdout_window():
    """The driver records only the LAST 2000 chars of bench stdout
    (r6 finding); the compact JSON line must fit or the per-query map
    silently truncates to "parsed": null. Simulate the line exactly
    as bench.main() prints it under the restored contract schema
    (``unit`` + 2-dp-second ``queries`` — required by the driver
    contract, present in every driver-parsed artifact through r12 —
    with the r13 short envelope keys) at worst-REALISTIC widths:
    the bench gate holds the suite within 2x of a ~200 s baseline,
    so "every query >= 10 s" (117 x 10 s = 1170 s) is not a reachable
    line width — simulate every query at 9.99 s (4-char value, the
    widest sub-10 rendering) plus the ten widest at 99.99 s, and
    assert headroom BOTH at the current registry size and with two
    more hypothetical gates, so the next round's insertions can't
    land on an already-full line."""
    import json

    import bench
    import __spark_entry__ as e

    names = sorted(e.queries().keys())

    def sim_line(sim_names: list[str]) -> str:
        vals = {n.split("_", 1)[0]: 9.99 for n in sim_names}
        for pref in list(vals)[:10]:
            vals[pref] = 99.99
        compact = {
            "metric": "total_query_wall_time",
            "value": 9999.999,
            "unit": "sec",
            "queries": vals,
            "reps": 3,
            "sf": 0.1,
            "op_total": 9999.999,
            "stg": {"c38": 99.99, "c53": 99.99, "c54": 99.99},
            "amb": [99.99, 99.99, 99.99, 99.99],
            "noisy": False,
            "zp": len(bench.RENAMES) + (len(sim_names) - len(names)),
            "hn": sum(
                n.startswith(
                    ("c05_", "c18_", "c58_", "c61_", "c62_", "zp02_", "zp08_")
                )
                for n in sim_names
            ),
        }
        assert len(compact["queries"]) == len(sim_names), "duplicate id prefix"
        return json.dumps(compact)

    assert len(sim_line(names)) <= 1840, (
        f"bench compact line {len(sim_line(names))} chars — keep >=60 chars "
        "under the 1900 budget (driver stdout window is 2000)"
    )
    grown = names + ["c97_hypothetical_gate", "c98_hypothetical_gate"]
    assert len(sim_line(grown)) <= 1900, (
        "two more gates would overflow the 1900-char budget — squeeze "
        "the compact schema BEFORE inserting them"
    )
