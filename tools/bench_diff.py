"""Round-over-round per-query bench diff from committed artifacts.

Usage: python tools/bench_diff.py [--normalize] OLD.json NEW.json

Joins the two full-name per-query maps through the newer file's
``renames`` map (old name → new name, recorded by bench.py at each cap
rotation), prints per-query old/new/ratio sorted by ratio, and a
summary. The r7 verdict (item 6) asked for exactly this to be
computable from artifacts alone.

``--normalize`` (r10 verdict item 7): when both artifacts carry
``ambient_index`` ([scan_start, sched_start, scan_end, sched_end],
the fixed calibration probes bench.py runs at suite start AND end),
divide every per-query ratio by the geometric mean of the scan and
scheduling ambient ratios — so a uniform VM slowdown normalizes to
~1.0 and only structural changes stand out. The raw ratios are still
printed; normalization is a second column, not a replacement (a
probe pair can't capture every cost class — Arrow/Python-worker
heavy queries track neither probe perfectly).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _registry_prefix_map() -> dict[str, str]:
    """id-prefix → full registry name, from the live registry (the
    compact driver line keys queries by the unique prefix before the
    first underscore; bench.py asserts uniqueness every run)."""
    import __spark_entry__ as e

    return {n.split("_", 1)[0]: n for n in e.queries()}


def load_artifact(path: str, prefix_map: dict[str, str]) -> dict:
    """Normalize a bench artifact to the full-name shape bench.py
    writes locally (r11 verdict: this tool crashed on the COMMITTED
    driver artifacts, which wrap the compact stdout line under
    ``parsed``, key queries by id prefix, and omit ``renames``/
    pre-r11 ``ambient_index``).

    - unwrap the ``{"n": ..., "tail": ..., "parsed": {...}}`` driver
      envelope;
    - expand id-prefix query keys through the registry map — a prefix
      unknown to the CURRENT registry is retried with the ``z``
      prefix (the freeze rule makes every rename old → "z"+old, so an
      old artifact's ``r01`` resolves to today's
      ``zr01_classifier_scores``), else kept verbatim;
    - a missing ``ambient_index`` (pre-r11 artifacts) stays missing —
      ``--normalize`` degrades to raw-only with a notice;
    - r13 compact-schema keys are mapped back to the canonical names:
      ``q_cs`` (integer centiseconds) → ``queries`` (seconds),
      ``op_total``/``stg``/``amb``/``zp``/``hn`` →
      ``operator_total``/``staging_s``/``ambient_index``/``zpushed``/
      ``harness_n``."""
    with open(path) as f:
        data = json.load(f)
    if not ("queries" in data or "q_cs" in data) and isinstance(
        data.get("parsed"), dict
    ):
        envelope_cpus = data.get("cpus")
        data = data["parsed"]
        if envelope_cpus is not None and "cpus" not in data:
            data = dict(data)
            data["cpus"] = envelope_cpus
    if data.get("parsed") is None and "queries" not in data and "q_cs" not in data:
        raise SystemExit(
            f"{path}: no per-query map (driver artifact with 'parsed': null — "
            "the compact stdout line overflowed that round's 2000-char window)"
        )
    data = dict(data)
    if "q_cs" in data and "queries" not in data:
        data["queries"] = {k: v / 100.0 for k, v in data.pop("q_cs").items()}
    for short, full in (
        ("op_total", "operator_total"),
        ("stg", "staging_s"),
        ("amb", "ambient_index"),
        ("zp", "zpushed"),
        ("hn", "harness_n"),
    ):
        if short in data and full not in data:
            data[full] = data.pop(short)
    q = {}
    for k, t in data["queries"].items():
        if "_" in k:
            q[k] = t
        else:
            q[prefix_map.get(k) or prefix_map.get("z" + k, k)] = t
    data = dict(data)
    data["queries"] = q
    return data


def ambient_ratio(old: dict, new: dict) -> tuple[float, float, float] | None:
    """(scan_ratio, sched_ratio, blend) from the two artifacts'
    ambient_index fields, or None when either lacks the field.
    Start/end probes are averaged — the drift between them is itself
    printed so a mid-run swing is visible."""
    a_old, a_new = old.get("ambient_index"), new.get("ambient_index")
    if not a_old or not a_new or len(a_old) < 4 or len(a_new) < 4:
        return None
    scan_o, sched_o = (a_old[0] + a_old[2]) / 2, (a_old[1] + a_old[3]) / 2
    scan_n, sched_n = (a_new[0] + a_new[2]) / 2, (a_new[1] + a_new[3]) / 2
    if min(scan_o, sched_o, scan_n, sched_n) <= 0:
        return None
    rs, rq = scan_n / scan_o, sched_n / sched_o
    return rs, rq, (rs * rq) ** 0.5


def cpus_guard(old: dict, new: dict, allow: bool) -> str | None:
    """r14 (verdict item 4): the r13 driver's 8-core run clobbered
    BENCH_local_latest.json and this tool silently compared a 32-core
    artifact against an 8-core one. Records stamped with ``cpus``
    (bench.py record_schema>=2; driver artifacts carry a top-level
    ``cpus`` too) are now REFUSED when they differ, unless
    ``--allow-cross-cpu`` is passed. Returns an error string to abort
    with, or None to proceed (a warning is printed when either side
    lacks the stamp)."""
    c_old, c_new = old.get("cpus"), new.get("cpus")
    if c_old is not None and c_new is not None and c_old != c_new:
        msg = (
            f"core-count mismatch: old cpus={c_old}, new cpus={c_new} — "
            "per-query ratios across core counts measure scheduling, not "
            "code. Pass --allow-cross-cpu to compare anyway."
        )
        if allow:
            print(f"WARNING (overridden): {msg}")
            return None
        return msg
    if c_old is None or c_new is None:
        print(
            "note: cpus stamp missing from "
            + ", ".join(
                n for n, c in (("old", c_old), ("new", c_new)) if c is None
            )
            + " artifact (pre-r14 schema) — cross-cpu comparison undetectable"
        )
    return None


def main() -> int:
    argv = [
        a for a in sys.argv[1:] if a not in ("--normalize", "--allow-cross-cpu")
    ]
    normalize = "--normalize" in sys.argv[1:]
    allow_cross_cpu = "--allow-cross-cpu" in sys.argv[1:]
    if len(argv) != 2:
        print(__doc__)
        return 2
    prefix_map = _registry_prefix_map()
    old = load_artifact(argv[0], prefix_map)
    new = load_artifact(argv[1], prefix_map)
    err = cpus_guard(old, new, allow_cross_cpu)
    if err:
        print(f"REFUSED: {err}")
        return 3
    renames = new.get("renames") or {}
    oldq, newq = old["queries"], new["queries"]
    rows = []
    for oname, t_old in sorted(oldq.items()):
        nname = renames.get(oname, oname)
        if nname not in newq and "z" + nname in newq:
            nname = "z" + nname  # freeze-rule z-push, renames map absent
        t_new = newq.get(nname)
        if t_new is None or t_old <= 0 or t_new <= 0:
            continue
        rows.append((t_new / t_old, oname, nname, t_old, t_new))
    rows.sort()
    if not rows:
        print(
            "no overlapping positively-timed queries between the two "
            "artifacts (check the renames map / file pairing)"
        )
        return 1
    amb = ambient_ratio(old, new) if normalize else None
    if normalize and amb is None:
        print("--normalize: one of the artifacts lacks ambient_index; raw only")
    norm = amb[2] if amb else 1.0
    hdr_norm = f"  {'norm':>6}" if amb else ""
    print(f"{'ratio':>6}{hdr_norm}  {'old_s':>7}  {'new_s':>7}  query")
    for ratio, oname, nname, t_old, t_new in rows:
        label = oname if oname == nname else f"{oname} -> {nname}"
        col_norm = f"  {ratio / norm:6.2f}" if amb else ""
        print(f"{ratio:6.2f}{col_norm}  {t_old:7.3f}  {t_new:7.3f}  {label}")
    joined_old = sum(r[3] for r in rows)
    joined_new = sum(r[4] for r in rows)
    import statistics

    med = statistics.median(r[0] for r in rows)
    print(
        f"\njoined {len(rows)} queries: old {joined_old:.1f}s -> new "
        f"{joined_new:.1f}s (sum ratio {joined_new / joined_old:.2f}, "
        f"median per-query ratio {med:.2f})"
    )
    if amb:
        rs, rq, blend = amb
        print(
            f"ambient: scan ratio {rs:.2f}, sched ratio {rq:.2f}, "
            f"blend {blend:.2f} -> normalized sum ratio "
            f"{joined_new / joined_old / blend:.2f}, normalized median "
            f"{med / blend:.2f}"
        )
    only_new = sorted(set(newq) - {renames.get(o, o) for o in oldq})
    if only_new:
        t = sum(newq[n] for n in only_new if newq[n] > 0)
        print(f"new-only queries ({len(only_new)}, {t:.1f}s): {', '.join(only_new)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
