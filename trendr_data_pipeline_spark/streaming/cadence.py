"""SS8 — cadence orchestration, engine side.

The reference schedules its pipeline with an in-process cron loop
(``monitoring_system.py:261-283``: three daily at-times jobs plus an
every-5-minutes health report, ``schedule.run_pending()`` polled each
minute, errors logged and the loop continues). Time-based *firing*
belongs to an external scheduler (cron, Airflow, k8s CronJob) — a
100 TB cluster does not keep a driver alive to sleep — but the other
half of that loop is engine work and lives here: deciding which jobs
are DUE from persisted last-run state, running each due job exactly
once as a ``Trigger.AvailableNow`` cycle, and recording the outcome
crash-safely so the next tick (or a catch-up tick after downtime)
makes the right call.

Usage shape::

    jobs = [
        CadenceJob("full_pipeline", run_full, daily_at="02:00"),
        CadenceJob("health", emit_health, every_seconds=300),
    ]
    ran = run_due_jobs(jobs, state_dir, now=datetime.now(timezone.utc))

An external ``* * * * *`` cron entry calling this tick reproduces the
reference's loop exactly (it polled every 60 s); the tick itself is
idempotent within a schedule slot — re-invocations between due times
are no-ops, which is what makes at-least-once cron delivery safe.

The documented NIGHTLY-OPS RECIPE (r9) wires this to the real
maintenance jobs on the reference's 02:00/14:00/18:00 cadence
(monitoring_system.py:63-71): place ingestion
(``pipeline.ingest_places`` over the scan's staged places),
partitioned-merge maintenance (an
AvailableNow drive of the bucketed MERGE sink resuming its
checkpoint), and the A14 quota rollup (idempotent overwrite) —
exercised end-to-end through two simulated days including a missed
slot in tests/test_streaming.py::
test_nightly_ops_recipe_two_days_with_missed_slot.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta

__all__ = ["CadenceJob", "run_due_jobs", "load_cadence_state"]


@dataclass(frozen=True)
class CadenceJob:
    """One scheduled job: exactly one of ``daily_at`` ("HH:MM", same
    clock as the ``now`` passed to :func:`run_due_jobs`) or
    ``every_seconds`` must be set. ``fn`` is the job body — typically
    it starts a stream with ``trigger(availableNow=True)`` and awaits
    termination, but any callable works (the reference's jobs are
    whole pipeline runs)."""

    name: str
    fn: Callable[[], None]
    daily_at: str | None = None
    every_seconds: int | None = None

    def __post_init__(self) -> None:
        if (self.daily_at is None) == (self.every_seconds is None):
            raise ValueError(
                f"job {self.name!r}: set exactly one of daily_at / every_seconds"
            )
        if self.daily_at is not None:
            h, m = self.daily_at.split(":")
            if not (0 <= int(h) < 24 and 0 <= int(m) < 60):
                raise ValueError(f"job {self.name!r}: bad daily_at {self.daily_at!r}")


def _state_path(state_dir: str) -> str:
    return os.path.join(state_dir, "cadence_state.json")


def load_cadence_state(state_dir: str) -> dict[str, dict]:
    """Per-job state: ``{name: {"last_run": iso, "last_status":
    "ok"|"error", "last_error": str|None}}``. Missing file = never
    ran (first tick runs every job, the reference's startup
    behavior)."""
    try:
        with open(_state_path(state_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _save_state(state_dir: str, state: dict[str, dict]) -> None:
    # write-temp + atomic rename: a tick killed mid-save must leave
    # the previous state intact, never a torn file (the index-store
    # swap discipline, applied to a 1 KB JSON)
    os.makedirs(state_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=state_dir, suffix=".json.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
    os.replace(tmp, _state_path(state_dir))


def _is_due(job: CadenceJob, last_run: datetime | None, now: datetime) -> bool:
    if job.every_seconds is not None:
        return last_run is None or (now - last_run) >= timedelta(
            seconds=job.every_seconds
        )
    h, m = (int(x) for x in job.daily_at.split(":"))
    slot = now.replace(hour=h, minute=m, second=0, microsecond=0)
    if now < slot:
        slot -= timedelta(days=1)
    # due when the most recent scheduled instant has not been served —
    # this is also the catch-up rule: a tick arriving hours late (the
    # scheduler was down over the slot) still runs the job ONCE
    return last_run is None or last_run < slot


def run_due_jobs(
    jobs: list[CadenceJob],
    state_dir: str,
    now: datetime,
    reraise: bool = False,
) -> list[str]:
    """One scheduler tick: run every due job once, in list order
    (the reference registers full → classification → collections →
    health, and ``schedule`` fires same-instant jobs in registration
    order). A failing job is recorded with its error and does NOT
    stop later jobs (the reference's loop logs and continues); pass
    ``reraise=True`` to propagate the first failure after the
    remaining jobs ran. State is saved after EVERY job so a tick
    killed midway never re-runs the jobs that completed.

    ``now`` is injected, not read from the wall clock: the caller
    owns the timezone discipline (the reference's at-times are local;
    a cluster deployment should pass UTC) and tests own determinism.
    Returns the names that ran."""
    if len({j.name for j in jobs}) != len(jobs):
        raise ValueError("duplicate job names")
    state = load_cadence_state(state_dir)
    ran: list[str] = []
    first_error: Exception | None = None
    for job in jobs:
        entry = state.get(job.name, {})
        last = entry.get("last_run")
        last_dt = datetime.fromisoformat(last) if last else None
        if not _is_due(job, last_dt, now):
            continue
        ran.append(job.name)
        try:
            job.fn()
            state[job.name] = {
                "last_run": now.isoformat(),
                "last_status": "ok",
                "last_error": None,
            }
        except Exception as ex:  # noqa: BLE001 — the loop must survive a job
            # last_run advances even on failure: the reference's
            # schedule lib moves next_run forward regardless of
            # outcome (a crashing daily job runs once per day, not
            # once per minute until it heals)
            state[job.name] = {
                "last_run": now.isoformat(),
                "last_status": "error",
                "last_error": f"{type(ex).__name__}: {ex}",
            }
            if first_error is None:
                first_error = ex
        _save_state(state_dir, state)
    if reraise and first_error is not None:
        raise first_error
    return ran
