"""Incremental refresh: update waves land as parquet files on a fixed
schedule (an open loop) and ``streaming.jobs.partitioned_merge_sink``
upserts them into a POI table staged during set-up.

A wave's refresh lag runs from its due time until the micro-batch
holding it has committed, i.e. until its rows are readable in the
target. The batch that took each wave file is read from the file
source's log in the query checkpoint; the batch's commit time comes
from the query's progress reports.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np
import pandas as pd

from trendr_data_pipeline_spark.streaming.jobs import partitioned_merge_sink, read_merge_target

import gen
from common import write_parquet

KEY, VERSION = "id", "updated_at"
DDL = ("id string, name string, city_slug string, rating double, reviews_count long,"
       " price_level string, updated_at timestamp")


def initial_table(seed: int, n_pois: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    base = gen.AS_OF - dt.timedelta(days=30)
    # last-update ages spread over 30 days: the recency order waves skew to
    age_s = rng.permutation(n_pois).astype(np.int64) * (30 * 86400 // n_pois)
    return pd.DataFrame({
        "id": [f"poi{i:06d}" for i in range(n_pois)],
        "name": [f"Place {i:06d}" for i in range(n_pois)],
        "city_slug": np.where(rng.random(n_pois) < 0.8, gen.HOT_CITY, "lyon"),
        "rating": np.round(rng.uniform(3.0, 5.0, n_pois), 1),
        "reviews_count": rng.integers(0, 3000, n_pois).astype(np.int64),
        "price_level": rng.integers(1, 5, n_pois).astype(str),
        "updated_at": [base + dt.timedelta(seconds=int(s)) for s in age_s],
    })


def waves(seed: int, initial: pd.DataFrame, n_waves: int, rows: int) -> list[pd.DataFrame]:
    """``n_waves`` update waves of ``rows`` distinct keys each. Keys are
    drawn with Zipf weights over recency rank (recently updated POIs
    update again most), and each wave carries a new rating snapshot
    (rating, reviews_count) and sometimes a changed price level."""
    rng = np.random.default_rng(seed + 1)
    by_recency = initial.sort_values(VERSION, ascending=False).index.to_numpy()
    w = 1.0 / np.arange(1, len(by_recency) + 1) ** 0.8
    w /= w.sum()
    current = initial.set_index(KEY)
    out = []
    for i in range(n_waves):
        idx = rng.choice(by_recency, size=rows, replace=False, p=w)
        wv = initial.loc[idx].copy()
        ids = wv[KEY].to_numpy()
        wv["rating"] = np.round(np.clip(current.loc[ids, "rating"].to_numpy()
                                        + rng.normal(0, 0.1, rows), 1.0, 5.0), 1)
        wv["reviews_count"] = current.loc[ids, "reviews_count"].to_numpy() + rng.integers(1, 20, rows)
        bump = rng.random(rows) < 0.1
        wv.loc[bump, "price_level"] = rng.integers(1, 5, int(bump.sum())).astype(str)
        wv[VERSION] = [gen.AS_OF + dt.timedelta(hours=i + 1, microseconds=k) for k in range(rows)]
        for c in ("rating", "reviews_count", "price_level"):
            current.loc[ids, c] = wv[c].to_numpy()
        out.append(wv.reset_index(drop=True))
    return out


def land(df: pd.DataFrame, schema, wave_dir: str, name: str) -> None:
    """Write a wave under a hidden name, then rename it into the watched
    directory, so the file source never sees a partial file."""
    tmp = os.path.join(wave_dir, f".{name}.tmp")
    write_parquet(df, schema, tmp)
    os.rename(tmp, os.path.join(wave_dir, f"{name}.parquet"))


class Refresh:
    """One merge target and a stream of waves into it."""

    def __init__(self, spark, work: str, seed: int, n_pois: int, n_waves: int, rows: int):
        from pyspark.sql.types import _parse_datatype_string

        self.spark = spark
        self.schema = _parse_datatype_string(DDL)
        self.initial = initial_table(seed, n_pois)
        self.waves = waves(seed, self.initial, n_waves, rows)
        self.target = os.path.join(work, "target")
        self.wave_dir = os.path.join(work, "waves")
        self.ckpt = os.path.join(work, "ckpt")

    def stage(self, stage_dir: str) -> None:
        """Load the initial table through the sink itself, so the
        target has the sink's own layout."""
        src = os.path.join(stage_dir, "src")
        os.makedirs(src, exist_ok=True)
        land(self.initial, self.schema, src, "initial")
        q = partitioned_merge_sink(
            self.spark.readStream.schema(self.schema).parquet(src), self.target,
            key=KEY, version_col=VERSION, checkpoint_dir=os.path.join(stage_dir, "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def start(self) -> None:
        os.makedirs(self.wave_dir, exist_ok=True)
        self.query = partitioned_merge_sink(
            self.spark.readStream.schema(self.schema).parquet(self.wave_dir), self.target,
            key=KEY, version_col=VERSION, checkpoint_dir=self.ckpt,
        )

    def open_loop(self, batch: list[pd.DataFrame], interval: float, first: int) -> list[dict]:
        """Lands the waves of ``batch`` every ``interval`` seconds from
        now, whatever the query is doing (it runs on the JVM's threads),
        then waits for the query to take them all. Returns, per wave, its
        name, due and landing times."""
        t0 = time.time() + 0.05
        log: list[dict] = []
        for i, wv in enumerate(batch):
            due = t0 + i * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"w{first + i:04d}"
            land(wv, self.schema, self.wave_dir, name)
            log.append({"name": name, "due": due, "landed": time.time(), "rows": len(wv)})
        self.query.processAllAvailable()
        return log

    def batches(self) -> dict[int, dict]:
        """batch id -> {files, start, end, rows, add_batch_ms, trigger_ms}
        for every batch still in the query's recent progress."""
        files: dict[int, list[str]] = {}
        src_log = os.path.join(self.ckpt, "sources", "0")
        # numbered batch files plus the periodic ".compact" roll-ups;
        # every entry names the batch that took it
        for fn in os.listdir(src_log):
            if fn.startswith("."):
                continue
            with open(os.path.join(src_log, fn)) as fh:
                for line in fh.read().splitlines()[1:]:
                    if line.strip():
                        e = json.loads(line)
                        files.setdefault(int(e["batchId"]), []).append(
                            os.path.basename(e["path"]).removesuffix(".parquet"))
        out = {}
        for p in self.query.recentProgress:
            bid = p.batchId
            if bid not in files or p.numInputRows == 0:
                continue
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            trig = p.durationMs.get("triggerExecution", 0)
            out[bid] = {
                "files": files[bid], "start": start, "end": start + trig / 1000.0,
                "rows": p.numInputRows, "add_batch_ms": p.durationMs.get("addBatch", 0),
                "trigger_ms": trig,
            }
        return out

    def read_target(self) -> pd.DataFrame:
        return read_merge_target(self.spark, self.target).toPandas()
