"""Seeded input generator for the benchmark workloads.

Everything the engine reads is made here from one seed, with NumPy and
PyArrow only (no Spark), so generation never shows up in a timed span:

- ``events`` tables of 30-s loop-detector readings in the fixture layout
  the engine's ``sources.sensor`` view maps (``user_id`` -> detector,
  ``value`` -> volume/occupancy, ``event_type`` 'error'/'signup' -> a
  missing volume/occupancy reading);
- flattened detector-config snapshots for the SCD-2 update;
- daily file drops of readings for the streaming source, with a seeded
  share of late and out-of-order rows.

The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAY = dt.date(2024, 1, 1)
READINGS_PER_DAY = 2880  # one reading every 30 s
SLOT_US = 30_000_000
DAY_US = 86_400_000_000
NODES = 20  # the engine derives node = detector % 20

SNAPSHOT_ATTRS = ["DETECTOR_LANE", "DETECTOR_CATEGORY", "DETECTOR_FIELD",
                  "DETECTOR_ABANDONED"]


def _rng(seed: int, *tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tag])


def detector_ids(n: int) -> np.ndarray:
    """``n`` detector keys spread over the 20 nodes, two per node first."""
    return np.array([(i % NODES) + NODES * (i // NODES) + 100 for i in range(n)],
                    dtype=np.int64)


def _day_us(day: dt.date) -> int:
    return (day - dt.date(1970, 1, 1)).days * DAY_US


def _volumes(rng: np.random.Generator, n_det: int, slots: np.ndarray) -> np.ndarray:
    """Per-reading vehicle counts with a two-peak daily profile and a
    per-detector scale; counts above 20 are 'impossible' and get nulled
    by the engine's cleaning step."""
    hour = (slots % READINGS_PER_DAY) / 120.0
    profile = (1.0 + 9.0 * np.exp(-((hour - 8.0) ** 2) / 3.0)
               + 11.0 * np.exp(-((hour - 17.0) ** 2) / 4.0))
    scale = rng.uniform(0.7, 1.3, size=(n_det, 1))
    return rng.poisson(profile[None, :] * scale)


def readings(seed: int, n_det: int, day: dt.date, tag: int) -> dict[str, np.ndarray]:
    """One day of 30-s readings for ``n_det`` detectors.

    Returns flat arrays (detector, ts_us, volume, occupancy, kind) with
    kind 0 = good, 1 = volume missing, 2 = occupancy missing. About 1 % of
    readings are lost at random; per detector and day there is on average
    a quarter of an event that is either a one-hour outage (no readings)
    or a 30-min sensor-error burst (volume missing), so whole 15-min
    windows need the imputation cascade's rolling-mean and lag stages.
    """
    rng = _rng(seed, tag, n_det)
    ids = detector_ids(n_det)
    d0 = (day - EPOCH_DAY).days
    slots = np.arange(READINGS_PER_DAY, dtype=np.int64)
    vol = _volumes(rng, n_det, slots + d0 * READINGS_PER_DAY)
    kind = rng.choice(3, size=vol.shape, p=[0.96, 0.02, 0.02]).astype(np.int8)
    keep = rng.random(vol.shape) > 0.01
    for _ in range(rng.poisson(n_det / 4)):
        det = rng.integers(n_det)
        start = rng.integers(READINGS_PER_DAY - 240)
        if rng.random() < 0.5:
            keep[det, start:start + 120] = False      # one-hour outage
        else:
            kind[det, start:start + 60] = 1           # 30-min error burst
    occ = np.minimum(vol * 37 + rng.integers(0, 37, size=vol.shape), 1999)
    ts = _day_us(day) + slots * SLOT_US
    det_ix = np.repeat(np.arange(n_det), len(slots)).reshape(vol.shape)
    return {
        "detector": ids[det_ix][keep],
        "ts_us": np.broadcast_to(ts, vol.shape)[keep],
        "volume": vol[keep].astype(np.int32),
        "occupancy": occ[keep].astype(np.int32),
        "kind": kind[keep],
    }


def concat(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def take(r: dict[str, np.ndarray], mask: np.ndarray) -> dict[str, np.ndarray]:
    return {k: v[mask] for k, v in r.items()}


_EVENT_TYPES = np.array(["view", "error", "signup"])


def events_table(r: dict[str, np.ndarray], first_event_id: int = 0) -> pa.Table:
    """Readings in the ``events`` fixture layout. ``value`` encodes both
    measures: floor(value) % 25 is the volume and floor(value * 37) % 2000
    the occupancy (see ``sources.sensor.SENSOR_VIEW_SQL``)."""
    n = len(r["ts_us"])
    # value = volume + f with floor(37 * value) == occupancy for every
    # occupancy in [37 v, 37 v + 36]; mid-bucket fractions keep floor()
    # away from float rounding edges
    frac = (r["occupancy"] - 37 * r["volume"] + 0.5) / 37.0
    value = r["volume"] + frac
    return pa.table({
        "event_id": pa.array(np.arange(first_event_id, first_event_id + n,
                                       dtype=np.int64)),
        "ts": pa.array(r["ts_us"], type=pa.timestamp("us")),
        "user_id": pa.array(r["detector"]),
        "event_type": pa.array(_EVENT_TYPES[r["kind"]]),
        "value": pa.array(value),
    })


def stream_table(r: dict[str, np.ndarray]) -> pa.Table:
    """Readings in the streaming source schema
    (``streaming.pipeline.READINGS_SCHEMA``); missing measures are nulls."""
    return pa.table({
        "sensor": pa.array(r["detector"].astype(str)),
        "start_datetime": pa.array(r["ts_us"], type=pa.timestamp("us", tz="UTC")),
        "volume": pa.array(r["volume"], mask=r["kind"] == 1),
        "occupancy": pa.array(r["occupancy"], mask=r["kind"] == 2),
    })


def config_snapshot(seed: int, ids: np.ndarray, tag: int = 0) -> pa.Table:
    """One flattened config snapshot (the SCD-2 input), one row per detector."""
    rng = _rng(seed, 7, tag)
    n = len(ids)
    return pa.table({
        "DETECTOR_NAME": pa.array(ids.astype(str)),
        "DETECTOR_LANE": pa.array(rng.integers(1, 5, n).astype(np.int32)),
        "DETECTOR_CATEGORY": pa.array(np.array(["", "Q", "D", "S"])[rng.integers(0, 4, n)]),
        "DETECTOR_FIELD": pa.array(rng.choice([22.0, 24.0, 26.0, 28.0], n)),
        "DETECTOR_ABANDONED": pa.array(np.where(rng.random(n) < 0.1, "t", "f")),
    })


@dataclass(frozen=True)
class ConfigDelta:
    """Expected changelog of one snapshot delta, by change kind."""
    new: int
    removed: int
    cells: int


def next_snapshot(seed: int, base: pa.Table, tag: int = 1) -> tuple[pa.Table, ConfigDelta]:
    """A later snapshot of ``base``: two detectors added, one removed, and
    a few attribute cells changed. Returns it with the changelog row counts
    the SCD-2 update must produce (one row per added or removed detector,
    one per changed cell)."""
    rng = _rng(seed, 8, tag)
    cols = {c: base[c].to_numpy(zero_copy_only=False).copy() for c in base.column_names}
    n = len(cols["DETECTOR_NAME"])
    max_id = max(int(x) for x in cols["DETECTOR_NAME"])
    drop, *changed = rng.choice(n, size=1 + max(2, n // 10), replace=False)
    cells = 0
    for i in changed:
        cols["DETECTOR_LANE"][i] = cols["DETECTOR_LANE"][i] % 4 + 1
        cells += 1
        if rng.random() < 0.5:
            cols["DETECTOR_FIELD"][i] += 2.0
            cells += 1
    keep = np.arange(n) != drop
    cols = {c: v[keep] for c, v in cols.items()}
    added = config_snapshot(seed, np.array([max_id + 1, max_id + 2]), tag=100 + tag)
    for c in cols:
        cols[c] = np.concatenate([cols[c], added[c].to_numpy(zero_copy_only=False)])
    # the bootstrap state holds every detector open, so the dropped one is
    # closed out and logged exactly once
    return pa.table(cols), ConfigDelta(new=2, removed=1, cells=cells)


# --- workload inputs --------------------------------------------------------

def write_nightly(seed: int, root: Path, n_det: int, hist_days: int) -> dict:
    """History of ``hist_days`` days (one events file per day, as a nightly
    feed lands them), the next night's file, the night's config snapshot,
    and the stored state the night starts from: the SCD-2 state bootstrapped
    from the base snapshot and the model's stored hourly predictions.
    Returns what the checks need to know."""
    history = root / "history"
    history.mkdir(parents=True)
    eid = 0
    for d in range(hist_days + 1):
        r = readings(seed, n_det, EPOCH_DAY + dt.timedelta(days=d), tag=d)
        path = root / "night.parquet" if d == hist_days else history / f"day-{d:03d}.parquet"
        pq.write_table(events_table(r, eid), path)
        eid += len(r["ts_us"])
    night = EPOCH_DAY + dt.timedelta(days=hist_days)
    base = config_snapshot(seed, detector_ids(n_det))
    snap, delta = next_snapshot(seed, base)
    pq.write_table(snap, root / "snapshot-night.parquet")
    pq.write_table(initial_state(base), root / "state.parquet")
    preds = predictions(seed, detector_ids(n_det), night)
    pq.write_to_dataset(preds, root / "predict", partition_cols=["node"],
                        basename_template="part-{i}.parquet",
                        use_deprecated_int96_timestamps=True)
    return {"night": night, "delta": delta,
            "night_rows": pq.read_metadata(root / "night.parquet").num_rows,
            "predictions": {f"{n}|{t:%Y-%m-%d %H:%M:%S}": v for n, t, v in zip(
                *(preds[c].to_pylist() for c in ("NODE_NAME", "PREDICT_TIME",
                                                 "VOLUMN_PREDICTION")))}}


def initial_state(snapshot: pa.Table) -> pa.Table:
    """The SCD-2 bootstrap of a snapshot (``operators.scd2.initial_state``):
    every detector open, with sentinel validity and no change stamp."""
    n = snapshot.num_rows
    date = lambda s: pa.array([dt.date.fromisoformat(s)] * n, type=pa.date32())
    return snapshot.append_column("LAST_CHANGE_DATE", pa.nulls(n, pa.date32())) \
        .append_column("START_DATE", date("1900-01-01")) \
        .append_column("END_DATE", date("2100-01-01")) \
        .append_column("DEACTIVATE", pa.array([False] * n))


def predictions(seed: int, ids: np.ndarray, night: dt.date) -> pa.Table:
    """Stored hourly predictions per node for the week either side of the
    night, in the model output layout (``ml.modeling.PREDICT_SCHEMA``)."""
    rng = _rng(seed, 11)
    nodes = sorted({f"node_{i % NODES}" for i in ids})
    hours = 15 * 24
    start = _day_us(night - dt.timedelta(days=7))
    ts = start + np.arange(hours, dtype=np.int64) * 3_600_000_000
    return pa.table({
        "NODE_NAME": pa.array(np.repeat(nodes, hours)),
        "PREDICT_TIME": pa.array(np.tile(ts, len(nodes)), type=pa.timestamp("us")),
        "VOLUMN_PREDICTION": pa.array(rng.integers(0, 3000, len(nodes) * hours)),
        "node": pa.array(np.repeat(nodes, hours)),
    })


LATE_SHARE = 0.02      # rows delivered one or two drops late (admitted)
TOO_LATE_SHARE = 0.002  # rows delivered five drops late (beyond the watermark)


def write_stream(seed: int, root: Path, n_det: int, days: int) -> list[int]:
    """One readings file per day, ``drop-NNN.parquet``. A drop holds its
    day's readings minus the ones delivered late, plus the late rows of
    earlier days, in shuffled order. Returns the row count of each drop."""
    root.mkdir(parents=True)
    rng = _rng(seed, 9)
    parts: list[list[dict]] = [[] for _ in range(days)]
    for d in range(days):
        r = readings(seed, n_det, EPOCH_DAY + dt.timedelta(days=d), tag=1000 + d)
        u = rng.random(len(r["ts_us"]))
        lag = np.where(u < LATE_SHARE, 1 + (u < LATE_SHARE / 2), 0)
        lag = np.where(u > 1 - TOO_LATE_SHARE, 5, lag)
        for k in np.unique(lag):
            if d + k < days:
                parts[d + k].append(take(r, lag == k))
    counts = []
    for d, pieces in enumerate(parts):
        r = concat(pieces)
        r = take(r, rng.permutation(len(r["ts_us"])))
        pq.write_table(stream_table(r), root / f"drop-{d:03d}.parquet")
        counts.append(len(r["ts_us"]))
    return counts
