"""Serve phase of ``ingest_stream``: the sinks' read side beside writes,
one closed-loop client, over the sink the stream just wrote.

The client repeats a fixed cycle of ten operations: six point lookups
(``read_latest`` filtered on ``event_id``; keys favour recent batches and
~5% are absent), three scans (one user's newest events from history, an
hourly ``read_rollup`` range for one event type, a ``read_history_asof``
read of one user) and one fresh ``write_batch_fanout`` batch; every
second write is followed by ``compact_latest``. Every answer is checked
against the benchmark's own model of what was written.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time

import numpy as np

from common import dir_bytes, median, percentile, supported_tail
from gen import BASE_TS, EventGen, fround, write_parquet

LOOP_BATCH_EVENTS = 5_000
UPDATE_FRAC = 0.10  # loop-batch rows that re-send an earlier event, later
ABSENT_FRAC = 0.05
CYCLE = ("lookup", "user", "lookup", "lookup", "rollup", "lookup", "write",
         "lookup", "asof", "lookup")
COMPACT_EVERY_WRITES = 2
USER_TOP = 20
ROLLUP_HOURS = 6
MAX_LOOP_BATCHES = 16
COLS = ("event_id", "event_time", "user_id", "event_type", "duration",
        "segment", "engagement_seconds", "engagement_pct")


class Model:
    """What the sink should serve: every history row, and the latest row
    per event id (latest event_time wins, as the sink defines it)."""

    def __init__(self, dim: dict) -> None:
        self.dim = dim  # c_custkey -> (segment, acctbal)
        self.latest: dict[int, tuple] = {}
        self.by_user: dict[int, list] = {}
        self.by_batch: dict[int, list] = {}
        self.rollup: dict[tuple, list] = {}
        self.rows = 0

    def add(self, eid: int, us: int, user: int, et: str, val, batch: int) -> None:
        old = self.latest.get(eid)
        if old is None or (us, -math.inf if val is None else val) > (
            old[0], -math.inf if old[3] is None else old[3]
        ):
            self.latest[eid] = (us, user, et, val)
        self.by_user.setdefault(user, []).append((us, eid, batch))
        self.by_batch.setdefault(batch, []).append(eid)
        agg = self.rollup.setdefault((us // 3_600_000_000, et), [0, None, None])
        agg[0] += 1
        if val is not None:
            agg[1] = (agg[1] or 0.0) + val
            agg[2] = (agg[2] or 0.0) + val / 1000.0

    def add_events(self, ev: dict, rows, batch: int) -> None:
        for i in rows:
            self.add(int(ev["event_id"][i]), int(ev["ts_us"][i]), int(ev["user_id"][i]),
                     str(ev["event_type"][i]),
                     None if ev["value_null"][i] else float(ev["value"][i]), batch)

    def expected_latest(self, eid: int):
        row = self.latest.get(eid)
        if row is None:
            return None
        us, user, et, val = row
        seg, bal = self.dim.get(user, (None, None))
        pct = None
        if bal is not None and val is not None and bal != 0:
            pct = fround((val / 1000.0) / bal, 6)
        return (eid, EventGen.ts(us), user, et, val, seg,
                None if val is None else val / 1000.0, pct)


def loop_batches(r, gen: EventGen, first_id: int) -> list[tuple[dict, str]]:
    """Fresh event batches for the loop's writes, as parquet files; a
    share of each re-sends an event id below ``first_id`` one hour later."""
    rng = np.random.default_rng([gen.seed, 41])
    out = []
    for b in range(MAX_LOOP_BATCHES):
        lo = first_id + b * LOOP_BATCH_EVENTS
        ev = gen.events(lo, lo + LOOP_BATCH_EVENTS)
        upd = np.flatnonzero(rng.random(LOOP_BATCH_EVENTS) < UPDATE_FRAC)
        old = rng.integers(0, first_id, len(upd))
        ev["event_id"][upd] = old
        ev["ts_us"][upd] = old * 250_000 + 3_600_000_000 + rng.integers(1, 200_000, len(upd))
        path = r.path("batches", f"loop_{b:04d}.parquet")
        write_parquet(path, gen.table(ev))
        out.append((ev, path))
    return out


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _timed(r, name: str, op: int, fn):
    t = time.time()
    with r.tracer.span(name, op):
        out = fn()
    return out, time.time() - t


def run_phase(r, dim, out: str, model: Model, batches: list, absent_from: int) -> float:
    """Warm up each read once, then loop for ``--seconds``; returns the
    median read latency. Keys at or above ``absent_from`` were never written."""
    from pyspark.sql import functions as F

    from realtimedatapipeline_8_project_spark.streaming.pipeline import derive
    from realtimedatapipeline_8_project_spark.operators.enrich import enrich_events
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        compact_latest, read_history_asof, read_latest, read_rollup, write_batch_fanout,
    )

    spark = r.spark
    rng = np.random.default_rng([r.args.seed, 43])

    def lookup(op: int, t: dict) -> bool:
        if rng.random() < ABSENT_FRAC:
            key = absent_from + int(rng.integers(0, 10**6))
        else:  # recent batches are favoured: geometric over batch age
            ids = sorted(model.by_batch)
            keys = model.by_batch[ids[-min(int(rng.geometric(0.35)), len(ids))]]
            key = keys[int(rng.integers(0, len(keys)))]
        t0 = time.time()
        with r.tracer.span("serve.lookup", op):
            with r.tracer.span("sinks.read.latest_call", op):
                df = read_latest(spark, out)
            t1 = time.time()
            with r.tracer.span("serve.lookup_action", op):
                rows = df.where(F.col("event_id") == key).collect()
        t2 = time.time()
        t.setdefault("lookup", []).append(t2 - t0)
        t.setdefault("latest_call", []).append(t1 - t0)
        t.setdefault("lookup_action", []).append(t2 - t1)
        want = model.expected_latest(key)
        if want is None:
            return not rows
        t["present"] = t.get("present", 0) + 1
        if len(rows) != 1:
            return False
        got = tuple(rows[0][c] for c in COLS)
        ok = got[:6] == want[:6] and _close(got[6], want[6]) and _close(got[7], want[7])
        t["hits"] = t.get("hits", 0) + ok
        return ok

    def pick_user() -> int:
        users = model.by_batch[int(rng.choice(sorted(model.by_batch)))]
        return model.latest[users[int(rng.integers(0, len(users)))]][1]

    def user_scan(op: int, t: dict) -> bool:
        u = pick_user()
        top, s = _timed(r, "sinks.read.history_user", op, lambda: read_history_asof(
            spark, out, max(model.by_batch)).where(F.col("user_id") == u)
            .orderBy(F.desc("event_time")).limit(USER_TOP)
            .select("event_id", "event_time").collect())
        t.setdefault("scan", []).append(s)
        want = sorted(model.by_user[u], reverse=True)[:USER_TOP]
        return [(row.event_id, row.event_time) for row in top] == [
            (eid, EventGen.ts(us)) for us, eid, _b in want]

    def rollup_scan(op: int, t: dict) -> bool:
        hours = sorted({h for h, _e in model.rollup})
        h0 = int(rng.integers(hours[0], hours[-1] + 1))
        et = str(rng.choice(sorted({e for _h, e in model.rollup})))
        lo = BASE_TS + dt.timedelta(hours=h0)
        hi = lo + dt.timedelta(hours=ROLLUP_HOURS)
        got, s = _timed(r, "sinks.read.rollup", op, lambda: read_rollup(spark, out).where(
            (F.col("bucket_start") >= lo) & (F.col("bucket_start") < hi)
            & (F.col("event_type") == et)).collect())
        t.setdefault("scan", []).append(s)
        want = {h: v for (h, e), v in model.rollup.items()
                if e == et and h0 <= h < h0 + ROLLUP_HOURS}
        if len(got) != len(want):
            return False
        for row in got:
            w = want.get(int((row.bucket_start - BASE_TS).total_seconds()) // 3600)
            if w is None or row.n != w[0] or not _close(row.sum_duration, w[1]) \
                    or not _close(row.sum_engagement_seconds, w[2]):
                return False
        return True

    def asof_scan(op: int, t: dict) -> bool:
        u = pick_user()
        b = int(rng.choice(sorted(model.by_batch)))
        got, s = _timed(r, "sinks.read.history_asof", op, lambda: read_history_asof(
            spark, out, b).where(F.col("user_id") == u)
            .select("event_id", "event_time").collect())
        t.setdefault("scan", []).append(s)
        want = sorted((eid, EventGen.ts(us)) for us, eid, bb in model.by_user.get(u, []) if bb <= b)
        return sorted((row.event_id, row.event_time) for row in got) == want

    def write(op: int) -> float:
        ev, path = batches.pop(0)
        bid = max(model.by_batch) + 1

        def call():
            df = derive(enrich_events(spark.read.parquet(path), dim))
            write_batch_fanout(df, bid, out)
        _, s = _timed(r, "sinks.write.fanout", op, call)
        model.add_events(ev, range(len(ev["event_id"])), bid)
        model.rows += len(ev["event_id"])
        return s

    reads = {"lookup": lookup, "user": user_scan, "rollup": rollup_scan, "asof": asof_scan}
    for name in ("lookup", "user", "rollup", "asof"):  # warm-up: unchecked, untimed
        reads[name](0, {})

    t: dict = {}
    writes, compacts, ops, i = [], [], 0, 0
    t_start = time.time()
    while time.time() - t_start < r.args.seconds:
        kind = CYCLE[i % len(CYCLE)]
        i += 1
        op = r.tracer.new_op()
        if kind == "write":
            if not batches:
                raise RuntimeError("out of pre-generated loop batches")
            writes.append(write(op))
            ops += 1
            if len(writes) % COMPACT_EVERY_WRITES == 0:
                _, s = _timed(r, "sinks.compact.latest", op, lambda: compact_latest(spark, out))
                compacts.append(s)
                ops += 1
            continue
        r.check(reads[kind](op, t), f"{kind} answer differs from the model (op {i})")
        ops += 1
    loop_s = time.time() - t_start

    hist_bytes, hist_files = dir_bytes(os.path.join(out, "history"))
    roll_bytes, roll_files = dir_bytes(os.path.join(out, "rollup"))
    latest_bytes, _ = dir_bytes(os.path.join(out, "latest"))
    lk, sc = t["lookup"], t.get("scan", [])
    r.report.update({
        "lookup_s_p50": (median(lk), "s"),
        "scan_s_p50": (median(sc) if sc else math.nan, "s"),
        "write_s_p50": (median(writes) if writes else math.nan, "s"),
        "serve_ops_per_s": (ops / loop_s, "ops/s"),
        "stored_bytes_per_event": ((hist_bytes + roll_bytes + latest_bytes) / model.rows, "bytes"),
        "lookup_samples": (len(lk), "count"),
        "scan_samples": (len(sc), "count"),
    })
    for name, xs in (("lookup", lk), ("scan", sc)):
        q = supported_tail(len(xs))
        if q:
            r.report[f"{name}_s_p{q}"] = (percentile(xs, q), "s")
    r.layer.update({
        "sinks.read_latest_call_s_p50": (median(t["latest_call"]), "s"),
        "serve.lookup_action_s_p50": (median(t["lookup_action"]), "s"),
        "sinks.history_files": (hist_files, "count"),
        "sinks.compact_s": (median(compacts) if compacts else math.nan, "s"),
        "serve.lookup_hit_frac": (t.get("hits", 0) / max(1, t.get("present", 0)), "ratio"),
    })
    return median(lk + sc)
