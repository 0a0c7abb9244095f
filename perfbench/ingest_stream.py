"""``ingest_stream``: the live outbox -> decode -> enrich -> derive ->
fan-out path, open loop, then a serve phase over the sink it wrote.

A generator thread appends seeded outbox rows at RATE rows/s, stamping
each row with the time it was due; the query runs with the reference's
10,000-row per-trigger cap and Spark's default back-to-back trigger. A
second phase appends BURST rows at once. Which rows a micro-batch holds
is read from the engine's own progress reports (the outbox source's
end offset is a byte position per file), so per-row freshness is
commit time minus due time without touching the sink. After the query
stops, ``serve.run_phase`` reads and writes that sink for ``--seconds``
(one closed-loop client; see perfbench/serve.py).
"""

from __future__ import annotations

import ast
import bisect
import json
import os
import threading
import time
from datetime import datetime, timezone

import serve
from common import dir_bytes, median, percentile, supported_tail
from gen import EventGen, customer_table, outbox_lines, write_parquet

RATE = 1_000  # rows/s in the steady phase: ~15% of the measured burst capacity
WARM_ROWS = (2_000, 10_000)  # two warm-up triggers: a cold one, then a full one
BURST = 60_000  # rows appended at once after the steady phase: six full triggers
MAX_ROWS_PER_TRIGGER = 10_000
TICK_S = 0.01  # generator wake-up period
PHASES = ("a_warm.jsonl", "b_steady.jsonl", "c_burst.jsonl")


class _Phase:
    """One outbox file: its rows, the event and malformed flag behind each
    row, cumulative byte ends, due and append times per row."""

    def __init__(self, name: str, gen: EventGen, lo: int, n: int) -> None:
        lines, self.ev, index, bad = outbox_lines(gen, lo, lo + n, lo)
        self.name = name
        self.rows = lines[:n]  # cut to an exact row count, redeliveries included
        self.index = index[:n]
        self.bad = bad
        self.ends = []
        pos = 0
        for row in self.rows:
            pos += len(row)
            self.ends.append(pos)
        self.due = [0.0] * len(self.rows)
        self.appended = [0.0] * len(self.rows)


def _iso_ms(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


class _Generator(threading.Thread):
    """Open-loop appender: row j of the phase is due at t_start + j/RATE
    and is written at the first tick at or after that time."""

    def __init__(self, path: str, phase: _Phase, t_start: float) -> None:
        super().__init__(daemon=True)
        self.path, self.phase, self.t_start = path, phase, t_start
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            ph, n, j = self.phase, len(self.phase.rows), 0
            with open(self.path, "ab") as fh:
                while j < n:
                    now = time.time()
                    k = min(n, int((now - self.t_start) * RATE) + 1)
                    if k > j:
                        fh.write(b"".join(ph.rows[j:k]))
                        fh.flush()
                        t = time.time()
                        for i in range(j, k):
                            ph.due[i] = self.t_start + i / RATE
                            ph.appended[i] = t
                        j = k
                    time.sleep(TICK_S)
        except Exception as exc:  # surfaced by the main thread
            self.error = exc


def _end_files(p) -> dict | None:
    """Byte position per outbox file at the end of a progress report's
    batch. The Python source's offset arrives as its dict's repr."""
    end = p["sources"][0].get("endOffset") if p and p["sources"] else None
    if not end:
        return None
    if isinstance(end, str):
        end = ast.literal_eval(end)
    return end["files"]


def _committed(query, name: str) -> int:
    files = _end_files(query.lastProgress)
    return int(files.get(name, 0)) if files else 0


def _wait_committed(query, name: str, size: int, timeout: float = 120.0) -> None:
    deadline = time.time() + timeout
    while _committed(query, name) < size:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"{name}: {size} bytes not committed in {timeout}s")
        time.sleep(0.1)  # each poll serializes a progress report in the JVM


def run(r) -> dict:
    from pyspark.sql import functions as F

    a = r.args
    t = time.time()
    gen = EventGen(a.seed)
    sf = r.path("dim")
    cust = customer_table(a.seed)
    write_parquet(os.path.join(sf, "customer.parquet"), cust)
    phases, first_id = [], 0
    for name, n in zip(PHASES, (sum(WARM_ROWS), int(RATE * a.seconds), BURST)):
        phases.append(_Phase(name, gen, first_id, n))
        first_id += n
    warm, steady, burst = phases
    first_loop_id = first_id  # serve-phase writes use event ids from here on
    loop = serve.loop_batches(r, gen, first_loop_id)
    outbox = r.path("outbox")
    os.makedirs(outbox)
    r.gen_s = time.time() - t

    r.start_session()
    spark = r.spark
    from realtimedatapipeline_8_project_spark.operators.enrich import enrich_events, load_dim
    from realtimedatapipeline_8_project_spark.sources.outbox_stream import make_outbox_source
    from realtimedatapipeline_8_project_spark.streaming.metrics import MetricsRecorder
    from realtimedatapipeline_8_project_spark.streaming.pipeline import (
        decode_events, derive, start_pipeline,
    )

    class WallRecorder(MetricsRecorder):
        """The recorder hook, plus the wall time each batch was recorded."""

        def __init__(self) -> None:
            super().__init__()
            self.wall: dict[int, float] = {}

        def record(self, batch_id, n_rows, sink_seconds=None, total_seconds=0.0):
            self.wall[batch_id] = time.time()
            return super().record(batch_id, n_rows, sink_seconds, total_seconds)

    rec = WallRecorder()
    with r.tracer.span("sources.dim_load"):
        dim = load_dim(spark, sf)
    spark.dataSource.register(make_outbox_source())
    raw = (
        spark.readStream.format("outbox")
        .option("path", outbox)
        .option("maxRowsPerTrigger", str(MAX_ROWS_PER_TRIGGER))
        .load()
    )
    out, chk = r.path("sink"), r.path("checkpoint")
    with r.tracer.span("streaming.start"):
        query = start_pipeline(
            spark,
            raw.select(F.col("payload").alias("value")),
            dim,
            out,
            chk,
            trigger={"processingTime": "0 seconds"},
            recorder=rec,
        )
    try:
        with r.tracer.span("streaming.warmup"):
            done = 0
            for n in WARM_ROWS:
                with open(os.path.join(outbox, warm.name), "ab") as fh:
                    fh.write(b"".join(warm.rows[done:done + n]))
                done += n
                _wait_committed(query, warm.name, warm.ends[done - 1])

        r.mark_first_timed()
        g = _Generator(os.path.join(outbox, steady.name), steady, time.time())
        g.start()
        g.join(timeout=a.seconds + 60)
        if g.is_alive() or g.error is not None:
            raise RuntimeError(f"generator failed: {g.error or 'timeout'}")
        _wait_committed(query, steady.name, steady.ends[-1])

        # written aside and renamed in, so the source never sees a part of it
        staged = r.path("burst.staged")
        with open(staged, "wb") as fh:
            fh.write(b"".join(burst.rows))
        t_burst = time.time()
        os.replace(staged, os.path.join(outbox, burst.name))
        burst.due = burst.appended = [t_burst] * len(burst.rows)
        _wait_committed(query, burst.name, burst.ends[-1])
        progress = list(query.recentProgress)
    finally:
        query.stop()

    # --- per-batch accounting from the engine's progress reports -----------
    batches = []  # (commit_wall, {file: (rows_before, rows_after)}, progress)
    prev = {}
    for p in progress:
        files = _end_files(p)
        if not files or files == prev:
            continue
        commit = _iso_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0
        spans = {}
        for ph in phases:
            lo = bisect.bisect_right(ph.ends, int(prev.get(ph.name, 0)))
            hi = bisect.bisect_right(ph.ends, int(files.get(ph.name, 0)))
            if hi > lo:
                spans[ph.name] = (lo, hi)
        batches.append((commit, spans, p))
        prev = files

    fresh, lag_max = [], 0
    burst_commit = None
    committed_rows = {ph.name: 0 for ph in phases}
    timed = [b for b in batches if steady.name in b[1] or burst.name in b[1]]
    for commit, spans, p in timed:
        for name, (lo, hi) in spans.items():
            committed_rows[name] = hi
            if name == steady.name:
                fresh.extend(commit - steady.due[i] for i in range(lo, hi))
            if name == burst.name and hi == len(burst.rows):
                burst_commit = commit
        if steady.name in spans:  # steady phase: rows appended but not committed
            appended = bisect.bisect_right(steady.appended, commit)
            lag_max = max(lag_max, appended - committed_rows[steady.name])
    late = [ap - d for ap, d in zip(steady.appended, steady.due)]
    burst_eps = len(burst.rows) / (burst_commit - t_burst)

    def ms(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0

    trig = [ms(p, "triggerExecution") for _c, _s, p in timed]
    fanout = {m.batch_id: m for m in rec.batches}
    bids = [p["batchId"] for _c, _s, p in timed]
    rows_per_batch = [sum(hi - lo for lo, hi in s.values()) for _c, s, _p in timed]
    hist_bytes, hist_files = dir_bytes(os.path.join(out, "history"))
    roll_bytes, roll_files = dir_bytes(os.path.join(out, "rollup"))
    n_rows_total = sum(len(ph.rows) for ph in phases)
    tail = supported_tail(len(fresh))
    r.report.update({
        "freshness_s_p50": (median(fresh), "s"),
        f"freshness_s_p{tail}": (percentile(fresh, tail), "s"),
        "burst_eps": (burst_eps, "events/s"),
        "generator_late_s_max": (max(late), "s"),
        "freshness_samples": (len(fresh), "count"),
    })
    r.layer.update({
        "sources.poll_s_p50": (median([ms(p, "latestOffset", "getBatch") for _c, _s, p in timed]), "s"),
        "sources.lag_rows_max": (lag_max, "count"),
        "sources.rows_per_batch_p50": (median(rows_per_batch), "count"),
        "streaming.trigger_s_p50": (median(trig), "s"),
        "streaming.plan_s_p50": (median([ms(p, "queryPlanning") for _c, _s, p in timed]), "s"),
        "streaming.commit_s_p50": (median([ms(p, "walCommit", "commitOffsets") for _c, _s, p in timed]), "s"),
        "streaming.overhead_s_p50": (median([
            ms(p, "triggerExecution") - fanout[p["batchId"]].total_seconds
            for _c, _s, p in timed if p["batchId"] in fanout]), "s"),
        "streaming.batches": (len(timed), "count"),
        "sinks.fanout_s_p50": (median([fanout[b].total_seconds for b in bids if b in fanout]), "s"),
        "sinks.history_s_p50": (median([fanout[b].sink_seconds["history"] for b in bids if b in fanout]), "s"),
        "sinks.rollup_s_p50": (median([fanout[b].sink_seconds["rollup"] for b in bids if b in fanout]), "s"),
        "sinks.files_per_batch": ((hist_files + roll_files) / max(1, len(batches)), "count"),
        "sinks.bytes_per_event": ((hist_bytes + roll_bytes) / n_rows_total, "bytes"),
    })
    q = supported_tail(len(trig))  # a trigger tail needs ~100 triggers per run
    if q:
        r.layer[f"streaming.trigger_s_p{q}"] = (percentile(trig, q), "s")
    if r.tracer.enabled:
        _trace_batches(r, batches, rec)

    # --- serve phase over the sink the stream wrote --------------------------
    model = serve.Model(dict(zip(cust["c_custkey"].to_pylist(), zip(
        cust["c_mktsegment"].to_pylist(), cust["c_acctbal"].to_pylist()))))
    by_name = {ph.name: ph for ph in phases}
    for _c, spans, p in batches:
        for name, (lo_row, hi_row) in spans.items():
            ph = by_name[name]
            model.add_events(ph.ev, [ph.index[j] for j in range(lo_row, hi_row)
                                     if not ph.bad[ph.index[j]]], p["batchId"])
    model.rows = n_rows_total
    last_stream_batch = max(p["batchId"] for _c, _s, p in batches)
    never_written = first_loop_id + len(loop) * serve.LOOP_BATCH_EVENTS
    read_s_p50 = serve.run_phase(r, dim, out, model, loop, never_written)

    # --- output check: history multiset == batch derive(enrich(decode(rows)))
    lines = r.path("expected_payloads.txt")
    with open(lines, "w", encoding="utf-8") as fh:
        for ph in phases:
            fh.writelines(json.loads(row)["payload"] + "\n" for row in ph.rows)
    want = derive(enrich_events(decode_events(spark.read.text(lines)), dim))
    got = spark.read.parquet(os.path.join(out, "history")).where(
        F.col("batch_id") <= last_stream_batch).select(*want.columns)
    g, w = _fingerprint(got), _fingerprint(want)
    r.check(g == w, f"history multiset {g} != expected {w} (rows, hash sums)")
    return {"latency_s_p50": median(fresh), "throughput_per_s": burst_eps,
            "read_s_p50": read_s_p50}


def _fingerprint(df) -> tuple:
    """Order-free multiset fingerprint: row count and two independent
    64-bit row-hash sums (each hash masked to 32 bits, so sums cannot
    overflow). Equal multisets give equal fingerprints."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in df.columns]
    mask = F.lit(0xFFFFFFFF)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).bitwiseAND(mask)),
        F.sum(F.hash(*cols).cast("long").bitwiseAND(mask)),
    ).collect()[0]
    return tuple(row)


def _trace_batches(r, batches, rec) -> None:
    """Engine-reported phases become child spans of each trigger, laid
    out in MicroBatchExecution order; the recorder's sink seconds become
    children of ``addBatch``, ending at the wall time they were recorded."""
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    layer = {"latestOffset": "sources.poll", "getBatch": "sources.poll",
             "walCommit": "streaming.commit", "commitOffsets": "streaming.commit",
             "queryPlanning": "streaming.plan", "addBatch": "streaming.addBatch"}
    fan = {m.batch_id: m for m in rec.batches}
    for _commit, _spans, p in batches:
        op = r.tracer.new_op()
        start = _iso_ms(p["timestamp"])
        d = p["durationMs"]
        tid = r.tracer.add("streaming.trigger", start, start + d.get("triggerExecution", 0) / 1000.0, -1, op)
        t = start
        for k in order:
            dur = d.get(k, 0) / 1000.0
            sid = r.tracer.add(layer[k], t, t + dur, tid, op)
            if k == "addBatch" and p["batchId"] in fan:
                m = fan[p["batchId"]]
                end = rec.wall[p["batchId"]]
                fid = r.tracer.add("sinks.write.fanout", end - m.total_seconds, end, sid, op)
                roll = m.sink_seconds["rollup"]
                hist = m.sink_seconds["history"]
                r.tracer.add("sinks.write.rollup", end - roll, end, fid, op)
                r.tracer.add("sinks.write.history", end - roll - hist, end - roll, fid, op)
            t += dur
