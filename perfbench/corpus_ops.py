"""``corpus_ops``: repeated passes over a fixed mix of oracle-backed
registry queries, one closed-loop client.

The tables are a seed-derived copy of the fixture schemas (seeded row
order and values, a seeded share of planted near-duplicate documents).
Set-up runs one untimed pass, which also builds the stored indexes the
retrieval queries read. Each timed query is collected in full; after the
loop every query's last answer is compared with its DuckDB oracle from
``plans.registry.ORACLES`` on the same parquet files.
"""

from __future__ import annotations

import math
import os
import struct
import time

from common import median
from gen import write_corpus

MIX = (
    "enrich_broadcast_left_join",
    "agg_revenue_by_nation",
    "win_sessionize",
    "dedup_intra_batch",
    "dedup_substring_spans",
    "dist_heavy_hitters",
    "text_bpe_train",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    """Exact value identity, as the repository's oracle gate compares."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack("<d", v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=lambda row: tuple((v is None, str(type(v)), str(v)) for v in row))


def run(r) -> dict:
    a = r.args
    t = time.time()
    sf = r.path("corpus")
    rows = write_corpus(a.seed, sf)
    r.gen_s = time.time() - t

    r.start_session()
    spark = r.spark
    from realtimedatapipeline_8_project_spark.plans.registry import ORACLES, QUERIES

    def one(name: str, op: int, span: str = "op"):
        t0 = time.time()
        with r.tracer.span(f"{span}.{name}", op):
            df = QUERIES[name](spark, sf)
            out = df.collect()
        return out, df.columns, time.time() - t0

    for name in MIX:  # warm-up pass: JIT, codegen, first-job costs
        one(name, 0, span="warmup.op")

    r.mark_first_timed()
    per_query: dict[str, list] = {n: [] for n in MIX}
    answers: dict[str, list] = {n: [] for n in MIX}
    passes = []
    t_start = time.time()
    while time.time() - t_start < a.seconds:
        t0 = time.time()
        op = r.tracer.new_op()
        for name in MIX:
            out, cols, s = one(name, op)
            per_query[name].append(s)
            answers[name].append((out, cols))
        passes.append(time.time() - t0)
    loop_s = time.time() - t_start

    import duckdb

    con = duckdb.connect()
    for tname in TABLES:
        path = os.path.join(sf, f"{tname}.parquet")
        con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{path}')")
    for name in MIX:
        cur = con.execute(ORACLES[name])
        dcols = [c[0] for c in cur.description]
        drows = cur.fetchall()
        want = _multiset(drows, dcols)
        for out, cols in answers[name]:
            ok = sorted(cols) == sorted(dcols) and _multiset(out, cols) == want
            r.check(ok, f"{name}: {len(out)} spark rows vs {len(drows)} oracle rows")
        r.layer[f"op.{name}_s"] = (median(per_query[name]), "s")
        r.layer[f"op.{name}_rows"] = (len(answers[name][-1][0]), "count")
    r.report.update({
        "corpus_pass_s": (median(passes), "s"),
        "corpus_passes": (len(passes), "count"),
        "corpus_input_rows": (sum(rows.values()), "count"),
    })
    return {"latency_s_p50": median(passes),
            "throughput_per_s": len(passes) * len(MIX) / loop_s,
            "read_s_p50": median([s for xs in per_query.values() for s in xs])}
