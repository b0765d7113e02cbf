"""batch_mix: one pass runs the TPC-H-shaped registry queries in a fixed
order, then replays seeded ADS-B observation files through the flagship
stateful stream (``plans.flagship.flagship_stream_sessions``). Inputs are
seeded tables written by ``gen.make_tables`` and files written by
``stream.write_files``; a pass is timed from its first call to its last
action, and its outputs are checked after the timer stops."""

from __future__ import annotations

import os
import time

from . import gen, stream
from .harness import median, spark_layer_metrics

MIX = ("q1_pricing_summary", "q21_blocking_supplier", "asof_join_events")


class _Collected:
    """Hands an already-collected result to ``testing.compare_query``."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def generate(ctx) -> None:
    ctx.tables = os.path.join(ctx.work, "tables")
    ctx.rows = gen.make_tables(ctx.seed, ctx.tables)
    ctx.obs_dir = os.path.join(ctx.work, "obs")
    ctx.schedule = stream.write_files(ctx.seed, ctx.obs_dir)


def _pass(ctx, op, tables: str, obs_dir: str) -> dict:
    from etl_adsbx_spark import queries

    tr, reg = ctx.tracer, queries.queries()
    res = {}
    for q in MIX:
        with tr.span(f"queries.{q}", op):
            res[q] = reg[q](ctx.spark, tables).toPandas()
    with tr.span("plans.flagship.stream_sessions", op):
        res["_stream"] = stream.replay(ctx.spark, obs_dir,
                                       os.path.join(ctx.work, f"ckpt-{op}"), ctx.cores)
    return res


def warmup(ctx) -> None:
    """One full pass over the same inputs: a pass over smaller tables
    leaves the first measured pass still compiling for the real sizes."""
    from etl_adsbx_spark.planprobe import release_pins

    _pass(ctx, "warm", ctx.tables, ctx.obs_dir)
    release_pins()


def measure(ctx, seconds: float) -> None:
    from etl_adsbx_spark.planprobe import release_pins

    ctx.ops = []
    deadline = time.perf_counter() + seconds
    i = 0
    # at least two passes: a run's median then is not one pass's noise
    while time.perf_counter() < deadline or i < 2:
        traced = ctx.trace and i % 2 == 1
        ctx.tracer.on = traced
        if traced:
            ctx.counters.group(f"pass-{i}")
        op = {"id": i, "traced": traced, "error": None, "results": None}
        t0 = time.perf_counter()
        try:
            op["results"] = _pass(ctx, i, ctx.tables, ctx.obs_dir)
        except Exception as e:  # noqa: BLE001 — a failed pass is counted
            op["error"] = f"{type(e).__name__}: {str(e)[:200]}"
        op["start"], op["end"] = t0, time.perf_counter()
        ctx.tracer.on = False
        if traced:
            ctx.counters.clear()
            c = ctx.counters.read(f"pass-{i}")
            if op["results"]:
                # the stream's jobs run under its own job group: the run id
                s = ctx.counters.read(op["results"]["_stream"]["run_id"])
                c = {k: c[k] + s[k] for k in c}
            op["counters"] = c
        ctx.rss.sample()
        release_pins()
        ctx.ops.append(op)
        i += 1


def check(ctx) -> tuple[int, int]:
    """Every query result against its registry oracle on DuckDB, and the
    replay's closed sessions against a batch sessionisation. An operation
    is one query or one micro-batch."""
    from etl_adsbx_spark.queries import oracle_sql
    from etl_adsbx_spark.testing import compare_query

    sql = oracle_sql()
    attempted = failed = 0
    for op in ctx.ops:
        res = op["results"]
        batches = gen.STREAM["files"]
        attempted += len(MIX) + batches
        if res is None:
            failed += len(MIX) + batches
            continue
        for q in MIX:
            try:
                compare_query(_Collected(res[q]), sql[q], ctx.tables)
            except AssertionError as e:
                failed += 1
                op["error"] = f"{q}: {str(e)[:200]}"
        err = stream.check(res["_stream"], ctx.schedule)
        if err:
            failed += batches
            op["error"] = err
    return attempted, failed


def end_to_end(ctx) -> dict:
    ops = [o for o in ctx.ops if not o["traced"]] or ctx.ops
    ms = [(o["end"] - o["start"]) * 1000 for o in ops]
    rows = sum(ctx.rows.values()) + sum(len(f) for f in ctx.schedule)
    ctx.notes.update(passes=len(ms), input_rows=rows, pass_ms=[round(v) for v in ms])
    return {"op_p50_ms": median(ms), "rows_per_s": rows / (median(ms) / 1000)}


def per_layer(ctx) -> dict:
    tr = ctx.tracer
    traced = [o for o in ctx.ops if o["traced"]]
    untraced = [o for o in ctx.ops if not o["traced"]]
    out = {f"queries.{q}_s": median(tr.durations(f"queries.{q}")) for q in MIX}
    out["plans.flagship.stream_sessions_s"] = median(
        tr.durations("plans.flagship.stream_sessions"))
    out.update(stream.layer_metrics([o["results"]["_stream"] for o in traced if o["results"]]))
    out["trace.overhead_ms"] = (median([(o["end"] - o["start"]) * 1000 for o in traced])
                                - median([(o["end"] - o["start"]) * 1000 for o in untraced]))
    out.update(spark_layer_metrics(ctx.ops, ctx.cores))
    return out
