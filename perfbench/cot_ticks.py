"""cot_ticks: the reference's own scheduled tick, as a closed loop with one
client. Each tick hands a seeded ADS-B envelope to ``fetch_batch`` (through
an injected ``fetch_fn``), plans ``control(filtering=True)`` and
``to_features``, and POSTs one FeatureCollection through ``sinks.submit``
to a capturing ``post_fn``. A tick runs from the payload being handed to
``fetch_batch`` until ``submit`` returns."""

from __future__ import annotations

import json
import time

from . import gen
from .harness import median, spark_layer_metrics, tail

#: payloads generated up front; a longer run reuses them in order
POOL = 12
URL = "https://adsbexchange.com/api/aircraft/v2/lat/37.5/lon/-105.0/dist/2650.0/?cacheBuster=0"


def generate(ctx) -> None:
    ctx.includes_rows = gen.includes_rows(ctx.seed)
    keys = gen.include_keys(ctx.includes_rows)
    ctx.payloads = []
    for t in range(POOL):
        body, n, wide = gen.tick_payload(ctx.seed, t)
        ctx.payloads.append((body, n, wide, gen.expected_ids(body, keys)))
    # warm-up pass: one whole regional/wide cycle of another seed
    ctx.warm = [gen.tick_payload(ctx.seed + 1, t)[0] for t in range(gen.TICKS["wide_every"])]


def _tick(ctx, op, payload: str) -> tuple[int, str]:
    from etl_adsbx_spark import sinks
    from etl_adsbx_spark.pipeline import control, to_features
    from etl_adsbx_spark.sources.http import fetch_batch

    tr = ctx.tracer
    posted: list[str] = []
    with tr.span("tick", op):
        with tr.span("sources.fetch_batch", op):
            raw = fetch_batch(ctx.spark, URL, fetch_fn=lambda _u, _t: payload)
        with tr.span("pipeline.plan", op):
            feats = to_features(control(raw, ctx.includes, filtering=True))
        with tr.span("sinks.submit", op):
            n = sinks.submit(feats, posted.append)
    return n, posted[0]


def warmup(ctx) -> None:
    from etl_adsbx_spark.schemas import INCLUDES_SCHEMA

    ctx.includes = ctx.spark.createDataFrame(ctx.includes_rows, INCLUDES_SCHEMA)
    for body in ctx.warm:
        _tick(ctx, "warm", body)


def measure(ctx, seconds: float) -> None:
    from etl_adsbx_spark.planprobe import release_pins

    ctx.ops = []
    deadline = time.perf_counter() + seconds
    cycle = gen.TICKS["wide_every"]
    i = 0
    # whole cycles, at least two: every run has the same regional/wide mix,
    # and a run's median is not one tick's noise
    while time.perf_counter() < deadline or i % cycle or i < 2 * cycle:
        body, n_rows, wide, expect = ctx.payloads[i % POOL]
        traced = ctx.trace and i % 2 == 1
        ctx.tracer.on = traced
        if traced:
            ctx.counters.group(f"tick-{i}")
        op = {"id": i, "rows": n_rows, "wide": wide, "traced": traced,
              "expect": expect, "error": None}
        t0 = time.perf_counter()
        try:
            op["n"], op["body"] = _tick(ctx, i, body)
        except Exception as e:  # noqa: BLE001 — a failed tick is counted
            op["error"] = f"{type(e).__name__}: {str(e)[:200]}"
        op["start"], op["end"] = t0, time.perf_counter()
        ctx.tracer.on = False
        if traced:
            ctx.counters.clear()
            op["counters"] = ctx.counters.read(f"tick-{i}")
        ctx.rss.sample()
        release_pins()
        ctx.ops.append(op)
        i += 1


def check(ctx) -> tuple[int, int]:
    failed = 0
    for op in ctx.ops:
        if op["error"] is None:
            feats = json.loads(op.pop("body"))["features"]
            ids = [f["id"] for f in feats]
            if (len(ids) != len(set(ids)) or sorted(ids) != op["expect"]
                    or op["n"] != len(ids)):
                op["error"] = (f"mismatch: {len(ids)} features, "
                               f"{len(op['expect'])} expected")
        failed += op["error"] is not None
    return len(ctx.ops), failed


def _regional_ms(ops) -> list[float]:
    return [(o["end"] - o["start"]) * 1000 for o in ops if not o["wide"]]


def end_to_end(ctx) -> dict:
    """Median latency of the regional ticks (most ticks), and aircraft
    rows per second of tick time over whole regional/wide cycles."""
    ops = [o for o in ctx.ops if not o["traced"]] or ctx.ops
    ms = _regional_ms(ops)
    t, pct = tail(ms)
    wide = [(o["end"] - o["start"]) * 1000 for o in ops if o["wide"]]
    ctx.notes.update(ticks=len(ops), regional_ticks=len(ms), wide_ticks=len(wide),
                     regional_tail_ms=t, tail_percentile=pct, wide_p50_ms=median(wide),
                     tick_ms=[round((o["end"] - o["start"]) * 1000) for o in ops])
    busy = sum(o["end"] - o["start"] for o in ops)
    return {"op_p50_ms": median(ms), "rows_per_s": sum(o["rows"] for o in ops) / busy}


def per_layer(ctx) -> dict:
    tr = ctx.tracer
    traced = [o for o in ctx.ops if o["traced"]]
    untraced = [o for o in ctx.ops if not o["traced"]]
    out = {
        "sources.fetch_batch_ms": median(tr.durations("sources.fetch_batch")) * 1000,
        "pipeline.plan_ms": median(tr.durations("pipeline.plan")) * 1000,
        "sinks.submit_ms": median(tr.durations("sinks.submit")) * 1000,
        "trace.overhead_ms": median(_regional_ms(traced)) - median(_regional_ms(untraced)),
    }
    out.update(spark_layer_metrics(ctx.ops, ctx.cores))
    return out
