"""Stream replay: seeded observation files (``hex``, ``obs_ts``) read by a
file source with ``maxFilesPerTrigger=1`` (one micro-batch per file) into
``plans.flagship.flagship_stream_sessions``, run with the ``availableNow``
trigger and a ``foreachBatch`` sink that collects the closed sessions.

The check reads the query's checkpoint after it stops: the offset log
gives each batch's watermark, the file-source log which file each batch
read, and the commit log which batches committed."""

from __future__ import annotations

import glob
import json
import os

from . import gen
from .harness import median

GAP_MS = 1800 * 1000  # flagship_stream_sessions' default inactivity gap
TIMEOUT_S = 120


def write_files(seed: int, path: str) -> list[list[tuple[str, int]]]:
    schedule = gen.stream_schedule(seed, gen.STREAM["files"])
    os.makedirs(path)
    for k, obs in enumerate(schedule):
        gen.write_obs_file(os.path.join(path, f"obs-{k:05d}.json"), obs)
    return schedule


def replay(spark, src: str, ckpt: str, state_partitions: int) -> dict:
    """Run the query to completion; always stops it, also after a failure.

    A stateful query fixes its state partition count at its first start.
    The engine's session default (32, sized for batch shuffles) would give
    each micro-batch 32 state stores on a few cores; the replay uses one
    per core, as a single-box streaming deployment would."""
    from etl_adsbx_spark.plans.flagship import flagship_stream_sessions

    emitted: dict[int, list[tuple]] = {}

    def sink(df, batch_id):
        rows = df.selectExpr("hex", "unix_millis(session_start) AS s",
                             "unix_millis(session_end) AS e", "n_events").collect()
        emitted[batch_id] = [(r.hex, r.s, r.e, r.n_events) for r in rows]

    obs = (spark.readStream.schema("hex string, obs_ts timestamp")
           .option("maxFilesPerTrigger", 1).json(src))
    batch_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (flagship_stream_sessions(obs).writeStream.foreachBatch(sink)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", batch_partitions)
    try:
        if not q.awaitTermination(TIMEOUT_S):
            raise TimeoutError(f"stream replay did not finish within {TIMEOUT_S} s")
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    return {"emitted": emitted, "progress": progress, "run_id": str(q.runId), "ckpt": ckpt}


def _source_log(ckpt: str) -> dict[int, list[int]]:
    """File-source log: log offset -> indices of the files it added
    (compacted ``*.compact`` files repeat earlier entries)."""
    out: dict[int, set[int]] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                k = int(e["path"].rsplit("obs-", 1)[1].split(".")[0])
                out.setdefault(e["batchId"], set()).add(k)
    return {b: sorted(v) for b, v in out.items()}


def committed(ckpt: str) -> list[dict]:
    """Per committed batch: its watermark and the files it read."""
    log, prev, out = _source_log(ckpt), -1, []
    batches = sorted(int(os.path.basename(p)) for p in glob.glob(os.path.join(ckpt, "commits", "*"))
                     if os.path.basename(p).isdigit())
    for b in batches:
        with open(os.path.join(ckpt, "offsets", str(b))) as f:
            lines = f.read().splitlines()
        k = json.loads(lines[2])["logOffset"]
        out.append({"id": b, "wm": json.loads(lines[1])["batchWatermarkMs"],
                    "files": [f for o in range(prev + 1, k + 1) for f in log.get(o, [])]})
        prev = k
    return out


def check(run: dict, schedule) -> str | None:
    """The sessions emitted by committed batches must equal a batch
    sessionisation of the events in the files they read, limited to
    sessions that the final watermark or a later session has closed.
    Returns None when they match, else a description of the mismatch."""
    batches = committed(run["ckpt"])
    read = sorted(f for b in batches for f in b["files"])
    if read != list(range(len(schedule))):
        return f"committed batches read files {read}, not all {len(schedule)}"
    events = [e for obs in schedule for e in obs]
    closed, last = gen.batch_sessions(events, GAP_MS)
    wm = batches[-1]["wm"]
    expected = sorted(closed | {s for s in last.values() if s[2] + GAP_MS < wm})
    got = sorted(r for b in batches for r in run["emitted"].get(b["id"], []))
    if got != expected:
        return f"sessions: {len(got)} emitted, {len(expected)} expected"
    return None


def layer_metrics(runs: list[dict]) -> dict:
    """``streaming.*`` medians over the data micro-batches of ``runs``."""
    data = [p for r in runs for p in r["progress"] if p.get("numInputRows", 0) > 0]
    state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    dur = lambda k: median([p["durationMs"].get(k, 0) for p in data])  # noqa: E731
    return {
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.state_commit_ms": median([s.get("commitTimeMs", 0) for s in state]),
        "streaming.state_rows": median([s.get("numRowsTotal", 0) for s in state]),
        "streaming.state_mb": median([s.get("memoryUsedBytes", 0) for s in state]) / 2**20,
        "streaming.rows_per_batch": median([p["numInputRows"] for p in data]),
        "streaming.batches": median([len(r["progress"]) for r in runs]),
    }
