"""ingest: a streaming relay, measured per micro-batch.

Pre-encoded ``WrappedPayload`` parquet files flow through
``streaming.sources.file_stream(max_files_per_trigger=k)`` →
``envelope.from_wire`` → ``envelope.unwrap`` (deflate) →
``streaming.windows.dedupe_within_watermark`` → a
``ForEachBatchRouter`` whose error condition sends corrupt payloads and
``error`` events to a dead-letter parquet sink and the rest to the
primary parquet sink.

Each drain round's backlog enters the watched directory in one atomic
directory rename, and the engine pulls the next micro-batch when the
previous one commits (closed loop), so every micro-batch holds exactly
``k`` files. Event time advances by one round span per round while the
watermark delay exceeds that span: no event is ever late and dedupe
state levels off. After each round the sinks are checked: every
distinct event exactly once across primary and DLQ, and the DLQ holds
exactly the planted corrupt and ``error`` events.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from harness import halves, median

SPARK_CONF = {
    # an empty micro-batch to advance the watermark would break the
    # fixed micro-batch size; eviction happens in the next data batch
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
}
PYTHON_WORKERS = True
NOMINAL_ROUND_S = 6.0  # one warm drain round on a 4-core host, used to size a run
# the first micro-batches of a fresh stream are up to 30 % slower (JIT,
# state store); the Python workers are already warm
WARMUP_ROUNDS = 1
WATERMARK = "10 minutes"  # > one round's event-time span (gen.INGEST_SHAPE)


def measured_rounds(seconds: int, available: int, traced: bool) -> int:
    # a traced run alternates traced and untraced rounds
    return min(available - WARMUP_ROUNDS, max(2 if traced else 1, round(seconds / NOMINAL_ROUND_S)))


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from electrician_spark import envelope
    from electrician_spark.streaming import sinks, sources, windows
    from gen import PAYLOAD_SCHEMA

    spark, tracer, meta = ctx.spark, ctx.tracer, ctx.manifest["meta"]
    shape = meta["shape"]
    k, per_batch = shape["files_per_batch"], shape["files_per_batch"] * shape["events_per_file"]
    n_batches = shape["batches_per_round"]
    staging, watch, out = (os.path.join(ctx.run_dir, d) for d in ("staging", "watch", "out"))
    os.makedirs(watch)
    rounds = sorted(d for d in os.listdir(ctx.data_dir) if d.startswith("r"))
    in_bytes = {}
    for r in rounds:  # hard links: a rename consumes the run's copy, never the cache
        os.makedirs(os.path.join(staging, r))
        in_bytes[r] = 0
        for f in os.listdir(os.path.join(ctx.data_dir, r)):
            src = os.path.join(ctx.data_dir, r, f)
            os.link(src, os.path.join(staging, r, f))
            in_bytes[r] += os.path.getsize(src)

    state = {"round": None, "ends": {}}  # the round being drained; batch end times

    def sink(kind: str):
        def write(df, epoch):
            with tracer.span(f"streaming.sinks.{kind}"):
                sinks.parquet_sink(os.path.join(out, kind, f"rnd={state['round']}"))(df, epoch)

        return write

    router = sinks.ForEachBatchRouter(
        sinks=[sink("primary")],
        dlq_sink=sink("dlq"),
        error_condition=~F.col("payload_ok") | (F.col("status") == "error"),
    )

    def on_batch(df, epoch):
        with tracer.span("streaming.sinks.router"):
            router(df, epoch)
        state["ends"][epoch] = time.time()

    raw = sources.file_stream(
        spark, os.path.join(watch, "*"), "wire binary", max_files_per_trigger=k
    )
    decoded = envelope.unwrap(envelope.from_wire(raw), PAYLOAD_SCHEMA, compression="deflate")
    deduped = windows.dedupe_within_watermark(decoded, ["dedupe_key"], "ts", WATERMARK)
    query = (
        deduped.select("dedupe_key", "ts", "payload_ok", "_decoded.*")
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(ctx.run_dir, "checkpoint"))
        .start()
    )

    def progress_of(batch_ids: set) -> dict:
        got = {}
        for p in query.recentProgress:
            d = json.loads(p.json)
            if d["batchId"] in batch_ids and d["numInputRows"] > 0:
                got[d["batchId"]] = d
        return got

    next_batch = 0

    def drain(i: int, traced: bool) -> dict:
        nonlocal next_batch
        r = rounds[i]
        state["round"] = r
        want = set(range(next_batch, next_batch + n_batches))
        with tracer.op(traced) as root:
            t0 = time.perf_counter()
            os.rename(os.path.join(staging, r), os.path.join(watch, r))
            while True:
                last = query.lastProgress
                if last is not None and last.batchId >= max(want) and last.numInputRows > 0:
                    break
                if query.exception() is not None:
                    raise query.exception()
                time.sleep(0.005)
            wall = time.perf_counter() - t0
        next_batch += n_batches
        prog = progress_of(want)
        res = {"wall_s": wall, "root": root, "progress": prog, "problems": [], "in_bytes": in_bytes[r]}
        if sorted(prog) != sorted(want):
            res["problems"].append(f"round {r}: batches {sorted(prog)} != {sorted(want)}")
        res["latency_ms"] = [
            (state["ends"][b] - _epoch_s(prog[b]["timestamp"])) * 1000 for b in sorted(prog)
        ]
        sizes = {p["numInputRows"] for p in prog.values()}
        if sizes != {per_batch}:
            res["problems"].append(f"round {r}: micro-batch sizes {sorted(sizes)} != {per_batch}")
        res.update(output_files(r))
        if traced:
            res["replay"] = replay(r)
        return res

    def output_files(r: str) -> dict:
        files, nbytes = 0, 0
        for kind in ("primary", "dlq"):
            for dirpath, _, names in os.walk(os.path.join(out, kind, f"rnd={r}")):
                for n in names:
                    if n.startswith("part-"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(dirpath, n))
        return {"files": files, "out_bytes": nbytes}

    def check(done: list) -> None:
        """Exactly-once delivery and the exact DLQ, per round, from one
        read of each sink after the run."""
        got = {}
        for kind in ("primary", "dlq"):
            got[kind] = {}
            for row in spark.read.parquet(os.path.join(out, kind)).select("rnd", "dedupe_key").collect():
                got[kind].setdefault(row.rnd, []).append(row.dedupe_key)
        for i, (_, res) in enumerate(done):
            r, truth = rounds[i], meta["rounds"][i]
            dlq_ids = {f"e{x}" for x in truth["dlq_ids"]}
            all_ids = {f"e{x}" for x in range(truth["first_id"], truth["first_id"] + truth["n_distinct"])}
            prim, dlq = got["primary"].get(r, []), got["dlq"].get(r, [])
            if len(prim) + len(dlq) != len(all_ids) or set(prim) | set(dlq) != all_ids:
                res["problems"].append(f"round {r}: events not delivered exactly once")
            if len(dlq) != len(dlq_ids) or set(dlq) != dlq_ids:
                res["problems"].append(f"round {r}: DLQ differs from the planted corrupt and error events")
            res["dlq"] = len(dlq)

    def replay(r: str) -> dict:
        """The decode layers timed one batch's worth of files at a time
        (in the stream they are fused with the scan and the dedupe)."""
        files = sorted(os.listdir(os.path.join(watch, r)))[:k]
        df = spark.read.parquet(*[os.path.join(watch, r, f) for f in files])
        with tracer.op(True):
            t0 = time.perf_counter()
            with tracer.span("envelope.from_wire"):
                env = envelope.from_wire(df).localCheckpoint(eager=True)
            t1 = time.perf_counter()
            with tracer.span("envelope.unwrap"):
                dec = envelope.unwrap(env, PAYLOAD_SCHEMA, compression="deflate").localCheckpoint(eager=True)
            t2 = time.perf_counter()
        bad = dec.filter(~F.col("payload_ok")).count()
        return {"from_wire_ms": (t1 - t0) * 1000, "unwrap_ms": (t2 - t1) * 1000, "corrupt_rows": bad}

    try:
        done = [(None, drain(i, False)) for i in range(WARMUP_ROUNDS)]
        ctx.mark_first_op()
        n = measured_rounds(ctx.seconds, len(rounds), ctx.trace)
        for j in range(n):
            traced = ctx.trace and j % 2 == 0
            done.append((traced, drain(WARMUP_ROUNDS + j, traced)))
    finally:
        query.stop()
    check(done)

    failed_batches = 0
    for _, r in done:
        if r["problems"]:
            ctx.log(f"ingest check failed: {r['problems']}")
            failed_batches += n_batches
    attempted = n_batches * len(done)
    measured = [r for t, r in done if t == ctx.trace]
    lat = [x for r in measured for x in r["latency_ms"]]
    ctx.detail.update(
        {
            "samples": len(lat),
            "rounds": len(measured),
            "latency_p50_halves_ms": list(halves(lat)),
            "latency_ms": [round(x, 1) for x in lat],
            "rows_per_batch": per_batch,
            "files_per_batch": k,
            "duration_ms": {
                key: median([p["durationMs"].get(key, 0) for r in measured for p in r["progress"].values()])
                for key in ("latestOffset", "queryPlanning", "getBatch", "walCommit", "addBatch", "commitOffsets", "triggerExecution")
            },
        }
    )
    if not ctx.trace:
        rows = per_batch * n_batches * len(measured)
        return {
            "attempted": attempted,
            "failed": failed_batches,
            "metrics": {
                "throughput_per_s": rows / sum(r["wall_s"] for r in measured),
                "latency_p50_ms": median(lat),
                "out_bytes_per_in_byte": sum(r["out_bytes"] for r in measured)
                / sum(r["in_bytes"] for r in measured),
            },
        }

    layer: dict[str, list[float]] = {}

    def put(key, v):
        layer.setdefault(key, []).append(v)

    plain = [x for t, r in done if t is False for x in r["latency_ms"]]
    for r in measured:
        summ = tracer.op_summary(r["root"].index)
        sm = summ["self_ms"]
        per = 1 / n_batches
        put("streaming.sinks.router.ms", sm.get("streaming.sinks.router", 0.0) * per)
        put("streaming.sinks.primary.ms", sm.get("streaming.sinks.primary", 0.0) * per)
        put("streaming.sinks.dlq.ms", sm.get("streaming.sinks.dlq", 0.0) * per)
        put("streaming.sinks.files_written", r["files"] * per)
        put("reliability.dlq_rows", r["dlq"] * per)
        for p in r["progress"].values():
            d = p["durationMs"]
            put("streaming.sources.latest_offset_ms", d.get("latestOffset", 0))
            put("streaming.commit_ms", d.get("walCommit", 0) + d.get("commitOffsets", 0))
            put("streaming.sources.rows_per_batch", p["numInputRows"])
            op = p["stateOperators"][0]
            put("streaming.windows.dedupe.state_rows", op["numRowsTotal"])
            put("streaming.windows.dedupe.state_bytes", op["memoryUsedBytes"])
            put("streaming.windows.dedupe.dropped", p["numInputRows"] - op["numRowsUpdated"])
        rp = r["replay"]
        put("envelope.from_wire.ms", rp["from_wire_ms"])
        put("envelope.unwrap.ms", rp["unwrap_ms"])
        put("envelope.corrupt_rows", rp["corrupt_rows"])
        put("trace.covered_share", summ["covered_share"])
        ctx.op_counts.append({k2: v / n_batches for k2, v in summ["counts"].items()})
    metrics = {key: median(v) for key, v in layer.items()}
    metrics["trace.overhead_pct"] = (median(lat) / median(plain) - 1) * 100
    return {"attempted": attempted, "failed": failed_batches, "metrics": metrics}
