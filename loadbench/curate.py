"""curate: batch LLM-corpus curation, one pass per operation.

A pass builds a ``pipeline.Pipeline``: ``io.read_table`` → Gopher and
C4 quality filters → corpus-wide line dedup → MinHash-LSH near-duplicate
pairs → connected components / canonical documents → BPE token counts
with the frozen ``bpe_q_bp1`` artifact → ``io.write_training_shards``,
then ``io.verify_training_shards``. Every pass is checked against the
truth planted by ``gen.gen_curate`` and must write shards with the
same sha256s as every other pass of the same seed.

In a traced pass every stage's output is materialised inside its span,
so each layer's time is its own; untraced passes run the fused plan.
"""

from __future__ import annotations

import os
import shutil
import time

from harness import halves, median, patched, union_ms

PYTHON_WORKERS = True
SPARK_CONF: dict = {}
NOMINAL_PASS_S = 9.0  # one warm pass on a 4-core host, used to size a run
WARMUP_PASSES = 1
N_SHARDS = 4
# 24 hashes in 8 bands of 3: a pair at Jaccard 0.97 (a planted near
# duplicate) becomes a candidate with probability 1 - 3e-9, so the
# planted clusters are found on every seed.
NUM_HASHES, BANDS = 24, 8


def measured_passes(seconds: int, traced: bool) -> int:
    # a traced run alternates traced and untraced passes
    return max(2 if traced else 1, round(seconds / NOMINAL_PASS_S))


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    import electrician_spark
    from electrician_spark import io as eio
    from electrician_spark import pipeline
    from electrician_spark.functions import text, tokenizer
    from electrician_spark.operators import dedup

    spark, tracer, seed = ctx.spark, ctx.tracer, ctx.seed
    truth = ctx.manifest["meta"]
    artifact = os.path.join(os.path.dirname(electrician_spark.__file__), "artifacts", "bpe_q_bp1.json")
    _, merges = tokenizer.load_tokenizer(artifact)
    in_bytes = os.path.getsize(os.path.join(ctx.data_dir, "documents.parquet"))
    shard_root = os.path.join(ctx.run_dir, "shards")

    def stage(name: str, fn):
        """A pipeline stage; traced passes materialise its output in its span."""

        def run_stage(df):
            with tracer.span(name):
                out = fn(df)
                if tracer.on:
                    out = out.localCheckpoint(eager=True)
            return out

        return run_stage

    def dedup_stage(df):
        with tracer.span("operators.dedup.minhash_lsh_pairs"):
            pairs = dedup.minhash_lsh_pairs(df, num_hashes=NUM_HASHES, bands=BANDS)
            if tracer.on:
                pairs = pairs.localCheckpoint(eager=True)
        with tracer.span("operators.dedup.canonical_docs"):
            out = dedup.canonical_docs(df, pairs)
            if tracer.on:
                out = out.localCheckpoint(eager=True)
        return out

    def one_pass(i: int, traced: bool) -> dict:
        out_dir = os.path.join(shard_root, f"pass-{i}")
        written = {}
        p = (
            pipeline.Pipeline("curate")
            .source(lambda s: eio.read_table(s, ctx.data_dir, "documents"))
            .transform(stage("functions.text.gopher_filter", text.gopher_filter))
            .transform(stage("functions.text.c4_filter", text.c4_filter))
            .transform(stage("operators.dedup.line_dedup", dedup.line_dedup))
            .transform(dedup_stage)
            .transform(stage("functions.tokenizer.bpe_encoded_length", lambda df: tokenizer.bpe_encoded_length(df, merges)))
            .sink(lambda df: written.update(manifest=_write(df, out_dir)))
        )

        def _write(df, path):
            with tracer.span("io.write_training_shards"):
                return eio.write_training_shards(df, path, N_SHARDS, seed=seed).collect()

        with tracer.op(traced) as root:
            t0 = time.perf_counter()
            with tracer.span("pipeline.run"):
                p.run(spark)
            with tracer.span("io.verify_training_shards"):
                verify = eio.verify_training_shards(spark, out_dir).collect()
            ms = (time.perf_counter() - t0) * 1000
        res = {"ms": ms, "root": root, "manifest": written["manifest"], "verify": verify}
        res.update(check(out_dir, res))
        if traced:
            res["aux"] = aux_counts()
        shutil.rmtree(out_dir, ignore_errors=True)
        return res

    def check(out_dir: str, res: dict) -> dict:
        rows = (
            spark.read.json(out_dir)
            .select("doc_id", F.size(F.split("text", "\n")).alias("lines"), "bpe_len")
            .collect()
        )
        ids = sorted(r.doc_id for r in rows)
        problems = []
        if ids != truth["survivors"]:
            problems.append(f"{len(ids)} docs kept, {len(truth['survivors'])} planted survivors")
        if sum(r.lines for r in rows) != truth["expected_lines"]:
            problems.append("line dedup kept the wrong lines")
        if any(r.bpe_len is None or r.bpe_len <= 0 for r in rows):
            problems.append("missing BPE lengths")
        if len(res["verify"]) != N_SHARDS or not all(v.ok for v in res["verify"]):
            problems.append("shard verification failed")
        return {
            "shas": [m.sha256 for m in sorted(res["manifest"], key=lambda m: m.shard)],
            "out_bytes": sum(m.bytes for m in res["manifest"]),
            "problems": problems,
        }

    def aux_counts() -> dict:
        """Counts the traced spans do not expose: filter survivors and
        LSH candidate pairs, recomputed outside the timed spans."""
        docs = eio.read_table(spark, ctx.data_dir, "documents")
        kept = text.c4_filter(text.gopher_filter(docs))
        deduped = dedup.line_dedup(kept)
        sigs = dedup.minhash_signatures(deduped, num_hashes=NUM_HASHES)
        bands = sigs.select("doc_id", F.expr(dedup._band_explode_sql(NUM_HASHES, BANDS)).alias("b")).select(
            "doc_id", "b.band", "b.bh"
        )
        cand = (
            bands.alias("l")
            .join(bands.alias("r"), ["band", "bh"])
            .filter(F.col("l.doc_id") < F.col("r.doc_id"))
            .select("l.doc_id", "r.doc_id")
            .distinct()
            .count()
        )
        verified = dedup.minhash_lsh_pairs(deduped, num_hashes=NUM_HASHES, bands=BANDS).count()
        return {"kept": kept.count(), "candidates": cand, "verified": verified}

    for i in range(WARMUP_PASSES):
        ref = one_pass(-1 - i, False)
    ctx.mark_first_op()
    n = measured_passes(ctx.seconds, ctx.trace)
    passes = []
    targets = [
        (dedup, "connected_components", "operators.dedup.connected_components"),
        (pipeline.Pipeline, "plan", "pipeline.plan"),
        (eio, "read_table", "io.read_table"),
    ]
    with patched(tracer, targets):
        for i in range(n):
            passes.append((ctx.trace and i % 2 == 0, one_pass(i, ctx.trace and i % 2 == 0)))

    failed = 0
    for traced, r in [(False, ref)] + passes:
        if r["shas"] != ref["shas"]:
            r["problems"].append("shards differ from the first pass of this seed")
        if r["problems"]:
            ctx.log(f"curate check failed: {r['problems']}")
            failed += 1
    measured = [r for t, r in passes if t == ctx.trace]
    lat = [r["ms"] for r in measured]
    ctx.detail.update(
        {
            "samples": len(lat),
            "latency_p50_halves_ms": list(halves(lat)),
            "docs": truth["n_docs"],
            "survivors": len(truth["survivors"]),
        }
    )
    attempted = len(passes) + WARMUP_PASSES
    if not ctx.trace:
        return {
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                "throughput_per_s": truth["n_docs"] * len(lat) / (sum(lat) / 1000),
                "latency_p50_ms": median(lat),
                "out_bytes_per_in_byte": median([r["out_bytes"] for r in measured]) / in_bytes,
            },
        }

    layer: dict[str, list[float]] = {}

    def put(k, v):
        layer.setdefault(k, []).append(v)

    plain = [r["ms"] for t, r in passes if not t]
    for r in measured:
        summ = tracer.op_summary(r["root"].index)
        self_ms, c = summ["self_ms"], summ["counts"]
        for name in (
            "functions.text.gopher_filter",
            "functions.text.c4_filter",
            "operators.dedup.line_dedup",
            "operators.dedup.minhash_lsh_pairs",
            "operators.dedup.connected_components",
            "operators.dedup.canonical_docs",
            "functions.tokenizer.bpe_encoded_length",
            "io.write_training_shards",
            "io.verify_training_shards",
        ):
            put(f"{name}.ms", self_ms.get(name, 0.0))
        sub = [tracer.spans[i] for i in tracer.subtree(r["root"].index)]
        spans = {s.name: s for s in sub if s.name in ("pipeline.run", "pipeline.plan")}
        put("pipeline.plan_ms", spans["pipeline.plan"].ms)
        put("pipeline.run_ms", spans["pipeline.run"].ms)
        put("pipeline.driver_ms", driver_ms(tracer, r["root"].index))
        put("io.read_table.ms", self_ms.get("io.read_table", 0.0))
        put("io.read_table.bytes_read", c.get("input_bytes", 0))
        put("io.write_training_shards.bytes", r["out_bytes"])
        cc = [s for s in sub if s.name == "operators.dedup.connected_components"]
        put("operators.dedup.connected_components.jobs", sum(s.counts.get("jobs", 0) for s in cc))
        a = r["aux"]
        put("functions.text.kept_docs", a["kept"])
        put("operators.dedup.minhash_lsh_pairs.candidates", a["candidates"])
        put("operators.dedup.minhash_lsh_pairs.verified", a["verified"])
        put("trace.covered_share", summ["covered_share"])
        ctx.op_counts.append(c)
    metrics = {k: median(v) for k, v in layer.items()}
    metrics["trace.overhead_pct"] = (median(lat) / median(plain) - 1) * 100
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def driver_ms(tracer, root: int) -> float:
    """The pass's wall time during which no Spark stage ran."""
    intervals = []
    for i in tracer.subtree(root):
        intervals.extend(tracer.spans[i].counts.get("stage_intervals", []))
    wall = tracer.spans[root].ms
    return wall - union_ms(intervals)
