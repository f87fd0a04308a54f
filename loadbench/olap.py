"""olap: one closed-loop client running rounds of registry queries.

Each round runs every row of ROWS once, in an order drawn from the
seed; only whole rounds are measured, after one discarded warm-up
round. Every result is compared with the row's DuckDB oracle (computed
during set-up, outside timing) through ``tests/oracle_harness.compare``.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from harness import halves, host_cpus, median, patched

ROWS = (
    "q_s1_full_scan",
    "q_a1_pricing_summary",
    "q_j1_broadcast_inner",
    "q_j2_shipping_priority",
    "q_o2_grouped_topk",
    "q_w1_tumbling_hour",
    "q_w3_session_counts",
    "q_aj1_asof_join",
    "q_rj1_range_join",
    "q_ht1_hypertable_rollup",
    "q_cm1_count_min",
)
PYTHON_WORKERS = False  # no query of the mix runs Python code on executors
SPARK_CONF: dict = {}
NOMINAL_ROUND_S = 9.0  # one warm round on a 4-core host, used to size a run


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def measured_rounds(seconds: int, traced: bool) -> int:
    # a traced run alternates traced and untraced rounds
    return max(2 if traced else 1, round(seconds / NOMINAL_ROUND_S))


def run(ctx) -> dict:
    from electrician_spark import io as eio
    from electrician_spark import queries
    from oracle_harness import compare, duckdb_conn
    from pandas.util import hash_pandas_object

    spark, data = ctx.spark, ctx.data_dir
    t = time.perf_counter()
    con = duckdb_conn(data)
    expected = {r: con.execute(queries.REGISTRY[r].oracle).df() for r in ROWS}
    con.close()
    ctx.detail["oracle_s"] = time.perf_counter() - t
    in_bytes = sum(
        os.path.getsize(os.path.join(data, f)) for f in os.listdir(data) if f.endswith(".parquet")
    )
    rng = random.Random(ctx.seed)
    tracer = ctx.tracer
    check_s = [0.0]  # summed over threads during warm-up
    verified: set = set()

    def one_query(row: str) -> tuple[float, bool, int]:
        """(latency ms, check passed, result bytes) of one query."""
        q = queries.REGISTRY[row]
        t0 = time.perf_counter()
        with tracer.span(f"queries.{row}.build"):
            df = q.spark(spark, data)
        with tracer.span(f"queries.{row}.exec"):
            pdf = df.toPandas()
        t1 = time.perf_counter()
        key = (row, tuple(pdf.columns), tuple(map(str, pdf.dtypes)), int(hash_pandas_object(pdf, index=False).sum()))
        ok = key in verified
        if not ok:
            res = compare(row, _Collected(pdf), expected[row])
            ok = res.ok
            if ok:  # the same bytes again need no second comparison
                verified.add(key)
            else:
                ctx.log(f"check failed: {row}: {res.detail}")
        check_s[0] += time.perf_counter() - t1
        return (t1 - t0) * 1000, ok, int(pdf.memory_usage(deep=True).sum())

    def one_round(traced: bool) -> list[tuple]:
        order = list(ROWS)
        rng.shuffle(order)
        out = []
        for row in order:
            with tracer.op(traced) as root:
                res = one_query(row)
            out.append((row, *res, root))
        return out

    def warmup_round() -> list[tuple]:
        """Every row once, one client thread per host CPU. The first
        round after start is 2-3x slower than later ones (class loading,
        JIT; the first query alone takes about 9 s on a 4-core host) and
        is discarded; running its rows side by side halves its wall
        time."""
        order = list(ROWS)
        rng.shuffle(order)
        with ThreadPoolExecutor(host_cpus()) as ex:
            return [(row, *res, None) for row, res in zip(order, ex.map(one_query, order))]

    t = time.perf_counter()
    checked = warmup_round()  # every operation run, warm-up included, for attempted/failed
    ctx.detail["warmup_s"] = time.perf_counter() - t
    ctx.mark_first_op()
    n_rounds = measured_rounds(ctx.seconds, ctx.trace)
    results, traced_round_ms, plain_round_ms = [], [], []
    with patched(tracer, [(eio, "read_table", "io.read_table")]):
        for i in range(n_rounds):
            traced = ctx.trace and i % 2 == 0
            rows = one_round(traced)
            (traced_round_ms if traced else plain_round_ms).append(sum(r[1] for r in rows))
            checked.extend(rows)
            if traced or not ctx.trace:
                results.extend(rows)

    lat = [r[1] for r in results]
    failed = sum(1 for r in checked if not r[2])
    h1, h2 = halves(lat)
    rounds_done = len(results) // len(ROWS)
    ctx.detail.update(
        {
            "samples": len(lat),
            "rounds": rounds_done,
            "latency_p50_halves_ms": [h1, h2],
            "check_s": check_s[0],
            "rows": {row: median([r[1] for r in results if r[0] == row]) for row in ROWS},
        }
    )
    if not ctx.trace:
        return {
            "attempted": len(checked),
            "failed": failed,
            "metrics": {
                "throughput_per_s": len(lat) / (sum(lat) / 1000),
                "latency_p50_ms": median(lat),
                "out_bytes_per_in_byte": sum(r[3] for r in results) / rounds_done / in_bytes,
            },
        }

    layer: dict[str, list[float]] = {}
    for row, _, _, _, root in results:
        summ = tracer.op_summary(root.index)
        c = summ["counts"]
        layer.setdefault(f"queries.{row}.build_ms", []).append(summ["self_ms"].get(f"queries.{row}.build", 0.0))
        layer.setdefault(f"queries.{row}.exec_ms", []).append(summ["self_ms"].get(f"queries.{row}.exec", 0.0))
        for k, v in (
            ("io.read_table.ms", summ["self_ms"].get("io.read_table", 0.0)),
            ("io.read_table.bytes_read", c.get("input_bytes", 0)),
            ("queries.jobs_per_query", c.get("jobs", 0)),
            ("queries.tasks_per_query", c.get("tasks", 0)),
            ("queries.shuffle_bytes", c.get("shuffle_write_bytes", 0)),
            ("trace.covered_share", summ["covered_share"]),
        ):
            layer.setdefault(k, []).append(v)
        ctx.op_counts.append(c)
    metrics = {k: median(v) for k, v in layer.items()}
    metrics["trace.overhead_pct"] = (median(traced_round_ms) / median(plain_round_ms) - 1) * 100
    return {"attempted": len(checked), "failed": failed, "metrics": metrics}

