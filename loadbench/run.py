"""Load benchmark for electrician_spark: one command per workload.

    python3 loadbench/run.py --workload olap --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` in a
separate process (``loadbench/gen.py``, cached under ``.loadbench/``);
the workload then starts the engine, warms up, runs a fixed number of
operations sized from ``--seconds``, checks every operation's output,
and prints one JSON line last: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The line
before it holds the run's details: pinned settings, generation time,
sample counts and the medians of each half of the run.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".loadbench")
WORKLOADS = ("olap", "curate", "ingest")
DEADLINE_S = 170


class Context:
    """What a workload gets: the session, its inputs and the tracer;
    what it hands back besides its result: details and op counters."""

    def __init__(self, args, data_dir: str, manifest: dict, run_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.data_dir = data_dir
        self.manifest = manifest
        self.run_dir = run_dir
        self.spark = None
        self.tracer = None
        self.detail: dict = {}
        self.op_counts: list[dict] = []
        self.first_op_t: float | None = None

    def mark_first_op(self) -> None:
        self.first_op_t = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"[loadbench] {msg}", file=sys.stderr, flush=True)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def _descendants() -> list[int]:
    from harness import _children

    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def stop_engine(spark) -> None:
    """Stop Spark and the JVM it runs in, then wait until every process
    this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for _ in range(100):
        pids = _descendants()
        if not pids:
            return
        time.sleep(0.1)
    for pid in _descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(50):
        if not _descendants():
            return
        time.sleep(0.1)


def generate(args) -> None:
    """Build the run's inputs in a separate process (cached per seed)."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--kind", args.workload,
         "--seed", str(args.seed), "--root", os.path.join(WORK, "cache")],
        check=True, stdout=subprocess.DEVNULL, timeout=DEADLINE_S,
    )


def metric_specs() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def engine_metrics(op_counts: list[dict]) -> dict:
    """Engine-wide task counters per traced operation (median)."""
    from harness import median

    def m(fn):
        return median([fn(c) for c in op_counts]) if op_counts else 0

    return {
        "spark.tasks": m(lambda c: c.get("tasks", 0)),
        "spark.task_ms": m(lambda c: c.get("task_ms", 0)),
        "spark.cpu_ms": m(lambda c: c.get("cpu_ns", 0) / 1e6),
        "spark.gc_ms": m(lambda c: c.get("gc_ms", 0)),
        "spark.shuffle_write_bytes": m(lambda c: c.get("shuffle_write_bytes", 0)),
        "spark.spill_bytes": m(lambda c: c.get("memory_spill_bytes", 0) + c.get("disk_spill_bytes", 0)),
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="electrician_spark load benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("electrician_spark/__init__.py", "tests/oracle_harness.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"loadbench: {need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    import gen

    t = time.perf_counter()
    before_gen_s = t - T_START
    generate(args)
    gen_s = time.perf_counter() - t

    from harness import PeakPss, Tracer, pin_host, start_session, warm_python_workers

    # one run at a time per checkout: whatever an interrupted run left is stale
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}")
    workload = __import__(args.workload)
    pinned = pin_host(run_dir, ROOT)
    data_dir = gen.entry_dir(os.path.join(WORK, "cache"), args.workload, args.seed)
    e2e_spec, layer_spec = metric_specs()

    setup_t0 = time.perf_counter()
    try:
        manifest = gen.load(data_dir)  # set-up verifies every input's sha256
    except gen.CorruptEntry as e:
        # altered in place after it was cached: never used, built again
        print(f"[loadbench] {e}; generating it again", file=sys.stderr, flush=True)
        shutil.rmtree(data_dir)
        t = time.perf_counter()
        generate(args)
        regen_s = time.perf_counter() - t
        setup_t0 += regen_s
        gen_s += regen_s
        manifest = gen.load(data_dir)
    verify_ms = (time.perf_counter() - setup_t0) * 1000
    ctx = Context(args, data_dir, manifest, run_dir)
    spark = None
    try:
        with PeakPss() as pss:
            t = time.perf_counter()
            spark, conf = start_session(run_dir, pinned, workload.SPARK_CONF)
            start_ms = (time.perf_counter() - t) * 1000
            warm_ms = None  # no Python workers to warm
            if workload.PYTHON_WORKERS:
                t = time.perf_counter()
                warm_python_workers(spark)
                warm_ms = (time.perf_counter() - t) * 1000
            ctx.spark = spark
            ctx.tracer = Tracer(spark, ctx.trace)
            result = workload.run(ctx)
    finally:
        stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    signal.alarm(0)

    # set-up: process start to the first timed operation, without input
    # generation
    setup_s = before_gen_s + (ctx.first_op_t - setup_t0)
    metrics = dict(result["metrics"])
    if ctx.trace:
        metrics.update(engine_metrics(ctx.op_counts))
        metrics["session.start_ms"] = start_ms
        if warm_ms is not None:
            metrics["session.python_warm_ms"] = warm_ms
        spec = layer_spec
    else:
        metrics["setup_s"] = setup_s
        metrics["peak_rss_mb"] = pss.peak / 2**20
        spec = e2e_spec
    out, missing = {}, []
    for m in spec:
        if m["name"] in metrics:
            out[m["name"]] = {"value": float(metrics[m["name"]]), "unit": m["unit"]}
        elif ctx.trace:
            # every per-layer metric is an amount per operation (time,
            # rows, bytes, count); a layer this workload never calls
            # does none of it
            out[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    if missing:
        raise RuntimeError(f"workload {args.workload} did not report {missing}")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "gen_s": gen_s,
        "setup_s": setup_s,
        "session_start_ms": start_ms,
        "python_warm_ms": warm_ms,
        "input_verify_ms": verify_ms,
        "pinned": {**pinned, **{k: v for k, v in conf.items() if k.startswith("spark.")}},
        **ctx.detail,
    }
    print(json.dumps({"detail": detail}), flush=True)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": out,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
