"""window_batch: the paper's operator at scale.

A seeded table of BATCH_ROWS rows runs a fixed mix of six plans, each as
its own job into the ``noop`` sink. Exchange, sort and WindowExec do most
of the work; parsing and validation take well under a millisecond, and
building the operator's DataFrame about a sixth of a plan's latency. The
mix always runs whole, so every run measures the same composition of
plans.
"""

from __future__ import annotations

import os
import time

import gen
import harness
from windowops import BATCH_MIX

# Untimed passes before the timed ones. The JVM keeps compiling for
# several passes (measured pass sums on 4 cores: 13.2, 7.0, 6.1, 6.2, 5.8,
# 5.6 s), and timing the early passes made the run-to-run spread twice as
# wide.
WARMUP_PASSES = 3
MIN_PASSES = 3


def _generate(ctx) -> tuple[str, dict]:
    table = gen.window_table(ctx.seed)
    path = os.path.join(ctx.workdir, "window_table.parquet")
    gen.write_parquet(table, path)
    return path, gen.describe_window_table(table)


def run(ctx) -> harness.Result:
    res = harness.Result()
    (path, props), data_s = harness.repeat_median(
        ctx.setup_repeats, lambda: _generate(ctx)
    )
    res.info["inputs"] = props
    rows = props["rows"]
    runner = harness.OpRunner(ctx, res)

    def execute(op, **kw):
        return runner.execute(
            op.name, lambda tracer: op.build(ctx.spark, df, "wtable", tracer),
            expect_rows=rows, **kw,
        )

    t0 = time.perf_counter()
    df = ctx.spark.read.parquet(path)
    df.createOrReplaceTempView("wtable")
    # the first warm-up pass carries the output digests checked against
    # DuckDB; every later execution observes only its row count
    for p in range(WARMUP_PASSES):
        for op in BATCH_MIX:
            execute(op, timed=False, digest=p == 0)
    res.setup_s = ctx.session_s + data_s + (time.perf_counter() - t0)

    # Whole passes of the mix until --seconds have elapsed, and at least
    # MIN_PASSES, so that a slower or faster machine does not change how
    # many passes, and so which stage of JIT warm-up, a run averages over.
    # A traced run alternates untraced and traced passes.
    latencies: list[float] = []
    start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - start < ctx.seconds:
        for op in BATCH_MIX:
            lat = execute(op, traced=ctx.trace and passes % 2 == 1, digest=False)
            if lat is not None:
                latencies.append(lat)
        passes += 1
    wall = time.perf_counter() - start

    res.check_against_duckdb(
        {op.name: op.reference("wtable") for op in BATCH_MIX},
        {"wtable": path},
    )
    res.end_to_end = harness.latency_metrics(latencies, wall)
    res.info.update(harness.tail_info(latencies))
    res.info["latency_by_op_s"] = runner.latency_by_op()
    res.end_to_end["rows_per_s"] = rows * len(latencies) / wall
    res.info["operations"] = len(latencies)
    res.info["passes"] = passes
    if ctx.trace:
        res.per_layer = runner.layer_metrics()
        res.info.update(runner.trace_info())
    return res
