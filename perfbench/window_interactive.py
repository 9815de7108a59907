"""window_interactive: one client in a closed loop, one request at a time.

Each request draws a plan shape from a Zipf-popular pool of 30 shapes: ten
window templates, each reachable through the three front doors (the
``parser.config_to_plan`` strings, the fluent ``api.window`` and
``plans.sql_gen.plan_to_sql``). It selects one partition key's rows with a
predicate written above the window, which Catalyst pushes below it, and
collects them. The table is cached, partitioned and clustered by the
window key, so a request runs one job with no shuffle over a few cached
batches. Execution per request is small, so
parsing, validation, operator build, Catalyst planning and job scheduling
carry the latency;
this is the workload a plan cache or a cheaper front door would move, and
``window_batch`` the one it would not.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

import numpy as np

import gen
import harness
from windowops import Built, parse, run_plan

VIEW = "itable"
# requests before the timed loop, drawn from their own stream, so the
# generic request path is compiled and JIT-warm; shapes still meet their
# first execution inside the timed loop, as they would in service
WARMUP_REQUESTS = 4
# requests replayed against DuckDB, drawn with a seeded sample
CHECKED_REQUESTS = 24


@dataclass(frozen=True)
class Template:
    name: str
    order: tuple[str, ...]  # ascending order keys
    frame: tuple[str, int, int] | None  # (ROW|RANGE, start, end)
    aggs: tuple[tuple, ...]  # (alias, function, field, args, ignore_nulls)
    reference: str  # DuckDB window expressions over `w`, "{t}" = input


TEMPLATES = (
    Template("running_sum", ("ts",), None,
             (("s", "accumulate", "v", (), True), ("a", "avg", "v", (), True),
              ("c", "count", "x", (), True)),
             "sum(v) OVER w AS s, avg(v) OVER w AS a, count(x) OVER w AS c"),
    Template("ranks", ("ts",), None,
             (("r", "rank", None, (), True), ("dr", "dense_rank", None, (), True)),
             "rank() OVER w AS r, dense_rank() OVER w AS dr"),
    Template("navigation", ("ts", "rid"), None,
             (("rn", "row_number", None, (), True),
              ("nv", "lead", "v", ("1",), True), ("pv", "lag", "v", ("1",), True)),
             "row_number() OVER w AS rn, lead(v, 1) OVER w AS nv, "
             "lag(v, 1) OVER w AS pv"),
    Template("sliding", ("ts", "rid"), ("ROW", -8, 0),
             (("sa", "avg", "v", (), True), ("smin", "min", "v", (), True),
              ("smax", "max", "v", (), True)),
             "avg(v) OVER w AS sa, min(v) OVER w AS smin, max(v) OVER w AS smax"),
    Template("range", ("ts",), ("RANGE", -50, 0),
             (("rs", "accumulate", "v", (), True), ("rc", "count", "v", (), True)),
             "sum(v) OVER w AS rs, count(v) OVER w AS rc"),
    Template("ignore_nulls", ("ts", "rid"), None,
             (("fx", "first", "x", (), True), ("lx", "last", "x", (), True)),
             "first_value(x IGNORE NULLS) OVER w AS fx, "
             "last_value(x IGNORE NULLS) OVER w AS lx"),
    Template("median", ("v",), None,
             (("med", "median", "v", (), True),),
             "median(v) OVER w AS med"),
    Template("percentile", ("v",), None,
             (("p75", "discrete_percentile", "v", ("0.75",), True),),
             "quantile_disc(v, 0.75) OVER w AS p75"),
    Template("cume_dist", ("ts",), None,
             (("cd", "cume_dist", "ts", (), True),),
             "cume_dist() OVER w AS cd"),
    Template("centered", ("ts", "rid"), ("ROW", -4, 4),
             (("cs", "accumulate", "v", (), True), ("cx", "max", "x", (), True)),
             "sum(v) OVER w AS cs, max(x) OVER w AS cx"),
)
DOORS = ("parser", "fluent", "sql_gen")
# Popularity order: shape k is template k mod 10 through door k mod 3 (all
# 30 pairs, since 10 and 3 are coprime), so the popular head spans every
# template and every door.
SHAPES = tuple((TEMPLATES[k % 10], DOORS[k % 3]) for k in range(30))


def _frame_sql(frame) -> str:
    if frame is None:
        return ""
    kind, start, end = frame

    def bound(b, side):
        if b == 0:
            return "CURRENT ROW"
        return f"{abs(b)} {'PRECEDING' if b < 0 else 'FOLLOWING'}"

    return f" {'ROWS' if kind == 'ROW' else 'RANGE'} BETWEEN " \
           f"{bound(start, 0)} AND {bound(end, 1)}"


def reference_sql(t: Template, key: int) -> str:
    return (
        f"SELECT rid, {t.reference} FROM (SELECT * FROM {VIEW} WHERE k1 = {key}) "
        f"WINDOW w AS (PARTITION BY k1 ORDER BY {', '.join(t.order)}"
        f"{_frame_sql(t.frame)})"
    )


def _plan_from_parser(t: Template, tracer):
    props = {
        "partition_fields": "k1",
        "partition_order": ",".join(f"{f}:Ascending" for f in t.order),
        "aggregates": "\n".join(
            f"{a}:{fn.upper()}({field or ''},{'%2C'.join(args)},"
            f"{'true' if ign else 'false'})"
            for a, fn, field, args, ign in t.aggs
        ),
    }
    if t.frame:
        props.update(window_frame_type=t.frame[0], preceding=str(t.frame[1]),
                     following=str(t.frame[2]))
    return parse(tracer, **props)


def _plan_from_fluent(df, t: Template, tracer):
    from window_aggregation_spark import api

    helpers = {"min": api.min_, "max": api.max_}
    with tracer.span("api.plan"):
        b = api.window(df).partition_by("k1").order_by(*t.order)
        if t.frame:
            kind, start, end = t.frame
            b = b.rows(start, end) if kind == "ROW" else b.range(start, end)
        aggs = []
        for alias, fn, field, args, _ in t.aggs:
            helper = helpers.get(fn) or getattr(api, fn)
            call_args = [field] if field else []
            call_args += [float(a) if "." in a else int(a) for a in args]
            aggs.append(helper(*call_args).alias(alias))
        return b.plan(*aggs)


def _plan_from_dataclasses(t: Template, tracer):
    from window_aggregation_spark import (
        AggregateDef, FrameType, OrderKey, WindowPlan, WindowSpecDef,
    )

    with tracer.span("api.plan"):
        frame = {}
        if t.frame:
            kind, start, end = t.frame
            frame = dict(frame_type=FrameType[kind], start=start, end=end)
        return WindowPlan(
            spec=WindowSpecDef(partition_by=("k1",),
                               order_by=tuple(OrderKey(f) for f in t.order),
                               **frame),
            aggregates=tuple(
                AggregateDef(a, fn, field=field, args=args, ignore_nulls=ign)
                for a, fn, field, args, ign in t.aggs
            ),
        )


def build_request(spark, df, shape, key: int, tracer) -> Built:
    from pyspark.sql import functions as F

    t, door = shape
    if door == "parser":
        plan = _plan_from_parser(t, tracer)
    elif door == "fluent":
        plan = _plan_from_fluent(df, t, tracer)
    else:
        plan = _plan_from_dataclasses(t, tracer)
    out = run_plan(spark, df, VIEW, plan, door, tracer)
    return Built(out.where(F.col("k1") == key), tuple(a[0] for a in t.aggs))


def _generate(ctx):
    table = gen.interactive_table(ctx.seed)
    path = os.path.join(ctx.workdir, "interactive_table.parquet")
    gen.write_parquet(table, path)
    return path, np.bincount(table.column("k1").to_numpy())


def _load(ctx, path):
    """Load the table the way a serving deployment holds a hot table:
    cached in memory, hash-partitioned by the key the windows partition on
    and clustered by it, so a request reads no file, needs no shuffle and
    skips the cached batches whose key range excludes its key."""
    df = (ctx.spark.read.parquet(path).repartition("k1")
          .sortWithinPartitions("k1").cache())
    df.count()
    df.createOrReplaceTempView(VIEW)
    return df


def run(ctx) -> harness.Result:
    res = harness.Result()
    (path, sizes), data_s = harness.repeat_median(
        ctx.setup_repeats, lambda: _generate(ctx)
    )
    t0 = time.perf_counter()
    df = _load(ctx, path)
    keys = np.flatnonzero(sizes)
    runner = harness.OpRunner(ctx, res)

    def request(i, shape_ix, key, **kw):
        shape = SHAPES[shape_ix]
        return runner.execute(
            f"{shape[0].name}/{shape[1]}",
            lambda tracer: build_request(ctx.spark, df, shape, key, tracer),
            action="collect", key=f"req{i}", expect_rows=int(sizes[key]), **kw,
        )

    warm = gen.request_stream(ctx.seed + 1_000_003, WARMUP_REQUESTS, len(SHAPES), keys)
    for i, (s, k) in enumerate(warm):
        request(f"warm{i}", s, k, timed=False)
    res.setup_s = ctx.session_s + data_s + (time.perf_counter() - t0)

    # a closed loop: draw the next request only after the previous returns;
    # the stream is long enough never to run out within --seconds
    stream = gen.request_stream(ctx.seed, 100_000, len(SHAPES), keys)
    latencies, served, rows_out = [], [], 0
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < ctx.seconds:
        s, k = stream[i]
        lat = request(i, s, k, traced=ctx.trace and i % 2 == 1)
        if lat is not None:
            latencies.append(lat)
            rows_out += int(sizes[k])
        served.append((s, k))
        i += 1
    wall = time.perf_counter() - start

    sample = random.Random(ctx.seed).sample(range(i), min(CHECKED_REQUESTS, i))
    res.check_against_duckdb(
        {f"req{j}": reference_sql(SHAPES[served[j][0]][0], served[j][1])
         for j in sample},
        {VIEW: path},
    )
    res.end_to_end = harness.latency_metrics(latencies, wall)
    res.info.update(harness.tail_info(latencies))
    res.info["latency_by_op_s"] = runner.latency_by_op()
    # input rows: the rows of the selected partitions
    res.end_to_end["rows_per_s"] = rows_out / wall
    res.info.update(
        requests=i,
        checked_requests=len(sample),
        shape_repeat_share=round(gen.repeat_share(served), 4),
        distinct_shapes=len({s for s, _ in served}),
    )
    if ctx.trace:
        res.per_layer = runner.layer_metrics()
        res.info.update(runner.trace_info())
    return res
