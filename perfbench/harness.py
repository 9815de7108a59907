"""What the three workloads share: running one operation with its span,
job group and output digest; checking digests against DuckDB; turning
latencies into metrics; and the per-layer report of a traced run."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

import checks
import sparkenv
from spans import Tracer

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "requests_per_s": "1/s",
    "latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

# name -> unit. Every traced run reports all of them; a layer a workload
# never calls reads 0 there.
PER_LAYER = {
    "parser.parse_s": "s",
    "validation.validate_s": "s",
    "window_aggregation.build_s": "s",
    "sql_gen.render_s": "s",
    "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "catalyst.sorts": "count",
    "catalyst.window_execs": "count",
    "execution.run_s": "s",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.task_skew": "ratio",
    "execution.shuffle_write_bytes": "B",
    "execution.spill_bytes": "B",
    "execution.executor_cpu_s": "s",
    "sources.input_bytes": "B",
    "text.filter_s": "s",
    "text.kept_share": "ratio",
    "dedup.signature_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_yield": "ratio",
    "sources.store_build_s": "s",
    "sources.store_load_s": "s",
    "sources.bytes_written_per_doc": "B",
    "sources.files_written": "count",
    "streaming.batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "trace.overhead_share": "ratio",
}

# span name -> per-layer time metric (self time per traced operation)
SPAN_METRIC = {
    "parser.parse": "parser.parse_s",
    "validation.validate": "validation.validate_s",
    "window_aggregation.build": "window_aggregation.build_s",
    "sql_gen.render": "sql_gen.render_s",
    "catalyst.plan": "catalyst.plan_s",
    "execution.run": "execution.run_s",
}


@dataclass
class Ctx:
    spark: object
    workdir: str
    seed: int
    seconds: float
    trace: bool
    session_s: float
    setup_repeats: int


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    # (check key, observed digest) of every execution, checked at the end
    digests: list = field(default_factory=list)
    checked: dict = field(default_factory=dict)  # check key -> columns

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def check_against_duckdb(self, references: dict, tables: dict) -> None:
        """Compare every recorded digest with the DuckDB digest of its
        reference query; each mismatch or zero-row output is a failure.
        ``references``: check key -> SQL; ``tables``: view -> parquet path.
        Executions whose key has no reference are not compared."""
        want = duck_digests(
            {k: (sql, self.checked[k]) for k, sql in references.items()
             if k in self.checked},
            tables,
        )
        for key, got in self.digests:
            if key not in want:
                continue
            problem = checks.digest_mismatch(got, want[key])
            if problem:
                self.fail(f"{key}: {problem}")


def duck_digests(references: dict, tables: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {sparkenv.CORES}")
        for view, path in tables.items():
            con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')"
            )
        out = {}
        for key, (sql, cols) in references.items():
            cur = con.execute(checks.duck_digest_sql(sql, cols))
            names = [d[0] for d in cur.description]
            out[key] = dict(zip(names, cur.fetchone()))
        return out
    finally:
        con.close()


def repeat_median(n: int, fn):
    """Run ``fn`` ``n`` times; return its last result and the median time."""
    times, result = [], None
    for _ in range(n):
        t0 = time.perf_counter()
        result = fn()
        times.append(time.perf_counter() - t0)
    return result, statistics.median(times)


def quantile(values: list[float], q: float) -> float:
    ordered = sorted(values)
    if len(ordered) == 1:
        return ordered[0]
    pos = q * (len(ordered) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def latency_metrics(latencies: list[float], wall: float) -> dict:
    return {
        "requests_per_s": len(latencies) / wall,
        "latency_p50_s": quantile(latencies, 0.5),
    }


def tail_info(latencies: list[float]) -> dict:
    """p90 with its sample count. It is printed beside the metrics, not
    as one: it needs 100 samples for ten to lie beyond it, and no workload
    completes that many operations in one run."""
    return {"latency_p90_s": quantile(latencies, 0.9),
            "latency_samples": len(latencies),
            "latency_p90_supported": len(latencies) >= 100}


class OpRunner:
    """Runs one operation: job group, spans, digest observation, and in a
    traced execution the physical-plan counts and status-store stats."""

    def __init__(self, ctx: Ctx, res: Result):
        from pyspark.sql import Observation

        self._observation = Observation
        self.ctx = ctx
        self.res = res
        self.live = Tracer(True)
        self.off = Tracer(False)
        self.stats = sparkenv.StageStats(ctx.spark) if ctx.trace else None
        self.op_id = 0
        self.traced_ops: list[dict] = []
        self.latency: dict[tuple[str, bool], list[float]] = {}

    def execute(self, name: str, build, *, timed: bool = True,
                traced: bool = False, action: str = "noop", digest: bool = True,
                key: str | None = None, expect_rows: int | None = None) -> float | None:
        """``build(tracer)`` returns a :class:`windowops.Built`. ``action``
        is ``"noop"`` (write to the noop sink) or ``"collect"``. With
        ``digest`` the output digest is observed for the DuckDB check;
        without, only the row count (observing the digest costs a large
        share of a plan's time). Returns the latency, or None when the
        operation failed."""
        self.op_id += 1
        tracer = self.live if traced else self.off
        tracer.op_id = self.op_id
        group = f"perfbench-{self.op_id}"
        sc = self.ctx.spark.sparkContext
        sc.setJobGroup(group, name)
        obs = self._observation(f"digest{self.op_id}")
        jplan = None
        self.res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("request"):
                built = build(tracer)
                if traced:
                    with tracer.span("catalyst.plan"):
                        jplan = sparkenv.executed_plan(built.df)
                with tracer.span("execution.run"):
                    observed = built.df.observe(
                        obs, *checks.spark_digest_columns(
                            built.checked if digest else ())
                    )
                    if action == "collect":
                        observed.collect()
                    else:
                        observed.write.format("noop").mode("overwrite").save()
            latency = time.perf_counter() - t0
            observed_digest = obs.get
        except Exception as e:  # noqa: BLE001 - an operation failure is a result
            self.res.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            sc.setJobGroup("perfbench-idle", "")
        rows = int(observed_digest.get("rows") or 0)
        if expect_rows is not None and rows != expect_rows:
            self.res.fail(f"{name}: {rows} rows, expected {expect_rows}")
        elif rows == 0:
            self.res.fail(f"{name}: no rows")
        if digest:
            self.res.digests.append((key or name, observed_digest))
            self.res.checked[key or name] = built.checked
        if traced:
            rec = {"op": name, "input_bytes": sparkenv.input_file_bytes(built.df)}
            rec.update(sparkenv.plan_counts(jplan))
            rec.update(self.stats.group_stats(group))
            self.traced_ops.append(rec)
        if timed:
            self.latency.setdefault((name, traced), []).append(latency)
        return latency

    def latency_by_op(self) -> dict:
        """Median timed latency per operation name, untraced executions."""
        return {name: round(statistics.median(lats), 4)
                for (name, traced), lats in sorted(self.latency.items())
                if not traced}

    def overhead_share(self) -> float:
        """Median over operation names of (traced median latency /
        untraced median latency) - 1, from the same run."""
        ratios = []
        for (name, traced), lats in self.latency.items():
            if traced and (name, False) in self.latency:
                base = statistics.median(self.latency[(name, False)])
                ratios.append(statistics.median(lats) / base - 1.0)
        return statistics.median(ratios) if ratios else 0.0

    def trace_info(self) -> dict:
        """The spans, written out at the end of a traced run, and the self
        time of every span name summed over the run."""
        return {"self_time_s": {k: round(v, 6) for k, v in
                                sorted(self.live.self_times().items())},
                "spans": self.live.to_records()}

    def layer_metrics(self) -> dict:
        """Per-layer metrics from the traced executions: span self time
        and Spark counters, each per traced operation; task skew as the
        median over operations."""
        out = {name: 0.0 for name in PER_LAYER}
        n = max(1, len(self.traced_ops))
        for span_name, t in self.live.self_times().items():
            if span_name in SPAN_METRIC:
                out[SPAN_METRIC[span_name]] = t / n
        if self.traced_ops:
            for key, metric in (
                ("exchanges", "catalyst.exchanges"),
                ("sorts", "catalyst.sorts"),
                ("window_execs", "catalyst.window_execs"),
                ("jobs", "execution.jobs"),
                ("stages", "execution.stages"),
                ("tasks", "execution.tasks"),
                ("shuffle_write_bytes", "execution.shuffle_write_bytes"),
                ("spill_bytes", "execution.spill_bytes"),
                ("executor_cpu_s", "execution.executor_cpu_s"),
                ("input_bytes", "sources.input_bytes"),
            ):
                out[metric] = sum(r[key] for r in self.traced_ops) / n
            out["execution.task_skew"] = statistics.median(
                r["task_skew"] for r in self.traced_ops
            )
        out["trace.overhead_share"] = self.overhead_share()
        return out
