"""Window plans the benchmark runs, each built through one of the
package's three front doors, with a hand-written DuckDB reference.

The reference SQL is written here independently of
``plans.sql_gen``, so a bug in the SQL backend cannot hide in the check.
Every plan that depends on row order within peers orders by ``(ts, rid)``,
a total order; rank, RANGE-frame and percentile plans order by ``ts`` or
the value alone, where ties are part of the semantics.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from gen import BATCH_RANGE_FRAME, BATCH_ROW_FRAME


@dataclass(frozen=True)
class Built:
    """A plan ready to run: the DataFrame and the output columns to check."""

    df: object
    checked: tuple[str, ...]


@dataclass(frozen=True)
class WindowOp:
    name: str
    build: Callable  # (spark, df, view, tracer) -> Built
    reference: Callable[[str], str]  # (table) -> DuckDB SELECT


def _validated(df, plan, tracer):
    from window_aggregation_spark import FailureCollector
    from window_aggregation_spark.validation import validate_plan

    with tracer.span("validation.validate"):
        collector = FailureCollector()
        validate_plan(df.schema, plan, collector)
        collector.get_or_throw()
    return plan


def run_plan(spark, df, view, plan, door, tracer):
    """Validate ``plan`` and turn it into a DataFrame through the operator
    or, for the ``sql_gen`` door, through the generated-SQL backend."""
    plan = _validated(df, plan, tracer)
    if door == "sql_gen":
        from window_aggregation_spark.plans.sql_gen import plan_to_sql

        with tracer.span("sql_gen.render"):
            sql = plan_to_sql(plan, view, df.columns, input_types=dict(df.dtypes))
        with tracer.span("window_aggregation.build"):
            return spark.sql(sql)
    from window_aggregation_spark import window_aggregate

    with tracer.span("window_aggregation.build"):
        return window_aggregate(df, plan, validate=False)


def parse(tracer, **props):
    from window_aggregation_spark import config_to_plan

    with tracer.span("parser.parse"):
        return config_to_plan(**props)


# ---------------------------------------------------------------------------
# window_batch: the fixed mix
# ---------------------------------------------------------------------------

def _shared_spec_8(spark, df, view, tracer):
    plan = parse(
        tracer,
        partition_fields="k1",
        partition_order="ts:Ascending",
        aggregates="\n".join([
            "run_sum:ACCUMULATE(v,,true)", "run_min:MIN(v,,true)",
            "run_max:MAX(v,,true)", "run_avg:AVG(v,,true)",
            "run_xcnt:COUNT(x,,true)", "run_xmax:MAX(x,,true)",
            "rnk:RANK(,,true)", "drnk:DENSE_RANK(,,true)",
        ]),
    )
    out = run_plan(spark, df, view, plan, "parser", tracer)
    return Built(out, ("run_sum", "run_min", "run_max", "run_avg",
                       "run_xcnt", "run_xmax", "rnk", "drnk"))


def _shared_spec_8_ref(t):
    return f"""
    SELECT rid, sum(v) OVER w AS run_sum, min(v) OVER w AS run_min,
           max(v) OVER w AS run_max, avg(v) OVER w AS run_avg,
           count(x) OVER w AS run_xcnt, max(x) OVER w AS run_xmax,
           rank() OVER w AS rnk, dense_rank() OVER w AS drnk
    FROM {t} WINDOW w AS (PARTITION BY k1 ORDER BY ts)"""


def _sliding_rows(spark, df, view, tracer):
    from window_aggregation_spark.api import accumulate, avg, max_, min_, window

    with tracer.span("api.plan"):
        plan = (
            window(df).partition_by("k1").order_by("ts", "rid")
            .rows(-BATCH_ROW_FRAME, 0)
            .plan(avg("v").alias("sl_avg"), min_("v").alias("sl_min"),
                  max_("v").alias("sl_max"), accumulate("v").alias("sl_sum"))
        )
    out = run_plan(spark, df, view, plan, "fluent", tracer)
    return Built(out, ("sl_avg", "sl_min", "sl_max", "sl_sum"))


def _sliding_rows_ref(t):
    return f"""
    SELECT rid, avg(v) OVER w AS sl_avg, min(v) OVER w AS sl_min,
           max(v) OVER w AS sl_max, sum(v) OVER w AS sl_sum
    FROM {t} WINDOW w AS (PARTITION BY k1 ORDER BY ts, rid
                          ROWS BETWEEN {BATCH_ROW_FRAME} PRECEDING AND CURRENT ROW)"""


def _range_frame(spark, df, view, tracer):
    from window_aggregation_spark import (
        AggregateDef, FrameType, OrderKey, WindowPlan, WindowSpecDef,
    )

    with tracer.span("api.plan"):
        plan = WindowPlan(
            spec=WindowSpecDef(
                partition_by=("k1",), order_by=(OrderKey("ts"),),
                frame_type=FrameType.RANGE, start=-BATCH_RANGE_FRAME, end=0,
            ),
            aggregates=(
                AggregateDef("rg_sum", "accumulate", field="v"),
                AggregateDef("rg_cnt", "count", field="v"),
                AggregateDef("rg_xmax", "max", field="x"),
            ),
        )
    out = run_plan(spark, df, view, plan, "sql_gen", tracer)
    return Built(out, ("rg_sum", "rg_cnt", "rg_xmax"))


def _range_frame_ref(t):
    return f"""
    SELECT rid, sum(v) OVER w AS rg_sum, count(v) OVER w AS rg_cnt,
           max(x) OVER w AS rg_xmax
    FROM {t} WINDOW w AS (PARTITION BY k1 ORDER BY ts
                          RANGE BETWEEN {BATCH_RANGE_FRAME} PRECEDING AND CURRENT ROW)"""


def _running_percentile(spark, df, view, tracer):
    plan = parse(
        tracer,
        partition_fields="k1",
        partition_order="v:Ascending",
        aggregates="p50:MEDIAN(v,,true)\np90:DISCRETE_PERCENTILE(v,0.9,true)",
    )
    out = run_plan(spark, df, view, plan, "parser", tracer)
    return Built(out, ("p50", "p90"))


def _running_percentile_ref(t):
    return f"""
    SELECT rid, median(v) OVER w AS p50, quantile_disc(v, 0.9) OVER w AS p90
    FROM {t} WINDOW w AS (PARTITION BY k1 ORDER BY v)"""


def _nulls_nav(spark, df, view, tracer):
    from window_aggregation_spark.api import first, lag, last, lead, window

    with tracer.span("api.plan"):
        plan = (
            window(df).partition_by("k1").order_by("ts", "rid")
            .plan(lead("x").alias("nx"), lag("x").alias("px"),
                  first("x").alias("fx"), last("x").alias("lx"))
        )
    out = run_plan(spark, df, view, plan, "fluent", tracer)
    return Built(out, ("nx", "px", "fx", "lx"))


def _nulls_nav_ref(t):
    # lead/lag keep nulls (the reference's LEAD/LAG take no ignoreNulls);
    # first/last skip them
    return f"""
    SELECT rid, lead(x, 1) OVER w AS nx, lag(x, 1) OVER w AS px,
           first_value(x IGNORE NULLS) OVER w AS fx,
           last_value(x IGNORE NULLS) OVER w AS lx
    FROM {t} WINDOW w AS (PARTITION BY k1 ORDER BY ts, rid)"""


def _multi_spec(spark, df, view, tracer):
    from window_aggregation_spark import (
        AggregateDef, FrameType, OrderKey, WindowPlan, WindowSpecDef,
        window_aggregate_multi,
    )

    by_ts = WindowSpecDef(partition_by=("k1",), order_by=(OrderKey("ts"),))
    with tracer.span("api.plan"):
        plans = [
            WindowPlan(spec=by_ts, aggregates=(AggregateDef("m_rnk", "rank"),)),
            WindowPlan(
                spec=WindowSpecDef(partition_by=("k2",),
                                   order_by=(OrderKey("ts"), OrderKey("rid"))),
                aggregates=(AggregateDef("m_rn", "row_number"),
                            AggregateDef("m_sum", "accumulate", field="v")),
            ),
            WindowPlan(
                spec=WindowSpecDef(partition_by=("k1",),
                                   order_by=(OrderKey("ts"), OrderKey("rid")),
                                   frame_type=FrameType.ROW, start=-8, end=0),
                aggregates=(AggregateDef("m_avg", "avg", field="v"),),
            ),
        ]
    for p in plans:
        _validated(df, p, tracer)
    with tracer.span("window_aggregation.build"):
        out = window_aggregate_multi(df, plans, validate=False)
    return Built(out, ("m_rnk", "m_rn", "m_sum", "m_avg"))


def _multi_spec_ref(t):
    return f"""
    SELECT rid, rank() OVER (PARTITION BY k1 ORDER BY ts) AS m_rnk,
           row_number() OVER w2 AS m_rn, sum(v) OVER w2 AS m_sum,
           avg(v) OVER (PARTITION BY k1 ORDER BY ts, rid
                        ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS m_avg
    FROM {t} WINDOW w2 AS (PARTITION BY k2 ORDER BY ts, rid)"""


BATCH_MIX = (
    WindowOp("shared_spec_8", _shared_spec_8, _shared_spec_8_ref),
    WindowOp("sliding_rows", _sliding_rows, _sliding_rows_ref),
    WindowOp("range_frame", _range_frame, _range_frame_ref),
    WindowOp("running_percentile", _running_percentile, _running_percentile_ref),
    WindowOp("nulls_nav", _nulls_nav, _nulls_nav_ref),
    WindowOp("multi_spec", _multi_spec, _multi_spec_ref),
)
