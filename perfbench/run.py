"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload window_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run. The line before it carries the error rate, the
input properties, the versions and (traced) the spans' summary. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("window_batch", "window_interactive", "corpus_ingest")
# input generation (seeded data to parquet) runs this many times in a run
# and set-up reports its median; session start, loading, store build and
# warm-up cannot repeat without repeating what they warm, and run once
SETUP_REPEATS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def result_lines(args, res, env) -> tuple[dict, dict]:
    """The side line (error rate, inputs, versions) and the result line."""
    import harness

    names = harness.PER_LAYER if args.trace else harness.END_TO_END
    values = res.per_layer if args.trace else res.end_to_end
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in names.items()}
    side = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "error_rate": {"value": res.failed / max(1, res.attempted), "unit": "ratio"},
        "errors": res.errors, "env": env, **res.info,
    }
    return side, {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        import window_aggregation_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}", file=sys.stderr)
        return 2

    import harness
    import sparkenv

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    os.chdir(ROOT)
    spark = None
    try:
        spark, session_s = sparkenv.start_session(workdir)
        ctx = harness.Ctx(
            spark=spark, workdir=workdir, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), session_s=session_s,
            setup_repeats=SETUP_REPEATS,
        )
        module = importlib.import_module(args.workload)
        res = module.run(ctx)
        res.end_to_end["setup_s"] = res.setup_s
        res.end_to_end["peak_rss_mb"] = sparkenv.peak_rss_mb()
        env = sparkenv.versions(spark)
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(workdir))  # only when no other run uses it
            except OSError:
                pass

    side, result = result_lines(args, res, env)
    print(json.dumps(side, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
