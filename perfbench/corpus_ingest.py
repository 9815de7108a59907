"""corpus_ingest: the training-data ingestion loop, with writes beside reads.

Set-up builds a signature store over a seeded corpus with
``operators.dedup.build_signature_store``. Pre-staged batch files then
arrive one at a time in the stream's source directory and drain, one per
micro-batch, through ``gopher_quality_pass()`` into
``streaming.ingest_dedup.streaming_ingest_dedup``: each micro-batch loads
the store, runs LSH against it, runs intra-batch connected components and
writes the survivors plus a signature fold that the next batch reads. No
window operator runs; dedup, text, store I/O and the streaming loop do the
work, which the two window workloads bypass.

The traced run cannot put spans inside the stream, so after each traced
micro-batch it re-runs the layers in isolation on that batch's file, each
call in its own span: store load, quality filter, signatures, candidate
and verified pairs against the store view the batch saw.
"""

from __future__ import annotations

import os
import statistics
import time

import gen
import harness
import sparkenv


def _dir_bytes_files(path: str) -> tuple[int, int]:
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def _stage(ctx, root: str) -> dict:
    c = gen.corpus(ctx.seed)
    os.makedirs(os.path.join(root, "staging"), exist_ok=True)
    gen.write_parquet(gen.docs_table(c["store"]), os.path.join(root, "store_docs.parquet"))
    for b, docs in enumerate(c["batches"]):
        gen.write_parquet(gen.docs_table(docs),
                          os.path.join(root, "staging", f"batch-{b:04d}.parquet"))
    return c


def _probe(spark, runner, file: str, store_path: str, epoch: int, corpus_df):
    """Each layer of one micro-batch in isolation, in its own span."""
    from window_aggregation_spark.operators.dedup import (
        load_signature_store, minhash_candidate_pairs, minhash_dedup_against,
        minhash_dedup_pairs, minhash_signatures,
    )
    from window_aggregation_spark.operators.text import gopher_quality_pass

    tr = runner.live
    rec = {}
    with tr.span("probe"):
        with tr.span("sources.store_load"):
            store = load_signature_store(spark, store_path, exclude_folds_from=epoch)
            store.sigs.count()
        batch = spark.read.parquet(file)
        rec["input_bytes"] = os.path.getsize(file)
        with tr.span("text.filter"):
            kept = batch.where(gopher_quality_pass()).localCheckpoint()
        rec["kept_share"] = kept.count() / batch.count()
        with tr.span("dedup.signature"):
            minhash_signatures(kept, "doc_id").count()
        with tr.span("dedup.candidates"):
            rec["candidates"] = (
                minhash_dedup_against(kept, corpus_df, "doc_id",
                                      corpus_signatures=store,
                                      verify="estimate", threshold=0.0).count()
                + minhash_candidate_pairs(kept, "doc_id").count()
            )
        with tr.span("dedup.verify"):
            rec["verified"] = (
                minhash_dedup_against(kept, corpus_df, "doc_id",
                                      corpus_signatures=store,
                                      verify="estimate").count()
                + minhash_dedup_pairs(kept, "doc_id").count()
            )
    return rec


def run(ctx) -> harness.Result:
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from window_aggregation_spark.operators.dedup import build_signature_store
    from window_aggregation_spark.operators.text import gopher_quality_pass
    from window_aggregation_spark.streaming.ingest_dedup import streaming_ingest_dedup

    res = harness.Result()
    counter = iter(range(ctx.setup_repeats))

    def stage_once():
        root = os.path.join(ctx.workdir, f"corpus{next(counter)}")
        return root, _stage(ctx, root)

    (root, c), data_s = harness.repeat_median(ctx.setup_repeats, stage_once)
    res.info["inputs"] = gen.describe_corpus(c)
    store_path = os.path.join(root, "store")
    # the store is built once: a build costs more than the rest of set-up,
    # and the run budget has no room to repeat it
    t0 = time.perf_counter()
    corpus_df = ctx.spark.read.parquet(os.path.join(root, "store_docs.parquet"))
    build_signature_store(corpus_df, "doc_id", store_path)
    build_s = time.perf_counter() - t0
    out_path = os.path.join(root, "out")
    stream_dir = os.path.join(root, "stream")
    os.makedirs(stream_dir)
    staged = sorted(os.listdir(os.path.join(root, "staging")))

    t0 = time.perf_counter()
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    source = (ctx.spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir)
              .where(gopher_quality_pass()))
    query = streaming_ingest_dedup(
        source, corpus_df, "doc_id", store_path=store_path, out_path=out_path,
        checkpoint_dir=os.path.join(root, "checkpoint"),
    ).start()
    runner = harness.OpRunner(ctx, res)
    latencies, traced_flags, probes, written = [], [], [], []
    try:
        def arrive(b: int) -> float:
            """Drop batch ``b`` into the source directory; return the time
            until the stream has committed it."""
            name = staged[b]
            start = time.perf_counter()
            os.rename(os.path.join(root, "staging", name),
                      os.path.join(stream_dir, name))
            query.processAllAvailable()
            return time.perf_counter() - start

        res.setup_s = ctx.session_s + data_s + build_s + (time.perf_counter() - t0)

        # No warm-up micro-batch: one costs as much as a timed one, and the
        # run budget has no room for it. The store build has compiled the
        # signature path; the first timed batch compiles the rest.
        # A traced run probes every other batch; the batch after a probe
        # is the one tracing can slow, so it is the "traced" sample.
        b, probed_before = 0, False
        start = time.perf_counter()
        while b < len(staged) and (b == 0 or time.perf_counter() - start < ctx.seconds):
            latencies.append(arrive(b))
            res.attempted += 1
            traced_flags.append(probed_before)
            traced = ctx.trace and b % 2 == 0
            probed_before = traced
            out_bytes, out_files = _dir_bytes_files(
                os.path.join(out_path, f"batch_id={b}"))
            fold_bytes, fold_files = _dir_bytes_files(
                os.path.join(store_path, "sigs_folds", f"batch_id={b}"))
            written.append((out_bytes + fold_bytes, out_files + fold_files))
            if traced:
                probes.append(_probe(ctx.spark, runner,
                                     os.path.join(stream_dir, staged[b]),
                                     store_path, b, corpus_df))
            b += 1
        wall = time.perf_counter() - start
        progress = [p for p in query.recentProgress if p.get("numInputRows")]
        stats = (sparkenv.StageStats(ctx.spark).group_stats(str(query.runId))
                 if ctx.trace else None)
    finally:
        query.stop()

    processed = b  # batches 0..b-1 went through the stream
    _check(res, c, processed, ctx.spark.read.parquet(out_path))
    docs = gen.CORPUS_BATCH_DOCS
    res.end_to_end = harness.latency_metrics(latencies, wall)
    res.info.update(harness.tail_info(latencies))
    res.end_to_end["rows_per_s"] = docs * len(latencies) / wall
    res.info.update(micro_batches=len(latencies), store_build_s=round(build_s, 4))
    if ctx.trace:
        res.per_layer = _layers(runner, probes, progress, stats, processed,
                                written, build_s, latencies, traced_flags)
        res.info.update(runner.trace_info())
    return res


def _check(res, c, processed: int, survivors_df) -> None:
    """Survivors must be exactly the planted distinct documents of the
    processed batches; every other class is a planted drop."""
    got = {r.doc_id for r in survivors_df.select("doc_id").collect()}
    truth = c["truth"]
    for b in range(processed):
        ids = [i for i, _ in c["batches"][b]]
        want = {i for i in ids if truth[i] == "distinct"}
        have = {i for i in ids if i in got}
        if not have:
            res.fail(f"batch {b}: no survivors, expected {len(want)}")
        elif have != want:
            kept_dups = sorted(have - want)[:5]
            lost = sorted(want - have)[:5]
            res.fail(f"batch {b}: kept planted drops {kept_dups} "
                     f"({[truth[i] for i in kept_dups]}), dropped distinct {lost}")


def _layers(runner, probes, progress, stats, processed, written, build_s,
            latencies, traced_flags) -> dict:
    out = {name: 0.0 for name in harness.PER_LAYER}
    n = max(1, len(probes))
    self_s = runner.live.self_times()
    out["sources.store_load_s"] = self_s.get("sources.store_load", 0.0) / n
    out["text.filter_s"] = self_s.get("text.filter", 0.0) / n
    out["dedup.signature_s"] = self_s.get("dedup.signature", 0.0) / n
    if probes:
        out["text.kept_share"] = statistics.median(p["kept_share"] for p in probes)
        cand = sum(p["candidates"] for p in probes)
        ver = sum(p["verified"] for p in probes)
        out["dedup.candidate_pairs"] = cand / n
        out["dedup.verified_pairs"] = ver / n
        out["dedup.pair_yield"] = ver / cand if cand else 0.0
    out["sources.store_build_s"] = build_s
    if probes:
        out["sources.input_bytes"] = statistics.median(p["input_bytes"] for p in probes)
    if written:
        out["sources.bytes_written_per_doc"] = statistics.median(
            w[0] for w in written) / gen.CORPUS_BATCH_DOCS
        out["sources.files_written"] = statistics.median(w[1] for w in written)
    timed = progress
    if timed:
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in timed]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in timed]
        out["streaming.batch_s"] = statistics.median(trig)
        out["streaming.trigger_overhead_s"] = statistics.median(
            t - a for t, a in zip(trig, add))
    if stats:
        for key, metric in (
            ("jobs", "execution.jobs"), ("stages", "execution.stages"),
            ("tasks", "execution.tasks"),
            ("shuffle_write_bytes", "execution.shuffle_write_bytes"),
            ("spill_bytes", "execution.spill_bytes"),
            ("executor_cpu_s", "execution.executor_cpu_s"),
        ):
            out[metric] = stats[key] / processed
        out["execution.task_skew"] = stats["task_skew"]
    plain = [lat for lat, t in zip(latencies, traced_flags) if not t]
    probed = [lat for lat, t in zip(latencies, traced_flags) if t]
    if plain and probed:
        out["trace.overhead_share"] = statistics.median(probed) / statistics.median(plain) - 1
    return out
