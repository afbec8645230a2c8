"""Stream phase of cdc_replicate: open-loop replication through Structured
Streaming.

A generator thread writes one envelope file every 1/FILE_RATE seconds on a
fixed schedule that does not slow when the system does. The program reads
them with ``stream_ndjson -> stream_typed_mutations -> StreamingApplier``
onto a bucketed target, with the once/marker staging ledger, the DLQ and a
CheckpointGroup, and no CAS or deadlines: every batch's per-key winner is
final, so the expected target does not depend on how files group into
micro-batches.

A file's lag runs from its scheduled write time to the end of the
foreachBatch call that committed it. Which batch committed which file is
read from the file source's own offset log, so accounting needs no Spark
job.

The stream's CPU cost per file is the machine's busy CPU time from the
query's start until every written file is committed, less the generator
thread's own, divided by the files written.
"""

from __future__ import annotations

import json
import os
import threading
import time
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq

import gen
import harness
import oracle

N_BUCKETS = 8            # target key buckets
FILE_RATE = 18.0         # files per second
FILE_MUTATIONS = 100     # mutations per file
WARMUP_BATCHES = 2       # batches excluded from the measured window
LATE_LIMIT_S = 0.5       # a file written later than this missed its schedule
SETUP_REPEATS = 3
DRAIN_TIMEOUT_S = 60


class Generator(threading.Thread):
    def __init__(self, seed: int, feed: str, seq_base: int):
        super().__init__(daemon=True)
        self.seed, self.feed, self.seq_base = seed, feed, seq_base
        self.sampler = gen.KeySampler(seed, gen.N_KEYS)
        self.files: list[dict] = []
        self.stop_evt = threading.Event()
        self.t0 = None
        self.cpu_s = 0.0   # this thread's CPU time so far

    def run(self):
        self.t0 = time.perf_counter()
        k = 0
        while not self.stop_evt.is_set():
            due = self.t0 + k / FILE_RATE
            delay = due - time.perf_counter()
            if delay > 0 and self.stop_evt.wait(delay):
                break
            rng = np.random.default_rng([self.seed, 100 + k])
            lines, deletes = gen.mutation_lines(
                rng, self.sampler.sample(rng, FILE_MUTATIONS), self.seq_base + k * FILE_MUTATIONS)
            path = os.path.join(self.feed, f"f{k:06d}.ndjson")
            nbytes = gen.write_atomic(path, "\n".join(lines) + "\n")
            self.files.append({"path": path, "due": due, "late": time.perf_counter() - due,
                               "mutations": FILE_MUTATIONS, "deletes": deletes, "bytes": nbytes})
            self.cpu_s = time.thread_time()
            k += 1


def _source_log_files(chk: str, batch_id: int) -> list[str]:
    """Files the file source assigned to ``batch_id`` (its offset log;
    every 10th entry is a compacted file holding all earlier entries)."""
    d = os.path.join(chk, "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        p = os.path.join(d, name)
        if os.path.isfile(p):
            with open(p) as f:
                entries = [json.loads(x) for x in f.read().splitlines()[1:] if x.strip()]
            return [_local(e["path"]) for e in entries if e["batchId"] == batch_id]
    raise FileNotFoundError(f"no source log entry for batch {batch_id}")


def _local(uri: str) -> str:
    return urlparse(uri).path


def _written_since(target: str, t_wall: float) -> tuple[int, int]:
    """(bytes, buckets) of target part files modified at or after t_wall."""
    nbytes, buckets = 0, set()
    for root, _, files in os.walk(target):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                if st.st_mtime >= t_wall:
                    nbytes += st.st_size
                    buckets.add(os.path.basename(root))
    return nbytes, len(buckets)


def run(ctx, target_src: str, seq_base: int, seconds: float) -> dict:
    """Stream onto a bucketed copy of the parquet snapshot ``target_src``;
    generated mutations are numbered from ``seq_base`` so their HLCs follow
    everything already applied."""
    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.operators.staging import StagingTable
    from cdc_sink_spark.streaming import pipeline

    spark, tr, cnt = ctx.spark, ctx.tracer, ctx.counters
    work = os.path.join(ctx.work, "stream")
    os.makedirs(work)

    # ---- set-up: write the bucketed target (repeated; median)
    prep = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        target = os.path.join(work, f"target_{i}")
        pipeline.init_bucketed_target(spark.read.parquet(target_src), target, gen.KEY, N_BUCKETS)
        prep.append(time.perf_counter() - t)
    feed, chk = os.path.join(work, "feed"), os.path.join(work, "chk")
    os.makedirs(feed)

    staging = StagingTable(spark, os.path.join(work, "staging"))
    dlq = DeadLetterQueue(spark, os.path.join(work, "dlq"))
    ckpt = CheckpointGroup(Memo(spark, os.path.join(work, "memo")), "bench")
    applier = pipeline.StreamingApplier(
        target, gen.KEY, dlq=dlq, checkpoints=ckpt, staging=staging,
        n_buckets=N_BUCKETS, target_table="target")
    if ctx.trace:
        tr.wrap(staging, "filter_applied", "staging.filter_applied")
        tr.wrap(staging, "mark_applied", "staging.mark_applied")
        tr.wrap(dlq, "enqueue", "dlq.enqueue")
        tr.wrap(ckpt, "advance", "checkpoint.advance")
        tr.wrap(pipeline, "_overwrite_touched_buckets", "sink.overwrite")

    batches: list[dict] = []

    def on_batch(df, batch_id):
        # Traced runs alternate: odd measured batches traced, even ones not,
        # so one run yields both sides of the tracing-overhead difference.
        tr.enabled = ctx.trace and batch_id >= WARMUP_BATCHES and batch_id % 2 == 1
        j0, wall0, t0 = cnt.job_count(), time.time(), time.perf_counter()
        with tr.span("streaming.foreach_batch", batch=batch_id):
            applier(df, batch_id)
        t1 = time.perf_counter()
        j1 = cnt.job_count()
        rec = {"id": batch_id, "start": t0, "end": t1, "jobs": j1 - j0, "job_ids": (j0, j1),
               "traced": tr.enabled, "files": _source_log_files(chk, batch_id)}
        if tr.enabled:
            rec["bytes"], rec["buckets"] = _written_since(target, wall0 - 1e-3)
        tr.enabled = False
        batches.append(rec)

    gen_thread = Generator(ctx.seed, feed, seq_base)
    t_setup_end, cpu0 = time.perf_counter(), harness.busy_s()
    lines = pipeline.stream_ndjson(spark, feed)
    typed = pipeline.stream_typed_mutations(lines, gen.PAYLOAD, gen.KEY)
    gen_thread.start()
    q = typed.writeStream.foreachBatch(on_batch).option("checkpointLocation", chk).start()
    try:
        def wait_for(pred, timeout):
            end = time.perf_counter() + timeout
            while not pred():
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
                if time.perf_counter() > end:
                    raise TimeoutError("stream did not make progress")
                time.sleep(0.02)

        wait_for(lambda: len(batches) >= WARMUP_BATCHES, 120)
        w0 = batches[WARMUP_BATCHES - 1]["end"]
        warmup_s = w0 - t_setup_end
        w1 = w0 + seconds
        # The load stops when the window ends; the files already written
        # drain in the next batches (batch cost barely depends on size).
        wait_for(lambda: time.perf_counter() >= w1, seconds + 1)
        gen_thread.stop_evt.set()
        gen_thread.join()
        written = {f["path"] for f in gen_thread.files}
        wait_for(lambda: written <= {p for b in list(batches) for p in b["files"]}, DRAIN_TIMEOUT_S)
        stream_cpu = harness.busy_s() - gen_thread.cpu_s - cpu0
        progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
    finally:
        gen_thread.stop_evt.set()
        q.stop()

    # ---- accounting from the generator side
    seen: dict[str, list[int]] = {}
    for b in batches:
        for p in b["files"]:
            seen.setdefault(p, []).append(b["id"])
    end_of = {b["id"]: b["end"] for b in batches}
    win = [f for f in gen_thread.files if w0 <= f["due"] < w1]
    lags, failed = [], 0
    for f in win:
        ids = seen.get(f["path"], [])
        if len(ids) != 1 or f["late"] > LATE_LIMIT_S:
            failed += 1
            continue
        lags.append(end_of[ids[0]] - f["due"])
    dup_or_lost = sum(1 for f in gen_thread.files if len(seen.get(f["path"], [])) != 1)

    def check() -> dict:
        res = oracle.compare_relations(
            oracle.parquet_dir_sql(target),
            oracle.expected_target_sql(oracle.parquet_dir_sql(target_src),
                                       oracle.envelopes_sql(sorted(written))))
        # A file lost or applied twice anywhere in the run also corrupts the target.
        return {"ok": res["ok"] and dup_or_lost == 0, "oracle": res}

    measured = [b for b in batches if b["id"] >= WARMUP_BATCHES and b["end"] > w0 and b["start"] < w1]
    out = {
        "files": win,
        "failed": failed,
        "check": check,
        "lags": lags,
        "cpu_per_file": stream_cpu / len(written),
        "batch_s": [b["end"] - b["start"] for b in measured],
        "prep": prep,
        "warmup_s": warmup_s,
        "info": {
            "files_written": len(gen_thread.files), "files_dup_or_lost": dup_or_lost,
            "window_files": len(win), "window_mutations": sum(f["mutations"] for f in win),
            "window_deletes": sum(f["deletes"] for f in win),
            "window_bytes": sum(f["bytes"] for f in win), "batches_measured": len(measured),
            "stream_cpu_s": stream_cpu, "stream_batches": len(batches),
            "batch_s": [round(b["end"] - b["start"], 3) for b in batches],
            "samples_beyond_p90": sum(1 for x in lags if x > harness.pct(lags, 90)),
            "file_rate": FILE_RATE, "file_mutations": FILE_MUTATIONS, "n_buckets": N_BUCKETS,
            "warmup_s": warmup_s, "input_prep_s": prep,
        },
    }
    if ctx.trace:
        out["layers"] = _layers(ctx, batches, measured, progress, gen_thread.files, staging)
        out["info"]["traced_batches"] = [
            {"id": b["id"], "s": round(b["end"] - b["start"], 3),
             **{k: round(v, 3) for k, v in b["spark"].items()}} for b in batches if "spark" in b]
    return out


def _layers(ctx, batches, measured, progress, files, staging) -> dict:
    tr = ctx.tracer
    lines_of = {f["path"]: f["mutations"] for f in files}
    traced = [b for b in measured if b["traced"]]
    ids = {b["id"] for b in measured}
    prog = [p for p in progress if p.get("batchId") in ids]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 - p["durationMs"].get("addBatch", 0) / 1e3
            for p in prog]
    rows_in = sum(p.get("numInputRows", 0) for p in prog)
    prog_ids = {p["batchId"] for p in prog}
    lines_in = sum(lines_of.get(f, 0) for b in measured if b["id"] in prog_ids for f in b["files"])
    q = len(measured) // 4 or 1
    mdur = [b["end"] - b["start"] for b in measured]
    muts_of = {b["id"]: sum(lines_of.get(f, 0) for f in b["files"]) for b in traced}
    ledger = staging.applied_path
    ledger_rows = sum(pq.ParquetFile(os.path.join(ledger, f)).metadata.num_rows
                      for f in os.listdir(ledger) if f.endswith(".parquet"))
    spark_m = [ctx.counters.jobs_metrics(range(*b["job_ids"])) for b in traced]
    for b, m in zip(traced, spark_m):
        b["spark"] = m
    return {
        **harness.unit_metrics(spark_m, tr.self_times("streaming.foreach_batch"), mdur,
                               [b["jobs"] for b in measured], [b["traced"] for b in measured]),
        "streaming.batch_p50_s": ("s", harness.median(mdur)),
        "streaming.applier_self_p50_s": ("s", harness.median(tr.self_times("streaming.foreach_batch"))),
        "streaming.trigger_overhead_p50_s": ("s", harness.median(trig)),
        "streaming.jobs_per_batch": ("count", harness.median([b["jobs"] for b in traced])),
        "streaming.reread_ratio": ("ratio", rows_in / lines_in),
        "streaming.files_per_batch": ("count", harness.median([len(b["files"]) for b in measured])),
        "streaming.batch_drift": ("ratio", harness.median(mdur[-q:]) / harness.median(mdur[:q])),
        "staging.filter_applied_p50_s": ("s", harness.median(tr.durations("staging.filter_applied"))),
        "staging.mark_applied_p50_s": ("s", harness.median(tr.durations("staging.mark_applied"))),
        "dlq.enqueue_p50_s": ("s", harness.median(tr.durations("dlq.enqueue"))),
        "checkpoint.advance_p50_s": ("s", harness.median(tr.durations("checkpoint.advance"))),
        "sink.overwrite_p50_s": ("s", harness.median(tr.durations("sink.overwrite"))),
        "sink.bytes_written_per_mutation": ("B", sum(b["bytes"] for b in traced) / sum(muts_of.values())),
        "sink.buckets_touched_share": ("ratio", harness.median([b["buckets"] / N_BUCKETS for b in traced])),
        "staging.ledger_rows_end": ("count", ledger_rows),
        "gen.late_p90_s": ("s", harness.pct([f["late"] for f in files], 90)),
    }
