"""Backfill jobs of cdc_replicate: one serial backfill over an ndjson dump,
repeated.

Each job reads the dump, parses it with ``cdcjson.typed_mutations`` and
``cdcjson.resolved``, applies every resolved window with
``sequencer.seq_serial`` (the default grouped per-key fold), writes the
snapshot as parquet and stages the unresolved tail with
``StagingTable.stage``: the same parse, LWW and apply layers the stream
drives, as one big data-parallel batch instead of many small ones.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
import harness
import oracle

N_MUTATIONS = 80_000     # mutations in the dump
RESOLVED_EVERY = 4_000   # mutations per resolved window
SETUP_REPEATS = 3
JOBS = 2                 # measured jobs; a fixed count


def _job(spark, tr, dump: str, target_init: str, out: str, stg: str) -> dict:
    """One backfill; returns its wall time and output directories."""
    from cdc_sink_spark.operators import sequencer
    from cdc_sink_spark.operators.staging import StagingTable
    from cdc_sink_spark.sources import cdcjson

    c0, t0 = harness.busy_s(), time.perf_counter()
    with tr.span("backfill.job"):
        lines = spark.read.text(dump)
        with tr.span("build"):
            typed = cdcjson.typed_mutations(lines, gen.PAYLOAD, gen.KEY)
            resolved = cdcjson.resolved(cdcjson.parse_lines(lines))
            target = spark.read.parquet(target_init)
            snapshot, pending = sequencer.seq_serial(target, typed, resolved, gen.KEY, ts_col="__ts")
        with tr.span("sink.write"):
            snapshot.write.parquet(out)
        with tr.span("staging.stage"):
            StagingTable(spark, stg).stage(pending, ts_col="__ts")
    return {"total": time.perf_counter() - t0, "cpu": harness.busy_s() - c0, "out": out, "stg": stg}


def setup(ctx) -> dict:
    """Write the dump and the initial target (repeated; median) and warm up."""
    from cdc_sink_spark.operators import sequencer
    from cdc_sink_spark.sources import cdcjson

    tr = ctx.tracer
    work = os.path.join(ctx.work, "backfill")
    os.makedirs(work)
    if ctx.trace:
        tr.wrap(cdcjson, "typed_mutations", "cdcjson.typed_mutations")
        tr.wrap(cdcjson, "resolved", "cdcjson.resolved")
        tr.wrap(sequencer, "seq_serial", "sequencer.seq_serial")
    prep = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        dump = os.path.join(work, f"dump_{i}.ndjson")
        shape = gen.write_dump(dump, ctx.seed, gen.N_KEYS, N_MUTATIONS, RESOLVED_EVERY)
        target_init = os.path.join(work, f"target_{i}.parquet")
        pq.write_table(gen.target_table(ctx.seed, gen.N_ROWS), target_init)
        prep.append(time.perf_counter() - t)
    # Warm-up job; its snapshot is checked like the measured jobs' and
    # seeds the stream.
    warm = _job(ctx.spark, tr, dump, target_init, os.path.join(work, "warm_out"),
                os.path.join(work, "warm_stg"))
    return {"work": work, "dump": dump, "target_init": target_init, "shape": shape,
            "prep": prep, "warm": warm, "warmup_s": warm["total"], "snapshot_dir": warm["out"]}


def measure(ctx, st: dict) -> dict:
    """JOBS backfill jobs; traced runs alternate untraced and traced jobs.
    The count does not depend on the host's speed: while the JIT still
    warms, each job costs less CPU than the one before."""
    spark, tr, cnt, sc = ctx.spark, ctx.tracer, ctx.counters, ctx.spark.sparkContext
    jobs = []
    for i in range(JOBS):
        tr.enabled = ctx.trace and i % 2 == 1
        sc.setJobGroup(f"backfill-{i}", "perfbench backfill job")
        j0 = cnt.job_count()
        rec = _job(spark, tr, st["dump"], st["target_init"], os.path.join(st["work"], f"out_{i}"),
                   os.path.join(st["work"], f"stg_{i}"))
        rec.update(i=i, traced=tr.enabled, jobs=cnt.job_count() - j0)
        tr.enabled = False
        jobs.append(rec)
    sc.setJobGroup("perfbench-other", "")
    res = {"jobs": jobs,
           "check": lambda: _check([st["warm"], *jobs], st["dump"], st["target_init"]),
           "info": {"jobs": len(jobs), "job_s": [j["total"] for j in jobs],
                    "warmup_cpu_s": st["warm"]["cpu"], "job_cpu_s": [j["cpu"] for j in jobs],
                    "dump": st["shape"],
                    "target_rows": gen.N_ROWS, "n_keys": gen.N_KEYS, "warmup_s": st["warmup_s"],
                    "input_prep_s": st["prep"]}}
    if ctx.trace:
        res["layers"] = _layers(ctx, jobs, st["dump"], st["target_init"])
    return res


def _check(jobs, dump: str, target_init: str) -> dict:
    """Compare every job's snapshot and staged tail with DuckDB."""
    con = oracle._con()
    muts = oracle.envelopes_sql([dump])
    frontier = (f"(SELECT CAST(split_part(resolved, '.', 1) AS BIGINT) AS rn, "
                f"CAST(split_part(resolved, '.', 2) AS INTEGER) AS rl "
                f"FROM read_json([{oracle._q(dump)}], format='newline_delimited', "
                f"columns={oracle.ENVELOPE_COLUMNS}) WHERE resolved IS NOT NULL "
                f"ORDER BY rn DESC, rl DESC LIMIT 1)")
    covered = f"SELECT m.* FROM ({muts}) m, {frontier} f WHERE (m.nanos, m.logical) <= (f.rn, f.rl)"
    tail = (f"SELECT id, v, bal, tag, nanos, logical, deleted FROM ({muts}) m, {frontier} f "
            f"WHERE (m.nanos, m.logical) > (f.rn, f.rl)")
    target_sql = f"SELECT {oracle.COLS} FROM read_parquet({oracle._q(target_init)})"
    con.execute(f"CREATE TEMP TABLE exp_snap AS {oracle.expected_target_sql(target_sql, covered)}")
    con.execute(f"CREATE TEMP TABLE exp_tail AS {tail}")
    checks = []
    for j in jobs:
        snap = oracle.compare_relations(oracle.parquet_dir_sql(j["out"]), "SELECT * FROM exp_snap", con)
        staged = oracle.compare_relations(
            oracle.parquet_dir_sql(os.path.join(j["stg"], "data"),
                                   "id, v, bal, tag, __ts.nanos AS nanos, __ts.logical AS logical, "
                                   "__deleted AS deleted"),
            "SELECT * FROM exp_tail", con)
        checks.append({"snapshot": snap, "staged": staged})
        j["ok"] = snap["ok"] and staged["ok"]

    return {"failed": sum(not j["ok"] for j in jobs), "oracle": checks[-1]}


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _layers(ctx, jobs, dump, target_init) -> dict:
    """Span-derived layer times of the traced jobs, status-store counters
    per job, and the execution share of each pipeline prefix, from noop
    materializations run after the measured jobs (these extra Spark jobs
    belong to no measured job)."""
    from cdc_sink_spark.operators import sequencer
    from cdc_sink_spark.sources import cdcjson

    spark, tr, cnt = ctx.spark, ctx.tracer, ctx.counters
    traced = [j for j in jobs if j["traced"]]
    spark_m = [cnt.jobs_metrics(cnt.group_jobs(f"backfill-{j['i']}")) for j in traced]
    lines = spark.read.text(dump)
    typed = cdcjson.typed_mutations(lines, gen.PAYLOAD, gen.KEY)
    resolved = cdcjson.resolved(cdcjson.parse_lines(lines))
    windows = sequencer.assign_resolved_windows(typed, resolved, ts_col="__ts")
    snapshot, _ = sequencer.seq_serial(spark.read.parquet(target_init), typed, resolved, gen.KEY,
                                       ts_col="__ts")
    t_parse, t_win, t_snap = _noop(typed), _noop(windows), _noop(snapshot)
    write = harness.median(tr.durations("sink.write"))

    def med(key):
        return harness.median([m[key] for m in spark_m])

    return {
        "backfill.job_s": ("s", harness.median([j["total"] for j in traced])),
        "backfill.self_s": ("s", harness.median(tr.self_times("backfill.job"))),
        "backfill.trace_overhead_s": ("s", harness.neighbor_diff(
            [j["total"] for j in jobs], [j["traced"] for j in jobs])),
        "backfill.trace_extra_jobs": ("count", harness.neighbor_diff(
            [j["jobs"] for j in jobs], [j["traced"] for j in jobs])),
        "cdcjson.parse_s": ("s", t_parse),
        "sequencer.windows_s": ("s", t_win - t_parse),
        "sequencer.fold_s": ("s", t_snap - t_win),
        "sink.write_s": ("s", write - t_snap),
        "staging.stage_s": ("s", harness.median(tr.durations("staging.stage"))),
        "backfill.build_s": ("s", harness.median(tr.durations("build"))),
        "backfill.jobs": ("count", med("jobs")),
        "backfill.stages": ("count", med("stages")),
        "backfill.shuffle_write_mb": ("MB", med("shuffle_write_mb")),
        "backfill.executor_run_s": ("s", med("run_s")),
        "backfill.executor_cpu_s": ("s", med("cpu_s")),
    }
