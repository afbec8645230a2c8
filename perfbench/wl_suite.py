"""query_suite: a subset of the bench.HEADLINE registry keys, closed loop,
one at a time, each materialized with a noop sink.

Set-up generates the suite's ten tables, then runs every key once with
``collect()``. That pass builds the on-disk artifacts the keys keep under
spark-warehouse, warms the JVM on full-size inputs, and yields the results
checked against each key's ``registry.ORACLES`` SQL.
"""

from __future__ import annotations

import gc
import os
import time

import gen
import harness
import oracle

# Input variants: DuckDB needs about 90 s for the suite's oracle SQL at this
# size, so inputs come from seed % VARIANTS and answers are cached per input.
VARIANTS = 4
SF = 0.01
SETUP_REPEATS = 3
# The measured keys, in bench.HEADLINE order. The full list does not fit the
# benchmark's time budget: the set-up pass alone costs about 50 s for all 33
# keys on 4 cores, and the measured pass 23 s more. This subset keeps every
# module of the suite, the TPC-H star joins, the three CDC keys the
# mutations_per_s figure reads, and the CC family (dedup_cc_star) whose cost
# is almost all DataFrame construction. Left out on purpose, besides the
# rest: KNOWN_DEFECTS, whose results depend on sub-second timestamp offsets.
KEYS = (
    "q1_pricing_summary",          # analytic: the first key also pays the JVM's SQL warm-up
    "q5_local_supplier_volume",    # analytic: five-way star join with broadcasts
    "events_windowed_agg",         # analytic: event-time windows
    "mutation_dedup_last_wins",    # cdc
    "apply_upsert_delete",         # cdc
    "q18_large_volume",            # tpch_extra
    "conveyor_end_to_end",         # cdc
    "kmeans_refine_step",          # vectors
    "dedup_cc_star",               # textops: CC family
)
# HEADLINE keys whose Spark side truncates timestamps to whole seconds while
# the registry oracle compares fractional epoch seconds: two events of one
# user 300-301 s (range join) or 1800-1801 s (sessions) apart flip the
# answer, and three of the four suite inputs hold such a pair.
KNOWN_DEFECTS = ("events_sessionize", "range_join_bucketed")
# HEADLINE keys that consume every events row as one mutation.
CDC_KEYS = ("mutation_dedup_last_wins", "apply_upsert_delete", "conveyor_end_to_end")
MODULES = ("analytic", "tpch_extra", "cdc", "textops", "vectors")


def run(ctx) -> dict:
    import bench
    from cdc_sink_spark.queries import registry

    spark, tr, cnt, work, sc = ctx.spark, ctx.tracer, ctx.counters, ctx.work, ctx.spark.sparkContext
    keys = [k for k in bench.HEADLINE if k in KEYS]
    if len(keys) != len(KEYS):
        raise RuntimeError(f"suite keys missing from bench.HEADLINE: {set(KEYS) - set(keys)}")
    sf_dir = os.path.join(work, "sf")

    # ---- set-up: generate and write the tables (repeated; median)
    prep = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        tables = gen.suite_tables(ctx.seed % VARIANTS, SF)
        gen.write_tables(tables, sf_dir)
        prep.append(time.perf_counter() - t)
    n_events = tables["events"].num_rows
    fingerprint = oracle.table_fingerprint(tables)
    wh = os.path.join(ctx.root, "spark-warehouse")
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    preexisting = sorted(n for n in os.listdir(wh) if tag in n) if os.path.isdir(wh) else []

    # ---- set-up: one collect() pass (artifacts, warm-up, check results)
    t = time.perf_counter()
    results, warm_key_s = {}, {}
    for k in keys:
        t0 = time.perf_counter()
        df = registry.QUERIES[k](spark, sf_dir)
        results[k] = ([tuple(r) for r in df.collect()], df.columns)
        del df
        gc.collect()
        warm_key_s[k] = round(time.perf_counter() - t0, 3)
    warmup_s = time.perf_counter() - t

    # ---- measured passes: as many whole passes as fit in --seconds, at
    # least one; traced runs alternate untraced and traced passes (three at
    # least, so the traced one has an untraced pass on each side)
    passes: list[dict] = []
    t_end = time.perf_counter() + ctx.seconds
    while (not passes or (ctx.trace and len(passes) < 3)
           or time.perf_counter() + sum(passes[-1]["q"].values()) <= t_end):
        p = len(passes)
        tr.enabled = ctx.trace and p % 2 == 1
        rec = {"traced": tr.enabled, "q": {}, "build": {}, "jobs": {}, "cpu": {}}
        with tr.span("suite.pass"):
            for k in keys:
                sc.setJobGroup(f"q{p}-{k}", "perfbench query")
                j0, c0 = cnt.job_count(), harness.busy_s()
                with tr.span(f"query.{k}"):
                    t0 = time.perf_counter()
                    with tr.span("build"):
                        df = registry.QUERIES[k](spark, sf_dir)
                    t1 = time.perf_counter()
                    with tr.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                rec["q"][k], rec["build"][k], rec["jobs"][k] = t2 - t0, t1 - t0, cnt.job_count() - j0
                rec["cpu"][k] = harness.busy_s() - c0
                del df
                gc.collect()
        tr.enabled = False
        passes.append(rec)
    sc.setJobGroup("perfbench-other", "")

    per_key = {k: harness.median([p["q"][k] for p in passes]) for k in keys}
    per_key_cpu = {k: harness.median([p["cpu"][k] for p in passes]) for k in keys}
    times = list(per_key.values())
    def check() -> dict:
        orc = oracle.SuiteOracle(
            sf_dir, fingerprint,
            [os.path.join(ctx.root, "perfbench", "oracle_cache.json"),
             os.path.join(ctx.root, ".perfbench_out", "oracle_cache.json")],
            os.path.join(ctx.root, ".perfbench_out", "oracle_cache.json"))
        problems = {}
        for k in keys:
            if k in registry.ORACLES:
                rows, cols = results[k]
                bad = oracle.compare_result(rows, cols, orc.answer(registry.ORACLES[k]))
                if bad:
                    problems[k] = bad
        orc.save()
        return {"failed": len(problems),
                "info": {"problems": problems, "oracle_cache_misses": orc.misses,
                         "oracle_keys": sum(k in registry.ORACLES for k in keys)}}

    out = {
        "attempted": len(keys),
        "check": check,
        "setup_s": ctx.spark_start_s + harness.median(prep) + warmup_s,
        "op_cpu_s": harness.geomean(list(per_key_cpu.values())),
        "bulk_cpu_s": sum(per_key_cpu.values()),
        "lag_p50_s": harness.pct(times, 50),
        "lag_p90_s": harness.pct(times, 90),
        "mutations_per_s": len(CDC_KEYS) * n_events / sum(per_key[k] for k in CDC_KEYS),
        "suite_s": sum(times),
        "suite_geomean_s": harness.geomean(times),
        "info": {"variant": ctx.seed % VARIANTS, "sf": SF, "passes": len(passes),
                 "keys": keys, "known_defects_left_out": KNOWN_DEFECTS,
                 "artifacts_preexisting": preexisting,
                 "warmup_s": warmup_s, "warmup_key_s": warm_key_s, "input_prep_s": prep,
                 "per_key_s": per_key, "per_key_cpu_s": per_key_cpu},
    }
    if ctx.trace:
        out["layers"] = _layers(ctx, keys, passes, registry)
    return out


def _layers(ctx, keys, passes, registry) -> dict:
    tr, cnt = ctx.tracer, ctx.counters
    traced = [(i, p) for i, p in enumerate(passes) if p["traced"]]
    i, tp = traced[0]
    qm = {k: cnt.jobs_metrics(cnt.group_jobs(f"q{i}-{k}")) for k in keys}
    pass_m = [{f: sum(qm[k][f] for k in keys) for f in qm[keys[0]]}]
    module = {k: registry.QUERIES[k].__module__.rsplit(".", 1)[-1] for k in keys}
    exec_s = {k: tp["q"][k] - tp["build"][k] for k in keys}
    layers = {
        **harness.unit_metrics(pass_m, tr.self_times("suite.pass"),
                               [sum(p["q"].values()) for p in passes],
                               [sum(p["jobs"].values()) for p in passes],
                               [p["traced"] for p in passes]),
        "query_suite.build_s": ("s", sum(tp["build"].values())),
        "query_suite.exec_s": ("s", sum(exec_s.values())),
        "query_suite.jobs": ("count", pass_m[0]["jobs"]),
        "query_suite.stages": ("count", pass_m[0]["stages"]),
        "query_suite.shuffle_write_mb": ("MB", pass_m[0]["shuffle_write_mb"]),
        "query_suite.executor_cpu_s": ("s", pass_m[0]["cpu_s"]),
    }
    for m in MODULES:
        ks = [k for k in keys if module[k] == m]
        layers[f"{m}.build_s"] = ("s", sum(tp["build"][k] for k in ks))
        layers[f"{m}.exec_s"] = ("s", sum(exec_s[k] for k in ks))
    for k in keys:
        layers[f"query.{k}_s"] = ("s", tp["q"][k])
    return layers
