"""cdc_replicate: a replicator's two modes in one run.

A serial backfill drains a changefeed dump onto the target (wl_backfill),
a warm-up job and then measured ones; the warm-up job's snapshot becomes the
bucketed target that a live open-loop feed replicates into through
Structured Streaming (wl_stream). Both modes share one Spark session, so the
JVM start and the parse/apply warm-up are paid once: the backfill jobs also
warm the JVM for the stream.

The stream's open-loop window lasts WINDOW_SHARE of ``--seconds``; the
backfill jobs are a fixed amount of work.
"""

from __future__ import annotations

import statistics

import harness
import wl_backfill
import wl_stream

WINDOW_SHARE = 0.6


def run(ctx) -> dict:
    bf_setup = wl_backfill.setup(ctx)
    bf = wl_backfill.measure(ctx, bf_setup)
    st = wl_stream.run(ctx, bf_setup["snapshot_dir"], wl_backfill.N_MUTATIONS,
                       ctx.seconds * WINDOW_SHARE)
    totals = [j["total"] for j in bf["jobs"]]
    # The CPU metrics sum over whole phases, the warm-up backfill job and the
    # stream's start too: JIT compilation and garbage collection move CPU
    # time from one unit to the next, and a sum keeps it. Over ten runs, the
    # CPU of one micro-batch or one measured backfill job spread 15-18%.
    cpus = [bf_setup["warm"]["cpu"]] + [j["cpu"] for j in bf["jobs"]]

    def check() -> dict:
        b, s = bf["check"](), st["check"]()
        # Window files count as failed when late, not committed exactly once,
        # or, all of them, when the stream's final target is wrong.
        files_failed = st["failed"] if s["ok"] else len(st["files"])
        return {"failed": b["failed"] + files_failed,
                "info": {"backfill_oracle": b["oracle"], "stream_oracle": s["oracle"]}}

    out = {
        "attempted": 1 + len(totals) + len(st["files"]),
        "check": check,
        "setup_s": (ctx.spark_start_s + harness.median(bf_setup["prep"]) + bf_setup["warmup_s"]
                    + harness.median(st["prep"]) + st["warmup_s"]),
        "op_cpu_s": st["cpu_per_file"],
        "bulk_cpu_s": statistics.fmean(cpus),
        "lag_p50_s": harness.pct(st["lags"], 50),
        "lag_p90_s": harness.pct(st["lags"], 90),
        "mutations_per_s": wl_backfill.N_MUTATIONS / harness.median(totals),
        "suite_s": harness.median(totals),
        "suite_geomean_s": harness.geomean(st["batch_s"]),
        "info": {"backfill": bf["info"], "stream": st["info"]},
    }
    if ctx.trace:
        out["layers"] = {**bf["layers"], **st["layers"]}
    return out
