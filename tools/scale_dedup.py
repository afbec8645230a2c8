"""Dedup-family scale smoke: run the three slowest bench entries at an
sf1-EQUIVALENT scale (10x the sf0.1 row counts) on synthetic data with
the same statistical shape as the driver's testdata — duplicate-cluster
structure included — to measure how the documented one-shuffle /
O(diameter) designs actually scale. Prints one JSON line with sf0.1-
equivalent and sf1-equivalent timings per query.

Shapes (matching /root/testdata generators, seed-free determinism via
hash(doc_id, position) so any N reproduces bit-identically):
  documents  50-word salads over a small vocab; every 5th doc re-rolls
             an earlier doc's text with 2 perturbed words -> near-dup
             clusters for LSH/simhash/connected-components to find.
  events     (event_id, ts, user_id, event_type, value) stream.
  customer   (c_custkey, c_name, c_acctbal) apply target.

Usage: python tools/scale_dedup.py [multiplier]   # default 10 = "sf1"
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cdc_sink_spark.session import get_spark

# sf0.1 row counts (TESTDATA.md); the multiplier scales from here.
BASE_DOCS = 5_000
BASE_EVENTS = 100_000
BASE_CUST = 15_000

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join shuffle plan scale node disk memory stage task core"
).split()


def synth_dir(spark: SparkSession, mult: int) -> str:
    out = tempfile.mkdtemp(prefix=f"scale-dedup-x{mult}-")
    n_docs = BASE_DOCS * mult
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    nv = len(VOCAB)
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    # Every 5th doc clones the cluster head's text (doc_id rounded down
    # to the nearest 100) with its first two words perturbed -> exact
    # heads + near-dup satellites, the same structure the testdata has.
    src_id = F.when(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 100 != 0),
        F.col("doc_id") - (F.col("doc_id") % 100),
    ).otherwise(F.col("doc_id"))
    words = F.transform(
        F.sequence(F.lit(1), F.lit(50)),
        lambda j: F.element_at(
            vocab,
            (
                F.pmod(
                    F.when(j <= 2, F.xxhash64(F.col("doc_id") * 1_000 + j)).otherwise(
                        F.xxhash64(src_id * 1_000 + j)
                    ),
                    F.lit(nv),
                )
                + 1
            ).cast("int"),
        ),
    )
    docs = base.select(
        "doc_id",
        F.array_join(words, " ").alias("text"),
        F.element_at(
            F.array(F.lit("en"), F.lit("zh"), F.lit("de")),
            (F.pmod(F.xxhash64("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 8).cast("string")).alias("source"),
    ).withColumn("n_chars", F.length("text"))
    docs.repartition(32).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    n_ev = BASE_EVENTS * mult
    ev = spark.range(n_ev).select(
        F.col("id").alias("event_id"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
            + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("id") % 2_592_000)
        ).alias("ts"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(BASE_CUST * mult)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("buy"), F.lit("error")),
            (F.pmod(F.xxhash64(F.col("id") + 13), F.lit(4)) + 1).cast("int"),
        ).alias("event_type"),
        F.round(F.pmod(F.xxhash64(F.col("id") + 29), F.lit(100_000)) / 100.0, 2).alias("value"),
        F.lit('{"k": 1}').alias("props"),
    )
    ev.repartition(32).write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))

    cust = spark.range(BASE_CUST * mult).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id").cast("string")).alias("c_name"),
        F.round(F.pmod(F.xxhash64(F.col("id") + 3), F.lit(1_000_000)) / 100.0, 2)
        .cast("decimal(12,2)")
        .alias("c_acctbal"),
    )
    cust.write.mode("overwrite").parquet(os.path.join(out, "customer.parquet"))
    return out


def run(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    from cdc_sink_spark.queries import cdc, textops

    cases = {
        "dedup_minhash_lsh": textops.dedup_minhash_lsh,
        "dedup_simhash": textops.dedup_simhash,
        "dedup_connected_components": textops.dedup_connected_components,
        "conveyor_end_to_end": cdc.conveyor_end_to_end,
    }
    timings = {}
    for name, fn in cases.items():
        # noop-sink write, the same clock bench.py uses: count() lets
        # Catalyst prune expressions that only feed the final projection
        # (similarity estimates etc.), which would understate per-row
        # compute relative to BASELINE.md's fully-materialized numbers.
        # The row count is taken separately (cheap second execution of a
        # small result) so the published _rows fields remain.
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 2)
        timings[f"{name}_rows"] = fn(spark, sf_dir).count()
    timings.update(incremental_probe(spark, sf_dir))
    return timings


def incremental_probe(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Steady-state incremental dedup: build the persisted band index
    once per corpus size, then probe a FIXED-size batch (BASE_DOCS new
    docs). The claim under test: probe time stays flat (±20%) while the
    corpus grows 10x — index build is the only O(corpus) step and it
    runs once, not per batch."""
    from cdc_sink_spark.operators.lshindex import BandIndex

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    toks = F.split(F.col("text"), " ")
    batch = docs.filter(F.col("doc_id") < BASE_DOCS).select(
        (F.col("doc_id") + F.lit(10**9)).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 45), " ").alias("text"),
    )
    path = tempfile.mkdtemp(prefix="scale-lsh-idx-")
    tag = os.path.basename(path).replace("-", "_")
    idx = BandIndex(spark, path=os.path.join(path, "idx"), table_name=f"t_{tag}")
    t0 = time.perf_counter()
    idx.build(docs)
    t_build = round(time.perf_counter() - t0, 2)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        # noop write, not count(): count would prune the est column's
        # zip_with agreement computation out of the timed probe.
        idx.probe(batch).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    n = idx.probe(batch).count()
    # The index's root, lock file and versions all live under `path`;
    # the catalog table is per version.
    spark.sql(f"DROP TABLE IF EXISTS {idx.table}")
    shutil.rmtree(path, ignore_errors=True)
    return {
        "incremental_index_build": t_build,
        "incremental_probe_batch": round(best, 2),
        "incremental_probe_batch_rows": n,
    }


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale-dedup")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = {}
    out = {}
    # dict.fromkeys dedups (1, 1) when invoked with multiplier 1 — the
    # naive tuple ran the x1 case twice and leaked the first tempdir.
    for m in dict.fromkeys((1, mult)):
        dirs[m] = synth_dir(spark, m)
        out[f"x{m}"] = run(spark, dirs[m])
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    total = sum(v for r in out.values() for k, v in r.items() if not k.endswith("_rows"))
    print(
        json.dumps(
            {
                "metric": "scale_dedup_total",
                "value": round(total, 2),
                "unit": "sec",
                "cases": out,
                "base_docs": BASE_DOCS,
                "multiplier": mult,
            }
        )
    )


if __name__ == "__main__":
    main()
