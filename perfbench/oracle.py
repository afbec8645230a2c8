"""Independent DuckDB references and the comparisons against them.

CDC workloads: DuckDB computes the expected target from the same generated
files (per-key last-write-wins over the envelopes, then apply onto the
initial target) and compares it with what the program wrote, as multisets:
row count, an order-insensitive hash, and the number of rows in the
symmetric difference.

Query suite: each key's Spark result is compared with its ``registry.ORACLES``
SQL run by DuckDB, by row count, column names and the order-insensitive
value hash of the repository's correctness gate (tools/check_correctness.py).
DuckDB answers are cached by (SQL text, input fingerprint, DuckDB version).
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

ENVELOPE_COLUMNS = (
    "{after: 'STRUCT(id BIGINT, v BIGINT, bal DOUBLE, tag VARCHAR)', "
    "updated: 'VARCHAR', key: 'BIGINT[]', resolved: 'VARCHAR'}"
)
COLS = "id, v, bal, tag"


def value_hash(rows, cols) -> str:
    """The repository gate's canonical, order-insensitive result hash."""
    from tools.check_correctness import value_hash as gate_hash

    return gate_hash(rows, cols)


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _q(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def envelopes_sql(files: list[str]) -> str:
    """Typed mutations from envelope files: id, v, bal, tag, nanos, logical, deleted."""
    lst = "[" + ",".join(_q(f) for f in files) + "]"
    return f"""
      SELECT COALESCE(after.id, key[1]) AS id, after.v AS v, after.bal AS bal, after.tag AS tag,
             CAST(split_part(updated, '.', 1) AS BIGINT) AS nanos,
             CAST(split_part(updated, '.', 2) AS INTEGER) AS logical,
             after IS NULL AS deleted
      FROM read_json({lst}, format='newline_delimited', columns={ENVELOPE_COLUMNS})
      WHERE updated IS NOT NULL"""


def expected_target_sql(target_sql: str, muts_sql: str) -> str:
    """Initial target (a relation with COLS) with the per-key latest
    mutation applied."""
    return f"""
      WITH m AS ({muts_sql}),
      w AS (SELECT * FROM m QUALIFY row_number() OVER (
              PARTITION BY id ORDER BY nanos DESC, logical DESC) = 1),
      t AS ({target_sql})
      SELECT COALESCE(w.id, t.id) AS id,
             CASE WHEN w.id IS NULL THEN t.v ELSE w.v END AS v,
             CASE WHEN w.id IS NULL THEN t.bal ELSE w.bal END AS bal,
             CASE WHEN w.id IS NULL THEN t.tag ELSE w.tag END AS tag
      FROM t FULL OUTER JOIN w ON t.id = w.id
      WHERE w.id IS NULL OR NOT w.deleted"""


def parquet_dir_sql(path: str, cols: str = COLS) -> str:
    return (f"SELECT {cols} FROM read_parquet({_q(os.path.join(path, '**', '*.parquet'))}, "
            "hive_partitioning=true, union_by_name=true)")


def compare_relations(actual_sql: str, expected_sql: str, con=None) -> dict:
    """Multiset comparison of two relations with the same columns."""
    con = con or _con()
    con.execute(f"CREATE OR REPLACE TEMP TABLE _a AS {actual_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE _e AS {expected_sql}")

    def digest(t: str):
        n, s, x = con.execute(
            f"SELECT count(*), COALESCE(sum(hash({t})::HUGEINT), 0), COALESCE(bit_xor(hash({t})), 0) "
            f"FROM {t}").fetchone()
        return int(n), f"{int(s) & (2**128 - 1):032x}{int(x):016x}"

    (na, ha), (ne, he) = digest("_a"), digest("_e")
    diff = con.execute(
        "SELECT count(*) FROM ((SELECT * FROM _a EXCEPT ALL SELECT * FROM _e) "
        "UNION ALL (SELECT * FROM _e EXCEPT ALL SELECT * FROM _a))").fetchone()[0]
    return {"ok": na == ne and ha == he and diff == 0, "rows_actual": na,
            "rows_expected": ne, "hash_actual": ha, "hash_expected": he, "rows_differing": int(diff)}


# --------------------------------------------------------------------------
# query suite
def table_fingerprint(tables) -> str:
    """Content digest of the generated suite tables (Arrow IPC bytes)."""
    import pyarrow as pa

    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


class SuiteOracle:
    """DuckDB answers for registry.ORACLES SQL, cached on disk. The cache
    key covers the SQL text, the input tables' content digest and the
    DuckDB version, so any change to either recomputes the answer."""

    TABLES = ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split()

    def __init__(self, data_dir: str, fingerprint: str, cache_files: list[str], write_to: str):
        self.data_dir = data_dir
        self.fingerprint = fingerprint
        self.write_to = write_to
        self.cache: dict = {}
        for p in cache_files:
            if os.path.isfile(p):
                with open(p) as f:
                    self.cache.update(json.load(f))
        self.misses = 0
        self._con = None

    def _key(self, sql: str) -> str:
        return hashlib.sha256(
            f"{duckdb.__version__}\x00{self.fingerprint}\x00{sql}".encode()).hexdigest()

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in self.TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({_q(p)})")
        return self._con

    def answer(self, sql: str) -> dict:
        k = self._key(sql)
        if k not in self.cache:
            res = self._connect().execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self.cache[k] = {"rows": len(rows), "cols": sorted(cols),
                             "hash": value_hash(rows, cols)}
            self.misses += 1
        return self.cache[k]

    def save(self) -> None:
        if not self.misses:
            return
        os.makedirs(os.path.dirname(self.write_to), exist_ok=True)
        tmp = self.write_to + f".{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(self.cache, f, indent=0, sort_keys=True)
        os.replace(tmp, self.write_to)


def compare_result(rows, cols, expected: dict) -> list[str]:
    problems = []
    if len(rows) != expected["rows"]:
        problems.append(f"rowcount {len(rows)} != {expected['rows']}")
    if sorted(cols) != expected["cols"]:
        problems.append(f"columns {sorted(cols)} != {expected['cols']}")
    elif value_hash(rows, cols) != expected["hash"]:
        problems.append("value hash mismatch")
    return problems


# --------------------------------------------------------------------------
def self_check(work: str) -> None:
    """Prove the checks can fail: on a tiny seeded input, an exact copy of
    the expected output must pass and a copy with one corrupted value, one
    dropped row or one extra row must each be rejected. Raises on any
    surprise."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen

    os.makedirs(work, exist_ok=True)
    tgt = os.path.join(work, "target.parquet")
    pq.write_table(gen.target_table(7, 40), tgt)
    feed = os.path.join(work, "feed.ndjson")
    import numpy as np

    rng = np.random.default_rng([7, 9])
    lines, _ = gen.mutation_lines(rng, gen.KeySampler(7, 50).sample(rng, 60), 0)
    gen.write_atomic(feed, "\n".join(lines) + "\n")
    con = _con()
    expected = expected_target_sql(f"SELECT {COLS} FROM read_parquet({_q(tgt)})", envelopes_sql([feed]))
    good = con.execute(expected).fetch_arrow_table()
    good_dir = os.path.join(work, "good")
    os.makedirs(good_dir)
    pq.write_table(good, os.path.join(good_dir, "part-0.parquet"))
    if not compare_relations(parquet_dir_sql(good_dir), expected, con)["ok"]:
        raise RuntimeError("self-check: an exact copy of the expected output was rejected")
    d = good.to_pydict()
    corrupt = {
        "value": {**d, "bal": [d["bal"][0] + 0.01] + d["bal"][1:]},
        "dropped": {k: v[1:] for k, v in d.items()},
        "extra": {k: v + v[:1] for k, v in d.items()},
    }
    for name, data in corrupt.items():
        cdir = os.path.join(work, name)
        os.makedirs(cdir)
        pq.write_table(pa.table(data, schema=good.schema), os.path.join(cdir, "part-0.parquet"))
        if compare_relations(parquet_dir_sql(cdir), expected, con)["ok"]:
            raise RuntimeError(f"self-check: corrupted output ({name}) passed the CDC check")
    rows = [tuple(r.values()) for r in good.to_pylist()]
    exp = {"rows": len(rows), "cols": sorted(good.column_names),
           "hash": value_hash(rows, good.column_names)}
    if compare_result(rows, good.column_names, exp):
        raise RuntimeError("self-check: an exact query result was rejected")
    bad = [rows[0][:2] + (rows[0][2] + 0.01,) + rows[0][3:]] + rows[1:]
    if not compare_result(bad, good.column_names, exp):
        raise RuntimeError("self-check: a corrupted query result passed the suite check")


def fill_cache(out_path: str) -> None:
    """Compute the DuckDB answers of every suite key's oracle for every suite
    input variant and write them to ``out_path`` (the committed cache)."""
    import sys
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    from cdc_sink_spark.queries import registry

    import gen
    import wl_suite

    cache: dict = {}
    for variant in range(wl_suite.VARIANTS):
        tables = gen.suite_tables(variant, wl_suite.SF)
        scratch = os.path.join(os.path.dirname(here), ".perfbench_work")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            gen.write_tables(tables, d)
            orc = SuiteOracle(d, table_fingerprint(tables), [], "")
            for k in wl_suite.KEYS:
                if k in registry.ORACLES:
                    orc.answer(registry.ORACLES[k])
            cache.update(orc.cache)
    with open(out_path, "w") as f:
        json.dump(cache, f, indent=0, sort_keys=True)


if __name__ == "__main__":
    # python3 perfbench/oracle.py: refresh perfbench/oracle_cache.json after
    # a change to the suite generator, an oracle's SQL or DuckDB.
    fill_cache(os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_cache.json"))
