"""The two workloads.  Each yields passes of ops; an op is one timed call
into the program, from its first call until its output is materialized.

Why these workloads (the full argument is in README.md):

- ``ingest`` is the reference's own job: land a frame with create, append
  and upsert through ``api.df_to_spark`` into a parquet lake, a versioned
  lake and a SQL table, then read it back.  Only here do ``api``,
  ``checks``, ``schema``, ``operators.lake``, ``operators.manifest``,
  ``operators.upsert`` and ``operators.sql_sink`` do most of the work.
- ``query`` runs registry queries in one seeded mix of two halves.  The
  scan families (``tpch``, ``events``, ``lake_scan``) take 3 to 20 Spark
  jobs each and pin nothing: the control on which pin and job-count
  changes should show no change.  The iterative families (``stats``,
  ``dedup``) pin intermediates and are bound by per-job and per-pin
  overhead: where those changes act.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np

# family -> registry names.  Families follow the operator groups of the
# ROADMAP so the names survive a module regroup.
QUERY_FAMILIES = {
    # scan: no pins held
    "tpch": ["q3_shipping_priority", "q6_revenue_forecast"],
    "events": ["events_hourly", "exact_dedup_groups"],
    "lake_scan": ["w18_bloom_probe"],
    # iterative: pinned intermediates, many jobs
    "stats": ["customer_gini_by_nation"],
    "dedup": ["minhash_lsh_pairs"],
}
SCAN_FAMILIES = ("tpch", "events", "lake_scan")

SINKS = ("lake", "versioned", "sql")
INGEST_FAMILIES = {s: [f"{s}.{m}" for m in ("create", "append", "upsert", "read")]
                   for s in SINKS}
WORKLOADS = ("ingest", "query")


def families(workload: str) -> dict[str, list[str]]:
    return INGEST_FAMILIES if workload == "ingest" else QUERY_FAMILIES


def kinds(workload: str) -> list[str]:
    return [k for ks in families(workload).values() for k in ks]


def all_kinds() -> list[str]:
    return [k for w in WORKLOADS for k in kinds(w)]


class Op:
    """``run`` is the timed call; ``verify`` runs after it, outside the
    timer, and returns False for a wrong answer."""

    def __init__(self, kind, run, verify=None, rows=None, table_dir=None):
        self.kind, self.run, self.verify, self.rows = kind, run, verify, rows
        self.table_dir = table_dir  # lake writes: where new bytes land


def materialize(df) -> None:
    from bench import materialize as noop_sink

    noop_sink(df)


# -- ingest ----------------------------------------------------------------

# Slots are contiguous runs of SLOT orders in key order, so a batch made of
# slots lands as files with narrow key ranges, as real appends of new keys
# do, and the filtered read-back can prune.
SLOT = 500
# slots per batch: (create, each append, upsert of existing, upsert of new)
SIZES = {"lake": (20, 2, 4, 2), "versioned": (20, 2, 4, 2), "sql": (8, 1, 1, 1)}
APPENDS = 1
READ_SHARE = 0.1
READS = 1  # read-backs per sink and cycle
DERBY = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


class Ingest:
    """Repeated cycles; each lands one fresh table per sink with a large
    create, ``APPENDS`` small appends and a keyed upsert (changed values
    for existing keys plus new keys), then a filtered read-back.  The
    seed picks which slots make up each batch and where the read range
    falls; every cycle of a run repeats that composition, so a kind's
    first and last samples do identical work and the drift check can
    tell held state from noise.  Derby's MERGE is a nested loop, so the
    SQL batches are smaller than the lake's."""

    def __init__(self, spark, sf_dir: str, seed: int, root: str):
        from pyspark.sql import functions as F

        from df_to_azure_spark.operators.sql_sink import SqlSink
        from df_to_azure_spark.session import protect_pin

        self.spark, self.root, self.F = spark, root, F
        path = f"{sf_dir}/orders.parquet"
        # pinned once for the whole run and exempt from pin release: batch
        # selection is a filter on memory, not a re-read of the source
        self.src = protect_pin(spark.read.parquet(path).localCheckpoint(eager=True))
        # the expected answers are computed from the same file by pyarrow,
        # not through the program
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["o_orderkey", "o_totalprice"])
        keys = t.column("o_orderkey").to_numpy()
        order = np.argsort(keys, kind="stable")
        self.keys = keys[order]
        self.cents = np.round(t.column("o_totalprice").to_numpy()[order] * 100).astype(np.int64)
        n_slots = len(self.keys) // SLOT

        rng = np.random.default_rng(seed)
        perm = [int(s) for s in rng.permutation(n_slots)]
        self.plan = {}
        for sink, (c, a, uo, un) in SIZES.items():
            create = [perm.pop() for _ in range(c)]
            appends = [[perm.pop() for _ in range(a)] for _ in range(APPENDS)]
            landed = create + [s for b in appends for s in b]
            old = [int(s) for s in rng.choice(landed, uo, replace=False)]
            new = [perm.pop() for _ in range(un)]
            table_slots = sorted(landed + new)
            lo_i = int(rng.integers(0, len(table_slots)))
            span = max(1, round(READ_SHARE * len(table_slots)))
            read = table_slots[lo_i: lo_i + span] or table_slots[-span:]
            lo = int(self.keys[min(read) * SLOT])
            hi = int(self.keys[max(read) * SLOT + SLOT - 1])
            self.plan[sink] = dict(create=create, appends=appends, old=old,
                                   new=new, landed=landed, lo=lo, hi=hi)
        self.sql = SqlSink(spark, url="jdbc:derby:memory:perfbench;create=true",
                           driver=DERBY, dialect="ansi", num_partitions=4)
        self.sql.create_schema("dbo")
        self.cycle = 0
        self.kinds = kinds("ingest")

    # batch frames are lazy filters on the pinned source: one key range per
    # run of adjacent slots
    def _batch(self, slots, bump=False):
        F, runs = self.F, []
        for s in sorted(slots):
            if runs and runs[-1][1] == s - 1:
                runs[-1][1] = s
            else:
                runs.append([s, s])
        cond = None
        for a, b in runs:
            c = F.col("o_orderkey").between(int(self.keys[a * SLOT]),
                                            int(self.keys[b * SLOT + SLOT - 1]))
            cond = c if cond is None else cond | c
        df = self.src.where(cond)
        if bump:
            df = df.withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        return df

    def _expected(self, sink: str):
        p = self.plan[sink]
        idx = np.concatenate([np.arange(s * SLOT, s * SLOT + SLOT)
                              for s in p["landed"] + p["new"]])
        cents = self.cents.copy()
        for s in p["old"]:
            cents[s * SLOT: s * SLOT + SLOT] += 100
        keys, cents = self.keys[idx], cents[idx]
        m = (keys >= p["lo"]) & (keys <= p["hi"])
        return int(m.sum()), int(keys[m].sum()), int(cents[m].sum())

    def _checksum(self, df):
        F = self.F
        r = df.agg(
            F.count(F.lit(1)),
            F.sum("o_orderkey"),
            F.sum(F.round(F.col("o_totalprice").cast("double") * 100).cast("long")),
        ).first()
        return int(r[0]), int(r[1] or 0), int(r[2] or 0)

    def pass_ops(self) -> list[Op]:
        from df_to_azure_spark import api
        from df_to_azure_spark.operators.lake import ParquetLake
        from df_to_azure_spark.operators.manifest import VersionedLake

        self.cycle += 1
        table = f"t{self.cycle}"
        ops = []
        for sink in SINKS:
            p = self.plan[sink]
            root = os.path.join(self.root, f"c{self.cycle}", sink)
            if sink == "sql":
                target = dict(sql_sink=self.sql, schema="dbo")
            else:
                target = dict(parquet=True, lake_root=root,
                              versioned=sink == "versioned")

            def write(method, slots, bump=False, new=(), target=target):
                df = self._batch(slots, bump)
                if new:
                    df = df.unionByName(self._batch(list(new)))
                return lambda: api.df_to_spark(
                    df, table, method=method,
                    id_field="o_orderkey" if method == "upsert" else None,
                    **target,
                )

            steps = [("create", write("create", p["create"]), len(p["create"]) * SLOT)]
            steps += [("append", write("append", b), len(b) * SLOT) for b in p["appends"]]
            steps += [("upsert", write("upsert", p["old"], True, p["new"]),
                       (len(p["old"]) + len(p["new"])) * SLOT)]
            table_dir = None if sink == "sql" else os.path.join(root, table)
            for method, run, n in steps:
                ops.append(Op(f"{sink}.{method}", run,
                              lambda report, n=n: report.rows_written == n,
                              rows=n, table_dir=table_dir))

            key_range = self.F.col("o_orderkey").between(p["lo"], p["hi"])
            if sink == "lake":
                read = lambda root=root, r=key_range: ParquetLake(
                    self.spark, root).read(table).where(r)
            elif sink == "versioned":
                read = lambda root=root, p=p: VersionedLake(self.spark, root).scan(
                    table, [("o_orderkey", "between", (p["lo"], p["hi"]))])
            else:
                read = lambda r=key_range: self.sql.read(table, schema="dbo").where(r)

            def read_op(read=read):
                df = read()
                materialize(df)
                return df

            expected = self._expected(sink)
            ops += [Op(f"{sink}.read", read_op,
                       lambda df, e=expected: self._checksum(df) == e)] * READS
        return ops

    def table_counts(self) -> dict[str, float]:
        """Files and versions of the current cycle's tables (traced run)."""
        from df_to_azure_spark.operators.manifest import VersionedLake

        base = os.path.join(self.root, f"c{self.cycle}")
        lake_dir = os.path.join(base, "lake", f"t{self.cycle}", "data")
        files = sum(1 for f in os.listdir(lake_dir) if f.endswith(".parquet"))
        versions = len(VersionedLake(self.spark, os.path.join(base, "versioned"))
                       .versions(f"t{self.cycle}"))
        return {"lake.files": files, "manifest.versions": versions}

    def end_pass(self, ran: set[str]) -> None:
        """``ran``: the kinds whose call returned, so their table exists."""
        shutil.rmtree(os.path.join(self.root, f"c{self.cycle}"), ignore_errors=True)
        if "sql.create" in ran:
            self.sql.execute(f"DROP TABLE dbo.t{self.cycle}")


# -- queries ---------------------------------------------------------------


class Queries:
    """Passes over registry queries in a seeded order.  The first pass
    (the warm-up) collects each result to pandas for the oracle check;
    timed passes write to the noop sink through ``bench.materialize``."""

    def __init__(self, spark, sf_dir: str, seed: int, cache_dir: str):
        from df_to_azure_spark.plans.registry import REGISTRY

        self.spark, self.sf_dir, self.cache_dir = spark, sf_dir, cache_dir
        self.kinds = kinds("query")
        self.specs = {k: REGISTRY[k] for k in self.kinds}
        self.rng = random.Random(seed)
        self.results: dict[str, object] = {}
        self.collect = True

    def pass_ops(self) -> list[Op]:
        names = list(self.specs)
        self.rng.shuffle(names)
        collect, self.collect = self.collect, False
        return [Op(n, self._runner(n, collect)) for n in names]

    def _runner(self, name, collect):
        import time

        fn = self.specs[name].spark

        def run():
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            self.last_build_s = time.perf_counter() - t0
            if collect:
                self.results[name] = df.toPandas()
            else:
                materialize(df)

        return run

    def end_pass(self, ran: set[str]) -> None:
        pass

    def check_oracle(self) -> dict[str, bool]:
        """Each collected result against DuckDB's ``oracle_sql()`` answer,
        compared as the strict oracle check compares them.  Call it after
        the Spark session has stopped, so that DuckDB's memory (up to 2 GB
        for some registry queries) never adds to Spark's."""
        from tools.strict_oracle_check import frame_rows

        return {n: _digest(pdf, frame_rows) == oracle_digest(
                    n, self.specs[n].oracle, self.sf_dir, self.cache_dir)
                for n, pdf in self.results.items()}


# The oracle's answer for a given SQL text and input is fixed, so its digest
# is kept: in ``oracle.json`` beside this file for the shipped queries, and
# in the cache directory for any other SQL text or input.  Only a miss in
# both runs DuckDB.
ORACLE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle.json")


def oracle_key(name: str, sql: str, sf_dir: str) -> str:
    inputs = sorted((f, os.path.getsize(os.path.join(sf_dir, f))) for f in os.listdir(sf_dir))
    return hashlib.sha256(json.dumps([name, sql, inputs]).encode()).hexdigest()[:24]


def oracle_digest(name: str, sql: str, sf_dir: str, cache_dir: str) -> dict:
    key = oracle_key(name, sql, sf_dir)
    with open(ORACLE_FILE) as f:
        kept = json.load(f).get(name)
    if kept and kept["key"] == key:
        return kept["digest"]
    path = os.path.join(cache_dir, f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    digest = run_oracle(sql, sf_dir)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(digest, f)
    os.replace(path + ".tmp", path)
    return digest


def run_oracle(sql: str, sf_dir: str) -> dict:
    import tempfile

    import duckdb

    from tools.strict_oracle_check import TABLES, frame_rows

    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='4GB'")
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    digest = _digest(con.sql(sql).df(), frame_rows)
    con.close()
    return digest


def _digest(pdf, frame_rows) -> dict:
    """Columns, dtypes (timestamp resolution ignored, as the strict check
    does), row count and a hash of the canonical sorted rows."""
    dtypes = {c: ("datetime64" if str(t).startswith("datetime64") else str(t))
              for c, t in pdf.dtypes.items()}
    h = hashlib.sha256()
    for row in frame_rows(pdf):
        h.update(repr(row).encode())
    return {"dtypes": dict(sorted(dtypes.items())), "rows": len(pdf),
            "sha256": h.hexdigest()}


if __name__ == "__main__":
    # python3 perfbench/workloads.py SF_DIR: rewrite oracle.json from DuckDB
    # for every query kind (run from the repository root)
    import sys

    sys.path.insert(0, os.getcwd())
    from df_to_azure_spark.plans.registry import REGISTRY

    sf = sys.argv[1]
    out = {}
    for n in kinds("query"):
        sql = REGISTRY[n].oracle
        out[n] = {"key": oracle_key(n, sql, sf), "digest": run_oracle(sql, sf)}
        print(n, out[n]["digest"]["rows"], file=sys.stderr)
    with open(ORACLE_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
