"""Workload definitions and output checks.

A workload is a list of ops run back to back by one client. Registry
workloads (`llm_curation`) time `QUERIES[name](spark, sf)`
(compose) and a noop write (execute). The `etl_pipeline` workload is a
`Pipeline` DAG over taps whose every step is one op.

Checks run outside the timed windows. A registry op's full output is
compared once per run, on its cold execution, with its DuckDB oracle
(`queries.ORACLES`, compared with `tools/verify_oracle.py`'s `canon` and
`values_equal`) or, for the four ops without one, with the row count and
canonical digest committed in `fingerprints.json`. Every later execution
must reproduce the cold execution's observed row count and row-hash sum.
ETL steps are checked by invariants DuckDB computes over the same parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

import bench
from hadron_spark.functions.text import fix_text, redact_pii
from hadron_spark.llm.dedup import minhash_dedup_incremental, minhash_signature
from hadron_spark.llm.textstats import word_count
from hadron_spark.operators.maintenance import incremental_rollup
from hadron_spark.pipeline import RS_RERUN, RS_SKIP, Pipeline
from hadron_spark.queries import ORACLES, QUERIES
from hadron_spark.sources.fanout import fan_out_write
from hadron_spark.sources.taps import Tap
from verify_oracle import TABLES, canon, dtype_kind, values_equal

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

_FULL = {name.split("_")[0]: name for name in bench.HEADLINE}


def _cells(short: str) -> list[str]:
    return [_FULL[s] for s in short.split()]


# Registry workloads: (ops, data scale). Both harnesses time the same cells.
REGISTRY = {
    "llm_curation": (_cells("q185 q220 q245"), 0.01),
}
ETL_SF = 0.02
ETL_QUERIES = _cells("q17 q31")
for _ops, _ in REGISTRY.values():
    assert set(_ops) <= set(bench.HEADLINE)
assert set(ETL_QUERIES) <= set(bench.HEADLINE)


class CheckFailed(Exception):
    """An op's output did not match its oracle, fingerprint or invariant."""


# ---------------------------------------------------------------------------
# registry-op checks
# ---------------------------------------------------------------------------


def _stable(c: Column, dtype) -> Column:
    """Doubles rounded so that last-bit float noise between executions
    never changes the observed hash."""
    if isinstance(dtype, (DoubleType, FloatType)):
        return F.round(c.cast("double"), 6)
    if isinstance(dtype, ArrayType) and isinstance(
            dtype.elementType, (DoubleType, FloatType)):
        return F.transform(c, lambda x: F.round(x.cast("double"), 6))
    return c


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach a row count and an order-independent row-hash sum."""
    obs = Observation()
    row = F.xxhash64(*[_stable(F.col(f"`{f.name}`"), f.dataType)
                       for f in df.schema.fields])
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.shiftrightunsigned(row, 24)), F.lit(0)).alias("hash"),
    ), obs


def _plain(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_plain(x) for x in v)
    if isinstance(v, float):
        return float(f"{v:.9g}")
    return v


def digest(pdf: pd.DataFrame) -> str:
    """Canonical digest: columns and rows sorted, floats at 9 digits."""
    pdf = pdf.copy()
    for c in pdf.columns:
        if pdf[c].dtype == object or str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].map(_plain)
    pdf = canon(pdf)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


class Oracle:
    """DuckDB over the same parquet the Spark side reads."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        with open(FINGERPRINTS) as f:
            self.fingerprints = json.load(f)

    def query(self, sql: str):
        return self.con.execute(sql).fetchall()

    def check(self, name: str, sf: float, got: pd.DataFrame) -> None:
        """Raise CheckFailed unless `got` is the op's correct output."""
        if name not in ORACLES:
            want = self.fingerprints.get(f"{name}@sf{sf}")
            have = {"rows": len(got), "digest": digest(got)}
            if want != have:
                raise CheckFailed(f"{name}: fingerprint {have} != {want}")
            return
        s, o = canon(got), canon(self.con.execute(ORACLES[name]).df())
        if list(s.columns) != list(o.columns) or len(s) != len(o):
            raise CheckFailed(
                f"{name}: shape {list(s.columns)}x{len(s)} != "
                f"{list(o.columns)}x{len(o)}")
        for c in s.columns:
            if len(s) and dtype_kind(s[c].dtype) != dtype_kind(o[c].dtype):
                raise CheckFailed(f"{name}: dtype of {c}")
            for i, (x, y) in enumerate(zip(s[c].tolist(), o[c].tolist())):
                if not values_equal(x, y):
                    raise CheckFailed(f"{name}: {c}[{i}] {x!r} != {y!r}")


# ---------------------------------------------------------------------------
# etl_pipeline
# ---------------------------------------------------------------------------


def _split(col: str, seed: int) -> str:
    """Seeded 20% day-1 split that Spark and DuckDB evaluate identically."""
    return f"(({col} * 2654435761 + {seed % 1000 * 7919}) % 1000) < 200"


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for fn in sorted(files):
            h.update(os.path.relpath(os.path.join(d, fn), path).encode())
            with open(os.path.join(d, fn), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class EtlPipeline:
    """The ETL DAG as independent branches of named steps.

    Each branch is a list of (step name, callable); a pass runs every
    branch (branch order permuted by the seed) through a fresh RS_RERUN
    `Pipeline`, then restarts the pipeline under RS_SKIP."""

    def __init__(self, spark, sf_dir: str, workdir: str, seed: int,
                 tap_cls=Tap, on_execute=lambda: None, write_hook=None):
        self.spark, self.sf_dir, self.workdir, self.seed = spark, sf_dir, workdir, seed
        self.tap_cls = tap_cls  # a Tap subclass that times read/write when tracing
        self.on_execute = on_execute  # called where a step's compose ends
        self.write_hook = write_hook or (lambda f, *a, **k: f(*a, **k))
        self.pipe: Pipeline | None = None
        self.stats: dict = {}

    def tap(self, name: str) -> Tap:
        return self.tap_cls([os.path.join(self.workdir, name)], "parquet")

    def source(self, table: str) -> Tap:
        return self.tap_cls([f"{self.sf_dir}/{table}.parquet"], "parquet")

    # --- steps -----------------------------------------------------------
    def _connect(self, name, fn, inputs):
        def transform(*dfs):
            df = fn(*dfs)
            self.on_execute()
            return df

        return self.pipe.connect(name, transform, inputs, self.tap(name))

    def branches(self) -> list[list[tuple[str, callable]]]:
        day1 = F.expr(_split("doc_id", self.seed))
        odd = F.expr(_split("o_orderkey", self.seed))
        docs = self.source("documents")

        def partial(frame):
            return frame.groupBy(
                F.date_trunc("month", "o_orderdate").alias("month")
            ).agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"))

        def rollup(o):
            return incremental_rollup(
                partial(o.filter(~odd)), partial(o.filter(odd)), ["month"],
                [F.sum("n_orders").alias("n_orders"),
                 F.sum("revenue").alias("revenue")])

        def sigs(d):
            return minhash_signature(d.filter(~day1)).select(
                F.col("doc_id").alias("_id"), "sig")

        def append():
            kept = self.tap("dedup").read(self.spark)
            new = minhash_signature(kept).select(F.col("doc_id").alias("_id"), "sig")
            self.on_execute()
            self.tap("sigstore").write(new, mode="append")

        def fanout():
            li = self.source("lineitem").read(self.spark)
            out = os.path.join(self.workdir, "fanout")
            self.on_execute()
            stats = self.write_hook(fan_out_write, li, out, "l_returnflag")
            self.stats["fanout"] = {r["route"]: r["rows"] for r in stats.collect()}

        def registry(name):
            return lambda spark: QUERIES[name](spark, self.sf_dir)

        return [
            [("scrub", lambda: self._connect(
                "scrub", lambda d: d.select(
                    "doc_id", redact_pii(fix_text(F.col("text"))).alias("text")),
                [docs])),
             ("wordcount", lambda: self._connect(
                 "wordcount", word_count, [self.tap("scrub")])),
             ("truncate", lambda: self._connect(
                 "truncate", lambda d: d.select(
                     F.col("word").substr(1, 5).alias("prefix"), "cnt"),
                 [self.tap("wordcount")])),
             ("totals", lambda: self._connect(
                 "totals", lambda d: d.groupBy("prefix").agg(
                     F.sum("cnt").alias("total")), [self.tap("truncate")]))],
            [("fanout", fanout)],
            [("sigstore", lambda: self._connect("sigstore", sigs, [docs])),
             ("dedup", lambda: self._connect(
                 "dedup", lambda d, s: minhash_dedup_incremental(d.filter(day1), s),
                 [docs, self.tap("sigstore")])),
             ("append", append)],
            [("rollup", lambda: self._connect("rollup", rollup, [self.source("orders")]))],
            [(n.split("_")[0], (lambda n=n: self._connect(n.split("_")[0], registry(n), [])))
             for n in ETL_QUERIES],
        ]

    def order(self, rng: random.Random) -> list[tuple[str, callable]]:
        branches = self.branches()
        rng.shuffle(branches)
        return [step for branch in branches for step in branch]

    def start(self, rerun: str = RS_RERUN) -> None:
        self.pipe = Pipeline(self.spark, rerun=rerun, workdir=self.workdir)

    def restart(self) -> list:
        """Re-declare every pipeline step under RS_SKIP; returns pipe.steps."""
        self.start(RS_SKIP)
        for branch in self.branches():
            for name, fn in branch:
                if name not in ("fanout", "append"):
                    fn()
        return self.pipe.steps

    # --- checks ----------------------------------------------------------
    def output_digests(self) -> dict[str, str]:
        return {n: _tree_digest(os.path.join(self.workdir, n))
                for n in sorted(os.listdir(self.workdir))}

    def check(self, oracle: Oracle, name: str) -> None:
        """Invariants of step `name`, computed by DuckDB."""
        q = oracle.query
        out = lambda n: f"read_parquet('{self.workdir}/{n}/*.parquet')"
        toks = ("(SELECT unnest(list_filter(string_split_regex(text, '\\s+'), "
                "x -> x <> '')) AS w FROM documents)")
        if name == "scrub":
            want = q("SELECT count(*), sum(length(text)) FROM documents")
            got = q(f"SELECT count(*), sum(length(text)) FROM {out('scrub')}")
        elif name in ("wordcount", "truncate"):
            want = q(f"SELECT count(DISTINCT w), count(*) FROM {toks}")
            got = q(f"SELECT count(*), sum(cnt) FROM {out(name)}")
        elif name == "totals":
            want = q(f"SELECT count(DISTINCT substr(w, 1, 5)), count(*) FROM {toks}")
            got = q(f"SELECT count(*), sum(total) FROM {out('totals')}")
        elif name == "fanout":
            want = dict(q("SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1"))
            got = self.stats.get("fanout")
            routes = sorted(os.listdir(os.path.join(self.workdir, "fanout")))
            if sorted(f"_route={r}" for r in want) != [r for r in routes if r.startswith("_route=")]:
                raise CheckFailed(f"fanout: partitions {routes}")
        elif name == "sigstore":
            want = q(f"SELECT count(*) FROM documents WHERE NOT {_split('doc_id', self.seed)}")
            got = q(f"SELECT count(*) FROM {out('sigstore')}")
        elif name == "dedup":
            # exact duplicates always collide in every band: at most one
            # copy of each day-1 text can survive, and none whose text
            # is already in the day-0 corpus
            d1 = _split("doc_id", self.seed)
            bound = q(f"""SELECT count(DISTINCT text) FROM documents WHERE {d1}
                AND text NOT IN (SELECT text FROM documents WHERE NOT {d1})""")[0][0]
            kept = q(f"SELECT count(*) FROM {out('dedup')}")[0][0]
            self.stats["n_kept"] = kept
            want, got = True, 0 < kept <= bound
        elif name == "append":
            n0 = q(f"SELECT count(*) FROM documents WHERE NOT {_split('doc_id', self.seed)}")[0][0]
            want = n0 + self.stats.get("n_kept", -1)
            got = q(f"SELECT count(*) FROM {out('sigstore')}")[0][0]
        elif name == "rollup":
            want = q("""SELECT strftime(o_orderdate, '%Y-%m') AS m, count(*),
                sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders
                GROUP BY 1 ORDER BY 1""")
            got = q(f"""SELECT strftime(month, '%Y-%m') AS m, n_orders, revenue
                FROM {out('rollup')} ORDER BY 1""")
        else:  # a registry query written through its step tap
            oracle.check(_FULL[name], ETL_SF, self.tap(name).read(self.spark).toPandas())
            return
        if want != got:
            raise CheckFailed(f"{name}: {got} != {want}")
