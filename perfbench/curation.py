"""The queries layer, timed in traced runs: the sf0.001 tables the test
suite reads (a byte-for-byte copy under ``tables/``, since a run may read
only its own checkout), a subset of the headline query keys (bench.HEADLINE)
in a seeded order, their outputs checked against DuckDB ``oracle_sql()``
answers or their ``ok`` column, and per-key time and Spark job counts."""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

import associationabacminer_spark.queries as Q
from associationabacminer_spark.sources.tables import TABLE_NAMES, load_tables
from tests.test_queries_oracle import normalize

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "sf0.001")
# The eager pre-action paths (component closure, bigram LM, fingerprint
# dedup) plus one ``ok``-column self-checking key.
KEYS = (
    "q39_dup_components",
    "q9e_bigram_xent",
    "q31_fingerprint_dedup",
    "s40_kll_quantiles",
)
JOB_KEYS = ("q39_dup_components", "q9e_bigram_xent")


class CurationBench:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = TABLES
        order = np.random.default_rng(ctx.seed).permutation(len(KEYS))
        self.keys = [KEYS[i] for i in order]

    def setup_inputs(self) -> None:
        with self.ctx.tracer.span("sources.load_tables"):
            t0 = time.perf_counter()
            for df in load_tables(self.spark, self.dir).values():
                df.count()
            self.load_tables_s = time.perf_counter() - t0
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        self.expected = {}
        for k in self.keys:
            if k in Q.ORACLES:
                tbl = con.execute(Q.ORACLES[k]).arrow()
                self.expected[k] = normalize(
                    [tuple(r.values()) for r in tbl.to_pylist()], tbl.column_names
                )
        con.close()

    def run_key(self, key: str) -> tuple[float, float] | None:
        """Build + collect one key and check its output; returns
        (construct seconds, collect seconds)."""
        ops = self.ctx.ops
        with self.ctx.tracer.span(f"queries.{key}"):
            df, construct = ops.call(f"{key}.construct", lambda: Q.QUERIES[key](self.spark, self.dir))
            if df is None:
                return None
            rows, collect = ops.call(f"{key}.collect", df.collect)
        if rows is None:
            return None
        if key in self.expected:
            got = normalize([tuple(r) for r in rows], df.columns)
            ops.check(f"{key}.oracle", got == self.expected[key], f"{len(got)} rows vs {len(self.expected[key])}")
        else:
            ops.check(f"{key}.ok", len(rows) > 0 and all(r["ok"] for r in rows))
        return construct, collect

    def layers(self, meter) -> dict[str, float]:
        """Set up, then time one pass key by key in the seeded order.  The
        session is warm from the sketch layers; the pass still pays each
        key's first planning and codegen."""
        self.setup_inputs()
        m: dict[str, float] = {"sources.load_tables_s": self.load_tables_s}
        construct = collect = 0.0
        jobs = 0
        meter.take()
        for k in self.keys:
            t = self.run_key(k)
            got = meter.take()
            if t is None:
                continue
            m[f"queries.{k}_s"] = sum(t)
            construct += t[0]
            collect += t[1]
            jobs += got["jobs"]
            if k in JOB_KEYS:
                m[f"queries.{k}_jobs"] = got["jobs"]
        m["queries.construct_s"] = construct
        m["queries.collect_s"] = collect
        m["queries.jobs"] = jobs
        return m
