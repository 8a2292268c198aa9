"""``analytics_sweep``: warm passes over 14 registered queries.

The fixtures are the repo's fixed sf0.01 testdata (the scale its
DuckDB oracle gate certifies at), checked in under
``perfbench/fixtures/sf0.01`` and read in place. Set-up runs one cold
pass that checks every query once against its ``oracle_sql()`` DuckDB
twin (``forecast_sarimax``, which has none, gets a row-count check).
Measured passes build each query and sink it to ``noop``. The run's
seed permutes the query order. One client, one query at a time.
"""

from __future__ import annotations

import math
import os
import time

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry

from .harness import Ctx, log, median

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# (layer module, registered query); the family sets which sweep it counts in
QUERIES = (
    ("operators.dedup", "doc_winnow_pairs"),
    ("operators.dedup", "doc_scrubbed_spans"),
    ("operators.dedup", "doc_containment_pairs"),
    ("operators.dedup", "minhash_lsh_pairs"),
    ("operators.dedup", "dedup_corpus_best"),
    ("operators.similarity", "ann_topk"),
    ("functions.text", "doc_search_prf_indexed"),
    ("plans.warehouse", "revenue_rollup"),
    ("plans.warehouse", "pricing_summary"),
    ("plans.warehouse", "nation_market_share"),
    ("plans.analytics", "hourly_type_pivot"),
    ("operators.upsert", "upsert_merge"),
    ("plans.forecast", "forecast_sarimax"),
    ("plans.gold", "forecast_champion_forward"),
)
LAYER_FIELDS = ("build_frac", "action_frac", "jobs", "critical_path_frac", "shuffle_mb")
LAYERS = tuple(f"{m}.{q}.{f}" for m, q in QUERIES for f in LAYER_FIELDS)
# forecast_sarimax: event types (its pseudo-sites) × (pv, wind) × horizons (1, 24)
SARIMAX_ROWS = 5 * 2 * 2


def _frame(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted, timestamps at µs, rows in a canonical order (floats
    rounded for the sort only, so sub-tolerance jitter cannot reorder)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    key = df.copy()
    for c in key.columns:
        if key[c].dtype.kind == "f":
            key[c] = key[c].round(6)
        elif key[c].dtype == object:
            key[c] = key[c].map(repr)
    return df.loc[key.sort_values(list(key.columns), kind="mergesort").index].reset_index(drop=True)


def _same(a, b) -> bool:
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)) or (isinstance(b, float) and math.isnan(b)):
        return (a is None or a != a or a is pd.NaT) and (b is None or b != b or b is pd.NaT)
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        # the tolerance of the repo's own oracle gate (tests/test_entry_oracle.py)
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple, np.ndarray)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None if the frames hold the same rows (order-free, float-tolerant),
    else what differs."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} != {len(oracle_df)}"
    a, b = _frame(spark_df), _frame(oracle_df)
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not _same(x, y):
                return f"row {i} column {c}: {x!r} != {y!r}"
    return None


class AnalyticsSweep:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.data = FIXTURES
        self.queries = entry.queries()
        order = np.random.default_rng([ctx.seed, 6]).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in order]
        self.runs: list[dict] = []  # one per measured query execution
        self.pass_s: list[float] = []

    def _run(self, name: str, tracer, sink) -> dict:
        with tracer.span(f"query.{name}") as q:
            t0 = time.perf_counter()
            with tracer.span("build") as b:
                df = self.queries[name](self.ctx.spark, self.data)
            t1 = time.perf_counter()
            with tracer.span("action") as a:
                out = sink(df)
            t2 = time.perf_counter()
        return {"name": name, "build_s": t1 - t0, "action_s": t2 - t1, "out": out,
                "spans": (q, b, a), "traced": tracer.enabled}

    def setup(self) -> float:
        spark_s = 0.0
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for _, name in self.order:
                r = self._run(name, self.ctx.null, lambda df: df.toPandas())
                spark_s += r["build_s"] + r["action_s"]
                got = r["out"]
                if name in oracles:
                    err = compare(got, con.execute(oracles[name]).fetchdf())
                else:
                    err = None if len(got) == SARIMAX_ROWS else f"rows {len(got)} != {SARIMAX_ROWS}"
                self.ctx.record(err is None, f"{name}: {err}")
        finally:
            con.close()
        return spark_s

    def measure(self) -> None:
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        t0 = time.perf_counter()
        p = 0
        # traced runs trace alternate queries, swapping the set each pass
        while p < (2 if self.ctx.trace else 1) or time.perf_counter() - t0 < self.ctx.seconds:
            tp = time.perf_counter()
            for i, (_, name) in enumerate(self.order):
                try:
                    self.runs.append(self._run(name, self.ctx.tracer_for(i + p), noop))
                    self.ctx.record(True)
                except Exception as e:  # a query that raises is a failed operation
                    self.ctx.record(False, f"{name} raised {e!r}")
            self.pass_s.append(time.perf_counter() - tp)
            log("pass %d: %s" % (p, " ".join(
                f"{r['name']}={r['build_s']:.2f}+{r['action_s']:.2f}" for r in self.runs[-len(self.order):])))
            p += 1
        log(f"analytics_sweep: passes {[round(s, 2) for s in self.pass_s]}")

    def check(self) -> None:
        """Every query was checked once, against its oracle, in set-up."""

    def end_to_end(self) -> dict:
        """The operation is a pass: its time sums the 14 queries, so it is
        steadier than any one of them and weighs each by its cost."""
        return {"op_ms_p50": median(self.pass_s) * 1000}

    def _pass_ms(self, traced: bool) -> float:
        """A pass's time from each query's median traced (or untraced) run."""
        return sum(median([(r["build_s"] + r["action_s"]) * 1000 for r in self.runs
                           if r["name"] == name and r["traced"] == traced])
                   for _, name in QUERIES)

    def traced_vs_untraced_ms(self):
        return [self._pass_ms(True)], [self._pass_ms(False)]

    def layers(self, totals, selfs) -> dict:
        pass_s = median(self.pass_s)
        out = {}
        for module, name in QUERIES:
            runs = [r for r in self.runs if r["name"] == name]
            traced = [r for r in runs if r["traced"]]
            tot = [[totals[s.id] for s in r["spans"] if s.id in totals] for r in traced]
            action = median([r["action_s"] for r in runs])
            key = f"{module}.{name}"
            out[f"{key}.build_frac"] = median([r["build_s"] for r in runs]) / pass_s
            out[f"{key}.action_frac"] = action / pass_s
            out[f"{key}.jobs"] = median([sum(t.jobs for t in ts) for ts in tot])
            out[f"{key}.critical_path_frac"] = median(
                [sum(t.critical_path_ms for t in ts) / 1000 / (r["build_s"] + r["action_s"])
                 for ts, r in zip(tot, traced)])
            out[f"{key}.shuffle_mb"] = median(
                [sum(t.shuffle_write for t in ts) / 1e6 for ts in tot])
        return out
