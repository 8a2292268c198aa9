"""``grid_refresh``: the Bronze → Silver → Gold → forecast refresh loop,
then the API reads that serve its result.

Set-up runs one unmeasured cycle on the first weekly chunk (the first
cycle of a session runs measurably slower) and drains the second, so
the merges into existing partitions have run once. Each measured cycle lands
one more chunk and runs ``read_payload_stream`` → ``stream_to_silver``
(availableNow) → ``mart_features`` → ``mart_kpis`` →
``model_leaderboard`` → ``champion_forecast``, writing every result, and
then one checked read through each ``plans.serving`` function. The cycle
time runs from the chunk landing until the reads return the new data.
One client, closed loop: the next chunk lands when the cycle ends.
"""

from __future__ import annotations

import os
import time

import duckdb

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import gold
from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming import (
    ingest_stream,
)

from . import gen
from .harness import Ctx, log, median
from .reads import OPS, Reads

SITES = 8
MIN_CYCLES = 2
MIN_CYCLES_TRACED = 3  # traced, untraced, traced: cycles alternate in traced runs
CHUNKS = 13  # chunks generated; measuring stops if they run out
VARS = 2  # pv, wind
HORIZON_H = 24
CHUNK_ROWS = SITES * (gen.CHUNK_DAYS * 24 + gen.OVERLAP_H)  # Bronze rows per chunk
# per-layer metrics (traced run); ``*_frac`` is a span self-time share of the cycle
LAYERS = (
    "streaming.ingest_stream.drain_frac", "streaming.ingest_stream.batch_frac",
    "streaming.ingest_stream.sink_frac", "streaming.ingest_stream.planning_frac",
    "streaming.ingest_stream.commit_frac", "streaming.ingest_stream.rows_per_s",
    "streaming.ingest_stream.jobs",
    "operators.upsert.bronze_frac", "operators.upsert.bytes_written_per_input_byte",
    "operators.upsert.partitions_rewritten", "operators.upsert.files_per_partition",
    "plans.silver.clean_frac", "plans.silver.keep_frac", "plans.silver.stale_rows",
    "plans.gold.features_frac", "plans.gold.kpis_frac", "plans.gold.leaderboard_frac",
    "plans.gold.champion_frac", "plans.gold.champion.jobs",
    *(f"plans.serving.{op}.frac" for op in OPS),
    "plans.serving.jobs_per_read", "plans.serving.tasks_per_read",
    "bench.cycle_self_frac", "bench.stored_bytes_per_input_byte",
)


def _parquet_files(root: str) -> dict[str, tuple[int, int]]:
    """relative path → (bytes, mtime_ns) of every data file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(d, n))
                out[os.path.relpath(os.path.join(d, n), root)] = (st.st_size, st.st_mtime_ns)
    return out


class Medallion:
    """The payload drop, Bronze and Silver tables of one run, fed by the
    package's streaming ingest; the generator's truth follows every
    landed chunk."""

    def __init__(self, ctx: Ctx, n_sites: int, n_chunks: int):
        self.ctx = ctx
        self.n_sites = n_sites
        self.drop = ctx.path("drop")
        self.bronze = ctx.path("bronze")
        self.silver = ctx.path("silver")
        self.ckpt = ctx.path("ckpt")
        self.texts, self.maps = gen.nasa_chunks(ctx.seed, n_sites, n_chunks)
        self.truth = gen.GridTruth()
        self.landed = 0
        self.sink_parent = None  # drain span the sink's spans hang under
        self.stale_rows = 0
        self.keep_frac = 0.0

    def land(self) -> None:
        k = self.landed
        # explicit, increasing mtimes: the file source orders by them
        self.truth.payload_bytes += gen.drop_chunk(
            self.drop, k, self.texts[k], time.time() - 3600 + k
        )
        self.truth.add_chunk(self.maps[k])
        self.landed += 1

    def drain(self):
        q = ingest_stream.stream_to_silver(
            ingest_stream.read_payload_stream(self.ctx.spark, self.drop),
            self.bronze, self.silver, self.ckpt,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q

    def trace_sink(self) -> None:
        """Wrap the sink's two merges in spans: the Bronze merge is
        ``operators.upsert``; the Silver merge runs the ``plans.silver``
        clean chain. They run on the stream thread, so their jobs map to
        them by time, under the drain span."""
        inner = ingest_stream.merge_upsert
        tracer = self.ctx.tracer

        def traced(spark, target_path, *args, **kwargs):
            parent = self.sink_parent
            if parent is None:
                return inner(spark, target_path, *args, **kwargs)
            name = "operators.upsert.bronze_merge" if target_path == self.bronze else "plans.silver.clean_merge"
            with tracer.span(name, tag=False, parent=parent):
                return inner(spark, target_path, *args, **kwargs)

        ingest_stream.merge_upsert = traced

    def duck(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for name, root in (("bronze", self.bronze), ("silver", self.silver)):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                f"'{root}/site=*/*.parquet', hive_partitioning=true)"
            )
        return con

    def check_tables(self) -> None:
        """Row-flow identities, and Silver row by row against a DuckDB
        recompute over the Bronze parquet (the valid latest row of each
        hour); Bronze against the generator's truth. Every recompute row
        missing from Silver and every Silver row the recompute lacks is a
        failed check. The streaming Silver merge never deletes, so an
        hour whose latest revision is invalid keeps its earlier valid
        row; those rows fail here and are counted as ``stale``."""
        rec, t = self.ctx.record, self.truth
        con = self.duck()
        try:
            n_b, n_keys = con.execute(
                "SELECT count(*), count(DISTINCT (site, ts_utc)) FROM bronze").fetchone()
            n_s = con.execute("SELECT count(*) FROM silver").fetchone()[0]
            valid = "ghi_wm2 >= 0 AND t2m_c BETWEEN -80 AND 80 AND ws10_mps >= 0"
            drops = con.execute(f"SELECT count(*) FROM bronze WHERE NOT coalesce({valid}, false)").fetchone()[0]
            n_expect, missing, stale = con.execute(f"""
                WITH expect AS (
                  SELECT site, date_trunc('hour', ts_utc) AS ts_utc, ghi_wm2,
                         t2m_c AS temp_c, ws10_mps AS wind_mps
                  FROM bronze WHERE {valid}
                  QUALIFY row_number() OVER (PARTITION BY site, date_trunc('hour', ts_utc)
                                             ORDER BY ingested_at DESC, ts_utc DESC) = 1),
                actual AS (SELECT site, ts_utc, ghi_wm2, temp_c, wind_mps FROM silver)
                SELECT (SELECT count(*) FROM expect),
                       (SELECT count(*) FROM (SELECT * FROM expect EXCEPT ALL SELECT * FROM actual)),
                       (SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL SELECT * FROM expect))
            """).fetchone()
            self.stale_rows = stale
            self.keep_frac = (n_s - stale) / n_b
            rec(n_b == n_keys, f"bronze keys not unique: {n_b} rows, {n_keys} keys")
            rec(n_b == t.n_bronze(), f"bronze rows {n_b} != generated {t.n_bronze()}")
            rec(n_s + drops == n_b, f"silver {n_s} + drops {drops} != bronze {n_b}")
            self.ctx.record_rows(n_expect + stale, missing + stale,
                                 f"silver vs recompute: {missing} rows missing, {stale} stale")
        finally:
            con.close()

    def stored_bytes(self) -> int:
        return sum(size for root in (self.bronze, self.silver)
                   for size, _ in _parquet_files(root).values())


class GridRefresh:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.m = Medallion(ctx, SITES, CHUNKS)
        self.reads = Reads(self.m, ctx.seed)
        self.gold = ctx.path("gold")
        self.cycle_ms: list[float] = []
        self.untraced_ms: list[float] = []
        self.traced: list[dict] = []

    def setup(self) -> float:
        if self.ctx.trace:
            self.m.trace_sink()
        cold_s = self._cycle(self.ctx.null)["ms"] / 1000
        # the first chunk merges into empty tables: drain one more, so the
        # merge into existing partitions runs before the clock does
        t0 = time.perf_counter()
        self.m.land()
        self.m.drain()
        return cold_s + time.perf_counter() - t0

    def _write(self, df, name: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(self.gold, name))

    def _cycle(self, tracer) -> dict:
        m = self.m
        stats: dict = {}
        t0 = time.perf_counter()
        with tracer.span("bench.cycle") as root:
            with tracer.span("bench.land"):
                m.land()
            before = (_parquet_files(m.bronze), _parquet_files(m.silver)) if tracer.enabled else None
            with tracer.span("streaming.ingest_stream.drain") as drain:
                m.sink_parent = drain
                try:
                    q = m.drain()
                finally:
                    m.sink_parent = None
            if tracer.enabled:
                stats = self._drain_stats(q, before)
            self._gold_and_reads(tracer)
        stats["ms"] = (time.perf_counter() - t0) * 1000
        if root is not None:
            stats.update(root=root, drain=drain)
        return stats

    def _gold_and_reads(self, tracer) -> None:
        spark = self.ctx.spark
        with tracer.span("plans.gold.features"):
            self._write(gold.mart_features(spark.read.parquet(self.m.silver)), "features")
        feats = spark.read.parquet(os.path.join(self.gold, "features"))
        with tracer.span("plans.gold.kpis"):
            self._write(gold.mart_kpis(feats), "kpis")
        with tracer.span("plans.gold.leaderboard"):
            self._write(gold.model_leaderboard(feats, n_folds=4, horizon_h=HORIZON_H), "leaderboard")
        with tracer.span("plans.gold.champion"):
            self._write(gold.champion_forecast(feats, n_folds=4, horizon_h=HORIZON_H), "forecast")
        for op in OPS:
            req = self.reads.request(op)
            with tracer.span(f"plans.serving.{op}"):
                got = self.reads.read(*req)
            self.ctx.record(got == self.reads.expected(*req), f"read {req} after chunk {self.m.landed - 1}")

    def _drain_stats(self, q, before) -> dict:
        """Per-batch progress of the drain and what the merges rewrote,
        from directory listings before and after it."""
        dur: dict[str, int] = {}
        for p in q.recentProgress:
            for k, v in p.durationMs.items():
                dur[k] = dur.get(k, 0) + v
        after = (_parquet_files(self.m.bronze), _parquet_files(self.m.silver))
        written, parts, files, n_parts = 0, set(), 0, 0
        for table, (b, a) in enumerate(zip(before, after)):
            for rel, meta in a.items():
                if b.get(rel) != meta:
                    written += meta[0]
                    parts.add((table, os.path.dirname(rel)))
            dirs = {os.path.dirname(rel) for rel in a}
            files += len(a)
            n_parts += len(dirs)
        return {
            "progress": dur,
            "written": written,
            "partitions_rewritten": len(parts),
            "files_per_partition": files / max(1, n_parts),
            "input_bytes": len(self.m.texts[self.m.landed - 1].encode()),
        }

    def measure(self) -> None:
        t0 = time.perf_counter()
        i = 0
        least = MIN_CYCLES_TRACED if self.ctx.trace else MIN_CYCLES
        while i < least or time.perf_counter() - t0 < self.ctx.seconds:
            if self.m.landed >= len(self.m.texts):
                break
            tracer = self.ctx.tracer_for(i)
            try:
                stats = self._cycle(tracer)
            except Exception as e:  # a failed cycle is a failed operation
                self.ctx.record(False, f"refresh cycle {i}: {e!r}")
                break
            self.ctx.record(True)
            (self.traced if tracer.enabled else self.untraced_ms).append(
                stats if tracer.enabled else stats["ms"])
            self.cycle_ms.append(stats["ms"])
            i += 1
        log(f"grid_refresh: {i} cycles, ms={[round(x) for x in self.cycle_ms]}")

    def check(self) -> None:
        self.m.check_tables()
        n = self.ctx.spark.read.parquet(os.path.join(self.gold, "forecast")).count()
        want = SITES * VARS * HORIZON_H
        self.ctx.record(n == want, f"forecast rows {n} != sites*vars*24 = {want}")

    def end_to_end(self) -> dict:
        return {"op_ms_p50": median(self.cycle_ms)}

    def traced_vs_untraced_ms(self):
        return [s["ms"] for s in self.traced], self.untraced_ms

    def layers(self, totals, selfs) -> dict:
        kids: dict[int, list] = {}
        for s in self.ctx.tracer.spans:
            kids.setdefault(s.parent, []).append(s)

        def frac(c: dict, name: str) -> float:
            """Self time of the cycle's spans named ``name`` ÷ cycle time."""
            return sum(selfs[s.id] for s in _subtree(c["root"], kids) if s.name == name) / (c["ms"] / 1000)

        def count(root, prefix: str, field: str = "jobs") -> int:
            """Event-log ``field`` summed over ``root``'s spans named ``prefix``…"""
            return sum(getattr(totals[s.id], field) for s in _subtree(root, kids)
                       if s.name.startswith(prefix) and s.id in totals)

        def med(f) -> float:
            return median([f(c) for c in self.traced])

        out = {
            "streaming.ingest_stream.drain_frac": med(lambda c: frac(c, "streaming.ingest_stream.drain")),
            "streaming.ingest_stream.batch_frac": med(lambda c: c["progress"].get("triggerExecution", 0) / c["ms"]),
            "streaming.ingest_stream.sink_frac": med(lambda c: c["progress"].get("addBatch", 0) / c["ms"]),
            "streaming.ingest_stream.planning_frac": med(lambda c: c["progress"].get("queryPlanning", 0) / c["ms"]),
            "streaming.ingest_stream.commit_frac": med(
                lambda c: (c["progress"].get("walCommit", 0) + c["progress"].get("commit", 0)) / c["ms"]),
            "streaming.ingest_stream.rows_per_s": med(
                lambda c: CHUNK_ROWS / (c["drain"].end - c["drain"].start)),
            "streaming.ingest_stream.jobs": med(lambda c: count(c["drain"], "")),
            "operators.upsert.bronze_frac": med(lambda c: frac(c, "operators.upsert.bronze_merge")),
            "operators.upsert.bytes_written_per_input_byte": med(lambda c: c["written"] / c["input_bytes"]),
            "operators.upsert.partitions_rewritten": med(lambda c: c["partitions_rewritten"]),
            "operators.upsert.files_per_partition": med(lambda c: c["files_per_partition"]),
            "plans.silver.clean_frac": med(lambda c: frac(c, "plans.silver.clean_merge")),
            "plans.silver.keep_frac": self.m.keep_frac,
            "plans.silver.stale_rows": self.m.stale_rows,
            "plans.gold.features_frac": med(lambda c: frac(c, "plans.gold.features")),
            "plans.gold.kpis_frac": med(lambda c: frac(c, "plans.gold.kpis")),
            "plans.gold.leaderboard_frac": med(lambda c: frac(c, "plans.gold.leaderboard")),
            "plans.gold.champion_frac": med(lambda c: frac(c, "plans.gold.champion")),
            "plans.gold.champion.jobs": med(lambda c: count(c["root"], "plans.gold.champion")),
            **{f"plans.serving.{op}.frac": med(lambda c, op=op: frac(c, f"plans.serving.{op}")) for op in OPS},
            "plans.serving.jobs_per_read": med(lambda c: count(c["root"], "plans.serving.") / len(OPS)),
            "plans.serving.tasks_per_read": med(lambda c: count(c["root"], "plans.serving.", "tasks") / len(OPS)),
            "bench.cycle_self_frac": med(lambda c: frac(c, "bench.cycle") + frac(c, "bench.land")),
            "bench.stored_bytes_per_input_byte": self.m.stored_bytes() / self.m.truth.payload_bytes,
        }
        return out


def _subtree(root, kids: dict) -> list:
    """``root`` and every span below it."""
    out, todo = [root], [root]
    while todo:
        for k in kids.get(todo.pop().id, []):
            out.append(k)
            todo.append(k)
    return out
