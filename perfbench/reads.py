"""Checked reads through ``plans.serving``, the FastAPI-shaped read path.

Each read opens the tables afresh (a server sees new data), calls one
serving function, collects the result and compares it with the
generator's truth. The site (Zipf over a seeded site order) and the
``hours`` window come from the seed.
"""

from __future__ import annotations

import numpy as np

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans import serving

from . import gen

OPS = ("sites", "site_exists", "hourly_rows", "raw_rows", "weather_summary", "metrics")
HOURS = (24, 168, 336)
MISSING_SITE = "site_missing"


class Reads:
    def __init__(self, m, seed: int):
        self.m = m
        self.rng = np.random.default_rng([seed, 3])
        n = m.n_sites
        self.sites = [gen.site_name(i) for i in self.rng.permutation(n)]
        zipf = 1.0 / np.arange(1, n + 1) ** 1.1
        self.p = zipf / zipf.sum()

    def request(self, op: str) -> tuple[str, str, int]:
        site = self.sites[int(self.rng.choice(len(self.sites), p=self.p))]
        if op == "site_exists" and self.rng.random() < 0.2:
            site = MISSING_SITE
        return op, site, int(self.rng.choice(HOURS))

    def read(self, op: str, site: str, hours: int):
        spark = self.m.ctx.spark
        silver = spark.read.parquet(self.m.silver)
        if op == "sites":
            return [r.site for r in serving.sites(silver).collect()]
        if op == "site_exists":
            return serving.site_exists(silver, site)
        if op == "hourly_rows":
            return [r.ts_utc for r in serving.hourly_rows(silver, site, hours).collect()]
        bronze = spark.read.parquet(self.m.bronze)
        if op == "raw_rows":
            return [r.ts_utc for r in serving.raw_rows(bronze, site, hours).collect()]
        if op == "weather_summary":
            return tuple(serving.weather_summary(silver, site).first())
        r = serving.metrics(bronze, silver, site).first()
        return r.raw_rows, r.kept_rows

    def expected(self, op: str, site: str, hours: int):
        t = self.m.truth
        if op == "sites":
            return sorted(t.silver)
        if op == "site_exists":
            return site in t.silver
        if op in ("hourly_rows", "raw_rows"):
            hs = t.silver_hours(site) if op == "hourly_rows" else t.bronze_hours(site)
            return [gen.hour_ts(h) for h in hs[-hours:]]
        hs = t.silver_hours(site)
        if op == "weather_summary":
            return (len(hs), gen.hour_ts(hs[0]), gen.hour_ts(hs[-1]))
        return len(t.bronze_hours(site)), len(hs)
