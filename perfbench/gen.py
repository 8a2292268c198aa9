"""Seeded input generator for ``grid_refresh``. The same seed gives
byte-identical files.

``nasa_chunks`` makes NASA-POWER payload drops and the ground truth the
checks compare against; ``drop_chunk`` lands one of them.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np

BASE_DAY = dt.datetime(2024, 1, 1)
CHUNK_DAYS = 7  # one weekly fetch chunk
OVERLAP_H = 24  # each chunk re-sends (revises) the previous chunk's last day
BAD_FRAC = 0.03  # share of a chunk's inner first-sent hours that are null or out of range
PARAMS = ("ALLSKY_SFC_SW_DWN", "T2M", "WS10M")


def site_name(i: int) -> str:
    return f"site_{i:03d}"


@dataclass
class GridTruth:
    """Bronze and Silver as the generator knows them, per site: hour
    index → (ghi, t2m, ws), each a float or None.

    Bronze: later chunks overwrite earlier ones on their overlap (keyed,
    latest-ingest-wins). Silver is the recompute of Bronze: its valid
    hours, so an hour whose latest revision is invalid leaves Silver (the
    contract ``plans.silver.incremental_silver_refresh`` states)."""

    bronze: dict[str, dict[int, tuple]] = field(default_factory=dict)
    silver: dict[str, dict[int, tuple]] = field(default_factory=dict)
    payload_bytes: int = 0

    def add_chunk(self, chunk: dict[str, dict[int, tuple]]) -> None:
        for site, hours in chunk.items():
            b = self.bronze.setdefault(site, {})
            b.update(hours)
            self.silver[site] = {h: v for h, v in b.items() if self.valid(v)}

    @staticmethod
    def valid(v: tuple) -> bool:
        ghi, t2m, ws = v
        return (
            ghi is not None and t2m is not None and ws is not None
            and ghi >= 0 and -80 <= t2m <= 80 and ws >= 0
        )

    def bronze_hours(self, site: str) -> list[int]:
        return sorted(self.bronze.get(site, {}))

    def silver_hours(self, site: str) -> list[int]:
        return sorted(self.silver.get(site, {}))

    def n_bronze(self) -> int:
        return sum(len(h) for h in self.bronze.values())

    def n_silver(self) -> int:
        return sum(len(h) for h in self.silver.values())


def hour_ts(h: int) -> dt.datetime:
    return BASE_DAY + dt.timedelta(hours=h)


def _clean_values(rng: np.random.Generator, hours: np.ndarray) -> np.ndarray:
    hod = hours % 24
    ghi = np.maximum(0.0, 850.0 * np.sin(np.pi * (hod - 6) / 12.0)) * rng.uniform(0.6, 1.0, hours.size)
    ghi = np.where((hod < 6) | (hod > 18), 0.0, ghi)
    t2m = 12.0 + 8.0 * np.sin(2 * np.pi * (hod - 9) / 24.0) + rng.normal(0, 1.5, hours.size)
    ws = np.abs(rng.normal(5.0, 2.0, hours.size))
    return np.round(np.stack([ghi, t2m, ws], axis=1), 2)


def _payload(site_idx: int, hours: list[int], values: list[tuple]) -> str:
    """Shape A (``yyyymmddhh`` keys) for even sites, shape B (``yyyymmdd``
    → 24-value list, hour = index) for odd ones; chunks span whole days."""
    series: dict[str, dict] = {p: {} for p in PARAMS}
    if site_idx % 2 == 0:
        for h, v in zip(hours, values):
            key = hour_ts(h).strftime("%Y%m%d%H")
            for p, x in zip(PARAMS, v):
                series[p][key] = x
    else:
        for d0 in range(0, len(hours), 24):
            key = hour_ts(hours[d0]).strftime("%Y%m%d")
            for j, p in enumerate(PARAMS):
                series[p][key] = [v[j] for v in values[d0:d0 + 24]]
    return json.dumps({"properties": {"parameter": series}})


def nasa_chunks(seed: int, n_sites: int, n_chunks: int) -> tuple[list[str], list[dict]]:
    """Payload chunks as JSON-lines text, one line per site, plus each
    chunk's (site → hour → values) map. Chunk k covers days
    [7k − 1, 7k + 7): its first day revises chunk k − 1's last day (T2M
    nudged, still valid), and a few % of the hours of its five inner
    days carry a null or an out-of-range T2M. A revision never makes a
    valid hour invalid: ``stream_to_silver`` keeps such an hour in
    Silver (see NOTES.md, "Defects"). The newest day and the day a week
    before the horizon, which the forecast's lag probes read, are
    complete."""
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    maps: list[dict] = []
    prev: dict[str, dict[int, tuple]] = {}
    inner = range(OVERLAP_H + 24, (CHUNK_DAYS + 1) * 24 - 24)
    for k in range(n_chunks):
        first = (CHUNK_DAYS * k - 1) * 24
        hours = np.arange(first, first + (CHUNK_DAYS + 1) * 24)
        lines = []
        chunk: dict[str, dict[int, tuple]] = {}
        for i in range(n_sites):
            site = site_name(i)
            vals = [tuple(float(x) for x in row) for row in _clean_values(rng, hours)]
            for j in range(OVERLAP_H):
                h = int(hours[j])
                if h in prev.get(site, {}):
                    # a revision: nudge the value the previous chunk sent
                    g, t, w = prev[site][h]
                    vals[j] = (g, round(t + float(rng.normal(0, 0.3)), 2), w)
            for j in inner:
                if rng.random() < BAD_FRAC:
                    g, t, w = vals[j]
                    kind = int(rng.integers(0, 3))
                    vals[j] = (
                        (None, t, w) if kind == 0
                        else (g, None, w) if kind == 1
                        else (g, float(rng.choice([-85.0, 85.0])), w)
                    )
            chunk[site] = dict(zip((int(h) for h in hours), vals))
            lines.append(json.dumps({"site": site, "payload": _payload(i, hours.tolist(), vals)}))
        texts.append("\n".join(lines) + "\n")
        maps.append(chunk)
        prev = chunk
    return texts, maps


def drop_chunk(drop_dir: str, k: int, text: str, mtime: float) -> int:
    """Land chunk ``k`` atomically (write + rename, as a fetcher would)
    with an explicit mtime, so the file source orders chunks by k."""
    os.makedirs(drop_dir, exist_ok=True)
    final = os.path.join(drop_dir, f"chunk_{k:04d}.json")
    tmp = os.path.join(os.path.dirname(drop_dir.rstrip("/")), f".chunk_{k:04d}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, final)
    return len(text.encode())
