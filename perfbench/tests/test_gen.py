"""Seeded generator: the same seed gives byte-identical files."""

import hashlib
import os

from perfbench import gen


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def _drop_all(d, seed):
    texts, _ = gen.nasa_chunks(seed, n_sites=4, n_chunks=3)
    for k, text in enumerate(texts):
        gen.drop_chunk(os.path.join(d, "drop"), k, text, 1_700_000_000 + k)
    return os.path.join(d, "drop")


def test_payload_files_byte_identical(tmp_path):
    a = _drop_all(tmp_path / "a", 5)
    b = _drop_all(tmp_path / "b", 5)
    c = _drop_all(tmp_path / "c", 6)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_truth_follows_revisions():
    _, maps = gen.nasa_chunks(5, n_sites=3, n_chunks=4)
    t = gen.GridTruth()
    for m in maps:
        t.add_chunk(m)
    site = gen.site_name(0)
    # four 7-day chunks, each starting one day early: days -1 .. 27
    assert t.bronze_hours(site) == list(range(-24, 28 * 24))
    # invalid values fall only on inner days a chunk sends first: the days
    # the forecast's lag probes read (21 and 27) are clean, some inner
    # hours are not, and no revision makes a valid hour invalid
    probed = [*range(21 * 24, 22 * 24), *range(27 * 24, 28 * 24)]
    assert all(t.valid(t.bronze[site][h]) for h in probed)
    for prev, cur in zip(maps, maps[1:]):
        for s, hours in cur.items():
            revised = hours.keys() & prev[s].keys()
            assert len(revised) == gen.OVERLAP_H
            assert all(t.valid(prev[s][h]) and t.valid(hours[h]) for h in revised)
    # Silver is the recompute of Bronze: an invalid hour is not in it
    assert t.n_silver() == sum(t.valid(v) for hs in t.bronze.values() for v in hs.values())
    assert t.n_silver() < t.n_bronze()
    assert all(t.valid(t.bronze[s][h]) for s in t.silver for h in t.silver_hours(s))
