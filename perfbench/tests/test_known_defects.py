"""Defects the benchmark's checks found in the program, reproduced at the
smallest size. Each test asserts the correct behaviour and is a strict
expected failure until the program is fixed: a fix makes it pass
unexpectedly, which fails the suite, so the marker is removed with the fix.
The benchmark's workloads avoid these inputs (see NOTES.md, "Defects")."""

import json
import os

import pytest

from perfbench import gen


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.session import get_spark

    return get_spark("perfbench-tests")


@pytest.mark.xfail(
    strict=True,
    reason="stream_to_silver merges Silver with a keyed upsert that never "
    "deletes, so an hour a revision makes invalid keeps its old row",
)
def test_stream_to_silver_drops_an_hour_a_revision_invalidates(spark, tmp_path):
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.plans.silver import (
        clean_to_hourly,
    )
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.streaming import (
        ingest_stream,
    )

    drop, bronze, silver = (str(tmp_path / d) for d in ("drop", "bronze", "silver"))
    hours = list(range(24))
    good = [(100.0, 10.0, 3.0)] * 24
    revised = good[:5] + [(100.0, 85.0, 3.0)] + good[6:]  # hour 5 now out of range
    for k, values in enumerate((good, revised)):
        text = json.dumps({"site": "site_000", "payload": gen._payload(0, hours, values)})
        gen.drop_chunk(drop, k, text + "\n", 1_700_000_000 + k)
        q = ingest_stream.stream_to_silver(
            ingest_stream.read_payload_stream(spark, drop), bronze, silver, str(tmp_path / "ckpt")
        )
        q.awaitTermination()
        assert q.exception() is None

    got = sorted(r.ts_utc for r in spark.read.parquet(silver).collect())
    want = sorted(r.ts_utc for r in clean_to_hourly(spark.read.parquet(bronze)).collect())
    assert len(want) == 23
    assert got == want
