"""The metric names the benchmark prints are the ones BENCHMARK.json
declares: every end-to-end metric on every workload, and every per-layer
metric in a traced run (the harness refuses to print any other set)."""

from perfbench import grid, harness, sweep


def test_workloads_match():
    assert harness.declared()["workloads"] == list(harness.WORKLOADS)


def test_end_to_end_names():
    assert set(harness.declared()["end_to_end"]) == set(harness.END_TO_END)


def test_per_layer_names():
    layers = harness.COMMON_LAYERS + grid.LAYERS + sweep.LAYERS
    assert len(layers) == len(set(layers))
    assert set(harness.declared()["per_layer"]) == set(layers)


def test_per_layer_units_are_not_times_unless_always_measured():
    """A workload prints 0 for a layer it never calls; only metrics that
    every workload measures may be times."""
    units = harness.declared()["per_layer"]
    times = {n for n, u in units.items() if u in ("s", "ms")}
    assert times <= set(harness.COMMON_LAYERS)
