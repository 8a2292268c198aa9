"""Engine benchmark: three seeded workloads driven through the package's
public functions (see ``perfbench/NOTES.md``; entry point ``run.py``)."""
