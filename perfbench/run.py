"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload grid_refresh --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs with spans and Spark's event log on and prints the
per-layer metrics. Run from the repository root; exits non-zero without a
result if the package is missing. See ``perfbench/NOTES.md``. Everything the run writes goes under
``.perfbench_runs/`` (deleted at exit) and ``.perfbench_out/`` (the span
dump of traced runs), both in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark"
DRIVER_MEM = "3g"


def _pin_environment(run_dir: str, trace: bool) -> None:
    """Everything the engine reads at import or JVM launch, set before
    either happens: core count, driver memory, per-run scratch dirs, the
    event log (through submit arguments, so ``session.py`` is untouched),
    and a PYTHONPATH that lets Python workers import the package from any
    cwd (pandas-UDF queries otherwise fail with ModuleNotFoundError)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [f"--driver-memory {DRIVER_MEM}"] + [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        _pin_environment(run_dir, bool(args.trace))
        os.chdir(run_dir)  # any stray relative write lands in the run dir
        sys.path.insert(0, ROOT)
        from perfbench import harness

        result = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
