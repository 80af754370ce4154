"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Runs from the root of a source checkout and imports the engine from there.
Everything it writes goes under ``.perfbench/`` in that checkout; the
per-run work directory is removed on exit. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``). Exits non-zero if any check
failed or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "pgspark_index")):
        print(f"no engine source (pgspark_index/) under {ROOT}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's scratch, the JVM's and Python's temp files, and the engine
    # import path of the executor workers all point into the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: no JVM (the launcher's included) writes /tmp/hsperfdata_*
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = jvm_opts
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    from workloads import Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        run.run()
    except Exception:  # noqa: BLE001 — report, then exit non-zero
        traceback.print_exc()
        return 1
    finally:
        run.stop()
        if run.tracer is not None:
            run.tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.json"),
                run.queries)
        shutil.rmtree(work, ignore_errors=True)

    source = run.layer if args.trace else run.e2e
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        value, unit = source[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit} != {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    correct = run.failed == 0
    for what in run.failures:
        print(f"FAILED: {what}")
    print(f"failed_ops_share={run.failed / max(1, run.attempted)} "
          f"({run.failed} of {run.attempted} operations failed or wrong)")
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
