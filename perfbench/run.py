"""Run one benchmark workload and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload {olap_mix,graph_fixpoint,email_ingest}
                             --seed N --seconds S --trace {0,1}

Inputs are generated from ``--seed`` into ``.perfbench_work/`` (removed at
exit). ``--seconds`` fixes the number of measured passes (about that many
seconds of work on a 4-core host), which does not depend on their speed.
Every result is checked; a failed op or check makes the run exit 1.

Standard output ends with two JSON lines. The first is a report: core
facts (``cpus``, ``master``, ``defaultParallelism``), input sizes, every
end-to-end metric with unit and sample count, and, with ``--trace 1``, the
per-layer self-time table. The last line is the result::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with every ``end_to_end`` metric of ``BENCHMARK.json`` (``--trace 0``) or
every ``per_layer`` one (``--trace 1``). A traced run also writes its spans
to ``.perfbench_out/trace-<workload>-seed<N>.json``.

``--scale tiny`` and ``--corrupt-expected`` exist for ``selfcheck.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

#: Set-up (``setup_s``) is timed from here.
T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_FILES = ("hierarchical_graph_db_spark/session.py",
                "tools/gen_fixtures.py", "tools/result_digest.py")


def _configure_env(work: str) -> None:
    """Spark runs local[<cores>] with its scratch space inside ``work``.
    Engine env overrides are cleared so every run measures the defaults."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in (
                "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS"):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # One JVM stands in for driver and executors; keep its heap small
        # on a shared host.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Both JVMs (the launcher and Spark's) keep their temp files in
        # ``work``; -UsePerfData stops the per-process file in /tmp.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={local}",
            "pyspark-shell"]),
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("olap_mix", "graph_fixpoint", "email_ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="replace every expected digest with a wrong one "
                         "(proves the correctness gate trips)")
    args = ap.parse_args(argv)

    missing = [p for p in ENGINE_FILES
               if not os.path.isfile(os.path.join(ROOT, p))]
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if missing or not os.path.isfile(spec_path):
        print(f"perfbench: not a repository checkout; missing "
              f"{missing or ['BENCHMARK.json']}", file=sys.stderr)
        return 2
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    _configure_env(work)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from perfbench import workloads as W

    run = W.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                work, W.FULL if args.scale == "full" else W.TINY, T_START,
                corrupt_expected=args.corrupt_expected)
    try:
        peak = W.execute(run)
        e2e = W.end_to_end(run, peak)
        report = {"workload": args.workload, "seed": args.seed,
                  **run.info, "setup": run.setup,
                  "pass_walls_s": run.pass_walls, "op_walls_s": run.op_walls,
                  "metrics": W.report(run, e2e), "failures": run.failures}
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            layers, self_table = W.per_layer(run, names)
            report["self_s_per_pass"] = self_table
            W.write_trace(run, os.path.join(
                ROOT, ".perfbench_out",
                f"trace-{args.workload}-seed{args.seed}.json"), self_table)
            metrics = {m["name"]: {"value": layers[m["name"]],
                                   "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {}
            for m in spec["end_to_end"]:
                value, unit = e2e[m["name"]]
                if unit != m["unit"]:
                    raise SystemExit(f"perfbench: {m['name']} unit {unit} "
                                     f"!= BENCHMARK.json {m['unit']}")
                metrics[m["name"]] = {"value": value, "unit": unit}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    ok = run.failed == 0
    print(json.dumps({"correct": ok, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
