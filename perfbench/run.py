"""LEFT JOIN ON TIMEOUT benchmark — one command, one workload per run.

    python3 perfbench/run.py --workload stream_backlog --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads and their traffic dimensions are
in ``perfbench/workloads.json``. With ``--trace 0`` the last line of
standard output is a JSON object with every end-to-end metric; with
``--trace 1`` it holds every per-layer metric instead, and the spans go
to ``.perfbench_work/out/spans-<workload>-<seed>.json``. Lines before it
are a readable report. A run whose output check fails prints
``"correct": false`` and exits 1; a run that cannot find the program
exits 2 without printing a result.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory (inputs, checkpoints, Spark and JVM scratch space).
Spark runs on all cores but one (at most 4); the report's first line
says how many.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# fixed, pre-touched driver heap: the JVM's resident size does not depend
# on when the collector chose to grow the heap, so peak_rss_mb repeats
# from run to run and moves with off-heap and Python use. The heap the
# program needs shows in heap_peak_mb, read from the GC log; the size
# leaves room for twice the largest heap a workload needs.
HEAP = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(root: str, work: str, cpus: int) -> None:
    """Keep Spark, the JVM and Python workers inside ``work`` and make
    the program importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYTHONWARNINGS"] = "ignore"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
        f'-Xms{HEAP} -XX:+AlwaysPreTouch -Xlog:gc:file={work}/gc.log" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "left_join_on_timeout_spark", "__init__.py")):
        print("perfbench: run from the repository root; the "
              "left_join_on_timeout_spark package is not here", file=sys.stderr)
        return 2
    sys.path.append(root)
    import workloads
    if args.workload not in workloads.SPEC["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.SPEC['workloads'])}", file=sys.stderr)
        return 2
    out_dir = os.path.join(root, ".perfbench_work", "out")
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    # one core stays free for the live load generator and this process
    cpus = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
    _environment(root, work, cpus)
    try:
        res = workloads.execute(args.workload, args.seed, args.seconds,
                                bool(args.trace), work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = res["result"]
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace} cores {cpus}")
    for note in res["notes"]:
        print("  " + note)
    for err in res["errors"]:
        print("  ERROR " + err)
    for name, m in result["metrics"].items():
        print(f"  {name:45s} {m['value']:>16.6g} {m['unit']}")
    line = json.dumps(result)
    with open(os.path.join(out_dir, f"result-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        f.write(line + "\n")
    print(line, flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
