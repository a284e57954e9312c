"""Benchmark entry point and launcher.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Every run does the same fixed work (see
workloads.py), sized to about 16 s of timed passes on a 4-core host;
``--seconds`` is recorded in the stamp. The launcher sets the run environment
itself (cwd, PYTHONPATH, SPARK_GRAFT_CPUS, SPARK_LOCAL_DIRS, a fresh
artifact cache, temp dirs under perfbench/.work) and records it in the
artifact's stamp. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` where ``metrics`` holds
every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
per-layer metric (``--trace 1``). The full artifact (stamp, per-call
samples, checks, spans) goes to perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_SCALE = "sf0.1"


def sf_dir(root: str) -> str:
    """SPARK_GRAFT_SF_DIR if set (the variable bench.py reads), else the
    sf0.1 directory TESTDATA.md declares for the read-only testdata."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(root, "TESTDATA.md")) as fh:
        m = re.search(rf"`([^`]*/{re.escape(DATA_SCALE)})/?`", fh.read())
    if not m:
        raise FileNotFoundError(f"TESTDATA.md names no {DATA_SCALE} directory")
    return m.group(1)


def launch(work: str, trace: bool) -> dict[str, str]:
    """Set the run environment before Spark starts; return it with paths
    relative to the checkout, for the stamp."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        # Python workers import the engine; without this they fail with
        # ModuleNotFoundError when the JVM starts them from another cwd.
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": local,
        # Artifacts are built inside this run and never read from an
        # earlier run's .bdm_cache.
        "SPARK_GRAFT_ARTIFACT_CACHE": "fresh",
        # Timed passes keep ~0.4 GB live; a traced run holds every memo
        # substrate at once (~1.1 GB) and needs a broadcast's worth of
        # room beside it.
        "SPARK_GRAFT_DRIVER_MEM": "3g" if trace else "1g",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    os.chdir(ROOT)  # queries resolve fixtures/ relative to the root
    rel = {k: v.replace(work, "perfbench/.work/<run>").replace(ROOT, ".") for k, v in env.items()}
    return {"cwd": ".", **rel}


def result_line(spec: dict, report: dict, trace: bool) -> dict:
    key = "per_layer" if trace else "end_to_end"
    values = report[key]
    metrics = {}
    for m in spec[key]:
        v = values.get(m["name"], 0.0 if trace else None)
        if v is None:
            raise ValueError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {
        "correct": not report["bad_queries"] and report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    # Import the benchmark as the ``perfbench`` package, never its files
    # as top-level modules.
    sys.path[:] = [ROOT] + [
        p for p in sys.path if os.path.abspath(p or ".") != HERE
    ]
    from perfbench.runner import Run
    from perfbench.stamp import make_stamp
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", str(os.getpid()))
    started = time.strftime("%Y%m%dT%H%M%S")
    try:
        env = launch(work, bool(args.trace))
        data = sf_dir(ROOT)
        run = Run(
            WORKLOADS[args.workload],
            seed=args.seed,
            trace=bool(args.trace),
            sf_dir=data,
            tmp_dir=os.path.join(work, "tmp"),
            warehouse_dir=os.path.join(work, "warehouse"),
        )
        report = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["stamp"] = make_stamp(
        ROOT,
        {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "passes": run.passes,
            "sf_dir": data,
        },
        env,
    )
    line = result_line(spec, report, bool(args.trace))
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{started}.json"
    with open(os.path.join(out, name), "w") as fh:
        json.dump({**report, "result": line}, fh, indent=1)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
