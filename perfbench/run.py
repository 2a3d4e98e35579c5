"""Benchmark of the synteny database build and the query registry.

Usage:
    python3 perfbench/run.py --workload {build,iterative} --seed N \
        --seconds S --trace {0,1}

Closed loop, one client. Each Spark session lives in a fresh worker process
(``worker.py``) at ``local[<cores>]``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A fuller record of the run is written under
``perfbench/_work/runs/``; traced runs also write their spans and jobs under
``perfbench/_work/traces/``. See README.md for what each workload and
metric is for.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from inputs import ROOT, WORK, generate_build_inputs, sf_dir

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "syntenybrowserv2_etl_spark"

ITERATIVE = ["q14_transitive_closure", "q132_golden_records", "q85_pagerank"]
# (scale factor of the data it reads, queries) of each query workload.
MIXES = {"iterative": ("sf0.01", ITERATIVE)}
QUERIES = [q for _, mix in MIXES.values() for q in mix]
WORKLOADS = ["build", *MIXES]

# (name, unit, better, bound) of the end-to-end metrics, for every workload.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("op_geomean_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("out_mb", "MB", "lower", 0.05),
    ("ok_share", "ratio", "higher", 0.01),
]


class WorkerFailed(RuntimeError):
    pass


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spawn(spec: dict, run_dir: str) -> tuple[float, dict]:
    """Run one worker process; returns (set-up seconds, result).

    The worker's Spark local dirs, temporary files and log live in
    ``run_dir``, which belongs to this run alone.
    """
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    # Every JVM the worker starts (Spark's launcher and driver) keeps its
    # temporary files in the run's directory and writes no hsperfdata to
    # the system temporary directory.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    log = os.path.join(run_dir, f"worker-{spec['mode']}.log")
    ready = result = None
    t0 = time.perf_counter()
    # The worker leads its own process group, so an interrupted run can
    # stop it together with its JVM.
    with open(log, "w") as err, subprocess.Popen(
        [sys.executable, "-u", os.path.join(HERE, "worker.py"), json.dumps(spec)],
        stdout=subprocess.PIPE, stderr=err, text=True, cwd=run_dir, env=env,
        start_new_session=True,
    ) as proc:
        try:
            for line in proc.stdout:
                if line.startswith("PB READY"):
                    ready = time.perf_counter() - t0
                elif line.startswith("PB RESULT "):
                    result = json.loads(line[len("PB RESULT "):])
            rc = proc.wait()
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if rc != 0 or ready is None or result is None:
        with open(log) as f:
            tail = f.read()[-4000:]
        raise WorkerFailed(f"worker {spec['mode']} exited {rc}:\n{tail}")
    return ready, result


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def layers(worker_res: dict, queries: list[str], overhead: float, record: dict) -> dict:
    from spans import Job, Span, layer_metrics

    tr = worker_res["trace"]
    spans = [Span(**s) for s in tr["spans"]]
    jobs = [Job(**j) for j in tr["jobs"]]
    m, detail = layer_metrics(spans, jobs, cores(), queries)
    m["session.jvm_hwm_mb"] = worker_res["jvm_hwm_mb"]
    m["session.py_hwm_mb"] = worker_res["py_hwm_mb"]
    m["trace.overhead"] = overhead
    record["blocking"] = dict(detail, overhead=overhead)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    with open(os.path.join(WORK, "traces", f"{record['workload']}-seed{record['seed']}.json"), "w") as f:
        json.dump({"spans": tr["spans"], "jobs": tr["jobs"], "metrics": m,
                   "blocking": record["blocking"]}, f)
    return m


def run_build(args, run_dir: str, record: dict) -> tuple[dict, int, int]:
    from checks import check_build

    t0 = time.perf_counter()
    fields, n_lines, key = generate_build_inputs(args.seed, os.path.join(run_dir, "in"))
    record["inputs_s"] = time.perf_counter() - t0
    db = os.path.join(run_dir, "db")
    spec = {"mode": "build", "cpus": cores(), "inputs": fields, "out_dir": db,
            "trace": 0, "run": f"build-{args.seed}"}
    setup, res = spawn(spec, run_dir)
    record.update(input_lines=n_lines, counts=res["counts"])
    if args.trace:
        _, traced = spawn(dict(spec, trace=1), run_dir)
        res_for_check = traced
    else:
        res_for_check = res
    t0 = time.perf_counter()
    chk = check_build(db, res_for_check["counts"], fields["obo_paths"], key,
                      os.path.join(WORK, "build", "hashes"))
    record["check_s"] = time.perf_counter() - t0
    record["check"] = chk
    attempted, failed = 7, len(chk["failed_families"])
    if args.trace:
        record["untraced_wall_s"] = res["wall_s"]
        overhead = traced["wall_s"] / res["wall_s"]
        return layers(traced, QUERIES, overhead, record), attempted, failed
    ready = list(res["table_ready_s"].values())
    out_bytes = sum(os.path.getsize(p) for p in glob.glob(f"{db}/**/*.parquet", recursive=True))
    record["table_ready_s"] = res["table_ready_s"]
    return {
        "setup_s": setup,
        "wall_s": res["wall_s"],
        "op_geomean_s": geomean(ready),
        "op_p50_s": statistics.median(ready),
        "out_mb": out_bytes / 1e6,
        "ok_share": 1 - failed / attempted,
    }, attempted, failed


def run_queries(args, run_dir: str, record: dict) -> tuple[dict, int, int]:
    from checks import load_oracles

    sf, mix = MIXES[args.workload]
    data = sf_dir(sf)
    tables = sorted(f.removesuffix(".parquet") for f in os.listdir(data))
    spec = {"mode": "queries", "cpus": cores(), "tables": tables, "sf_dir": data,
            "queries": mix, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "run": f"{args.workload}-{args.seed}"}
    setup, res = spawn(spec, run_dir)
    oracles = load_oracles(sf)
    mismatched = [q for q in mix if res["hashes"].get(q) is None
                  or res["hashes"][q] != oracles.get(q)]
    passes = res["passes"]
    pass_errors = sum(1 for p in passes for q in mix if q not in p["ok"])
    attempted = len(mix) * (1 + len(passes))
    failed = len(mismatched) + pass_errors
    record.update(mismatched=mismatched, errors=res["errors"], check_s=res["check_s"],
                  pass_walls_s=[p["wall_s"] for p in passes])
    if args.trace:
        walls = statistics.median(p["wall_s"] for p in passes)
        overhead = res["traced_pass"]["wall_s"] / walls
        return layers(res, QUERIES, overhead, record), attempted, failed
    samples = [p["lat"][q] for p in passes for q in mix]
    per_query = {q: statistics.median(p["lat"][q] for p in passes) for q in mix}
    q75 = statistics.quantiles(samples, n=4)[2] if len(samples) > 1 else samples[0]
    record.update(query_median_s=per_query,
                  p75_s={"value": q75, "percentile": 75, "samples": len(samples)})
    return {
        "setup_s": setup,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "op_geomean_s": geomean(per_query.values()),
        "op_p50_s": statistics.median(samples),
        "out_mb": sum(res["out_bytes"].values()) / 1e6,
        "ok_share": 1 - failed / attempted,
    }, attempted, failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # SIGTERM unwinds like an exception, so workers are stopped and the
    # run's directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in (os.path.join(ROOT, PACKAGE), os.path.join(ROOT, "tools", "build_bench.py")):
        if not os.path.exists(need):
            print(f"perfbench: {need} not found; run from a full checkout", file=sys.stderr)
            return 2
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": cores()}
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    t0 = time.perf_counter()
    try:
        run = run_build if args.workload == "build" else run_queries
        metrics, attempted, failed = run(args, run_dir, record)
    except WorkerFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record["run_s"] = time.perf_counter() - t0
    if args.trace:
        from spans import per_layer_specs

        specs = [(n, u) for n, u, _ in per_layer_specs(QUERIES)]
    else:
        specs = [(n, u) for n, u, _, _ in END_TO_END]
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in specs},
    }
    record["result"] = out
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
