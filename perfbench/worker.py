"""One fresh benchmark process: set up a Spark session, then run one step.

``run.py`` starts it as ``python3 worker.py '<spec json>'`` and reads its
standard output. The worker prints ``PB READY`` once the session is created
and warm, and ``PB RESULT <json>`` at the end; every other line is noise
from Spark and is ignored. Steps (``spec["mode"]``):

- ``build``: one ``plans.pipeline.build_database`` call over generated inputs.
- ``queries``: an untimed check pass over the mix, timed passes forced
  through the noop sink, and with ``trace`` a pass with spans followed by
  one more pass without them, for the tracing-overhead ratio.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

PACKAGE = "syntenybrowserv2_etl_spark"

# Traced runs read every job of a pass back from the status store, so it
# must not evict them. Timed runs use the same settings.
EXTRA_CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}


def emit(tag: str, payload: dict | None = None) -> None:
    line = f"PB {tag}" + (f" {json.dumps(payload)}" if payload is not None else "")
    print(line, flush=True)


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def setup(spec: dict):
    from syntenybrowserv2_etl_spark import queries
    from syntenybrowserv2_etl_spark.session import get_spark

    spark = get_spark("perfbench", cpus=spec["cpus"], extra_conf=EXTRA_CONF)
    if spec.get("tables"):
        for name in spec["tables"]:
            queries.t(spark, spec["sf_dir"], name).count()
    else:
        spark.range(1).count()
    return spark


def traced(spark, run: str, body) -> dict:
    """Run ``body()`` under a root span with the layer wrappers installed."""
    from spans import Tracer, collect_jobs, last_job_id

    sc = spark.sparkContext
    tracer = Tracer(sc, run)
    after = last_job_id(sc)
    tracer.install(PACKAGE)
    try:
        body(tracer)
    finally:
        tracer.uninstall()
    jobs = collect_jobs(sc, after)
    return {"spans": tracer.dump(), "jobs": [j.__dict__ for j in jobs]}


def run_build(spark, spec: dict) -> dict:
    import shutil

    from syntenybrowserv2_etl_spark.plans import pipeline

    f = spec["inputs"]
    inputs = pipeline.PipelineInputs(
        species=[pipeline.SpeciesInputs(**s) for s in f["species"]],
        synteny_tsvs=f["synteny_tsvs"], homolog_tsvs=f["homolog_tsvs"],
        vcf_paths=f["vcf_paths"], obo_paths=f["obo_paths"],
        gaf_loads=[tuple(g) for g in f["gaf_loads"]],
    )
    out = spec["out_dir"]
    shutil.rmtree(out, ignore_errors=True)
    res: dict = {}

    def build(tracer=None):
        t0 = time.time()
        if tracer is None:
            res["counts"] = pipeline.build_database(spark, inputs, out)
        else:
            with tracer.span("build"):
                res["counts"] = pipeline.build_database(spark, inputs, out)
        res["wall_s"] = time.time() - t0
        # Each table's write commits a _SUCCESS marker; its mtime is when
        # that table became available.
        res["table_ready_s"] = {
            t: os.stat(f"{out}/{t}/_SUCCESS").st_mtime - t0 for t in res["counts"]
        }

    if spec["trace"]:
        res["trace"] = traced(spark, spec["run"], build)
    else:
        build()
    return res


def run_queries(spark, spec: dict) -> dict:
    from syntenybrowserv2_etl_spark import queries as q

    from checks import result_hash

    sf, names = spec["sf_dir"], spec["queries"]
    rng = random.Random(spec["seed"])
    errors: list[str] = []

    def order() -> list[str]:
        mix = list(names)
        rng.shuffle(mix)
        return mix

    # Untimed check pass, which also warms the session.
    hashes, out_bytes = {}, {}
    t_check = time.perf_counter()
    for n in order():
        try:
            hashes[n], out_bytes[n] = result_hash(q.REGISTRY[n].spark_fn(spark, sf).toPandas())
        except Exception:  # noqa: BLE001 — a failing query is a counted failure
            errors.append(f"check {n}: {traceback.format_exc(limit=3)}")

    check_s = time.perf_counter() - t_check

    def one_pass(tracer=None) -> dict:
        lat, ok = {}, []
        t0 = time.perf_counter()
        for n in order():
            s = time.perf_counter()
            try:
                if tracer is None:
                    q.REGISTRY[n].spark_fn(spark, sf).write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"query.{n}"):
                        q.REGISTRY[n].spark_fn(spark, sf).write.format("noop").mode("overwrite").save()
                ok.append(n)
            except Exception:  # noqa: BLE001
                errors.append(f"pass {n}: {traceback.format_exc(limit=3)}")
            lat[n] = time.perf_counter() - s
        return {"wall_s": time.perf_counter() - t0, "lat": lat, "ok": ok}

    passes = []
    t_end = time.perf_counter() + spec["seconds"]
    while not passes or time.perf_counter() < t_end:
        passes.append(one_pass())
    res = {"hashes": hashes, "out_bytes": out_bytes, "passes": passes, "check_s": check_s}
    if spec["trace"]:
        box = {}

        def body(tracer):
            with tracer.span("pass"):
                box.update(one_pass(tracer))

        res["trace"] = traced(spark, spec["run"], body)
        res["traced_pass"] = box
        # An untraced pass on each side of the traced one, so the tracing
        # overhead is not confused with further warm-up.
        passes.append(one_pass())
    res["errors"] = errors
    return res


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> None:
    spec = json.loads(sys.argv[1])
    spark = setup(spec)
    emit("READY")
    try:
        if spec["mode"] == "build":
            res = run_build(spark, spec)
        else:
            res = run_queries(spark, spec)
        from pyspark import SparkContext

        res["jvm_hwm_mb"] = hwm_mb(SparkContext._gateway.proc.pid)
        res["py_hwm_mb"] = hwm_mb("self")
    finally:
        stop(spark)
    emit("RESULT", res)


if __name__ == "__main__":
    main()
