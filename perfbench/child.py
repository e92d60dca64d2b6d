"""One benchmark run inside a fresh process: set up kwack-spark, run one
workload against the generated inputs, and write the result as JSON.

    python3 perfbench/child.py --workload W --data DIR --seconds S --trace 0|1 \
        --result FILE --spawned-at T

``run.py`` starts this process (a reused session would drift with the
residue each pass leaves behind) and adds what only the parent can measure.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

# set-up is timed from the moment the parent spawned this process, so the
# interpreter start and the imports below are inside it
_SPAWNED = None
if "--spawned-at" in sys.argv:
    _SPAWNED = float(sys.argv[sys.argv.index("--spawned-at") + 1])

from kwack_spark.config import KwackConfig  # noqa: E402
from kwack_spark.engine import KwackSpark  # noqa: E402
from kwack_spark.schema.registry import MockSchemaRegistry  # noqa: E402
from kwack_spark.session import get_session  # noqa: E402

import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

# set-ups per run; the reported set-up time is their median
SETUPS = 5


def _registry(data: str) -> MockSchemaRegistry | None:
    """The schemas the generator's producer registered, in its order."""
    path = os.path.join(data, "schemas.json")
    if not os.path.exists(path):
        return None
    reg = MockSchemaRegistry()
    with open(path) as fh:
        for subject, schema_type, text in json.load(fh)["subjects"]:
            reg.register(subject, text, schema_type)
    return reg


def setup(args, t0: float, registry):
    """Session and engine ready: get_session, KwackSpark(...), init()."""
    spark = get_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"kwack.scratch.dir": os.path.join(args.work, "scratch")},
    )
    t1 = time.time()
    parquet_dir = None if args.workload == "kafka_topics" else args.data
    eng = KwackSpark(KwackConfig(parquet_dir=parquet_dir), spark=spark, registry=registry).init()
    t2 = time.time()
    return spark, eng, {"setup_s": t2 - t0, "session_s": t1 - t0, "init_s": t2 - t1}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()

    registry = _registry(args.data)
    setups = []
    spark = eng = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = _SPAWNED if i == 0 else time.time()
        spark, eng, s = setup(args, t0, registry)
        setups.append(s)

    ready = time.time()
    tracer = Tracer(spark, bool(args.trace))
    tracer.start()
    ctx = workloads.Ctx(
        spark=spark,
        eng=eng,
        tracer=tracer,
        data=args.data,
        seconds=args.seconds,
        registry=registry,
    )
    try:
        workloads.WORKLOADS[args.workload](ctx)
    finally:
        tracer.stop()

    med = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    ctx.metrics["setup_s"] = med["setup_s"]
    ctx.layers["session.start_s"] = med["session_s"]
    ctx.layers["engine.init_s"] = med["init_s"]
    ctx.info["setups"] = setups
    ctx.info["window"] = ctx.window
    ctx.info["phases"].insert(0, ("setup", _SPAWNED))
    ctx.info["phases"].insert(1, ("ready", ready))
    # what the session keeps once the run is over: JVM heap in use after a
    # full collection (cached tables, leaked sink views, broadcasts).  Python
    # collects first, so dropped DataFrames release their JVM objects; the
    # second collection follows Spark's ContextCleaner, which drops
    # unreferenced broadcasts and shuffles only after a collection.
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    ctx.metrics["retained_heap_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
    ctx.info["java"] = jvm.System.getProperty("java.version")
    ctx.info["pyspark"] = __import__("pyspark").__version__
    if args.trace:
        workloads.finish_trace(ctx)
    ctx.phase("stop")
    spark.stop()
    ctx.phase("stopped")

    with open(args.result, "w") as fh:
        json.dump(
            {
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "failures": ctx.failures,
                "metrics": ctx.metrics,
                "layers": ctx.layers,
                "info": ctx.info,
            },
            fh,
            default=str,
        )


if __name__ == "__main__":
    main()
