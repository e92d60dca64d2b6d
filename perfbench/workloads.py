"""The workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned its last row.

- ``kafka_topics``: decode, register and query four Kafka topics (kwack's
  own job).  Decode dominates: every topic view is lazy, so every query
  re-decodes its topic.
- ``curation_pipeline``: registered curation plans built by their registry
  functions and materialized to the noop sink; plans, operators, functions
  and streaming do the work.

Every workload first runs one untimed pass that checks every output (against
DuckDB, or the generator's truth rows) and warms the session, then repeats
timed passes for ``--seconds``.  kafka_topics checks its timed passes too,
outside the timed region; the curation plans' timed action is the noop sink.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import check
import queries
import tracing

TOPICS = ("orders", "clicks", "events", "metrics")
# topic -> (value serde, key serde); orders and clicks decode in the Python
# stage, events through JVM from_json, metrics through JVM casts
TOPIC_SERDES = {
    "orders": ("latest", "long"),
    "clicks": ("latest", "long"),
    "events": ("latest", "long"),
    "metrics": ("long", "string"),
}
CURATION_TABLES = ("documents", "embeddings")
# see NOTES.md for why these three of the registry's curation plans
PLANS = ("dedup_minhash_lsh", "multimodal_phash_dedup", "streaming_lsh_neardup")
STREAMING_PLANS = ("streaming_lsh_neardup",)
# full drains of the sources per run, after the warm-up pass; the ingest
# rate is taken from each source's median drain.  A curation table's drain
# is one ~50 ms noop job over 400 rows, mostly job overhead, and the first
# rounds after the warm-up pass run at twice that, so it needs many rounds to
# be steady; a Kafka round decodes ~25k records (~1.1 s).
DRAIN_ROUNDS = {"kafka": 7, "parquet": 20}
# timed passes per run, at least, whatever --seconds says.  A kafka_topics
# cycle is ~3 s, so three fit and the median can set a slow one aside; a
# curation pass is ~6 s, and a third would not fit the run-set budget.
MIN_PASSES = {"kafka_topics": 3, "curation_pipeline": 2}
# decode_path codes: lower is the cheaper path
DECODE_PATHS = {"jvm_cast": 1, "jvm_from_json": 2, "python_stage": 3}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json's order."""
    names = ["session.start_s", "engine.init_s", "engine.sql_s", "engine.deliver_s", "engine.jobs_per_query"]
    for t in TOPICS:
        names += [
            f"kafka.decode_build_s.{t}",
            f"kafka.decode_s.{t}",
            f"kafka.rows_per_s.{t}",
            f"kafka.python_wait_s.{t}",
            f"kafka.decode_path.{t}",
        ]
    names += ["kafka.redecodes_per_query", "kafka.reference_probe_failures"]
    names += [
        "spark.jobs",
        "spark.stages",
        "spark.tasks",
        "spark.shuffle_bytes",
        "spark.input_bytes",
        "spark.executor_run_s",
        "spark.executor_cpu_s",
        "spark.gc_s",
    ]
    for q in PLANS:
        names += [
            f"plans.build_s.{q}",
            f"plans.action_s.{q}",
            f"plans.jobs.{q}",
            f"plans.stages.{q}",
            f"plans.python_wait_s.{q}",
        ]
    for q in STREAMING_PLANS:
        names += [
            f"streaming.batches.{q}",
            f"streaming.batch_ms_p50.{q}",
            f"streaming.addbatch_ms_p50.{q}",
            f"streaming.state_rows.{q}",
            f"streaming.state_bytes.{q}",
        ]
    names += ["residue.temp_views", "residue.persisted_rdds", "residue.active_streams"]
    # filled in by run.py, which samples the process tree
    names += ["mem.peak_rss_mb", "mem.peak_app_rss_mb", "mem.peak_jvm_rss_mb", "mem.peak_worker_rss_mb"]
    names += [f"trace.self_s.{layer}" for layer in tracing.LAYERS]
    names += ["trace.unattributed_s", "trace.wall_s", "trace.overhead_s"]
    return names


@dataclass
class Ctx:
    spark: object
    eng: object
    tracer: tracing.Tracer
    data: str
    seconds: float
    registry: object
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=lambda: dict.fromkeys(per_layer_names(), 0))
    info: dict = field(default_factory=dict)
    # traced run: ids of the operations inside the timed window, and the
    # window itself (wall clock)
    timed_ops: list[int] = field(default_factory=list)
    window: tuple[float, float] = (0.0, 0.0)

    def phase(self, name: str) -> None:
        """Mark the start of a run phase (wall clock, for the run record)."""
        self.info.setdefault("phases", []).append((name, time.time()))

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:600])

    def run_op(self, name: str, layer: str, fn, timed: bool = False):
        """Run one operation under its own job group; an exception counts as
        a failed operation and the loop goes on.  Returns (value, op id)."""
        with self.tracer.op(name, layer) as sid:
            try:
                value = fn()
            except Exception as exc:  # the closed loop keeps running
                self.record(name, False, f"{type(exc).__name__}: {exc}")
                value = None
        if timed and sid is not None:
            self.timed_ops.append(sid)
        return value, sid

    def check_rows(self, name: str, lines: list[str] | None, want: list[dict]) -> None:
        if lines is None:
            return  # already counted as a failed operation
        got = [check.spark_json_row(x) for x in lines]
        self.record(name, check.rows_match(got, want), f"{len(got)} rows, want {len(want)}")

    def residue(self) -> None:
        """What the session keeps between passes."""
        spark = self.spark
        r = {
            "residue.temp_views": sum(1 for t in spark.catalog.listTables() if t.isTemporary),
            "residue.persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
            "residue.active_streams": len(spark.streams.active),
        }
        self.info.setdefault("residue_per_pass", []).append(r)
        self.layers.update(r)


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[8] if len(xs) >= 2 else xs[0]


def _timed_passes(ctx: Ctx, one_pass, min_passes: int) -> list:
    """Repeat ``one_pass`` for --seconds (at least ``min_passes`` times)."""
    out = []
    w0, t0 = time.time(), time.perf_counter()
    while len(out) < min_passes or time.perf_counter() - t0 < ctx.seconds:
        out.append(one_pass())
        ctx.residue()
    ctx.window = (w0, time.time())
    ctx.info["passes"] = len(out)
    return out


def _pass_metrics(ctx: Ctx, passes: list[tuple[float, float, list[float]]]) -> None:
    """passes: (pass seconds, first-result seconds, per-operation seconds)."""
    lat = [x for _, _, ls in passes for x in ls]
    ctx.metrics["cycle_s"] = statistics.median(p[0] for p in passes)
    ctx.metrics["first_result_s"] = statistics.median(p[1] for p in passes)
    ctx.metrics["query_p50_s"] = statistics.median(lat)
    ctx.metrics["query_p90_s"] = _p90(lat)
    ctx.info["operations_timed"] = len(lat)


def _query(ctx: Ctx, name: str, sql: str, samples: dict, timed: bool):
    """One -q query through KwackSpark.query_json, drained to its last row.
    Returns (JSON lines or None, seconds)."""
    eng, tr = ctx.eng, ctx.tracer

    def body():
        df = None
        if tr.enabled:
            # traced run only: parse + analyze on their own; query_json
            # below repeats them
            with tr.span("engine.sql", "engine"):
                t = time.perf_counter()
                df = eng.sql(sql)
                samples.setdefault("sql_s", []).append(time.perf_counter() - t)
        with tr.span("engine.deliver", "engine"):
            t = time.perf_counter()
            lines = list(eng.query_json(sql))
            samples.setdefault("deliver_s", []).append(time.perf_counter() - t)
        return lines, df

    t0 = time.perf_counter()
    res, sid = ctx.run_op(f"engine.query.{name}", "engine", body, timed=timed)
    lines, df = res if res is not None else (None, None)
    # latency is the query_json call alone: the traced run's separate parse
    # and its bookkeeping after the last row are not part of it
    seconds = time.perf_counter() - t0 if lines is None else samples["deliver_s"][-1]
    if df is not None:
        # the physical plan, for the re-decode count; outside every span
        t = time.perf_counter()
        samples.setdefault("plans", {})[name] = df._jdf.queryExecution().executedPlan().toString()
        tr.overhead_s += time.perf_counter() - t
    if timed:
        ctx.info.setdefault("latency_s", {}).setdefault(name, []).append(seconds)
        if sid is not None:
            samples.setdefault("query_ops", []).append(sid)
    return lines, seconds


def _drop_query_samples(samples: dict) -> None:
    """Forget the warm-up pass's query timings."""
    for key in ("sql_s", "deliver_s", "query_ops"):
        samples.pop(key, None)


def _drain_rounds(ctx: Ctx, sources: dict[str, int], build, layer: str, samples: dict) -> None:
    """Full drains of every source to the noop sink; ``build(name)`` returns
    the source's DataFrame.  Sets ingest_rows_per_s from the sum of the
    sources' median drain times."""
    tr = ctx.tracer
    for _ in range(DRAIN_ROUNDS[layer]):
        for name in sources:

            def body(name=name):
                df = build(name)
                with tr.span(f"{layer}.scan.{name}", layer):
                    t = time.perf_counter()
                    df.write.mode("overwrite").format("noop").save()
                    return time.perf_counter() - t

            secs, sid = ctx.run_op(f"{layer}.drain.{name}", layer, body)
            if secs is not None:
                ctx.record(f"{layer}.drain.{name}", True)
                samples.setdefault("drain_s", {}).setdefault(name, []).append(secs)
                if sid is not None:
                    samples.setdefault("drain_ops", {}).setdefault(name, []).append(sid)
    drains = samples.get("drain_s", {})
    ctx.info["drain_s"] = drains
    if len(drains) == len(sources):
        seconds = sum(statistics.median(drains[name]) for name in sources)
        ctx.metrics["ingest_rows_per_s"] = sum(sources.values()) / seconds


# --- kafka_topics ----------------------------------------------------------------


def _frame_scans(plan: str) -> int:
    """Scans of Kafka frame files in a physical plan, not counting any
    under a cached relation (those are no longer re-decoded)."""
    n, skip_below = 0, None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-*()0123456789"))
        if skip_below is not None:
            if depth > skip_below:
                continue
            skip_below = None
        if "InMemoryRelation" in line or "InMemoryTableScan" in line:
            skip_below = depth
        elif "FileScan" in line and "/frames/" in line:
            n += 1
    return n


def _decode_path(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if "MapInPandas" in plan:
        return DECODE_PATHS["python_stage"]
    if "from_json" in plan:
        return DECODE_PATHS["jvm_from_json"]
    return DECODE_PATHS["jvm_cast"]


def kafka_topics(ctx: Ctx) -> None:
    from kwack_spark.config import parse_serde
    from kwack_spark.session import register_view
    from kwack_spark.sources.kafka import KAFKA_FRAME_SCHEMA, decode_topic

    spark, tr = ctx.spark, ctx.tracer
    with open(os.path.join(ctx.data, "schemas.json")) as fh:
        meta = json.load(fh)
    samples: dict = {}
    if tr.enabled:
        # plan strings cut file paths at 100 characters by default; the
        # re-decode count looks for the frames directory in them
        spark.conf.set("spark.sql.maxMetadataStringLength", "100000")

    def frames(topic: str):
        # the Kafka source's frame shape, read from files: no broker here
        return spark.read.schema(KAFKA_FRAME_SCHEMA).parquet(os.path.join(ctx.data, "frames", topic))

    def register(topic: str):
        value, key = TOPIC_SERDES[topic]
        with tr.span(f"kafka.read_frames.{topic}", "kafka"):
            fr = frames(topic)
        with tr.span(f"kafka.decode_topic.{topic}", "kafka"):
            t = time.perf_counter()
            df = decode_topic(fr, topic, parse_serde(value), key_serde=parse_serde(key), registry=ctx.registry)
            samples.setdefault("build_s", {}).setdefault(topic, []).append(time.perf_counter() - t)
        with tr.span(f"session.register_view.{topic}", "session"):
            register_view(df, topic)
        return df

    # decode and register every topic, which is kwack's init; each decoded
    # topic must equal the generator's truth rows
    ctx.phase("check_topics")
    for topic in TOPICS:

        def body(topic=topic):
            df = register(topic)
            if tr.enabled:
                ctx.layers[f"kafka.decode_path.{topic}"] = _decode_path(df)
            return df.toJSON().collect()

        lines, _ = ctx.run_op(f"kafka.check.{topic}", "kafka", body)
        if lines is not None:
            got = [check.spark_json_row(x) for x in lines]
            truth = pq.read_table(os.path.join(ctx.data, "truth", f"{topic}.parquet")).to_pylist()
            want = [check.canon({k: v for k, v in r.items() if v is not None}) for r in truth]
            ctx.record(f"kafka.check.{topic}", check.same_multiset(got, want), f"{len(got)} rows")

    # cycles of "register the topics, then run the -q mix"
    mix = [(n, t, sql.format(lookup=meta["lookup_order_id"])) for n, t, sql in queries.KAFKA_MIX]
    con = check.duck_views({t: os.path.join(ctx.data, "truth", f"{t}.parquet") for t in TOPICS})
    expected = {name: check.duck_rows(con, sql) for name, _, sql in mix}
    con.close()

    def cycle(timed: bool):
        t0 = time.perf_counter()
        ctx.run_op("kafka.register", "kafka", lambda: [register(t) for t in TOPICS])
        out, lat, first = {}, [], None
        for name, _, sql in mix:
            out[name], secs = _query(ctx, name, sql, samples, timed)
            lat.append(secs)
            if first is None:
                first = time.perf_counter() - t0
        total = time.perf_counter() - t0
        for name, _, _ in mix:
            ctx.check_rows(f"kafka.query.{name}", out[name], expected[name])
        return total, first, lat

    ctx.phase("warm_up")
    cycle(timed=False)  # checked warm-up
    _drop_query_samples(samples)

    # drain each topic to the noop sink, kwack's Appender bulk load
    ctx.phase("drain")
    _drain_rounds(ctx, {t: meta["rows"][t] for t in TOPICS}, register, "kafka", samples)

    ctx.phase("probe")
    _reference_probe(ctx, frames)
    ctx.phase("timed")
    _pass_metrics(ctx, _timed_passes(ctx, lambda: cycle(timed=True), MIN_PASSES["kafka_topics"]))
    ctx.phase("end")

    if tr.enabled:
        _engine_layers(ctx, samples)
        drains = _drain_layers(ctx, samples)
        for topic in TOPICS:
            ctx.layers[f"kafka.decode_build_s.{topic}"] = statistics.median(samples["build_s"][topic])
            ctx.layers[f"kafka.decode_s.{topic}"] = drains[topic][0]
            ctx.layers[f"kafka.rows_per_s.{topic}"] = meta["rows"][topic] / drains[topic][0]
            ctx.layers[f"kafka.python_wait_s.{topic}"] = drains[topic][1]
        per_query = [_frame_scans(samples["plans"][n]) / len(topics) for n, topics, _ in mix]
        ctx.layers["kafka.redecodes_per_query"] = statistics.mean(per_query)


def _reference_probe(ctx: Ctx, frames) -> None:
    """Decode the reference benchmark's own record once, outside the timed
    metrics.  Its outcome is reported on its own (info and the per-layer
    kafka.reference_probe_failures), not as a failed operation."""
    from kwack_spark.config import Serde
    from kwack_spark.sources.kafka import decode_topic

    try:
        n = decode_topic(frames("reference"), "reference", Serde(kind="latest"), registry=ctx.registry).count()
        ok, detail = n > 0, f"{n} rows"
    except Exception as exc:  # the probe records, it does not stop the run
        ok, detail = False, f"{type(exc).__name__}: {str(exc).splitlines()[0]}"
    ctx.info["reference_probe"] = {"ok": ok, "detail": detail[:300]}
    ctx.layers["kafka.reference_probe_failures"] = 0 if ok else 1


# --- curation_pipeline -----------------------------------------------------------


def _parquet_rows(data: str, tables) -> dict[str, int]:
    return {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows for t in tables}


def _parquet_build(ctx: Ctx):
    from kwack_spark.sources.parquet import load_table

    def build(name: str):
        with ctx.tracer.span(f"parquet.load_table.{name}", "parquet"):
            return load_table(ctx.spark, ctx.data, name)

    return build


def curation_pipeline(ctx: Ctx) -> None:
    from kwack_spark.plans.registry import oracle_map, query_map

    spark, tr = ctx.spark, ctx.tracer
    samples: dict = {}
    fns, oracles = query_map(), oracle_map()
    con = check.duck_views({t: os.path.join(ctx.data, f"{t}.parquet") for t in CURATION_TABLES})
    expected = {q: check.duck_rows(con, oracles[q]) for q in PLANS}
    con.close()

    # checked warm-up: each plan's rows against its registered DuckDB oracle
    ctx.phase("warm_up")
    for q in PLANS:
        lines, _ = ctx.run_op(f"plans.check.{q}", "plans", lambda q=q: fns[q](spark, ctx.data).toJSON().collect())
        ctx.check_rows(f"plans.check.{q}", lines, expected[q])
    ctx.residue()

    ctx.phase("drain")
    _drain_rounds(ctx, _parquet_rows(ctx.data, CURATION_TABLES), _parquet_build(ctx), "parquet", samples)

    def one_pass():
        t0 = time.perf_counter()
        lat = []
        for q in PLANS:

            def body(q=q):
                with tr.span(f"plans.build.{q}", "plans"):
                    t = time.perf_counter()
                    df = fns[q](spark, ctx.data)
                    b = time.perf_counter() - t
                with tr.span(f"plans.action.{q}", "plans"):
                    t = time.perf_counter()
                    df.write.mode("overwrite").format("noop").save()
                    return b, time.perf_counter() - t

            t = time.perf_counter()
            res, sid = ctx.run_op(f"plans.{q}", "plans", body, timed=True)
            lat.append(time.perf_counter() - t if res is None else sum(res))
            ctx.info.setdefault("latency_s", {}).setdefault(q, []).append(lat[-1])
            if res is not None:
                ctx.record(f"plans.{q}", True)
                samples.setdefault(q, []).append((res[0], res[1], sid))
        return time.perf_counter() - t0, lat[0], lat

    ctx.phase("timed")
    _pass_metrics(ctx, _timed_passes(ctx, one_pass, MIN_PASSES["curation_pipeline"]))
    ctx.phase("end")

    if tr.enabled:
        tr.attach_batches()
        for q in PLANS:
            runs = samples.get(q, [])
            if not runs:
                continue
            stats = [ctx.tracer.op_stats[sid] for _, _, sid in runs]
            ctx.layers[f"plans.build_s.{q}"] = statistics.median(r[0] for r in runs)
            ctx.layers[f"plans.action_s.{q}"] = statistics.median(r[1] for r in runs)
            ctx.layers[f"plans.jobs.{q}"] = statistics.median(s.jobs for s in stats)
            ctx.layers[f"plans.stages.{q}"] = statistics.median(s.stages for s in stats)
            ctx.layers[f"plans.python_wait_s.{q}"] = statistics.median(s.python_wait_s for s in stats)
        _streaming_layers(ctx, samples)


def _streaming_layers(ctx: Ctx, samples: dict) -> None:
    """Micro-batches recorded by the listener, attributed to the plan run
    whose operation span was open when the batch started."""
    tr = ctx.tracer
    spans = {s.sid: s for s in tr.spans}
    for q in STREAMING_PLANS:
        runs = [spans[sid] for _, _, sid in samples.get(q, [])]
        mine = [b for b in tr.batches if any(s.start <= b.start <= s.end for s in runs)]
        if not runs or not mine:
            continue
        ctx.layers[f"streaming.batches.{q}"] = len(mine) / len(runs)
        ctx.layers[f"streaming.batch_ms_p50.{q}"] = statistics.median(
            b.duration_ms.get("triggerExecution", 0) for b in mine
        )
        ctx.layers[f"streaming.addbatch_ms_p50.{q}"] = statistics.median(
            b.duration_ms.get("addBatch", 0) for b in mine
        )
        ctx.layers[f"streaming.state_rows.{q}"] = max(b.state_rows for b in mine)
        ctx.layers[f"streaming.state_bytes.{q}"] = max(b.state_bytes for b in mine)


# --- traced-run summaries ----------------------------------------------------------


def _engine_layers(ctx: Ctx, samples: dict) -> None:
    ctx.layers["engine.sql_s"] = statistics.median(samples["sql_s"])
    ctx.layers["engine.deliver_s"] = statistics.median(samples["deliver_s"])
    ctx.layers["engine.jobs_per_query"] = statistics.mean(
        ctx.tracer.op_stats[sid].jobs for sid in samples["query_ops"]
    )


def _drain_layers(ctx: Ctx, samples: dict) -> dict[str, tuple[float, float]]:
    """source -> (median drain seconds, median Python-wait seconds)."""
    out = {}
    for name, secs in samples["drain_s"].items():
        waits = [ctx.tracer.op_stats[sid].python_wait_s for sid in samples["drain_ops"][name]]
        out[name] = (statistics.median(secs), statistics.median(waits))
    return out


def finish_trace(ctx: Ctx) -> None:
    """Spark totals per timed operation, and per-layer self time over the
    timed window."""
    tr = ctx.tracer
    ops = [tr.op_stats[sid] for sid in ctx.timed_ops if sid in tr.op_stats]
    if ops:
        for key, attr in (
            ("spark.jobs", "jobs"),
            ("spark.stages", "stages"),
            ("spark.tasks", "tasks"),
            ("spark.shuffle_bytes", "shuffle_bytes"),
            ("spark.input_bytes", "input_bytes"),
            ("spark.executor_run_s", "run_s"),
            ("spark.executor_cpu_s", "cpu_s"),
            ("spark.gc_s", "gc_s"),
        ):
            ctx.layers[key] = statistics.mean(getattr(s, attr) for s in ops)
    t0, t1 = ctx.window
    selfs = tracing.self_times(tr.spans, t0, t1)
    for layer, secs in selfs.items():
        ctx.layers[f"trace.self_s.{layer}"] = secs
    ctx.layers["trace.wall_s"] = t1 - t0
    ctx.layers["trace.unattributed_s"] = (t1 - t0) - sum(selfs.values())
    ctx.layers["trace.overhead_s"] = tr.overhead_s


WORKLOADS = {
    "kafka_topics": kafka_topics,
    "curation_pipeline": curation_pipeline,
}
