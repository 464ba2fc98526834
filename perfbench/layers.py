"""Traced run: spans around calls into each layer, and Spark's own counters.

Spans are recorded from the benchmark's side only. The engine binds most
layer functions with ``from … import``, so each name is wrapped in the
module that imports it (``runner``, ``streaming.ingest``,
``payload_modes``), not only where it is defined; classes are patched
once, on the class. ``DataStreamWriter.foreachBatch`` is wrapped so every
micro-batch opens one root span. Spans (name, start, end, parent, op) are
kept in memory and written as JSON lines when the run ends. A span's
self time is its duration minus the union of its children's intervals.

Spark engine counters come from the application status store, read after
every op: jobs, stages and tasks from ``jobsList(None)`` and
``stageList(None)``, which list every job group (micro-batch jobs run
under the stream's group, which ``statusTracker().getJobIdsForGroup()``
does not see); SQL operator metrics (``ArrowEvalPython``,
``AQEShuffleRead``) from the SQL status store. The store keeps only
``spark.ui.retainedJobs`` jobs, hence the per-op sampling.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import statistics
import threading
import time

import gen


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    def __init__(self):
        self.spans: list = []
        self.counts: dict = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.root = None  # the open op span; parent of spans in pool threads
        self.op = None
        self.sampler = None  # StatusSampler read when an op span closes

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, op=None):
        return _Span(self, name, op)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def by_name(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == span["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span["start"]), min(e, span["end"])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered


class _Span:
    def __init__(self, tracer: Tracer, name: str, op):
        self.t, self.name, self.op = tracer, name, op

    def __enter__(self):
        t = self.t
        st = t._stack()
        parent = st[-1]["id"] if st else (t.root["id"] if t.root else None)
        self.rec = {"id": next(t._ids), "name": self.name, "parent": parent,
                    "op": self.op if self.op is not None else t.op,
                    "start": time.perf_counter(), "end": None}
        st.append(self.rec)
        if self.op is not None:
            t.root, t.op = self.rec, self.op
            if t.sampler is not None:
                t.sampler.sample()  # work between ops is no op's
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        t._stack().pop()
        if self.op is not None:
            t.root = None
            if t.sampler is not None:
                self.rec["spark"] = t.sampler.sample()
        with t._lock:
            t.spans.append(self.rec)
        return False


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _metric_value(text: str) -> float:
    """A formatted SQL metric: ``1,234`` for sums, or for size and timing
    metrics ``total (min, med, max …)\\n12.3 KiB (…)`` — the total."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _SIZE.get(m.group(2) or "B", 1)


class StatusSampler:
    """Per-op deltas of the engine's own counters. ``sample()`` returns
    what ran since the previous call."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.last_job = self._max_id(self._list(self.store.jobsList(None)), "jobId")
        self.last_stage = self._max_id(self._stages(), "stageId")
        self.last_exec = -1
        self._sql()  # skip executions that ran before tracing
        self.gc_ms = self._gc_ms()

    def _list(self, seq):
        return self.conv.asJava(seq)

    def _stages(self):
        st = self.store
        return self._list(st.stageList(
            None, False, False, getattr(st, "stageList$default$4")(),
            getattr(st, "stageList$default$5")()))

    @staticmethod
    def _max_id(items, attr: str) -> int:
        ids = [getattr(x, attr)() for x in items]
        return max(ids) if ids else -1

    def _gc_ms(self) -> int:
        return sum(e.totalGCTime() for e in self._list(self.store.executorList(True)))

    def jobs(self) -> list:
        """New jobs since the last sample, across all job groups."""
        out = []
        for j in self._list(self.store.jobsList(None)):  # newest first
            if j.jobId() <= self.last_job:
                break
            grp = j.jobGroup()
            out.append({"id": j.jobId(), "group": grp.get() if grp.isDefined() else None})
        return out

    def sample(self) -> dict:
        jobs = self.jobs()
        if jobs:
            self.last_job = max(j["id"] for j in jobs)
        stages, tasks, shuffle, spill = 0, 0, 0, 0
        new_last = self.last_stage
        for s in self._stages():  # newest first
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            new_last = max(new_last, sid)
            if str(s.status().toString()) != "COMPLETE":
                continue
            stages += 1
            tasks += s.numCompleteTasks()
            shuffle += s.shuffleWriteBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self.last_stage = new_last
        gc = self._gc_ms()
        out = {"job_ids": [j["id"] for j in jobs], "jobs": len(jobs),
               "grouped_jobs": sum(1 for j in jobs if j["group"]),
               "stages": stages, "tasks": tasks, "shuffle_bytes": shuffle,
               "spill_bytes": spill, "gc_ms": gc - self.gc_ms}
        self.gc_ms = gc
        out.update(self._sql())
        return out

    def _sql(self) -> dict:
        acc = {"udf_rows": 0.0, "udf_bytes_to": 0.0, "udf_bytes_from": 0.0,
               "aqe_parts": 0.0, "aqe_empty": 0.0}
        n = self.sql.executionsCount()
        conv = self.conv
        execs = self.sql.executionsList(max(0, n - 256), 256)  # ascending ids
        first = self.last_exec < 0
        for i in range(execs.length()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self.last_exec:
                continue
            self.last_exec = eid
            if not first:
                self._exec_metrics(eid, conv, acc)
        return acc

    _KEYS = {
        ("ArrowEvalPython", "number of output rows"): "udf_rows",
        ("ArrowEvalPython", "data sent to Python workers"): "udf_bytes_to",
        ("ArrowEvalPython", "data returned from Python workers"): "udf_bytes_from",
        ("AQEShuffleRead", "number of partitions"): "aqe_parts",
        ("AQEShuffleRead", "number of empty partitions"): "aqe_empty",
    }

    def _exec_metrics(self, eid: int, conv, acc: dict) -> None:
        values = None
        nodes = self.sql.planGraph(eid).allNodes()
        for k in range(nodes.length()):
            node = nodes.apply(k)
            name = node.name()
            if name not in ("ArrowEvalPython", "AQEShuffleRead"):
                continue
            if values is None:
                values = {int(a): str(v) for a, v in
                          conv.asJava(self.sql.executionMetrics(eid)).items()}
            ms = node.metrics()
            for q in range(ms.length()):
                m = ms.apply(q)
                key = self._KEYS.get((name, m.name()))
                if key is not None:
                    acc[key] += _metric_value(values.get(m.accumulatorId(), "0"))


# ---------------------------------------------------------------------------
# instrumentation
# ---------------------------------------------------------------------------


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points; every micro-batch becomes an op."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame  # where actions are defined
    from pyspark.sql.streaming import DataStreamWriter

    from dvh_airflow_kafka_spark import io as dio
    from dvh_airflow_kafka_spark import payload_modes, runner
    from dvh_airflow_kafka_spark.config import PipelineSpec
    from dvh_airflow_kafka_spark.plans import Transform
    from dvh_airflow_kafka_spark.streaming import fsio, ingest, keyindex

    # names bound by `from … import` in each importing module
    layer_names = {
        runner: {
            "build_kafka_frame": "sources.scan",
            "with_envelope": "sources.envelope",
            "payload_exprs": "operators.payload",
            "scrub_flagged_persons": "operators.privacy",
            "_attach_payload_struct": "plans.payload_struct",
            "dedup_against_existing": "operators.dedup",
            "write_parquet_append": "sinks.write",
        },
        ingest: {
            "ingest_transform": "ingest.transform",
            "with_envelope": "sources.envelope",
            "scrub_flagged_persons": "operators.privacy",
            "bloom_dedup_with_bits": "bloom.dedup",
            "build_bloom": "bloom.build",
            "stage_initial": "ingest.stage_initial",
            "_monitor_partial_thunks": "ingest.monitors",
        },
        payload_modes: {"payload_exprs": "operators.payload"},
    }
    for mod, names in layer_names.items():
        for attr, span in names.items():
            setattr(mod, attr, tracer.wrap(span, getattr(mod, attr)))

    Transform.apply = tracer.wrap("plans.transform", Transform.apply)
    PipelineSpec.from_yaml = classmethod(
        tracer.wrap("config.from_yaml", PipelineSpec.from_yaml.__func__))
    summary = runner.PipelineResult.summary
    runner.PipelineResult.summary = property(tracer.wrap("runner.summary", summary.fget))
    for name in ("seed", "probe", "append", "compact"):
        setattr(keyindex.SinkKeyIndex, name,
                tracer.wrap(f"keyindex.{name}", getattr(keyindex.SinkKeyIndex, name)))

    # filesystem boundary: three wrapper classes today, counted together
    def counted(fn):
        @functools.wraps(fn)
        def c(*a, **k):
            tracer.count("fsio.calls")
            return fn(*a, **k)
        return c

    for cls in (fsio.HadoopFs, dio.HadoopFs, keyindex._Fs):
        for name, fn in list(vars(cls).items()):
            if callable(fn) and not name.startswith("__"):
                setattr(cls, name, counted(fn))

    # driver-side actions; an eager checkpoint is one too, so it does not
    # count as the driver's own time
    DataFrame.count = tracer.wrap("action.count", DataFrame.count)
    DataFrame.collect = tracer.wrap("action.collect", DataFrame.collect)
    for name in ("localCheckpoint", "checkpoint"):
        setattr(DataFrame, name, tracer.wrap("action.checkpoint", getattr(DataFrame, name)))
    for name in ("parquet", "save"):
        setattr(DataFrameWriter, name,
                tracer.wrap("action.write", getattr(DataFrameWriter, name)))

    # eager jobs a run_pipeline call fires before its sink write starts
    orig_run = runner.run_pipeline
    orig_write = runner.write_parquet_append

    def write_marked(*a, **k):
        if tracer.sampler is not None and tracer.root is not None:
            tracer.root.setdefault("eager_jobs", len(tracer.sampler.jobs()))
        return orig_write(*a, **k)

    runner.write_parquet_append = write_marked
    runner.run_pipeline = tracer.wrap("runner.run_pipeline", orig_run)

    # one root span per micro-batch, engine counters sampled after it
    orig_fb = DataStreamWriter.foreachBatch
    epochs = itertools.count()

    def foreach_batch(self, func):
        def traced_batch(df, epoch_id):
            with tracer.span("streaming.foreachBatch", op=f"b{next(epochs)}"):
                func(df, epoch_id)
        return orig_fb(self, traced_batch)

    DataStreamWriter.foreachBatch = foreach_batch


# ---------------------------------------------------------------------------
# prefix cuts: the spine's layers composed cumulatively through noop
# ---------------------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefix_cuts(spark, plan: dict, reps: int) -> dict:
    """Marginal cost of each spine layer on the last interval: time the
    public layer functions composed cumulatively through the noop sink,
    and take differences of consecutive prefixes (medians of ``reps``)."""
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.config import PipelineSpec
    from dvh_airflow_kafka_spark.operators import dedup_against_existing, scrub_flagged_persons
    from dvh_airflow_kafka_spark.payload_modes import payload_exprs
    from dvh_airflow_kafka_spark.plans import Transform
    from dvh_airflow_kafka_spark.runner import (
        _attach_payload_struct, _payload_rule_sources, build_kafka_frame, run_pipeline,
    )
    from dvh_airflow_kafka_spark.sinks.writers import write_parquet_append
    from dvh_airflow_kafka_spark.sources.envelope import with_envelope

    d = os.path.join(plan["work"], "prefix")
    base_sink = os.path.join(d, "sink")
    lookup = spark.read.parquet(plan["lookup"])
    ivs = plan["intervals"]
    for k, (lo, hi) in enumerate(ivs[:-1]):  # the sink the last interval meets
        run_pipeline(spark, gen.interval_yaml(plan["source"], base_sink, lo, hi),
                     k6_lookup=lookup, batch_time=gen.BATCH_TIME).summary
    lo, hi = ivs[-1]
    spec = PipelineSpec.from_yaml(gen.interval_yaml(plan["source"], base_sink, lo, hi))
    src, k6 = spec.source, spec.target.k6_filter
    existing = spark.read.parquet(base_sink)
    keys = spec.target.skip_duplicates_with

    def scan():
        return build_kafka_frame(spark, spec)

    def envelope():
        return with_envelope(scan(), key_codec=src.key_decoder)

    def payload():
        pe = payload_exprs(src)
        return with_envelope(scan(), key_codec=src.key_decoder,
                             message_filters=src.message_filters,
                             canonical_message=pe.canonical,
                             filter_payload=pe.filter_payload)

    def privacy():
        env = payload()
        person = F.get_json_object(
            env["kafka_message"], "$." + ".".join(k6.col.split(k6.col_keypath_separator)))
        return scrub_flagged_persons(env, lookup, person_id=person,
                                     event_ts=F.timestamp_millis(F.col("kafka_timestamp")),
                                     lookup_id_col=k6.filter_col)

    def transform():
        env = privacy()
        env = _attach_payload_struct(spark, env, _payload_rule_sources(spec, set(env.columns)),
                                     declared_schema=src.payload_schema)
        return Transform(spec.transform, batch_time=gen.BATCH_TIME).apply(env)

    def dedup():
        return dedup_against_existing(transform(), existing, keys, broadcast_existing=False)

    cuts = [("sources.scan_s", scan), ("sources.envelope_s", envelope),
            ("operators.payload_s", payload), ("operators.privacy_s", privacy),
            ("plans.transform_s", transform), ("operators.dedup_s", dedup)]
    times: dict = {name: [] for name, _ in cuts}
    times["parquet"] = []
    for r in range(reps):
        for name, build in cuts:
            t = time.perf_counter()
            _noop(build())
            times[name].append(time.perf_counter() - t)
        t = time.perf_counter()
        write_parquet_append(dedup(), os.path.join(d, f"write{r}"))
        times["parquet"].append(time.perf_counter() - t)
    med = {k: statistics.median(v) for k, v in times.items()}
    out, prev = {}, 0.0
    for name, _ in cuts:
        out[name] = med[name] - prev
        prev = med[name]
    out["sinks.write_s"] = med["parquet"] - med["operators.dedup_s"]
    out.update(avro_codec(spark, plan, d, reps))
    return out


def avro_codec(spark, plan: dict, d: str, reps: int) -> dict:
    """The Avro decode marginal on a Confluent-framed copy of the topic's
    size: scan vs scan + the codec, both through noop."""
    from dvh_airflow_kafka_spark.sources.kafka import avro_payload_json

    path, schema_json = gen.avro_topic(plan["seed"], os.path.join(d, "avro"), plan["n_msgs"])
    df = spark.read.parquet(path)
    scan, dec = [], []
    for _ in range(reps):
        t = time.perf_counter()
        _noop(df)
        scan.append(time.perf_counter() - t)
        t = time.perf_counter()
        _noop(df.select(avro_payload_json(df["value"], schema_json).alias("m")))
        dec.append(time.perf_counter() - t)
    return {"sources.avro_codec_s": statistics.median(dec) - statistics.median(scan)}


# ---------------------------------------------------------------------------
# catalog: the head of bench.HEADLINE on a seeded star schema
# ---------------------------------------------------------------------------

CATALOG_QUERIES = 12  # the head of bench.HEADLINE: reference, TPC-H, events, [EXT]
CATALOG_REPS = 2


def catalog_names() -> list:
    import bench

    return list(bench.HEADLINE[:CATALOG_QUERIES])


def catalog_matches(spark_cols: list, spark_rows: list, con, sql: str) -> bool:
    """Order-insensitive equality of a query's rows with its DuckDB
    oracle, through the repo's own canonicalisation (``tests/compare.py``)."""
    from tests.compare import canonical_rows

    tbl = con.execute(sql).fetch_arrow_table()
    d_cols = tbl.column_names
    d_rows = [tuple(d[c] for c in d_cols) for d in tbl.to_pylist()]
    return (sorted(spark_cols) == sorted(d_cols)
            and canonical_rows(spark_cols, spark_rows) == canonical_rows(d_cols, d_rows))


def catalog_probe(spark, plan: dict) -> tuple:
    """Build (``fn(spark, sf)``, eager jobs included) and run through noop
    each of the first ``CATALOG_QUERIES`` catalog queries, after the
    flagship warm-up ``bench.py`` does; medians of ``CATALOG_REPS``. Each
    result is then checked against its DuckDB oracle, outside the timed
    part. Returns ``(metrics, n_queries_failed)``."""
    from dvh_airflow_kafka_spark.catalog import REGISTRY
    from tests.compare import duck_connection

    sf = gen.star_schema(plan["seed"], os.path.join(plan["tmp"], "catalog"))
    names = catalog_names()
    _noop(REGISTRY[names[0]].fn(spark, sf))
    sampler = StatusSampler(spark)
    build = {n: [] for n in names}
    run = {n: [] for n in names}
    build_jobs = 0
    frames = {}
    for rep in range(CATALOG_REPS):
        for n in names:
            sampler.sample()
            t = time.perf_counter()
            frames[n] = REGISTRY[n].fn(spark, sf)
            build[n].append(time.perf_counter() - t)
            if rep == 0:
                build_jobs += sampler.sample()["jobs"]
            t = time.perf_counter()
            _noop(frames[n])
            run[n].append(time.perf_counter() - t)
    con = duck_connection(sf)
    failed = sum(
        not catalog_matches(frames[n].columns, [tuple(r) for r in frames[n].collect()],
                            con, REGISTRY[n].sql)
        for n in names
    )
    con.close()
    m = {f"catalog.q.{n}_s": statistics.median(build[n]) + statistics.median(run[n])
         for n in names}
    m["catalog.build_s"] = sum(statistics.median(v) for v in build.values())
    m["catalog.exec_s"] = sum(statistics.median(v) for v in run.values())
    m["catalog.build_jobs"] = build_jobs
    return m, failed


# ---------------------------------------------------------------------------
# the traced part of a run
# ---------------------------------------------------------------------------


def _dir_stats(path: str) -> tuple:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _med(xs, default=None):
    return statistics.median(xs) if xs else default


PER_LAYER = {
    "session.get_spark_s": "s",
    "session.local1_speedup": "ratio",
    "config.from_yaml_s": "s",
    "runner.build_s": "s",
    "runner.eager_jobs_per_op": "count",
    "sources.scan_s": "s",
    "sources.envelope_s": "s",
    "operators.payload_s": "s",
    "operators.privacy_s": "s",
    "plans.transform_s": "s",
    "operators.dedup_s": "s",
    "sinks.write_s": "s",
    "sources.avro_codec_s": "s",
    "udf.rows_per_msg": "rows/msg",
    "udf.bytes_to_python_per_msg": "B/msg",
    "udf.bytes_from_python_per_msg": "B/msg",
    "spark.jobs_per_op": "count",
    "spark.grouped_jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.empty_partition_frac": "ratio",
    "spark.shuffle_bytes_per_msg": "B/msg",
    "spark.spill_bytes_per_op": "B",
    "jvm.gc_ms_per_op": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.getBatch_ms": "ms",
    "streaming.foreachBatch_s": "s",
    "streaming.driver_self_s": "s",
    "action.count_s": "s",
    "action.collect_s": "s",
    "action.write_s": "s",
    "action.writes_per_op": "count",
    "keyindex.probe_s": "s",
    "keyindex.append_s": "s",
    "keyindex.compact_s": "s",
    "ingest.sink_dirs_read_per_batch": "count",
    "ingest.dup_rejected_frac": "ratio",
    "fsio.calls_per_op": "count",
    "state.files_per_op": "count",
    "state.bytes_per_msg": "B/msg",
    "trace.overhead_frac": "ratio",
    "catalog.build_s": "s",
    "catalog.exec_s": "s",
    "catalog.build_jobs": "count",
}
PER_LAYER.update({f"catalog.q.{n}_s": "s" for n in catalog_names()})

# Metrics a workload cannot produce, reported as 0 with the reason.
_PROBES_ELSEWHERE = "probe runs on interval_json"
UNAVAILABLE = {
    "interval_json": {
        **{f"streaming.{p}": "no streaming query: run_pipeline is a batch read"
           for p in ("addBatch_ms", "walCommit_ms", "commitOffsets_ms", "latestOffset_ms",
                     "queryPlanning_ms", "getBatch_ms", "foreachBatch_s", "driver_self_s")},
        "ingest.sink_dirs_read_per_batch": "the ingest drain does not run",
        "ingest.dup_rejected_frac": "the ingest drain does not run",
        "keyindex.compact_s": "the batch runner keeps no key sidecar",
        **{k: "probe runs on ingest_bloom" for k in PER_LAYER if k.startswith("catalog.")},
    },
    "ingest_bloom": {
        "session.local1_speedup": _PROBES_ELSEWHERE,
        "config.from_yaml_s": "the ingest drain takes no YAML config",
        "runner.build_s": "the batch runner does not run",
        "runner.eager_jobs_per_op": "the batch runner does not run",
        **{k: _PROBES_ELSEWHERE for k in (
            "sources.scan_s", "sources.envelope_s", "operators.payload_s",
            "operators.privacy_s", "plans.transform_s", "operators.dedup_s",
            "sinks.write_s", "sources.avro_codec_s")},
    },
}


def traced_layers(spark, wl, plan: dict, untraced_walls: list,
                  get_spark_s: float) -> tuple:
    """Run ``TRACED_PASSES`` traced passes after the untraced ones, then
    the layer probes, and derive every per-layer metric. Returns
    ``({name: (value, unit)}, {name: why unavailable}, probe checks
    attempted, probe checks failed)``."""
    tracer = Tracer()
    install(tracer)
    tracer.sampler = StatusSampler(spark)
    wl.traced = []
    workload = plan["workload"]
    walls = []
    for i in range(TRACED_PASSES):
        t = time.perf_counter()
        r = wl.run_pass(tracer)
        walls.append(time.perf_counter() - t - r["check_s"])
        wl.traced.append(r)
        r["files"], r["bytes"] = _dir_stats(r["state"])
        if i < TRACED_PASSES - 1:
            wl.cleanup(r["dir"])
    tracer.sampler = None
    results = wl.traced
    n_ops = sum(len(r["ops"]) for r in results)
    root = "op.interval" if workload == "interval_json" else "streaming.foreachBatch"
    roots = tracer.by_name(root)
    spark_ops = [s["spark"] for s in roots]
    msgs = plan["n_msgs"] * TRACED_PASSES
    tot = {k: sum(o[k] for o in spark_ops) for k in spark_ops[0] if k != "job_ids"}

    def per_op(k):
        return tot[k] / len(spark_ops)

    def span_s(name):
        return [s["end"] - s["start"] for s in tracer.by_name(name)]

    m: dict = {
        "session.get_spark_s": get_spark_s,
        "spark.jobs_per_op": per_op("jobs"),
        "spark.grouped_jobs_per_op": per_op("grouped_jobs"),
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.empty_partition_frac":
            tot["aqe_empty"] / tot["aqe_parts"] if tot["aqe_parts"] else 0.0,
        "spark.shuffle_bytes_per_msg": tot["shuffle_bytes"] / msgs,
        "spark.spill_bytes_per_op": per_op("spill_bytes"),
        "jvm.gc_ms_per_op": per_op("gc_ms"),
        "udf.rows_per_msg": tot["udf_rows"] / msgs,
        "udf.bytes_to_python_per_msg": tot["udf_bytes_to"] / msgs,
        "udf.bytes_from_python_per_msg": tot["udf_bytes_from"] / msgs,
        "fsio.calls_per_op": tracer.counts.get("fsio.calls", 0) / n_ops,
        "state.files_per_op": sum(r["files"] for r in results) / n_ops,
        "state.bytes_per_msg": sum(r["bytes"] for r in results) / msgs,
        "keyindex.probe_s": sum(span_s("keyindex.probe")) / n_ops,
        "keyindex.append_s": sum(span_s("keyindex.append")) / n_ops,
        "action.count_s": sum(span_s("action.count")) / n_ops,
        "action.collect_s": sum(span_s("action.collect")) / n_ops,
        "action.write_s": sum(span_s("action.write")) / n_ops,
        "action.writes_per_op": len(span_s("action.write")) / n_ops,
        # against the untraced pass just before: passes still speed up as
        # the JVM warms, so an earlier median would flatter the tracing
        "trace.overhead_frac": _med(walls) / untraced_walls[-1] - 1,
    }
    if workload == "interval_json":
        build = []
        for s in tracer.by_name("runner.run_pipeline"):
            kids = [c for c in tracer.spans if c["parent"] == s["id"]
                    and c["name"] in ("sinks.write", "runner.summary")]
            build.append(s["end"] - s["start"] - sum(c["end"] - c["start"] for c in kids))
        m["config.from_yaml_s"] = _med(span_s("config.from_yaml"))
        m["runner.build_s"] = _med(build)
        m["runner.eager_jobs_per_op"] = statistics.mean(s.get("eager_jobs", 0) for s in roots)
    else:
        prog = [e for r in results for e in r["progress"]]
        for phase in ("addBatch", "walCommit", "commitOffsets", "latestOffset",
                      "queryPlanning", "getBatch"):
            m[f"streaming.{phase}_ms"] = _med([e["ms"].get(phase, 0) for e in prog])
        m["streaming.foreachBatch_s"] = _med(span_s("streaming.foreachBatch"))
        m["streaming.driver_self_s"] = _med([tracer.self_time(s) for s in roots])
    tracer.dump(os.path.join(plan["tmp"], "spans.jsonl"))

    # probes, after the pass metrics are taken
    attempted = failed = 0
    if workload == "interval_json":
        m.update(prefix_cuts(spark, plan, PREFIX_REPS))
    else:
        # a crash replay of the pass's last micro-batch: the only batch
        # that reads the sink's own dirs
        replay_log, ok = wl.replay_last_batch(results[-1])
        attempted, failed = attempted + 1, failed + (not ok)
        plog = [e for r in results for e in r["probe_log"]] + replay_log
        m["ingest.sink_dirs_read_per_batch"] = statistics.mean(
            e["sink_dirs_read"] for e in plog)
        summ = [r["summary"] for r in results]
        m["ingest.dup_rejected_frac"] = (sum(s["skipped_duplicates"] for s in summ)
                                         / sum(s["event_count"] for s in summ))
        _compact_sidecar(spark, results[-1])
        m["keyindex.compact_s"] = _med(span_s("keyindex.compact"))
        cat, cat_failed = catalog_probe(spark, plan)
        m.update(cat)
        attempted, failed = attempted + CATALOG_QUERIES, failed + cat_failed
    wl.cleanup(results[-1]["dir"])
    if workload == "interval_json":
        m["session.local1_speedup"] = _local1_speedup(wl, plan, walls)
    unavailable = UNAVAILABLE[workload]
    out = {k: (m.get(k, 0.0) if k not in unavailable else 0.0, u)
           for k, u in PER_LAYER.items()}
    missing = sorted(k for k in PER_LAYER if k not in m and k not in unavailable)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {missing}")
    return out, unavailable, attempted, failed


TRACED_PASSES = 1
PREFIX_REPS = 3


def _compact_sidecar(spark, r: dict) -> None:
    """Compact the drain's key sidecar once through its public method, so
    compaction is timed even when the pass is shorter than
    ``compact_every`` batches."""
    from dvh_airflow_kafka_spark.streaming.ingest import INGEST_KEY_COLS, IngestDirs
    from dvh_airflow_kafka_spark.streaming.keyindex import SinkKeyIndex

    dirs = IngestDirs(os.path.join(r["dir"], "work"))
    SinkKeyIndex(spark, dirs.sink, list(INGEST_KEY_COLS)).compact()


def _local1_speedup(wl, plan, walls_nproc: list) -> float:
    """Warm wall at ``local[1]`` over warm wall at ``local[nproc]``. The
    JVM stays up; only the SparkContext is rebuilt with one core, then one
    pass warms it and the next is timed."""
    from worker import session

    wl.spark.stop()
    s1 = session(1, plan["tmp"])
    wl.spark = s1
    for _ in range(2):
        t = time.perf_counter()
        r = wl.run_pass()
        w = time.perf_counter() - t - r["check_s"]
        wl.traced.append(r)
        wl.cleanup(r["dir"])
    return w / _med(walls_nproc)
