"""Self-tests of the benchmark itself, on tiny seeds.

    python3 perfbench/selftest.py

Checks, in one Spark session:

- the generator's model agrees with the engine on each workload, and a
  deliberately corrupted sink is caught by the digest;
- a replayed micro-batch is seen as a replay, reads the sink's dirs and
  leaves the sink as the model expects;
- the catalog queries the traced run times agree with their DuckDB
  oracles on the seeded star schema, and a wrong result is caught;
- job counting sees a drain's micro-batch jobs, which run under the
  stream's job group and are invisible to
  ``statusTracker().getJobIdsForGroup(None)``;
- span self time and the tail percentile are computed as documented.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402
import layers as tr  # noqa: E402
import worker  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}")


def corrupt_one_row(part_dir: str, column: str) -> None:
    """Rewrite one parquet file of a sink with one cell changed."""
    name = next(n for n in sorted(os.listdir(part_dir)) if n.endswith(".parquet"))
    path = os.path.join(part_dir, name)
    t = pq.read_table(path)
    col = t.column(column).to_pylist()
    col[0] = "corrupted" if col[0] != "corrupted" else "x"
    idx = t.schema.get_field_index(column)
    t = t.set_column(idx, column, pa.array(col, t.schema.field(column).type))
    pq.write_table(t, path)


def test_units() -> None:
    t = tr.Tracer()
    with t.span("root", op="o1") as root:
        with t.span("a") as a:
            pass
        with t.span("b"):
            pass
    a["start"], a["end"] = root["start"] + 1.0, root["start"] + 3.0
    root["end"] = root["start"] + 10.0
    b = t.by_name("b")[0]
    b["start"], b["end"] = root["start"] + 2.0, root["start"] + 4.0
    check(abs(t.self_time(root) - 7.0) < 1e-9, "self time subtracts the union of children")
    pct, v = run.tail_percentile([float(i) for i in range(1, 31)])
    check(v == 20.0 and abs(pct - 200 / 3) < 1e-9, "tail percentile leaves ten ops beyond it")
    check(run.tail_percentile([1.0] * 10) is None, "no tail percentile from ten ops")


TINY = {
    "interval_json": {"n_msgs": 300, "n_intervals": 3},
    "ingest_bloom": {"n_batches": 3, "batch_rows": 100, "initial_share": 0.25,
                     "dup_share": 0.3, "files_per_trigger": 1, "shuffle_partitions": 2},
}


def workload(spark, name: str, tmp: str):
    d = os.path.join(tmp, name)
    os.makedirs(d)
    plan = run.prepare(name, 7, d, TINY[name])
    wl = worker.WORKLOADS[name](spark, plan, plan["work"])
    if name == "ingest_bloom":
        wl.progress = worker.ProgressLog(spark)
    return plan, wl


def test_interval(spark, tmp: str) -> None:
    plan, wl = workload(spark, "interval_json", tmp)
    r = wl.run_pass()
    check(r["failed"] == 0 and len(r["ops"]) == 3, "interval_json: sink matches the model")
    sink = os.path.join(r["dir"], "sink")
    corrupt_one_row(sink, "kafka_key")
    check(gen.IntervalJson.sink_digest(sink) != plan["expected"][-1],
          "interval_json: a corrupted sink is caught")


def test_ingest(spark, tmp: str) -> None:
    plan, wl = workload(spark, "ingest_bloom", tmp)
    tracer = tr.Tracer()
    tr.install(tracer)
    tracer.sampler = tr.StatusSampler(spark)
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    r = wl.run_pass(tracer)
    check(r["failed"] == 0 and len(r["ops"]) == 3, "ingest_bloom: sink matches the model")
    batches = tracer.by_name("streaming.foreachBatch")
    check(len(batches) == 3, "one root span per micro-batch")
    jobs = [s["spark"]["jobs"] for s in batches]
    grouped = [s["spark"]["grouped_jobs"] for s in batches]
    check(all(j > 0 for j in jobs), f"every micro-batch's jobs are counted: {jobs}")
    check(all(gj > 0 for gj in grouped), f"micro-batch jobs run under a job group: {grouped}")
    counted = {i for s in batches for i in s["spark"]["job_ids"]}
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None)) - before
    check(not counted & ungrouped,
          f"getJobIdsForGroup(None) sees none of the {len(counted)} micro-batch jobs")
    tracer.sampler = None
    log, ok = wl.replay_last_batch(r)
    check(ok and log[0]["sink_dirs_read"] == 3,
          f"a replayed batch is a replay, reads the sink dirs below it and the "
          f"initial sink, and leaves the sink as modelled: {log}")
    sink = os.path.join(r["dir"], "work", "sink")
    b = sorted(n for n in os.listdir(sink) if n.startswith("b"))[0]
    corrupt_one_row(os.path.join(sink, b), "event_type")
    check(gen.IngestBloom.sink_digest(sink) != plan["expected_sink"],
          "ingest_bloom: a corrupted sink is caught")


def test_catalog(spark, tmp: str) -> None:
    from dvh_airflow_kafka_spark.catalog import REGISTRY
    from tests.compare import duck_connection

    sf = gen.star_schema(7, os.path.join(tmp, "catalog"), n_orders=600)
    con = duck_connection(sf)
    names = tr.catalog_names()
    rows = {}
    for n in names:
        df = REGISTRY[n].fn(spark, sf)
        rows[n] = (df.columns, [tuple(r) for r in df.collect()])
    bad = [n for n in names if not tr.catalog_matches(*rows[n], con, REGISTRY[n].sql)]
    check(not bad, f"the {len(names)} catalog queries match their DuckDB oracles: {bad}")
    check(all(rows[n][1] for n in names), "every catalog query returns rows")
    cols, got = rows[names[0]]
    check(not tr.catalog_matches(cols, got[1:], con, REGISTRY[names[0]].sql),
          "a catalog result missing a row is caught")
    con.close()


def main() -> None:
    test_units()
    base = os.path.join(os.getcwd(), ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=base)
    try:
        os.environ.update({k: v for k, v in run.child_env(tmp).items()
                           if k in ("PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS", "TZ",
                                    "JAVA_TOOL_OPTIONS")})
        os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
        time.tzset()
        spark = worker.session(2, tmp)
        try:
            test_interval(spark, tmp)
            test_ingest(spark, tmp)
            test_catalog(spark, tmp)
        finally:
            spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print("selftest passed")


if __name__ == "__main__":
    main()
