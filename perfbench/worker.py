"""One fresh process that runs one workload: the unit an Airflow task pays.

Started by ``run.py`` with the prepared plan (input paths, expected sink
digests). It opens the SparkSession, runs the workload's first pass (the
cold pass), then repeats warm passes until the measuring window is spent,
checking every sink against the model outside the timed sections. With
``--mode trace`` it also runs the traced passes and the layer probes of
``layers.py``. The result is written as one JSON file.

Run only through ``run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import nullcontext

import gen  # perfbench/ is on sys.path as the script's directory


def rss_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class ProgressLog:
    """Collects each micro-batch's StreamingQueryProgress (a listener the
    benchmark registers; the engine is not touched)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    log.events.append(
                        {"batch": p.batchId, "rows": p.numInputRows,
                         "ms": dict(p.durationMs)}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log.terminated += 1

        self.events: list = []
        self.terminated = 0
        self.drains = 0
        self._listener = _L()
        spark.streams.addListener(self._listener)

    def take(self, timeout: float = 10.0) -> list:
        """Events of the drain that just ended. Listener events arrive
        asynchronously; wait for the termination event first."""
        self.drains += 1
        end = time.time() + timeout
        while self.terminated < self.drains and time.time() < end:
            time.sleep(0.01)
        out, self.events = self.events, []
        return out


class Workload:
    """A pass = the workload's whole input through the engine into fresh
    state; ``ops`` = the per-op latencies (s) of that pass, ``check_s`` =
    the time the pass spent checking sinks against the model, which is
    not part of its wall time."""

    def __init__(self, spark, plan: dict, work: str):
        self.spark = spark
        self.plan = plan
        self.work = work
        self.n_pass = 0

    def fresh_dir(self) -> str:
        self.n_pass += 1
        d = os.path.join(self.work, f"pass{self.n_pass:03d}")
        os.makedirs(d)
        return d

    def cleanup(self, d: str) -> None:
        shutil.rmtree(d, ignore_errors=True)


class IntervalJson(Workload):
    def run_pass(self, tracer=None):
        from dvh_airflow_kafka_spark.runner import run_pipeline

        d = self.fresh_dir()
        sink = os.path.join(d, "sink")
        lookup = self.spark.read.parquet(self.plan["lookup"])
        ops, failed, check_s = [], 0, 0.0
        for k, (lo, hi) in enumerate(self.plan["intervals"]):
            yaml_text = gen.interval_yaml(self.plan["source"], sink, lo, hi)
            bt = gen.interval_batch_time(k)
            t0 = time.perf_counter()
            op = f"p{self.n_pass}i{k}"
            with tracer.span("op.interval", op=op) if tracer else nullcontext():
                res = run_pipeline(self.spark, yaml_text, k6_lookup=lookup, batch_time=bt)
                summary = res.summary
            ops.append(time.perf_counter() - t0)
            t = time.perf_counter()
            ok = (
                summary.event_count == self.plan["interval_msgs"][k]
                and gen.IntervalJson.sink_digest(sink) == self.plan["expected"][k]
            )
            check_s += time.perf_counter() - t
            failed += 0 if ok else 1
        return {"ops": ops, "failed": failed, "check_s": check_s, "dir": d, "state": d}


class IngestBloom(Workload):
    def drain(self, d: str):
        """One ``run_ingest_pipeline`` drain over the whole backlog into
        the state under ``d``; returns its ``IngestDirs`` and the
        micro-batches' progress events."""
        from dvh_airflow_kafka_spark.config import AllowRule
        from dvh_airflow_kafka_spark.streaming.ingest import run_ingest_pipeline

        p = self.plan
        spark = self.spark
        stream = (
            spark.readStream.schema(_events_ddl())
            .option("maxFilesPerTrigger", str(p["files_per_trigger"]))
            .parquet(p["source"])
        )
        dirs = run_ingest_pipeline(
            spark,
            stream,
            work_dir=os.path.join(d, "work"),
            checkpoint_dir=os.path.join(d, "checkpoint"),
            initial_sink=spark.read.parquet(p["initial"]),
            lookup=spark.read.parquet(p["lookup"]),
            message_filters=[AllowRule(key="kind", allowed_value=v) for v in gen.INGEST_ALLOWED],
            shuffle_partitions=p["shuffle_partitions"],
        )
        return dirs, self.progress.take()

    def run_pass(self, tracer=None):
        p = self.plan
        d = self.fresh_dir()
        dirs, events = self.drain(d)
        t = time.perf_counter()
        s = dirs.summary
        ok = (
            s["event_count"] == p["n_msgs"]
            and s["written_to_db_count"] == p["n_admitted"]
            and s["skipped_duplicates"] == p["n_msgs"] - p["n_admitted"]
            and gen.IngestBloom.sink_digest(dirs.sink) == p["expected_sink"]
        )
        ops = [e["ms"]["triggerExecution"] / 1000.0 for e in events]
        # a mismatch fails every op of the drain, and at least one
        return {"ops": ops, "failed": 0 if ok else max(1, len(ops)),
                "check_s": time.perf_counter() - t, "dir": d,
                "progress": events, "probe_log": dirs.probe_log,
                "summary": dict(s), "state": d}

    def replay_last_batch(self, r: dict) -> tuple:
        """Replay the last micro-batch of pass ``r`` as after a crash
        between its writes and its checkpoint commit: drop the commit and
        restart the drain on the same state. Returns the replay's probe
        log and whether it was seen as a replay and left the sink as the
        model expects (replay is idempotent)."""
        commits = os.path.join(r["dir"], "checkpoint", "commits")
        last = max(int(n) for n in os.listdir(commits) if n.isdigit())
        for name in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(commits, name)):
                os.remove(os.path.join(commits, name))
        dirs, _ = self.drain(r["dir"])
        ok = (
            [e["replay"] for e in dirs.probe_log] == [True]
            and gen.IngestBloom.sink_digest(dirs.sink) == self.plan["expected_sink"]
        )
        return dirs.probe_log, ok


def _events_ddl() -> str:
    return ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
            "value DOUBLE, props STRING")


WORKLOADS = {
    "interval_json": IntervalJson,
    "ingest_bloom": IngestBloom,
}


def session(cpus: int, tmp: str):
    from dvh_airflow_kafka_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


MIN_WARM_PASSES = 2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plan", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--mode", choices=["run", "trace"], default="run")
    a = ap.parse_args()
    with open(a.plan) as f:
        plan = json.load(f)
    tmp = plan["tmp"]
    t = time.perf_counter()
    spark = session(a.cpus, tmp)
    get_spark_s = time.perf_counter() - t
    setup_s = time.time() - a.t0
    wl = WORKLOADS[plan["workload"]](spark, plan, plan["work"])
    if plan["workload"] == "ingest_bloom":
        wl.progress = ProgressLog(spark)
    out: dict = {"setup_s": setup_s}

    t = time.perf_counter()
    cold = wl.run_pass()
    out["cold_wall_s"] = time.perf_counter() - t - cold["check_s"]
    out["cold_failed"] = cold["failed"]
    out["cold_ops"] = len(cold["ops"])
    wl.cleanup(cold["dir"])

    # Warm passes fill the window: a pass starts while the window is not
    # yet spent, so the last one may run past it; there are at least
    # MIN_WARM_PASSES, so a pass as long as the window still has a median.
    walls, ops, failed = [], [], 0
    end = time.perf_counter() + a.seconds
    while time.perf_counter() < end or len(walls) < MIN_WARM_PASSES:
        t = time.perf_counter()
        r = wl.run_pass()
        walls.append(time.perf_counter() - t - r["check_s"])
        ops += r["ops"]
        failed += r["failed"]
        wl.cleanup(r["dir"])
    out.update(warm_walls=walls, ops=ops, failed=failed)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    out["peak_rss_mb"] = rss_hwm_mb(jvm_pid) + rss_hwm_mb(os.getpid())
    if a.mode == "trace":
        import layers as tr

        out["layers"], out["unavailable"], out["probe_checks"], probe_failed = \
            tr.traced_layers(spark, wl, plan, walls, get_spark_s)
        out["failed"] += probe_failed + sum(r["failed"] for r in wl.traced)
        out["ops"] += [x for r in wl.traced for x in r["ops"]]
    with open(a.out, "w") as f:
        json.dump(out, f)
    os._exit(0)  # run.py stops the JVM left in the process group


if __name__ == "__main__":
    sys.exit(main())
