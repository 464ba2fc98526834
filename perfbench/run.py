"""Spine benchmark: one workload, one seed, every end-to-end metric.

    python3 perfbench/run.py --workload interval_json --seed 1 --seconds 14 --trace 0

Workloads (see README.md for why each exists):

- ``interval_json``: ``runner.run_pipeline`` once per consecutive
  timestamp interval of one JSON topic, the Airflow assign cadence;
- ``ingest_bloom``: an events backlog drained by
  ``streaming.ingest.run_ingest_pipeline`` (Bloom-gated dedup, monitors).

Inputs are generated from ``--seed`` in this process (``gen.py``), then
each measured process is started fresh, as an Airflow task is: its
SparkSession set-up and its first (cold) pass are what every task run
pays. After the cold pass the worker starts warm passes until
``--seconds`` have passed. Every op's output is checked
against the generator's model; a mismatch counts as a failed op and
makes the exit code 1.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (``layers.py``).

All scratch data lives under ``.perfbench_tmp/`` in the working
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


# Input sizes, fixed per workload so runs are comparable across commits.
# An op carries 5,000-5,500 messages, the reference's recommended batch
# size (5,000; production runs 10,000, SURVEY.md:395-396): an interval of
# 5,000 originals plus 10% redeliveries, a micro-batch of 5,000 rows.
SIZES = {
    "interval_json": {"n_msgs": 10000, "n_intervals": 2},
    "ingest_bloom": {"n_batches": 2, "batch_rows": 5000, "initial_share": 0.25,
                     "dup_share": 0.3, "files_per_trigger": 1,
                     "shuffle_partitions": 4},
}

# A run must end within LIMIT_S. The worker gets its set-up and cold pass
# (SETUP_COLD_S), the measuring window twice over (a warm pass may start
# just before the window closes; there are at least two), and in a traced
# run its traced pass and probes (TRACE_S); never more than what is left
# of LIMIT_S after input generation and REAP_S for stopping its process
# group.
LIMIT_S, REAP_S = 180.0, 15.0
SETUP_COLD_S, TRACE_S = 100.0, 90.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_wall_s": "s",
    "wall_s": "s",
    "msgs_per_s": "msg/s",
    "op_p50_s": "s",
}


def host_noise() -> dict:
    """Steal share of all CPU time since boot and the 1-minute load."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    steal = cpu[7] if len(cpu) > 7 else 0
    return {"cpu_ticks": sum(cpu), "steal_ticks": steal, "load1": load1}


def steal_share(a: dict, b: dict) -> float:
    total = b["cpu_ticks"] - a["cpu_ticks"]
    return (b["steal_ticks"] - a["steal_ticks"]) / total if total else 0.0


def prepare(workload: str, seed: int, tmp: str, sz: dict) -> dict:
    """Generate the inputs of sizes ``sz`` and the model's expectations
    for one run, and write them as ``plan.json`` for the worker."""
    import gen

    data = os.path.join(tmp, "data")
    plan = {"workload": workload, "seed": seed, "tmp": tmp,
            "work": os.path.join(tmp, "work")}
    os.makedirs(plan["work"])
    if workload == "interval_json":
        g = gen.IntervalJson(seed, data, sz["n_msgs"], sz["n_intervals"])
        plan.update(
            source=g.source, lookup=g.lookup_path, intervals=g.intervals,
            interval_msgs=[g.interval_messages(k) for k in range(len(g.intervals))],
            expected=[g.expected_after(k) for k in range(len(g.intervals))],
            n_msgs=g.n_msgs,
        )
    else:
        g = gen.IngestBloom(seed, data, sz["n_batches"], sz["batch_rows"],
                            sz["initial_share"], sz["dup_share"])
        plan.update(
            source=g.source, initial=g.initial_path, lookup=g.lookup_path,
            expected_sink=g.expected_sink, n_msgs=g.n_msgs,
            n_admitted=g.n_admitted,
            files_per_trigger=sz["files_per_trigger"],
            shuffle_partitions=sz["shuffle_partitions"],
        )
    path = os.path.join(tmp, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    plan["path"] = path
    return plan


def child_env(tmp: str) -> dict:
    """Environment of every measured process: the repo on the Python
    path of the driver and of the pandas_udf workers, scratch inside the
    checkout, a fixed time zone for naive timestamp literals."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["TMPDIR"] = tmp
    # every JVM (the launcher and the driver) keeps its temp files here too
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["TZ"] = "UTC"
    env["PYTHONHASHSEED"] = "0"
    env.pop("SPARK_GRAFT_ON_CLUSTER", None)
    return env


def spawn(args: list, env: dict, log: str, timeout: float) -> None:
    with open(log, "ab") as lf:
        p = subprocess.Popen(args, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=ROOT, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"{args[1]} timed out after {timeout}s")
        finally:
            _reap_group(p.pid)
    if rc != 0:
        raise RuntimeError(f"{os.path.basename(args[1])} exited {rc}; see {log}")


def _alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _wait_gone(pgid: int, seconds: float) -> bool:
    end = time.time() + seconds
    while _alive(pgid):
        if time.time() >= end:
            return False
        time.sleep(0.05)
    return True


def _reap_group(pgid: int) -> None:
    """Stop anything the child left in its process group (a JVM or a
    Python worker daemon) and wait for it; a JVM is given a moment to
    run its own shutdown hooks first."""
    for sig in (0, signal.SIGTERM, signal.SIGKILL):
        if sig:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        if _wait_gone(pgid, 10 if sig == signal.SIGKILL else 3):
            return


def run_worker(plan: dict, cpus: int, seconds: float, mode: str, env: dict,
               log: str, timeout: float) -> dict:
    out = os.path.join(plan["tmp"], f"worker-{mode}.json")
    spawn([sys.executable, os.path.join(HERE, "worker.py"), "--plan", plan["path"],
           "--out", out, "--t0", repr(time.time()), "--cpus", str(cpus),
           "--seconds", str(seconds), "--mode", mode], env, log, timeout)
    with open(out) as f:
        return json.load(f)


def worker_timeout(seconds: float, trace: bool, spent: float) -> float:
    need = SETUP_COLD_S + 2 * seconds + (TRACE_S if trace else 0.0)
    return min(need, LIMIT_S - REAP_S - spent)


def tail_percentile(ops: list):
    """Highest percentile with at least ten ops beyond it, as
    ``(percentile, value)``; None when a run holds ten ops or fewer."""
    s = sorted(ops)
    if len(s) <= 10:
        return None
    idx = len(s) - 11  # s[idx] has exactly ten ops above it
    return 100.0 * (idx + 1) / len(s), s[idx]


def end_to_end(plan: dict, res: dict) -> dict:
    wall = statistics.median(res["warm_walls"])
    return {
        "setup_s": res["setup_s"],
        "cold_wall_s": res["cold_wall_s"],
        "wall_s": wall,
        "msgs_per_s": plan["n_msgs"] / wall,
        "op_p50_s": statistics.median(res["ops"]),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops and waits for its child process groups
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "dvh_airflow_kafka_spark", "__init__.py")):
        print("perfbench: engine package dvh_airflow_kafka_spark not found next "
              "to perfbench/", file=sys.stderr)
        return 2
    cpus = os.cpu_count() or 1
    base = os.path.join(os.getcwd(), ".perfbench_tmp")
    tmp = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(tmp)
    noise0 = host_noise()
    t_start = time.perf_counter()
    try:
        env = child_env(tmp)
        os.makedirs(env["SPARK_LOCAL_DIRS"])
        t = time.perf_counter()
        plan = prepare(a.workload, a.seed, tmp, SIZES[a.workload])
        gen_s = time.perf_counter() - t
        log = os.path.join(tmp, "worker.log")
        mode = "trace" if a.trace else "run"
        try:
            timeout = worker_timeout(a.seconds, bool(a.trace), time.perf_counter() - t_start)
            res = run_worker(plan, cpus, a.seconds, mode, env, log, timeout)
        except RuntimeError as e:
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
        noise1 = host_noise()
        attempted = res["cold_ops"] + len(res["ops"]) + res.get("probe_checks", 0)
        failed = res["cold_failed"] + res["failed"]
        e2e = end_to_end(plan, res)
        host = {"steal_share": round(steal_share(noise0, noise1), 5),
                "load1_start": noise0["load1"], "load1_end": noise1["load1"]}
        tail = tail_percentile(res["ops"])
        print(json.dumps({"workload": a.workload, "seed": a.seed, "gen_s": gen_s,
                          "run_s": time.perf_counter() - t_start,
                          "host": host,
                          "warm_ops": len(res["ops"]), "msgs": plan["n_msgs"],
                          "peak_rss_mb": res["peak_rss_mb"],
                          "op_tail": None if tail is None else
                          {"percentile": tail[0], "s": tail[1]},
                          "failed_op_frac": failed / attempted,
                          "warm_walls": res["warm_walls"],
                          "unavailable": res.get("unavailable", {})}))
        if a.trace:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in res["layers"].items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                       for k, v in e2e.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
