"""Seeded input generator and independent reference model of each spine.

Everything a workload feeds the engine is made here from one seed, in one
process, as Kafka-shaped parquet files (``key value topic partition offset
timestamp``; the ingest drain takes the events shape instead). Beside the
inputs the generator keeps what it knows about them (which messages are
redeliveries, which pass the allow-filter, which persons are kode-6/7
flagged on which days) and derives from that alone the rows the sink must
hold afterwards. The model never imports the engine. The catalog's star
schema (``star_schema``) is checked against DuckDB oracles instead.

Payloads are well-formed only. Today the engine turns a malformed JSON
payload into NULL without raising or counting an error, so that input is
indistinguishable from an allow-filtered message. A malformed-input
workload would pin that defect as expected behaviour; it waits for the
engine to classify and dead-letter bad payloads.

A sink is compared with the model through an order-insensitive digest:
each row becomes a canonical tuple (payload JSON parsed back into a dict,
timestamps as integers), the tuples are sorted and hashed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import struct
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OSLO = ZoneInfo("Europe/Oslo")
UTC = dt.timezone.utc
BASE_MS = 1_717_200_000_000  # 2024-06-01T00:00:00Z
DAY_MS = 86_400_000
N_PARTITIONS = 4
TOPIC = "bench.hendelser"
AVRO_SCHEMA_ID = 42
BATCH_TIME = dt.datetime(2024, 7, 1, 12, 0, 0)

KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def digest(rows) -> str:
    """Order-insensitive digest of an iterable of canonical tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(t) for t in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _canon_msg(text):
    """kafka_message as a comparable value: parsed JSON, key-sorted."""
    if text is None:
        return None
    return json.dumps(json.loads(text), sort_keys=True)


def _zipf_ids(rng, n: int, n_ids: int, a: float = 1.3) -> np.ndarray:
    """Zipf-skewed ids in [1, n_ids]: a few heavy persons, a long tail."""
    raw = rng.zipf(a, size=n)
    return ((raw - 1) % n_ids) + 1


def _k6_lookup(rng, ids, first_day: int, n_days: int):
    """kode-6/7 lookup rows over ``ids``: each flagged person gets one
    validity window that covers part of the event range, so events of a
    flagged person fall both inside and outside it."""
    rows = []
    for pid in ids:
        lo = first_day + int(rng.integers(0, n_days))
        hi = lo + int(rng.integers(0, n_days))
        code = int(rng.choice([6, 7, 5]))  # 5: listed but not a scrub code
        rows.append((str(pid), lo, hi, code))
    return rows


def _k6_hit(lookup_by_id: dict, pid: str, ts_ms: int) -> bool:
    day = ts_ms // DAY_MS
    return any(
        code in (6, 7) and lo <= day <= hi
        for lo, hi, code in lookup_by_id.get(pid, ())
    )


def _day_date(day: int) -> dt.date:
    return dt.date(1970, 1, 1) + dt.timedelta(days=day)


def lookup_table(rows) -> pa.Table:
    return pa.table(
        {
            "off_id": [r[0] for r in rows],
            "gyldig_fra_dato": [_day_date(r[1]) for r in rows],
            "gyldig_til_dato": [_day_date(r[2]) for r in rows],
            "skjermet_kode": pa.array([r[3] for r in rows], pa.int32()),
        }
    )


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _kafka_table(msgs) -> pa.Table:
    return pa.table(
        {
            "key": [m["key"] for m in msgs],
            "value": [m["value"] for m in msgs],
            "topic": [m["topic"] for m in msgs],
            "partition": pa.array([m["partition"] for m in msgs], pa.int32()),
            "offset": pa.array([m["offset"] for m in msgs], pa.int64()),
            "timestamp": pa.array(
                [m["ts_ms"] * 1000 for m in msgs], pa.timestamp("us", tz="UTC")
            ),
        },
        schema=KAFKA_SCHEMA,
    )


def _ident(m) -> tuple:
    return (m["topic"], m["partition"], m["offset"])


# ---------------------------------------------------------------------------
# interval_json: the Airflow assign cadence through run_pipeline
# ---------------------------------------------------------------------------

INTERVAL_DROP = "hendelse/detaljer/hemmelig"
INTERVAL_FLAG = "hendelse/merknad"
INTERVAL_ALLOWED = ("OK", "RETRY")
INTERVAL_MS = 6 * 3_600_000


def interval_yaml(source: str, sink: str, lo_ms: int, hi_ms: int) -> str:
    return f"""
source:
  type: parquet
  topic: {TOPIC}
  schema: json
  path: "{source}"
  keypath-seperator: "/"
  message-fields-filter: ["{INTERVAL_DROP}"]
  flag-field-config: ["{INTERVAL_FLAG}"]
  message-filters:
    - key: status
      allowed_value: OK
    - key: status
      allowed_value: RETRY
  payload-schema: "id BIGINT, tidspunkt_ms BIGINT, belop DOUBLE, hendelse STRUCT<type: STRING, person: STRUCT<fnr: STRING>>"
  starting_timestamp_ms: {lo_ms}
  ending_timestamp_ms: {hi_ms}
target:
  type: parquet
  path: "{sink}"
  skip-duplicates-with: [kafka_topic, kafka_partition, kafka_offset]
  k6-filter:
    filter-table: skjerming
    filter-col: off_id
    col: hendelse/person/fnr
    col-keypath-separator: "/"
    timestamp: kafka_timestamp
transform:
  - src: kafka_topic
    dst: kafka_topic
  - src: kafka_partition
    dst: kafka_partition
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_key
    dst: kafka_key
  - src: kafka_hash
    dst: kafka_hash
  - src: kafka_message
    dst: kafka_message
  - src: hendelse.type
    dst: hendelse_type
  - src: tidspunkt_ms
    dst: tidspunkt
    fun: int-unix-ms -> datetime-no
  - src: $$BATCH_TIME
    dst: lastet_tid
  - src: $perfbench
    dst: kilde
"""


def interval_batch_time(k: int) -> dt.datetime:
    """``$$BATCH_TIME`` of interval run ``k``."""
    return BATCH_TIME + dt.timedelta(hours=k)


def _interval_payload(rng, i: int, pid: int, ts_ms: int) -> dict:
    details = [
        {"kode": f"K{int(rng.integers(0, 50))}", "hemmelig": f"s{int(rng.integers(0, 1e9))}"}
        for _ in range(int(rng.integers(1, 4)))
    ]
    hendelse = {
        "type": ["opprettet", "endret", "avsluttet"][int(rng.integers(0, 3))],
        "person": {"fnr": str(pid)},
        "merknad": None if rng.random() < 0.5 else f"m{int(rng.integers(0, 100))}",
        "detaljer": details,
    }
    status = ["OK", "OK", "OK", "RETRY", "SKIP"][int(rng.integers(0, 5))]
    return {
        "id": i,
        "status": status,
        "tidspunkt_ms": ts_ms - int(rng.integers(0, 3_600_000)),
        "belop": round(float(rng.random() * 10_000), 2),
        "hendelse": hendelse,
    }


def _interval_filtered(p: dict):
    """The model's drop/flag/allow: what kafka_message must hold."""
    if p["status"] not in INTERVAL_ALLOWED:
        return None
    q = json.loads(json.dumps(p))
    for d in q["hendelse"]["detaljer"]:
        d.pop("hemmelig", None)
    q["hendelse"]["merknad"] = 1 if q["hendelse"]["merknad"] is not None else 0
    return q


def _oslo_wall_us(ms: int) -> int:
    """int-unix-ms -> datetime-no as the naive Oslo wall clock, in µs."""
    wall = dt.datetime.fromtimestamp(ms / 1000, OSLO).replace(tzinfo=None)
    return (wall - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


class IntervalJson:
    """One JSON topic cut into consecutive timestamp intervals.

    Interval ``i`` covers ``[edge[i] - overlap, edge[i+1])``: its start
    re-reads the tail of the previous interval, the reference's inclusive
    delta start, and the dedup anti-join against the growing sink absorbs
    it. A share of messages is redelivered as exact copies."""

    def __init__(self, seed: int, root: str, n_msgs: int, n_intervals: int):
        rng = np.random.default_rng([seed, 1])
        self.source = os.path.join(root, "source")
        self.lookup_path = os.path.join(root, "lookup", "part-0.parquet")
        span_ms = n_intervals * INTERVAL_MS
        ts = np.sort(rng.integers(BASE_MS, BASE_MS + span_ms, size=n_msgs))
        pids = _zipf_ids(rng, n_msgs, 400)
        offsets = [0] * N_PARTITIONS
        msgs = []
        for i in range(n_msgs):
            part = int(rng.integers(0, N_PARTITIONS))
            p = _interval_payload(rng, i, int(pids[i]), int(ts[i]))
            raw = json.dumps(p).encode()
            msgs.append(
                {
                    "key": f"k{int(pids[i])}".encode(),
                    "value": raw,
                    "topic": TOPIC,
                    "partition": part,
                    "offset": offsets[part],
                    "ts_ms": int(ts[i]),
                    "payload": p,
                }
            )
            offsets[part] += 1
        n_dup = n_msgs // 10
        redelivered = [msgs[int(j)] for j in rng.choice(n_msgs, n_dup, replace=False)]
        log = msgs + [dict(m) for m in redelivered]
        log.sort(key=lambda m: (m["ts_ms"], m["partition"], m["offset"]))
        # 4 files, one per partition: a topic dump as a Kafka reader sees it
        for part in range(N_PARTITIONS):
            _write(
                _kafka_table([m for m in log if m["partition"] == part]),
                os.path.join(self.source, f"part-{part}.parquet"),
            )
        day0 = BASE_MS // DAY_MS
        flagged = sorted({int(x) for x in pids})[::3]
        self.k6_rows = _k6_lookup(rng, flagged, day0 - 1, span_ms // DAY_MS + 2)
        _write(lookup_table(self.k6_rows), self.lookup_path)
        self.k6_by_id: dict = {}
        for pid, lo, hi, code in self.k6_rows:
            self.k6_by_id.setdefault(pid, []).append((lo, hi, code))
        edges = [BASE_MS + k * (span_ms // n_intervals) for k in range(n_intervals)]
        edges.append(BASE_MS + span_ms)
        overlap_ms = 120_000
        self.intervals = [
            (edges[k] - (overlap_ms if k else 0), edges[k + 1])
            for k in range(n_intervals)
        ]
        self.log = log
        self.n_msgs = len(log)
        self._expected = self._model()

    def interval_messages(self, k: int) -> int:
        lo, hi = self.intervals[k]
        return sum(1 for m in self.log if lo <= m["ts_ms"] < hi)

    def _row(self, m, batch_time) -> tuple:
        p = m["payload"]
        msg = _interval_filtered(p)
        if msg is not None and _k6_hit(self.k6_by_id, p["hendelse"]["person"]["fnr"], m["ts_ms"]):
            msg = None
        return (
            m["topic"],
            m["partition"],
            m["offset"],
            m["key"].decode(),
            _sha(m["value"]),
            None if msg is None else json.dumps(msg, sort_keys=True),
            None if msg is None else msg["hendelse"]["type"],
            None if msg is None else _oslo_wall_us(p["tidspunkt_ms"]),
            (batch_time - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1),
            "perfbench",
        )

    def _model(self) -> list[str]:
        """Expected sink digest after each interval run."""
        seen: set = set()
        rows: list = []
        out = []
        for k, (lo, hi) in enumerate(self.intervals):
            for m in self.log:
                if lo <= m["ts_ms"] < hi and _ident(m) not in seen:
                    seen.add(_ident(m))
                    rows.append(self._row(m, interval_batch_time(k)))
            out.append(digest(rows))
        return out

    def expected_after(self, k: int) -> str:
        return self._expected[k]

    @staticmethod
    def sink_digest(sink: str) -> str:
        t = pq.read_table(sink).to_pylist()
        return digest(
            (
                r["kafka_topic"],
                r["kafka_partition"],
                r["kafka_offset"],
                r["kafka_key"],
                r["kafka_hash"],
                _canon_msg(r["kafka_message"]),
                r["hendelse_type"],
                None if r["tidspunkt"] is None else _ts_us(r["tidspunkt"]),
                _ts_us(r["lastet_tid"]),
                r["kilde"],
            )
            for r in t
        )


def _ts_us(v) -> int:
    if v.tzinfo is not None:
        v = v.astimezone(UTC).replace(tzinfo=None)
    return (v - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


# ---------------------------------------------------------------------------
# Confluent-framed Avro: the topic the Avro codec probe decodes
# ---------------------------------------------------------------------------

AVRO_SCHEMA = {
    "type": "record",
    "name": "Hendelse",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "bruker", "type": "string"},
        {"name": "hendelse", "type": "string"},
        {"name": "belop", "type": "double"},
        {"name": "merknad", "type": ["null", "string"]},
        {"name": "tidspunkt", "type": "long"},
    ],
}


def _zz(n: int) -> bytes:
    """Avro zigzag varint, written from the spec."""
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_str(s: str) -> bytes:
    b = s.encode()
    return _zz(len(b)) + b


def avro_encode(rec: dict) -> bytes:
    out = bytearray()
    out += _zz(rec["id"])
    out += _avro_str(rec["bruker"])
    out += _avro_str(rec["hendelse"])
    out += struct.pack("<d", rec["belop"])
    if rec["merknad"] is None:
        out += _zz(0)
    else:
        out += _zz(1) + _avro_str(rec["merknad"])
    out += _zz(rec["tidspunkt"])
    return bytes(out)


def avro_topic(seed: int, root: str, n_msgs: int) -> tuple:
    """One Confluent-framed Avro topic file (magic byte, schema id, body)
    of ``n_msgs`` messages; returns ``(path, writer schema JSON)``."""
    rng = np.random.default_rng([seed, 2])
    users = _zipf_ids(rng, n_msgs, 2000)
    msgs = []
    for i in range(n_msgs):
        rec = {
            "id": i,
            "bruker": f"u{int(users[i])}",
            "hendelse": ["ny", "endret", "slettet"][int(rng.integers(0, 3))],
            "belop": round(float(rng.random() * 1000), 3),
            "merknad": None if rng.random() < 0.4 else f"n{int(rng.integers(0, 99))}",
            "tidspunkt": BASE_MS + i * 1000,
        }
        msgs.append(
            {
                "key": rec["bruker"].encode(),
                "value": b"\x00" + struct.pack(">I", AVRO_SCHEMA_ID) + avro_encode(rec),
                "topic": TOPIC,
                "partition": i % N_PARTITIONS,
                "offset": i // N_PARTITIONS,
                "ts_ms": rec["tidspunkt"],
            }
        )
    path = os.path.join(root, "part-0.parquet")
    _write(_kafka_table(msgs), path)
    return path, json.dumps(AVRO_SCHEMA)


# ---------------------------------------------------------------------------
# ingest_bloom: events-shaped backlog drained by run_ingest_pipeline
# ---------------------------------------------------------------------------

INGEST_ALLOWED = ("view", "click")
INGEST_TOPIC = "events"


class IngestBloom:
    """Events with Zipf-skewed users; an initial sink already holds a
    share of the keys and exact-copy redeliveries give a high duplicate
    share. The backlog is ``n_batches`` files of ``batch_rows`` rows, one
    micro-batch each; ``dup_share`` of it is redeliveries. Partition is
    ``user_id % 2`` (the engine's events mapping)."""

    def __init__(self, seed: int, root: str, n_batches: int, batch_rows: int,
                 initial_share: float, dup_share: float):
        rng = np.random.default_rng([seed, 3])
        self.source = os.path.join(root, "source")
        self.initial_path = os.path.join(root, "initial", "part-0.parquet")
        self.lookup_path = os.path.join(root, "lookup", "part-0.parquet")
        total = n_batches * batch_rows
        n = total - int(total * dup_share)
        users = _zipf_ids(rng, n, 3000)
        events = []
        for i in range(n):
            ts_ms = BASE_MS + i * 60_000
            kind = ["view", "click", "buy", "view"][int(rng.integers(0, 4))]
            events.append(
                {
                    "event_id": i,
                    "ts_ms": ts_ms,
                    "user_id": int(users[i]),
                    "event_type": ["a", "b", "c"][int(rng.integers(0, 3))],
                    "value": round(float(rng.random() * 100), 4),
                    "props": json.dumps({"kind": kind, "k": int(rng.integers(0, 1000))}),
                }
            )
        # originals in order, then exact copies of a random share appended
        # as later files: redeliveries across micro-batches
        dups = [events[int(j)] for j in rng.choice(n, total - n, replace=False)]
        backlog = events + dups
        self.paths = []
        for f in range(n_batches):
            chunk = backlog[f * batch_rows:(f + 1) * batch_rows]
            path = os.path.join(self.source, f"e{f:04d}.parquet")
            _write(_events_table(chunk), path)
            os.utime(path, ns=(f * 10**9 + 10**18, f * 10**9 + 10**18))
            self.paths.append(path)
        init_ids = rng.choice(n, int(n * initial_share), replace=False)
        self.initial = [events[int(j)] for j in sorted(init_ids)]
        _write(_events_table(self.initial), self.initial_path)
        day0 = BASE_MS // DAY_MS
        flagged = sorted({int(u) for u in users})[::4]
        n_days = max(2, (n * 60_000) // DAY_MS + 1)
        self.k6_rows = _k6_lookup(rng, flagged, day0, n_days)
        _write(lookup_table(self.k6_rows), self.lookup_path)
        self.k6_by_id: dict = {}
        for pid, lo, hi, code in self.k6_rows:
            self.k6_by_id.setdefault(pid, []).append((lo, hi, code))
        self.n_msgs = len(backlog)
        init_keys = {self._key(e) for e in self.initial}
        seen, adm = set(init_keys), []
        for e in backlog:
            if self._key(e) not in seen:
                seen.add(self._key(e))
                adm.append(self._row(e))
        self.n_admitted = len(adm)
        self.expected_sink = digest(adm)

    @staticmethod
    def _key(e) -> tuple:
        return (INGEST_TOPIC, e["user_id"] % 2, e["event_id"])

    def _row(self, e) -> tuple:
        msg = e["props"]
        if json.loads(msg)["kind"] not in INGEST_ALLOWED:
            msg = None
        if msg is not None and _k6_hit(self.k6_by_id, str(e["user_id"]), e["ts_ms"]):
            msg = None
        return (
            INGEST_TOPIC, e["user_id"] % 2, e["event_id"], str(e["user_id"]),
            _sha(e["props"].encode()), e["ts_ms"], msg, e["user_id"],
            e["event_type"], e["value"],
        )

    @staticmethod
    def sink_digest(sink_root: str) -> str:
        rows = []
        for d in sorted(os.listdir(sink_root)) if os.path.isdir(sink_root) else []:
            if d.startswith("b"):
                rows += pq.read_table(os.path.join(sink_root, d)).to_pylist()
        return digest(
            (
                r["kafka_topic"], r["kafka_partition"], r["kafka_offset"], r["kafka_key"],
                r["kafka_hash"], r["kafka_timestamp"], r["kafka_message"], r["user_id"],
                r["event_type"], r["value"],
            )
            for r in rows
        )


def _events_table(events) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array([e["event_id"] for e in events], pa.int64()),
            "ts": pa.array([e["ts_ms"] * 1000 for e in events], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([e["user_id"] for e in events], pa.int64()),
            "event_type": [e["event_type"] for e in events],
            "value": pa.array([e["value"] for e in events], pa.float64()),
            "props": [e["props"] for e in events],
        },
        schema=EVENTS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# catalog: a small star schema in the shape of the catalog's fixtures
# ---------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("the fast key order sort table scan merge part window small hash join "
         "batch customer agg data slow vector stream query group bit").split()
CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")


def _naive_us(days: np.ndarray, base: dt.date) -> pa.Array:
    """Day offsets from ``base`` as naive µs timestamps."""
    epoch_day = (base - dt.date(1970, 1, 1)).days
    return pa.array((days.astype(np.int64) + epoch_day) * DAY_MS * 1000, pa.timestamp("us"))


def star_schema(seed: int, root: str, n_orders: int = 3000) -> str:
    """Write the ten catalog tables (``<root>/<table>.parquet``) with the
    column names, types and value domains of the catalog's fixtures
    (TPC-H-shaped star schema, ``events``, ``documents``, ``embeddings``),
    sized from ``n_orders``. Returns ``root``, the ``sf_dir`` the catalog
    queries take."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = n_orders // 10, 10, n_orders // 8
    n_events, n_users, n_docs, n_vecs = n_orders, 15, n_orders // 6, 100
    i32, f64 = pa.int32(), pa.float64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)},
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{WORDS[a]} {WORDS[b]}" for a, b in rng.integers(0, len(WORDS), (n_part, 2))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(11, 56, n_part)],
            "p_type": [("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")[k]
                       for k in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + np.arange(n_part) % 200 / 10, 2),
        },
    }
    order_days = rng.integers(0, 2405, n_orders)  # 1995-01-01 .. 2001-08
    tables["orders"] = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_orders)],
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": _naive_us(order_days, dt.date(1995, 1, 1)),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_orders)],
    }
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
        "l_shipdate": _naive_us(np.repeat(order_days, lines) + rng.integers(1, 122, n_li),
                                dt.date(1995, 1, 1)),
    }
    ev_us = np.sort(rng.integers(0, 30 * DAY_MS * 1000, n_events))
    tables["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ev_us + 19723 * DAY_MS * 1000, pa.timestamp("us")),  # January 2024
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_events)],
        "value": money(0, 330, n_events),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    }
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(8, 80)))
             for _ in range(n_docs)]
    for k in rng.choice(n_docs, n_docs // 10, replace=False):  # exact copies
        texts[int(k)] = texts[int(rng.integers(0, n_docs))]
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [("de", "en", "es", "fr", "zh")[k] for k in rng.integers(0, 5, n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 10, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    vecs = rng.normal(0, 0.2, (n_vecs, 16)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    }
    for name in CATALOG_TABLES:
        cols = {k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in tables[name].items()}
        for k in ("c_acctbal", "s_acctbal", "o_totalprice", "value"):
            if k in cols:
                cols[k] = cols[k].cast(f64)
        _write(pa.table(cols), os.path.join(root, f"{name}.parquet"))
    return root
