"""Bounded dedup probe for streaming sinks (ST3/J1 at scale).

The reference's NOT-EXISTS dedup is evaluated by Oracle against an
indexed table — O(batch · log sink) per batch (reference
src/oracle_target.py:97-104). A parquet sink has no index, and re-reading
the whole sink every micro-batch is O(sink) work per batch — unbounded
growth as the sink accretes, the classic streaming scale-killer. This
module maintains the missing index: a keys-only parquet sidecar
hash-partitioned into a fixed number of buckets, so a batch's probe reads
only the buckets its own keys hash into (static partition pruning) and
only the key columns (column pruning). Per-batch probe cost is
O(batch + touched-buckets' share of distinct keys), independent of the
sink's payload width and of how many batches have run.

Crash-correctness — the sidecar is advisory; the *sink* stays the source
of truth. Per epoch the order is: attempt-marker → probe → sink append →
sidecar append → (Spark commits the epoch). A crash after the sink append
but before the sidecar append would make a pure-sidecar probe miss those
keys on replay; so a batch whose ``_attempted_<epoch>`` marker already
exists probes the full sink for that one batch instead. The rare
crash-replay batch is O(sink) and every normal batch O(batch) — the same
amortized contract as the reference's indexed NOT EXISTS. Duplicate keys
from replays cost bytes, not correctness (the anti-join deduplicates the
probe side). :meth:`SinkKeyIndex.compact` rewrites the sidecar to one
deduplicated file per bucket, keeping the ``bucket=`` layout (a flat
compaction would silently disable partition pruning) and the epoch
markers; it swaps through ``fsio.HadoopFs.swap``, whose protocol is
described once, in ``streaming/fsio.py``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

# perfbench/layers.py:322 looks this name up; same class as fsio's
from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs as _Fs  # noqa: F401

BUCKET_COL = "__kidx_bucket"


class SinkKeyIndex:
    """Keys-only, bucket-partitioned sidecar of a parquet sink's dedup
    keys, living at ``<sink>__keys``."""

    def __init__(
        self,
        spark: SparkSession,
        sink_path: str,
        keys: Sequence[str],
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.path = sink_path.rstrip("/") + "__keys"
        self.keys = list(keys)
        self.n_buckets = n_buckets
        self._fs = HadoopFs(spark, self.path)
        self._new = self.path + ".__new"
        self._aside = self.path + ".__old"
        # sidecar schema is fixed after the first write (key columns +
        # the bucket partition column); cache it so per-batch probes
        # skip the driver-side footer-inference pass (guide §6)
        self._schema = None

    def _bucket(self) -> F.Column:
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets)
        ).cast("int")

    def bucket_expr(self) -> F.Column:
        """The bucket-assignment expression, public so a caller can ride
        it on an existing pass (e.g. an ``observe`` on the batch's first
        materialization) and hand the result to :meth:`probe` instead of
        paying a dedicated collect job."""
        return self._bucket()

    def seed(self, keys: DataFrame) -> None:
        """Idempotently seed the sidecar with a pre-existing sink's keys
        (e.g. the ingest pipeline's initial sink), once per sidecar.
        Marker-protected: bucket data present WITHOUT the ``_seeded``
        marker means a crash tore a previous seed — since seeding
        precedes the first epoch, no batch keys can exist yet and the
        sidecar is safe to wipe and rebuild.  After the marker exists
        the sidecar is never wiped (``compact`` carries the marker
        over)."""
        self._fs.heal(self.path, self._aside)
        marker = f"{self.path}/_seeded"
        if self._fs.exists(marker):
            return
        self._fs.delete(self.path)
        self.append(keys)
        self._fs.mkdirs(self.path)  # zero-row seeds write no bucket dirs
        self._fs.touch(marker)

    def begin_epoch(self, epoch_id: int) -> bool:
        """Record that this epoch is being attempted. Returns True when a
        prior attempt exists — the caller must then probe the sink itself
        (the prior attempt may have appended to the sink without reaching
        the sidecar append)."""
        self._fs.heal(self.path, self._aside)
        self._fs.mkdirs(self.path)
        marker = f"{self.path}/_attempted_{epoch_id}"
        if self._fs.exists(marker):
            return True
        self._fs.touch(marker)
        return False

    def _has_data(self) -> bool:
        return any(
            e.startswith(f"{BUCKET_COL}=") for e in self._fs.list_names(self.path)
        )

    def probe(
        self, batch: DataFrame, buckets: Optional[list] = None
    ) -> Optional[DataFrame]:
        """Existing-keys frame pruned to the buckets ``batch``'s keys hash
        into, or None when the index is empty. The bucket list is a
        bounded driver collect (≤ n_buckets values) so the filter is a
        static ``IN`` that Spark turns into partition pruning — the scan
        never touches the other buckets' files.  Pass ``buckets`` (the
        distinct values of :meth:`bucket_expr` over the batch) to skip
        the collect job when a prior pass already computed them."""
        if not self._has_data():
            return None
        if buckets is None:
            buckets = [
                r.b
                for r in batch.select(
                    self._bucket().alias("b")
                ).distinct().collect()
            ]
        buckets = sorted(set(buckets))
        if not buckets:
            return None
        if self._schema is None:
            self._schema = self.spark.read.parquet(self.path).schema
        idx = self.spark.read.schema(self._schema).parquet(self.path)
        return idx.filter(F.col(BUCKET_COL).isin(buckets)).select(*self.keys)

    def append(self, fresh: DataFrame) -> None:
        """Append the just-written rows' keys, partitioned by bucket.

        The keys frame is shuffled onto the bucket column first so each
        bucket dir gains exactly ONE file per append — without it every
        input task writes a sliver into every bucket it touches
        (tasks × buckets files per append, measured as the dominant
        per-batch cost of the ingest drain's sidecar maintenance).

        The exchange is pinned to ``n_buckets`` partitions (one writer
        task per bucket — exactly the output-file contract above) rather
        than left to the session shuffle-partition count: an explicit
        partition count keeps AQE from inserting its per-stage
        re-optimization barrier into this tiny two-stage job, a measured
        ~1.0s → ~0.65s per append at micro-batch scale, and at any scale
        one task per output file is the right write parallelism for a
        keys-only frame."""
        (
            fresh.select(*self.keys)
            .withColumn(BUCKET_COL, self._bucket())
            .repartition(self.n_buckets, F.col(BUCKET_COL))
            .write.mode("append")
            .partitionBy(BUCKET_COL)
            .parquet(self.path)
        )

    def compact(self, purge: Optional[DataFrame] = None) -> None:
        """Rewrite the sidecar to one DISTINCT-keys file per bucket,
        keeping the ``bucket=`` partition layout (probe pruning) and the
        ``_attempted_*`` / ``_seeded`` markers (crash-replay detection /
        seed idempotence). Safe between drains or from inside a
        ``foreachBatch`` body (batches are sequential; the swap is
        rename-based with crash recovery in ``begin_epoch``) — not
        concurrently with another writer of the same sidecar.

        ``purge`` (round 13, the GDPR key-material hygiene arm of
        ``ingest.erase_users(purge_keys=True)``): a keys frame to
        SUBTRACT during the rewrite — the compacted sidecar drops those
        keys entirely, so content-derived key material (e.g. a
        ``kafka_hash`` key column) does not survive erasure.  The probe
        stays a superset of the (erased) sink's keys because the erased
        rows are gone from the sink too; a re-delivered erased message
        is then ADMITTED by design — the caller chooses that policy."""
        self._fs.heal(self.path, self._aside)
        entries = self._fs.list_names(self.path)
        if not any(e.startswith(f"{BUCKET_COL}=") for e in entries):
            return
        idx = self.spark.read.parquet(self.path).dropDuplicates(
            self.keys + [BUCKET_COL]
        )
        if purge is not None:
            idx = idx.join(
                purge.select(*self.keys).distinct(), self.keys, "anti"
            )
        (
            # pinned like append(): one writer task per bucket, no AQE
            # stage-replan barrier on a tiny job
            idx.repartition(self.n_buckets, F.col(BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(self._new)
        )
        # carry the epoch + seed markers over: losing ``_attempted_``
        # would blind crash-replay detection; losing ``_seeded`` would
        # make the next ``seed()`` call wipe the (batch-key-bearing!)
        # sidecar and rebuild it initial-keys-only — silent duplicates
        for entry in entries:
            if entry.startswith("_attempted_") or entry == "_seeded":
                self._fs.touch(f"{self._new}/{entry}")
        self._fs.swap(self._new, self.path, self._aside)
