"""Streaming corpus builder: the training-data extension operators
composed under Structured Streaming.

Per micro-batch (``foreachBatch``):

1. **quality gate** — ``operators/quality.quality_filter`` keep/drop
   with named reasons;
2. **within-batch exact dedup** — min-id canonical per content
   fingerprint (8-byte ``xxhash64`` of normalized text);
3. **history dedup** — anti-join the batch's fingerprints against the
   fingerprints already accepted in PREVIOUS epochs (the accepted table
   itself is the index: scan its ``fingerprint`` column only — column
   pruning makes this an 8-bytes-per-doc read);
3b. **near-dup screen** (optional, ``near_dup_threshold``) — MinHash-LSH
   within the batch and against the PERSISTENT ``bands`` index of all
   previously accepted docs; only banded candidates run the exact
   shingle-Jaccard verification (incremental near-dedup at corpus
   scale);
4. **idempotent append** — accepted docs and the rejection audit land
   in ``epoch=N`` partitions with dynamic partition overwrite
   (``sinks.FileSink``), so a replayed epoch overwrites
   only itself.

Replay safety detail: the history read EXCLUDES the current epoch's own
partition (``epoch < current``) — on crash-replay, a half-written
partition from the failed attempt would otherwise dedup the batch
against itself and accept nothing.

At 100 TB the shapes hold: the quality gate is narrow (+ two hashed-gram
partial-agg rounds), fingerprint dedup shuffles 8-byte keys, and the
history anti-join reads one pruned column of the accepted table — or a
dedicated fingerprint index table if the corpus outgrows per-epoch
scans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.sql.window import Window

from pyspark.errors import AnalysisException

from bigdata_covid19_real_time_spark.operators.dedup import dedup_latest
from bigdata_covid19_real_time_spark.operators.quality import quality_filter
from bigdata_covid19_real_time_spark.operators.text import fingerprint
from bigdata_covid19_real_time_spark.sinks.registry import FileSink
from bigdata_covid19_real_time_spark.sinks.versioned import read_pointer, swap_pointer
from bigdata_covid19_real_time_spark.streaming.sources import read_jsonl_stream

#: Wire schema of the document stream (all strings, like RAW_SCHEMA —
#: typing happens in the pipeline, sentinel/garbage-safe).
DOC_WIRE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)


def _has_data_files(table_dir: str) -> bool:
    """True if ``table_dir`` (recursively — the sink writes
    ``epoch=N`` partition subdirs) contains any non-metadata file
    that Spark's reader would actually see.  Distinguishes the benign
    empty-commit layout (only ``_SUCCESS`` / ``.crc`` markers) from a
    directory whose DATA files exist but failed to read — the latter
    must fail the batch, not be treated as 'no history yet'.

    The walk PRUNES hidden directories (``_temporary``,
    ``.spark-staging-*``, ...) exactly like Spark's hidden-path
    filter: a crashed write's staged part files live under
    ``_temporary/`` and are invisible to ``spark.read.parquet``, so
    counting them as data would turn every retry of that batch into a
    permanent failure instead of the correct 'no committed history
    yet' recovery.  Local-filesystem walk: this deployment's sink
    paths are local; an object-store deployment would swap in a
    Hadoop FileSystem listing here.
    """
    for _root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                return True
    return False


class CorpusIngest:
    """Continuous corpus ingestion with quality + dedup gates.

    Tables written under ``base_dir`` (all epoch-partitioned):
    - ``accepted``: doc_id, text, lang, source, fingerprint
    - ``rejected``: doc_id, reason (one row per dropped doc;
      ``quality:<names>``, ``duplicate_in_batch`` /
      ``duplicate_of_corpus``, or — with ``near_dup_threshold`` set —
      ``near_duplicate_in_batch`` / ``near_duplicate_of_corpus``)
    - ``bands`` (near-dup mode only): doc_id, band_hash — the
      PERSISTENT LSH index of every accepted document

    Near-dup mode adds the MinHash-LSH screen after the exact gates:
    within-batch verified pairs drop the larger id, then the batch's
    band hashes equi-join the stored ``bands`` index to find its
    corpus-side candidates, and ONLY those candidate (batch, history)
    documents run the exact-Jaccard verification
    (``operators/dedup.jaccard_dedup_against_history``).  At 100 TB the
    index join ships 16-byte rows and the expensive shingle verify
    touches |candidates|, never |corpus| — the same banding math the
    batch operators use, made incremental.
    """

    def __init__(
        self,
        base_dir: str,
        near_dup_threshold: float | None = None,
        num_perm: int = 128,
        bands: int = 16,
        shingle_n: int = 3,
        seed: int = 42,
        **quality_kwargs,
    ) -> None:
        self.base_dir = base_dir
        self.near_dup_threshold = near_dup_threshold
        self.num_perm = num_perm
        self.bands = bands
        self.shingle_n = shingle_n
        self.seed = seed
        self.quality_kwargs = quality_kwargs
        self._sink = FileSink(base_dir)

    def _history_fingerprints(
        self, spark: SparkSession, current_epoch: int
    ) -> DataFrame | None:
        accepted = self._history_table(spark, "accepted", current_epoch)
        if accepted is None:
            return None
        return accepted.select("fingerprint").distinct()

    def _history_table(
        self, spark: SparkSession, table: str, current_epoch: int
    ) -> DataFrame | None:
        try:
            df = spark.read.parquet(f"{self.base_dir}/{table}")
        except AnalysisException as ex:
            # ONLY "no history yet" maps to None: a missing table dir
            # (first epoch) or a dir holding zero data files (an
            # earlier epoch committed an EMPTY frame — the writer
            # leaves just _SUCCESS, and schema inference fails with
            # UNABLE_TO_INFER_SCHEMA; empty history dedups nothing by
            # definition).  Any other read failure (corrupt footer,
            # storage fault, permissions) must FAIL the batch so the
            # trigger retries it — mapping it to None would silently
            # skip history dedup and accept duplicates of the corpus
            # as fresh rows.  UNABLE_TO_INFER_SCHEMA alone is NOT
            # proof of the empty-commit case (it also surfaces when
            # data files exist but are unreadable, e.g. truncated
            # after a storage fault), so the directory listing is
            # checked: any non-metadata file present means the error
            # is a real read failure and must propagate.
            if "PATH_NOT_FOUND" in str(ex):
                return None
            if "UNABLE_TO_INFER_SCHEMA" in str(ex) and not _has_data_files(
                f"{self.base_dir}/{table}"
            ):
                return None
            raise
        return df.filter(F.col("epoch") < current_epoch)

    def _near_dup_screen(
        self, spark: SparkSession, survivors: DataFrame, epoch_id: int
    ):
        """MinHash-LSH near-dup gate: returns (survivors, reject-rows).

        Within-batch: LSH candidates verified by exact Jaccard; the
        larger id of every verified pair drops.  Against-corpus: batch
        band hashes equi-join the stored index; only candidate docs run
        the exact verification.  Docs too short to shingle always pass.
        """
        from bigdata_covid19_real_time_spark.operators.dedup import (
            jaccard_dedup_against_history,
        )
        from bigdata_covid19_real_time_spark.operators.minhash import (
            band_hash_rows,
            minhash_lsh_pairs,
        )

        lsh_kwargs = dict(
            num_perm=self.num_perm,
            bands=self.bands,
            shingle_n=self.shingle_n,
            seed=self.seed,
        )
        pairs = minhash_lsh_pairs(
            survivors,
            threshold=self.near_dup_threshold,
            # micro-batches are small by construction; the scale-adaptive
            # fan-out would add a per-trigger repartition for nothing
            fan_out=False,
            **lsh_kwargs,
        )
        # persist the DECISION (an id-only frame, O(near-dups) rows):
        # three sink writes consume the screen downstream, and without
        # this each one re-runs the banding + exact-verification jobs
        # end-to-end (~2-3x the whole screen per epoch, measured).  The
        # process_batch delta-unpersist sweeps these at epoch end.
        batch_near = (
            pairs.select(F.col("doc_b").alias("doc_id")).distinct().persist()
        )
        rejects = batch_near.select(
            "doc_id", F.lit("near_duplicate_in_batch").alias("reason")
        )
        survivors = survivors.join(batch_near, "doc_id", "left_anti")

        hist_bands = self._history_table(spark, "bands", epoch_id)
        if hist_bands is not None:
            cand = (
                band_hash_rows(survivors, **lsh_kwargs)
                .join(
                    hist_bands.select(
                        F.col("doc_id").alias("__hist_id"), "band_hash"
                    ),
                    "band_hash",
                )
                .select("doc_id", "__hist_id")
                .distinct()
            )
            # exact verification runs ONLY on the candidate docs of
            # each side (semi-join pruning); everyone else passes free
            hist_docs = (
                self._history_table(spark, "accepted", epoch_id)
                .join(
                    cand.select(F.col("__hist_id").alias("doc_id")).distinct(),
                    "doc_id",
                    "left_semi",
                )
            )
            batch_cand = survivors.join(
                cand.select("doc_id").distinct(), "doc_id", "left_semi"
            )
            verified_ok = jaccard_dedup_against_history(
                batch_cand,
                hist_docs,
                threshold=self.near_dup_threshold,
                n=self.shingle_n,
            )
            # same persist rationale as batch_near above
            corpus_near = (
                batch_cand.select("doc_id")
                .join(verified_ok.select("doc_id"), "doc_id", "left_anti")
                .persist()
            )
            rejects = rejects.unionByName(
                corpus_near.select(
                    "doc_id", F.lit("near_duplicate_of_corpus").alias("reason")
                )
            )
            survivors = survivors.join(corpus_near, "doc_id", "left_anti")
        return survivors, rejects

    @staticmethod
    def _persisted_rdd_ids(spark: SparkSession) -> set[int]:
        """Ids of currently-persisted RDDs (cache-tracking helper)."""
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}

    @staticmethod
    def _unpersist_new_since(
        spark: SparkSession, before: set[int], blocking: bool = True
    ) -> None:
        """Release caches created since ``before`` was snapshotted.

        The LSH/Jaccard operators persist shingle and bucket tables
        internally (their documented looping-caller contract is to clear
        between invocations); a stream runs process_batch indefinitely,
        so release them per epoch or executor storage grows without
        bound.  Unpersisting the DELTA (not ``catalog.clearCache()``)
        leaves caches owned by other workloads sharing the session
        untouched — the only exposure is a cache another job creates
        concurrently DURING this epoch, which a shared-session deploy
        should avoid by serializing foreachBatch epochs anyway.

        ``blocking=True`` is the DEFAULT: an async teardown races the
        next job's execution-memory acquisition and can surface as
        Spark's UnsafeInMemorySorter NullPointerException (observed
        when back-to-back curation-waterfall runs shared one session),
        and process_batch cannot know whether its session runs more
        jobs right after the epoch — the replay harness
        (``docs_corpus_ingest_replay``) does exactly that, running
        epoch 1 and the audit reads immediately after epoch 0's
        teardown.  A deployment whose trigger interval dwarfs teardown
        latency may pass ``blocking=False`` to keep the wait off the
        epoch's latency path, accepting the documented race.

        The sweep walks the RDD handles because the operators'
        internal ``DataFrame.persist`` handles are not reachable from
        here.  The stale-CacheManager-entry hazard that pattern carries
        (a later PLAN-EQUAL query reusing an InMemoryRelation over
        destroyed blocks — SCALE.md rule 7) is structurally absent in
        this loop: every epoch's internal caches derive from that
        epoch's batch frame and a history read that grows each epoch,
        so no later plan is equal to a swept one.  Callers composing
        NEW plan-equal reads of swept frames in the same session must
        clear via ``spark.catalog.clearCache()`` instead.
        """
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for i in jmap.keySet().toArray():
            if int(i) not in before:
                jmap.get(i).unpersist(blocking)

    def process_batch(self, docs: DataFrame, epoch_id: int) -> None:
        """``docs``: (doc_id string, text, lang, source) batch frame."""
        spark = docs.sparkSession
        caches_before = self._persisted_rdd_ids(spark)
        cast = docs.withColumn("doc_id", F.col("doc_id").try_cast("long"))
        parseable = F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        # unparseable rows (uncastable id, NULL text, malformed JSON
        # lines parsed to all-NULL) still enter the rejection audit —
        # the tables account for EVERY wire row, so a producer switching
        # id formats is visible instead of silently dropping traffic.
        # doc_id is NULL for an uncastable id (nothing better exists).
        unparseable_rejects = cast.filter(~parseable).select(
            "doc_id", F.lit("unparseable").alias("reason")
        )
        typed = cast.filter(parseable)
        # at-least-once producers can repeat a doc_id within one batch;
        # collapse to one deterministic row per id (smallest text hash)
        # BEFORE the verdict join — repeated ids would otherwise fan out
        # through the join and every copy would pass the min-id window
        # (doc_id == min(doc_id) holds for all of them)
        typed = dedup_latest(
            typed, ["doc_id"], [F.asc(F.xxhash64("text")), F.asc("text")]
        )

        verdict = quality_filter(typed, **self.quality_kwargs).select(
            "doc_id", "keep", "reasons"
        )
        scored = typed.join(verdict, "doc_id")
        quality_rejects = (
            scored.filter(~F.col("keep"))
            .select("doc_id", F.concat(F.lit("quality:"), F.col("reasons")).alias("reason"))
        )
        # persist the fingerprinted batch: the accepted, rejected, and
        # (near-dup mode) bands writes all descend from it — without
        # this the rejected write re-runs the quality gate's gram
        # aggregations end-to-end
        kept_base = fingerprint(
            scored.filter(F.col("keep")).drop("keep", "reasons")
        ).persist()

        # within-batch exact dedup: min-id survives per fingerprint
        kept = kept_base.withColumn(
            "__min_id", F.min("doc_id").over(Window.partitionBy("fingerprint"))
        )
        batch_rejects = kept.filter(F.col("doc_id") != F.col("__min_id")).select(
            "doc_id", F.lit("duplicate_in_batch").alias("reason")
        )
        survivors = kept.filter(F.col("doc_id") == F.col("__min_id")).drop("__min_id")

        history = self._history_fingerprints(spark, int(epoch_id))
        if history is not None:
            corpus_rejects = survivors.join(history, "fingerprint", "left_semi").select(
                "doc_id", F.lit("duplicate_of_corpus").alias("reason")
            )
            survivors = survivors.join(history, "fingerprint", "left_anti")
        else:
            corpus_rejects = None

        rejected = unparseable_rejects.unionByName(quality_rejects).unionByName(
            batch_rejects
        )
        if corpus_rejects is not None:
            rejected = rejected.unionByName(corpus_rejects)

        if self.near_dup_threshold is not None:
            survivors, near_rejects = self._near_dup_screen(
                spark, survivors, int(epoch_id)
            )
            rejected = rejected.unionByName(near_rejects)

        # ONE materialization feeds every write.  Spark drops every
        # cache whose plan depends on a path the moment that path is
        # written (recacheByPath), and this epoch's output frames all
        # READ the accepted/bands tables (history fingerprints + the
        # near-dup index join) — so with a plain persist, the first
        # table write invalidated the caches and each remaining write
        # re-executed the whole epoch pipeline (measured ~3x, 323
        # jobs/epoch vs ~85 fixed).  Therefore: ``survivors``, which
        # must survive its own tables' writes to feed the next one, is
        # localCheckpoint-ed (lineage truncated to stored partitions —
        # immune to path invalidation), and ``rejected`` — consumed
        # exactly once — simply writes FIRST, before any path its plan
        # reads is touched.  The epoch still commits only at the
        # snapshot pointer swap, so write order is free.  At scale
        # localCheckpoint holds one copy of the accepted slice on
        # executors — the same footprint class as a persist.
        survivors = survivors.localCheckpoint()
        try:
            self._sink.write(rejected, int(epoch_id), "rejected")
            if self.near_dup_threshold is not None:
                from bigdata_covid19_real_time_spark.operators.minhash import (
                    band_hash_rows,
                )

                self._sink.write(
                    band_hash_rows(
                        survivors,
                        num_perm=self.num_perm,
                        bands=self.bands,
                        shingle_n=self.shingle_n,
                        seed=self.seed,
                    ),
                    int(epoch_id),
                    "bands",
                )
            self._sink.write(survivors, int(epoch_id), "accepted")
            # all tables committed: swap the snapshot pointer so readers
            # (read_corpus_snapshot) can now see this epoch — a crash
            # BEFORE this line leaves the pointer at the previous epoch
            # and the replayed epoch overwrites its partitions first
            publish_epoch_snapshot(self.base_dir, int(epoch_id))
        finally:
            # survivors is localCheckpoint-ed (not cached): its stored
            # partitions are reclaimed by the ContextCleaner when the
            # RDD reference drops, so only the true caches unpersist
            kept_base.unpersist()
            if self.near_dup_threshold is not None:
                self._unpersist_new_since(spark, caches_before)

    def run(
        self,
        spark: SparkSession,
        input_path: str,
        checkpoint: str,
        available_now: bool = True,
    ):
        """Wire a JSON-lines directory stream through the ingest; one
        file per micro-batch (deterministic epochs, like the covid
        pipeline's broker-free twin)."""
        stream = read_jsonl_stream(spark, input_path, schema=DOC_WIRE_SCHEMA)
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


# ---------------------------------------------------------------------------
# Epoch-snapshot isolation over the append-only accept table
# ---------------------------------------------------------------------------
#
# The accepted table is epoch-partitioned and idempotently replayable,
# but a reader scanning it DURING an epoch write sees a half-written
# partition.  Snapshot publishing fixes that without copying a byte:
# after an epoch commits, a pointer file records the highest published
# epoch (``sinks/versioned.py``'s write-temp-then-rename pointer,
# single-syscall-atomic — the same contract, here over partitions instead
# of directory copies, because the table is append-only by
# construction).  Readers filter `epoch <= pointer`, which prunes to
# exactly the published partitions; an in-flight epoch is invisible
# until its pointer swap.  This is the Iceberg snapshot-of-appends
# shape: data files immutable, commits are metadata.

_SNAPSHOT = "_snapshot.json"


def publish_epoch_snapshot(base_dir: str, epoch: int) -> None:
    """Atomically mark every epoch <= ``epoch`` as published."""
    swap_pointer(os.path.join(base_dir, _SNAPSHOT), "max_epoch", epoch)


def published_epoch(base_dir: str) -> int | None:
    """The pointer's epoch, or None before the first publish."""
    return read_pointer(os.path.join(base_dir, _SNAPSHOT), "max_epoch")


def read_corpus_snapshot(spark: SparkSession, base_dir: str, table: str = "accepted") -> DataFrame:
    """The published snapshot of an epoch table: partitions up to the
    pointer only (an epoch filter on the partition column — partition-
    pruned, in-flight epochs never scanned)."""
    max_epoch = published_epoch(base_dir)
    if max_epoch is None:
        raise FileNotFoundError(f"{base_dir}: no published snapshot")
    return spark.read.parquet(os.path.join(base_dir, table)).filter(
        F.col("epoch") <= max_epoch
    )
