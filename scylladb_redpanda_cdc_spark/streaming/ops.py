"""Streaming operator kernels: foreachBatch upsert (S10) and arbitrary
per-key state (S11).

S10 is the reference pipeline's materialization loop run *incrementally*:
each micro-batch of change events is merged into the current-state table by
the same offset-authoritative compaction kernel the batch path uses
(operators.cdc.materialize_latest; reference rpk_topic_consume.json:44,52 —
update supersedes insert for key (1,6)). Because compaction is
order-insensitive (max offset wins no matter how events are batched), the
final state is identical for ANY micro-batch partitioning of the log — that
invariance is what makes the streaming and batch answers provably equal.

Scale: state lives as parquet partitioned by the event key; each merge
shuffles only on that key (the topic's own partitioning). Every kernel's
state versions and its checkpointed availableNow drain go through one
primitive, ``streaming/core.py``'s :class:`StateVersions` +
:func:`drain_foreach_batch`. On a real deployment the per-batch version
swap becomes an atomic table-format commit (Delta/Iceberg MERGE); the DAG
is the same.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from scylladb_redpanda_cdc_spark.operators.cdc import materialize_latest
from scylladb_redpanda_cdc_spark.operators.scale import size_partitions
from scylladb_redpanda_cdc_spark.sources.changelog import synth_changelog
from scylladb_redpanda_cdc_spark.streaming.core import (
    StateVersions,
    drain_foreach_batch,
    scoped_conf,
    staged_dir_valid,
    state_file_count,
    stream_source_bytes,
    table_bytes,
    tmpdir,
)

CHANGELOG_STREAM_DDL = (
    "customer_id bigint, order_id bigint, op string, totalprice double, "
    "orderstatus string, ts_ms bigint, `offset` bigint"
)

#: Max number of distinct keys in a micro-batch we will broadcast for the
#: touched/untouched state split. A catch-up batch (initial topic drain,
#: resume after downtime) can carry arbitrarily many keys; broadcasting
#: those would blow the driver/executor broadcast limit, so past the cap
#: the merge falls back to a shuffled join and lets AQE pick the strategy.
BROADCAST_KEY_CAP = 2_000_000

_staged_changelogs: dict[tuple[str, str, int], str] = {}

#: Measured in-flight bytes per orders-parquet byte for the synthesized
#: changelog's staging write (round-16 ×1000 drill: 6.3 GB shuffled rows
#: from 1.76 GB of orders parquet = 3.6×; 4 adds headroom — the same
#: conservative posture as b31's fact-side multiplier, decade-checked
#: there at ~2.2× actual).
CHANGELOG_INFLIGHT_MULTIPLIER = 4

#: Target in-flight bytes per staging-WRITE task above the gate.
STAGE_WRITE_TARGET_TASK_BYTES = 128 * 1024 * 1024


def _changelog_files_per_batch(spark: SparkSession, sf_dir: str, n_files: int) -> int:
    """How many staged files make up ONE micro-batch of the changelog
    transport — 1 at every fixture SF (below the 32 MB gate: plans,
    batch splits and floors byte-identical to the shipped shape), sized
    so no staging-write task holds more than
    ~:data:`STAGE_WRITE_TARGET_TASK_BYTES` in flight above it. The
    round-16 ×1000 drill measured the fixture form (``repartition(
    n_files)`` = n_files write tasks) at 2,115 MB in-flight per task —
    the fixed-constant-as-write-width defect class
    (``state_file_count``'s docstring). Deterministic per (dataset,
    n_files): driver-side metadata only, so the reader can recompute the
    trigger cap without the stager threading it through the cache."""
    return size_partitions(
        table_bytes(spark, sf_dir, "orders"),
        n_files * STAGE_WRITE_TARGET_TASK_BYTES,
        1,
        256,
        expansion=CHANGELOG_INFLIGHT_MULTIPLIER,
    )


def stage_changelog_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Materialize the synthesized CDC log as ``n_files`` micro-batches of
    parquet files and stream them back one batch per trigger — a
    deterministic stand-in for a Kafka topic drained in several polls.
    The staged log is deterministic per (sf_dir, n_files), so it is
    written once per session and reused.

    Batch count (``n_files``) is declared semantics; the number of FILES
    per batch is physical: above the 32 MB gate each batch is
    ``_changelog_files_per_batch`` files so no staging-write task holds
    more than the in-flight target (mtimes pin the file→batch grouping;
    ``maxFilesPerTrigger`` drains one group per micro-batch). The final
    state is identical for ANY batch split (offset authority — the s18
    invariance family pins it), so the above-gate regrouping is physical
    only; below the gate the layout, trigger cap and plans are
    byte-identical to the shipped fixture shape."""
    import glob as _glob
    import time as _time

    inner = _changelog_files_per_batch(spark, sf_dir, n_files)
    cache_key = (spark.sparkContext.applicationId, sf_dir, n_files)
    if not staged_dir_valid(_staged_changelogs.get(cache_key)):
        stage = tmpdir("changelog", bytes_hint=table_bytes(spark, sf_dir, "orders"))
        synth_changelog(spark, sf_dir).repartition(n_files * inner).write.mode(
            "overwrite"
        ).parquet(stage)
        if inner > 1:
            # pin file→batch grouping: part files sort in partition
            # order; one second apart in that order, so every file is
            # strictly older than the next and oldest-first draining of
            # `inner` files per trigger groups exactly parts[i*inner:
            # (i+1)*inner] into batch i, for any inner.
            parts = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))
            first = _time.time() - 600 - len(parts)
            for j, p in enumerate(parts):
                os.utime(p, (first + j, first + j))
        _staged_changelogs[cache_key] = stage
    return (
        spark.readStream.schema(CHANGELOG_STREAM_DDL)
        .option("maxFilesPerTrigger", inner)
        .parquet(_staged_changelogs[cache_key])
    )


_staged_late_events: dict[tuple[str, str], str] = {}


def stage_late_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the ``events`` table as THREE ordered stream files that force a
    real late-arrival scenario (S12):

    - file 0: the older half of the event-time range, minus the stragglers;
    - file 1: the newer half — processing it advances the watermark far
      past every old-half window;
    - file 2: the stragglers — ODD event_ids more than 70 minutes older
      than the midpoint, which the engine must DROP.

    The halves split at the midpoint of the epoch-micros range (exact
    integer arithmetic both engines can reproduce), and file order is
    pinned by modification time (FileStreamSource processes oldest-mtime
    first; ``maxFilesPerTrigger=1`` asks for one file per micro-batch).
    The straggler cutoff is mid − 70 min, not mid: the weakest watermark
    any legal batch grouping can apply to file 2 is max(file 0) − 10 min ≈
    mid − 10 min (watermarks take effect one batch late), and a straggler's
    1-hour window must already have closed under THAT — ts < mid − 70 min
    ⟹ window.end ≤ mid − 10 min. Only "file 2 inside the very first
    batch" would break determinism, and mtime ordering plus the trigger
    cap rules that out. Staged once per (session, dataset)."""
    import glob
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from scylladb_redpanda_cdc_spark.sources.tables import normalize_event_ts
    from scylladb_redpanda_cdc_spark.streaming.core import (
        EVENTS_NORMALIZED_DDL,
        events_stream_ddl,
    )

    cache_key = (spark.sparkContext.applicationId, sf_dir)
    if not staged_dir_valid(_staged_late_events.get(cache_key)):
        # The legacy conf is only needed for this eager batch read of the
        # source fixture (only the nanos vintage depends on it); the staged
        # files below store ts normalized to TimestampType micros, so the
        # lazily-run readStream at the end does not depend on it — safe to
        # scope and restore.
        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            raw = normalize_event_ts(
                spark.read.schema(events_stream_ddl(sf_dir)).parquet(
                    os.path.join(sf_dir, "events.parquet")
                )
            )
            us = F.unix_micros(F.col("ts"))
            bounds = raw.agg(
                ((F.min(us) + F.max(us)) / F.lit(2)).cast("long").alias("mid_us")
            )
            tagged = raw.crossJoin(F.broadcast(bounds))
            straggler = (F.col("event_id") % 2 == 1) & (
                us < F.col("mid_us") - F.lit(4_200_000_000)
            )
            rank = (
                F.when(straggler, 2).when(us >= F.col("mid_us"), 1).otherwise(0)
            )
            # One pass: write all three stream files via a partitioned layout,
            # then flatten rank=K/part-*.parquet to K.parquet with mtimes
            # pinning the stream order.
            scratch = tmpdir("late_scratch", bytes_hint=table_bytes(spark, sf_dir, "events"))
            tagged.withColumn("file_rank", rank).drop("mid_us").repartition(
                1
            ).write.partitionBy("file_rank").mode("overwrite").parquet(scratch)
        stage = tmpdir("late_events", bytes_hint=table_bytes(spark, sf_dir, "events"))
        now = _time.time()
        for i in range(3):
            found = glob.glob(
                os.path.join(scratch, f"file_rank={i}", "part-*.parquet")
            )
            if not found:  # a rank can be empty at tiny fixture scale
                continue
            (src,) = found
            dst = os.path.join(stage, f"{i:02d}.parquet")
            shutil.move(src, dst)
            mtime = now - 300 + i * 100
            os.utime(dst, (mtime, mtime))
        _staged_late_events[cache_key] = stage
    return (
        spark.readStream.schema(EVENTS_NORMALIZED_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(_staged_late_events[cache_key])
    )


def _run_incremental_merge(changes: DataFrame, key_cols: list[str], compact) -> DataFrame:
    """Shared incremental foreachBatch MERGE skeleton (S10/S22): drain the
    change stream to completion, per batch re-deriving state rows for
    TOUCHED keys only via ``compact`` (a per-key-closed recompute: given
    every state/batch row of a key set, return that key set's new state
    rows), passing untouched keys through, and return the final raw state.

    ``compact`` must be order-insensitive over a key's accumulated rows
    (offset authority, SURVEY.md §4.4) — that is what makes the final
    state identical for ANY micro-batch split of the log.

    Known write bound: each batch rewrites the FULL state to a new
    parquet version (compute and shuffle are touched-keys-only; the
    WRITE is not) — O(state bytes) of sequential parquet write per
    batch. Plain parquet has no sub-file replace, so the alternatives
    are hash-bucketed copy-on-write (defeated by key-random CDC
    touches: with realistic touch rates every bucket is dirtied) or
    merge-on-read delta files with periodic compaction — which is a
    table format's job (Delta/Iceberg/Hudi; out of scope in this
    container). A deployment that needs sub-state write cost swaps the
    version write for a MERGE INTO on such a table; everything above
    the write (the touched-key discipline) transfers unchanged.
    """
    from pyspark.sql import functions as F

    state = StateVersions(
        changes.sparkSession, "state", 16, bytes_hint=stream_source_bytes(changes)
    )

    def merge(batch_df: DataFrame, batch_id: int, batch_bytes: int) -> None:
        # Scale shape: the full state is NEVER shuffled. Keys untouched by
        # this batch pass through via a broadcast anti-join; only touched
        # keys (semi-join ∪ batch) go through the compaction window, which
        # is batch-sized. Re-windowing prev ∪ batch wholesale would shuffle
        # the entire state every batch — O(state x batches) at 100 TB.
        # Offset comparison (not blind overwrite) keeps the merge
        # order-insensitive: a key's OLDER event arriving in a LATER batch
        # cannot regress the state (SURVEY.md §4.4 offset authority).
        # persist: batch_latest feeds three consumers (key broadcast x2 +
        # union) and prev two (anti + semi) — without caching each would
        # recompute/rescan per consumer.
        batch_latest = compact(batch_df).persist()
        n_batch_keys = batch_latest.count()
        prev = state.read()
        if prev is None:
            merged = batch_latest
        else:
            prev.persist()
            # one key probe marks touched keys; split by the marker
            # (anti+semi as two joins would probe the same hash table
            # twice). Broadcast only while the batch key set is small —
            # a catch-up batch past BROADCAST_KEY_CAP keys shuffles
            # instead (AQE may still re-plan it).
            batch_keys = (
                batch_latest.select(*key_cols)
                .dropDuplicates(key_cols)
                .withColumn("__hit", F.lit(1))
            )
            if n_batch_keys <= BROADCAST_KEY_CAP:
                batch_keys = F.broadcast(batch_keys)
            marked = prev.join(batch_keys, key_cols, "left")
            unaffected = marked.filter(F.col("__hit").isNull()).drop("__hit")
            affected = (
                marked.filter(F.col("__hit").isNotNull())
                .drop("__hit")
                .unionByName(batch_latest)
            )
            merged = unaffected.unionByName(compact(affected))
        # the coalesce caps state-file count: unaffected keeps prev's
        # partitioning and affected adds the window's shuffle partitions,
        # so without it the state gains ~shuffle.partitions files per
        # batch (compounding read fan-out)
        state.write(merged, batch_id, batch_bytes)
        batch_latest.unpersist()
        if prev is not None:
            prev.unpersist()

    drain_foreach_batch(changes, merge)
    return state.final()


def foreachbatch_upsert(
    changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """S10: incremental upsert MERGE — state is ONE compacted latest row
    per key. Tombstones are RETAINED in intermediate state
    (``drop_deletes=False``) so a delete in batch k cannot be resurrected
    by compaction in batch k+1; they are dropped once, at the end (A10
    semantics)."""
    from pyspark.sql import functions as F

    state = _run_incremental_merge(
        changes,
        key_cols,
        lambda df: materialize_latest(df, key_cols, drop_deletes=False),
    )
    return state.filter(F.col("op") != "d")


def foreachbatch_scd2(
    changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """S22: incremental SCD Type-2 MERGE — state is the key's full event
    history with each row's successor offset maintained (A30's validity
    clock). The compact step recomputes ``next_offset`` by a lead() over
    the touched keys' accumulated events only — batch-sized work, history
    never re-shuffled; (key, offset) dedup makes redelivery idempotent
    (events are immutable per offset, A21's contract). Because lead()
    over a key's complete event set is order-insensitive to arrival
    batching, the final table equals A30's one-pass batch build for ANY
    micro-batch split.

    Returns version rows: key cols + payload + valid_from / valid_to /
    is_current (deletes close history without emitting a version)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def compact(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*key_cols).orderBy("offset")
        return (
            df.drop("next_offset")
            .dropDuplicates([*key_cols, "offset"])
            .withColumn("next_offset", F.lead("offset").over(w))
        )

    state = _run_incremental_merge(changes, key_cols, compact)
    return state.filter(F.col("op").isin("c", "u")).select(
        *key_cols,
        "totalprice",
        "orderstatus",
        F.col("offset").alias("valid_from"),
        (F.col("next_offset") - 1).alias("valid_to"),
        F.col("next_offset").isNull().alias("is_current"),
    )


_staged_doc_streams: dict[tuple[str, str], str] = {}

DOCS_STREAM_DDL = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


#: Re-crawled doc_ids get this offset — far above any fixture id, so the
#: copies are new rows with new identities but identical content.
RECRAWL_ID_OFFSET = 1_000_000


def stage_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage ``documents`` as TWO ordered stream files (even doc_ids first,
    then odd — a deterministic batch split both engines can name), streamed
    one file per micro-batch: the corpus arriving as ingest shards.

    The fixture corpus is exact-dup-free, so the second shard additionally
    carries deterministic RE-CRAWLS (the scenario incremental dedup exists
    for — a crawler re-fetching pages it already saw): every doc with
    ``doc_id % 10 == 0`` (its original landed in batch 0 → the copy must
    classify dup_of_corpus) and ``doc_id % 10 == 5`` (its original is in
    the SAME batch → dup_in_batch), each re-ingested as a new row with id
    ``doc_id + 1_000_000`` and identical text. File order is pinned by
    mtime (FileStreamSource drains oldest first). Staged once per
    (session, dataset)."""
    import glob
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    cache_key = (spark.sparkContext.applicationId, sf_dir)
    if not staged_dir_valid(_staged_doc_streams.get(cache_key)):
        scratch = tmpdir("docs_scratch", bytes_hint=table_bytes(spark, sf_dir, "documents"))
        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        recrawl = (
            d.filter((F.col("doc_id") % 10).isin(0, 5))
            .withColumn("doc_id", F.col("doc_id") + RECRAWL_ID_OFFSET)
            .withColumn("b", F.lit(1))
        )
        (
            d.withColumn("b", (F.col("doc_id") % 2).cast("int"))
            .unionByName(recrawl)
            .repartition(1)
            .write.partitionBy("b")
            .mode("overwrite")
            .parquet(scratch)
        )
        stage = tmpdir("docs_stream", bytes_hint=table_bytes(spark, sf_dir, "documents"))
        now = _time.time()
        for i in range(2):
            found = glob.glob(os.path.join(scratch, f"b={i}", "part-*.parquet"))
            if not found:
                continue
            (src,) = found
            dst = os.path.join(stage, f"{i:02d}.parquet")
            shutil.move(src, dst)
            mtime = now - 300 + i * 100
            os.utime(dst, (mtime, mtime))
        _staged_doc_streams[cache_key] = stage
    return (
        spark.readStream.schema(DOCS_STREAM_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(_staged_doc_streams[cache_key])
    )


def incremental_dedup_stream(docs: DataFrame) -> DataFrame:
    """S14: exact dedup as a CONTINUOUS ingest decision (x36's classification
    run per micro-batch with standing state): every arriving doc is marked
    ``keep`` (first sighting anywhere), ``dup_in_batch`` (a lower-doc_id
    copy arrived in the same micro-batch), or ``dup_of_corpus`` (a copy was
    already accepted in an earlier batch); the standing hash index then
    absorbs the batch's new hashes.

    Scale shape (the part that matters at 100 TB): the standing index is
    hashes-only (pre-aggregated, no text) and is NEVER shuffled — the
    arriving batch's distinct hashes are broadcast against it to extract
    the (batch-sized) hit list, which is broadcast back to the batch rows;
    raw corpus text is never rescanned after its own batch. A catch-up
    batch past BROADCAST_KEY_CAP distinct hashes falls back to a shuffled
    join (same result, AQE re-plans), mirroring foreachbatch_upsert."""
    from pyspark.sql import functions as F

    spark = docs.sparkSession
    docs_hint = stream_source_bytes(docs)
    out = tmpdir("dedup_out", bytes_hint=docs_hint)
    index = StateVersions(spark, "dedup_idx", 8, bytes_hint=docs_hint)

    def classify(batch_df: DataFrame, batch_id: int, batch_bytes: int) -> None:
        hashed = batch_df.select(
            "doc_id", F.sha2(F.lower(F.trim("text")), 256).alias("text_hash")
        ).persist()
        firsts = hashed.groupBy("text_hash").agg(
            F.min("doc_id").alias("first_id")
        ).persist()
        n_hashes = firsts.count()
        small = n_hashes <= BROADCAST_KEY_CAP
        idx = index.read()
        if idx is None:
            hits = None
        else:
            probe = firsts.select("text_hash")
            hits = idx.join(
                F.broadcast(probe) if small else probe, "text_hash"
            ).withColumn("__seen", F.lit(1))
        enriched = hashed.join(
            F.broadcast(firsts) if small else firsts, "text_hash"
        )
        if hits is not None:
            enriched = enriched.join(
                F.broadcast(hits) if small else hits, "text_hash", "left"
            )
        else:
            enriched = enriched.withColumn("__seen", F.lit(None).cast("int"))
        verdict = (
            F.when(F.col("__seen").isNotNull(), "dup_of_corpus")
            .when(F.col("doc_id") > F.col("first_id"), "dup_in_batch")
            .otherwise("keep")
        )
        # verdicts are batch-sized and append-only (not a state version):
        # size their file count from the batch's own priced bytes
        enriched.select(
            "doc_id", "text_hash", verdict.alias("verdict")
        ).coalesce(state_file_count(batch_bytes, 4)).write.mode("append").parquet(out)
        new_hashes = firsts.select("text_hash")
        merged = (
            new_hashes
            if idx is None
            else idx.unionByName(new_hashes).distinct()
        )
        index.write(merged, batch_id, batch_bytes)
        hashed.unpersist()
        firsts.unpersist()

    drain_foreach_batch(docs, classify)
    return spark.read.parquet(out)


def incremental_mv_stream(
    changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """S17: a20's incremental MV maintenance run LIVE — each micro-batch
    merges into the per-key state (s10's anti/semi discipline: untouched
    keys never shuffle) AND applies the customers-level contribution diff
    to a standing per-customer aggregate. The returned MV must equal the
    full recompute over the whole log (the a20 oracle), proving the
    incremental arithmetic exact across arbitrary batch boundaries.

    Exactness: contributions are BIGINT cents (floor per row before any
    sum), so prev − old + new can never drift from a from-scratch agg.

    Scale shape per batch: the state merge is batch-sized (s10); the MV
    update reads contributions of AFFECTED keys only and merges into the
    customers-sized MV — the whole point: nothing state-sized or
    corpus-sized moves when a small delta lands."""
    from pyspark.sql import functions as F

    spark = changes.sparkSession
    log_hint = stream_source_bytes(changes)
    state = StateVersions(spark, "mv_state", 16, bytes_hint=log_hint)
    # the MV is customers-sized: a batch's contribution to it is bounded
    # by the batch itself, so prev + batch bounds its write too
    mv = StateVersions(spark, "mv_agg", 4, bytes_hint=log_hint)
    cents = F.floor(F.col("totalprice") * 100).cast("long")

    def contrib(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("op") != "d")
            .groupBy("customer_id")
            .agg(F.count("*").alias("n"), F.sum(cents).alias("c"))
        )

    def merge(batch_df: DataFrame, batch_id: int, batch_bytes: int) -> None:
        batch_latest = materialize_latest(
            batch_df, key_cols, drop_deletes=False
        ).persist()
        n_batch_keys = batch_latest.count()
        prev = state.read()
        if prev is None:
            affected_old = None
            merged_affected = batch_latest
            merged = batch_latest
        else:
            prev.persist()
            batch_keys = batch_latest.select(*key_cols).withColumn(
                "__hit", F.lit(1)
            )
            if n_batch_keys <= BROADCAST_KEY_CAP:
                batch_keys = F.broadcast(batch_keys)
            marked = prev.join(batch_keys, key_cols, "left")
            unaffected = marked.filter(F.col("__hit").isNull()).drop("__hit")
            affected_old = (
                marked.filter(F.col("__hit").isNotNull())
                .drop("__hit")
                .persist()
            )
            merged_affected = materialize_latest(
                affected_old.unionByName(batch_latest),
                key_cols,
                drop_deletes=False,
            )
            merged = unaffected.unionByName(merged_affected)
        new_c = contrib(merged_affected)
        old_c = (
            contrib(affected_old)
            if affected_old is not None
            else new_c.limit(0)
        )
        mv_prev = mv.read()
        z = F.lit(0).cast("long")
        diff = (
            new_c.withColumnRenamed("n", "n_n").withColumnRenamed("c", "n_c")
        ).join(
            old_c.withColumnRenamed("n", "o_n").withColumnRenamed("c", "o_c"),
            "customer_id",
            "full",
        )
        if mv_prev is not None:
            diff = mv_prev.join(diff, "customer_id", "full")
        else:
            diff = diff.withColumn("n_live", z).withColumn("revenue_cents", z)
        mv_new = diff.select(
            "customer_id",
            (
                F.coalesce("n_live", z)
                - F.coalesce("o_n", z)
                + F.coalesce("n_n", z)
            ).alias("n_live"),
            (
                F.coalesce("revenue_cents", z)
                - F.coalesce("o_c", z)
                + F.coalesce("n_c", z)
            ).alias("revenue_cents"),
        )
        state.write(merged, batch_id, batch_bytes)
        mv.write(mv_new, batch_id, batch_bytes)
        batch_latest.unpersist()
        if prev is not None:
            prev.unpersist()
        if affected_old is not None:
            affected_old.unpersist()

    drain_foreach_batch(changes, merge)
    final = mv.final()
    return final.filter(F.col("n_live") > 0)


def heavy_hitters_stream(docs: DataFrame) -> DataFrame:
    """S15: streaming heavy hitters — the corpus-wide top-20 token counts
    maintained INCREMENTALLY as document shards arrive (the trending-terms
    / hot-key monitor every ingest pipeline runs beside dedup). Each
    micro-batch partial-aggs its own token counts (batch-local shuffle,
    output vocabulary-sized), then merges them into the standing count
    table by key — counts are associative, so the final state equals the
    exact global aggregation regardless of batching.

    Scale shape: the standing state is VOCABULARY-sized (zipf-bounded),
    never corpus-sized; per batch the corpus-sized work is one explode +
    partial agg whose map-side combine collapses the zipf-hot keys before
    the shuffle. The merge is state ∪ batch → sum, both vocabulary-sized.
    (Under adversarial vocabularies a deployment swaps the exact table for
    a space-saving/CMS sketch; the fixture's closed vocabulary makes the
    exact table the honest, oracle-checkable plan.)

    Emits top-20 by (n DESC, tok ASC) — a total order, exact BIGINTs."""
    from pyspark.sql import functions as F

    from scylladb_redpanda_cdc_spark.operators.llm import words

    state = StateVersions(docs.sparkSession, "hh_state", 8)

    def update(batch_df: DataFrame, batch_id: int, _batch_bytes: int) -> None:
        counts = (
            batch_df.select(F.explode(words(F.col("text"))).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("n"))
        )
        prev = state.read()
        if prev is not None:
            counts = (
                prev.unionByName(counts)
                .groupBy("tok")
                .agg(F.sum("n").alias("n"))
            )
        # vocabulary-sized state: the batch's NEW-token contribution is
        # zipf-bounded, far under the batch's raw bytes — prev alone is
        # the honest estimate here
        state.write(counts, batch_id)

    drain_foreach_batch(docs, update)
    final = state.final()
    return (
        final.select("tok", F.col("n").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
    )


def user_running_state(events: DataFrame) -> DataFrame:
    """S11: arbitrary stateful per-key operator via applyInPandasWithState
    (PySpark's stateful primitive; flatMapGroupsWithState is JVM-only).

    Tracks per-user running (event count, error count, latest event time) —
    the analog of A6's "latest cell values per key" as true streaming state.
    Input must carry ``user_id``, ``event_type``, ``ts_ms`` (long).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_state(
        key: tuple,
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        n, errs, last = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            errs += int((pdf["event_type"] == "error").sum())
            last = max(last, int(pdf["ts_ms"].max()))
        state.update((n, errs, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_errors": [errs],
                "last_ts_ms": [last],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_state,
        outputStructType=(
            "user_id bigint, n_events bigint, n_errors bigint, last_ts_ms bigint"
        ),
        stateStructType="n bigint, errs bigint, last bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_staged_event_splits: dict[tuple[str, str, int, bool], str] = {}


def stage_events_split_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 4, redeliver: bool = False
) -> DataFrame:
    """Stage the ``events`` table as ``n_files`` parquet files with mtimes
    pinning their stream order, and read them back one file per
    micro-batch — the deterministic stand-in for a topic drained across
    several polls (S18's batch-boundary-invariance fixture).

    ``redeliver=True`` appends a byte-identical COPY of the first staged
    file with the newest mtime: the at-least-once crash-replay scenario
    (the broker re-serves everything since the last offset flush,
    connect-standalone.properties:5) arriving in a LATER micro-batch —
    S19's dedup fixture. Staged once per (session, dataset, shape)."""
    import glob
    import shutil
    import time as _time

    from pyspark.sql import functions as F  # noqa: F401  (parity with peers)

    from scylladb_redpanda_cdc_spark.sources.tables import normalize_event_ts
    from scylladb_redpanda_cdc_spark.streaming.core import (
        EVENTS_NORMALIZED_DDL,
        events_stream_ddl,
    )

    cache_key = (spark.sparkContext.applicationId, sf_dir, n_files, redeliver)
    if not staged_dir_valid(_staged_event_splits.get(cache_key)):
        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            raw = normalize_event_ts(
                spark.read.schema(events_stream_ddl(sf_dir)).parquet(
                    os.path.join(sf_dir, "events.parquet")
                )
            )
            scratch = tmpdir("evsplit_scratch", bytes_hint=table_bytes(spark, sf_dir, "events"))
            raw.repartition(n_files).write.mode("overwrite").parquet(scratch)
        stage = tmpdir("evsplit", bytes_hint=table_bytes(spark, sf_dir, "events"))
        now = _time.time()
        parts = sorted(glob.glob(os.path.join(scratch, "part-*.parquet")))
        for i, src in enumerate(parts):
            dst = os.path.join(stage, f"{i:02d}.parquet")
            shutil.move(src, dst)
            mtime = now - 600 + i * 60
            os.utime(dst, (mtime, mtime))
        if redeliver:
            dup = os.path.join(stage, "99_redelivered.parquet")
            shutil.copyfile(os.path.join(stage, "00.parquet"), dup)
            os.utime(dup, (now, now))
        _staged_event_splits[cache_key] = stage
    return (
        spark.readStream.schema(EVENTS_NORMALIZED_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(_staged_event_splits[cache_key])
    )
