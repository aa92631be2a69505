"""The workloads' pipelines, built only from the program's public functions:
``session.get_session``, ``streaming.ops.stage_changelog_stream``,
``operators.cdc.decode_envelope`` / ``decode_key`` / ``op_kind`` /
``materialize_latest`` and ``streaming.ops.foreachbatch_upsert``
(``sources.changelog.synth_changelog`` runs inside the stager).

One :func:`iteration` is: a fresh Spark context, the program's pre-drain
work (set-up), the drain to a readable final state, and passes of the read
mix over that state. With a :class:`probes.Tracer` it also records spans around each
call and attributes the drain to batches and stages from outside.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import functions as F

from probes import PHASES, BatchListener, WriteListener
from scylladb_redpanda_cdc_spark.operators.cdc import (
    decode_envelope,
    decode_key,
    materialize_latest,
    op_kind,
)
from scylladb_redpanda_cdc_spark.session import get_session
from scylladb_redpanda_cdc_spark.streaming.ops import (
    foreachbatch_upsert,
    stage_changelog_stream,
)

KEY = ["customer_id", "order_id"]

#: The read mix over a final state: one per-customer count/sum, then
#: point lookups of ``LOOKUP_KEYS`` seeded order keys each.
LOOKUPS = 6
LOOKUP_KEYS = 16

_FILE_SOURCE = re.compile(r"FileSource\[([^\]]+)\]")


class Session:
    """Owns the SparkSession. Every set-up starts a new Spark context in the
    same JVM, so each set-up starts from the same state and a new
    application id (the program caches staged logs per application)."""

    def __init__(self) -> None:
        self.spark = None
        self.listener: BatchListener | None = None

    def restart(self, master: str | None = None) -> float:
        """Stop the current context, start a new one; seconds to start."""
        if self.spark is not None:
            self.spark.stop()
        if master is None:
            os.environ.pop("SPARK_MASTER", None)
        else:
            os.environ["SPARK_MASTER"] = master
        t = time.perf_counter()
        self.spark = get_session()
        elapsed = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.listener = BatchListener()
        self.spark.streams.addListener(self.listener)
        return elapsed

    def close(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # The JVM exits when its stdin closes (PythonGatewayServer).
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def wire_changes(frames):
    """Decode + classify: one typed change row per Kafka frame."""
    decoded = decode_key(decode_envelope(frames))
    return decoded.select(
        F.col("pk.customer_id").alias("customer_id"),
        F.col("pk.order_id").alias("order_id"),
        F.col("envelope.op").alias("op"),
        op_kind(F.col("envelope.op")).alias("kind"),
        F.col("envelope.after.product.value").alias("product"),
        F.col("envelope.ts_ms").alias("ts_ms"),
        "partition",
        "offset",
    )


def setup(spark, workload: str, in_dir: str, shape: dict):
    """The program's pre-drain work: the topic read set-up, or staging the
    changelog into ``n_files`` micro-batches."""
    if workload == "wire_backfill":
        return spark.read.parquet(os.path.join(in_dir, "topic"))
    return stage_changelog_stream(spark, in_dir, n_files=shape["n_files"])


def drain(spark, workload: str, source, out_dir: str, tracer=None, parent=None):
    """Consume the whole backlog; return the final state, readable. Traced,
    the wire pipeline's three calls (build the plan, write, re-open) are
    spans of their own."""
    if workload == "wire_backfill":
        with _span(tracer, "cdc.build", parent):
            latest = materialize_latest(wire_changes(source), KEY)
        with _span(tracer, "state.write", parent):
            latest.write.parquet(out_dir)
        with _span(tracer, "state.reopen", parent):
            return spark.read.parquet(out_dir)
    return foreachbatch_upsert(source, KEY).select(
        "customer_id", "order_id", "totalprice", "orderstatus"
    )


def query_mix(state, workload: str, keys: list[int]) -> int:
    """The fixed read mix; returns the number of rows it read back."""
    value = "offset" if workload == "wire_backfill" else "totalprice"
    per_customer = state.groupBy("customer_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(value).alias("s")
    )
    rows = len(per_customer.collect())
    for i in range(LOOKUPS):
        chunk = keys[i * LOOKUP_KEYS : (i + 1) * LOOKUP_KEYS]
        rows += len(state.filter(F.col("order_id").isin(chunk)).collect())
    return rows


@contextmanager
def _span(tracer, name: str, parent: int | None = None):
    if tracer is None:
        yield None
    else:
        with tracer.span(name, parent) as sid:
            yield sid


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def _local(uri: str) -> str:
    return uri[len("file:") :] if uri.startswith("file:") else uri


def source_dir(workload: str, in_dir: str, source) -> str:
    """The directory the drain reads: the topic, or the staged changelog
    (recovered from the stream's analyzed plan)."""
    if workload == "wire_backfill":
        return os.path.join(in_dir, "topic")
    plan = source._jdf.queryExecution().analyzed().toString()
    return _local(_FILE_SOURCE.findall(plan)[0])


def iteration(sess: Session, workload: str, in_dir: str, shape: dict, out_dir: str,
              keys: list[int], reads: int | None = None, tracer=None,
              master: str | None = None) -> dict:
    """One set-up + drain, then ``reads`` timed passes of the read mix over
    the final state after one untimed pass (no pass at all if ``reads`` is
    None). Timings are wall-clock seconds."""
    with _span(tracer, "session.start"):
        session_s = sess.restart(master)
    spark = sess.spark
    writes = None
    if tracer is not None and workload == "wire_backfill":
        writes = WriteListener()
        spark._jsparkSession.listenerManager().register(writes)
    with _span(tracer, "sources.stage"):
        t = time.perf_counter()
        source = setup(spark, workload, in_dir, shape)
        stage_s = time.perf_counter() - t
    t0_ms = time.time() * 1000
    with _span(tracer, "drain") as drain_id:
        t = time.perf_counter()
        state = drain(spark, workload, source, out_dir, tracer, drain_id)
        drain_s = time.perf_counter() - t
    t1_ms = time.time() * 1000
    batches: list[dict] = []
    if workload == "upsert_trickle":
        sess.listener.wait_terminated(1)
        batches = sess.listener.take()
    write = None
    if writes is not None:
        write = writes.wait_for_write()
        spark._jsparkSession.listenerManager().unregister(writes)
    query_s = []
    if reads is not None:
        # Unmeasured: the first pass in a new Spark context is up to 1.5x
        # slower than the next ones, and falls mid-way down that curve.
        query_mix(state, workload, keys)
    for _ in range(reads or 0):
        with _span(tracer, "state.read"):
            t = time.perf_counter()
            query_mix(state, workload, keys)
            query_s.append(time.perf_counter() - t)
    if workload == "upsert_trickle":
        # The oracle reads a copy of the returned state; not timed.
        state.write.parquet(out_dir)
    return {
        "session_s": session_s,
        "stage_s": stage_s,
        "drain_s": drain_s,
        "query_s": query_s,
        "batches": batches,
        "write": write,
        "probe_cost_s": sess.listener.cost_s + (writes.cost_s if writes else 0.0),
        "window_ms": (t0_ms, t1_ms),
        "drain_span": drain_id,
        "state": state,
        "source": source,
        "out_dir": out_dir,
    }


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def attribute(tracer, it: dict, jobs: list[dict]) -> None:
    """Measured child spans of the drain from outside the program:
    micro-batches (listener) with their phases laid out in execution order;
    or, under the wire pipeline's write call, the write query's planning
    phases (its tracker), its stages (status store) and its job commit
    (``jobCommitTime``, from the end of the last job)."""
    drain_id = it["drain_span"]
    if it["batches"]:
        for b in it["batches"]:
            d = b["durationMs"]
            start = b["start_ms"] / 1000
            bid = tracer.add(
                "stream.batch", start, start + d.get("triggerExecution", 0) / 1000,
                drain_id, batchId=b["batchId"],
            )
            at = start
            for ph in PHASES:
                if d.get(ph):
                    tracer.add(f"stream.{ph}", at, at + d[ph] / 1000, bid)
                    at += d[ph] / 1000
        return
    write_id = tracer.child(drain_id, "state.write")
    for phase, (start, end) in it["write"]["phases"].items():
        tracer.add("cdc.planning", start / 1000, end / 1000, write_id, phase=phase)
    ended = [j for j in jobs if j["end_ms"] is not None]
    for job in ended:
        for st in job["stages"]:
            if st["start_ms"] is None or st["end_ms"] is None:
                continue
            name = "cdc.decode" if st["input_bytes"] > 0 else "cdc.materialize_write"
            tracer.add(name, st["start_ms"] / 1000, st["end_ms"] / 1000, write_id, stage=st["id"])
    if ended:
        last = max(j["end_ms"] for j in ended) / 1000
        tracer.add("state.commit", last, last + it["write"]["commit_ms"] / 1000, write_id)


def stream_layers(it: dict, jobs: list[dict]) -> dict:
    """Micro-batch engine metrics: p50 over batches of each phase, and the
    status-store work attributed to each batch by its time window."""
    batches = it["batches"]
    out = {}
    for ph in ("addBatch", "walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning"):
        out[f"stream.{ph}_ms"] = _p50([b["durationMs"].get(ph, 0) for b in batches])
    out["stream.addBatch_share"] = _p50(
        [b["durationMs"].get("addBatch", 0) / max(1, b["durationMs"].get("triggerExecution", 1))
         for b in batches]
    )
    per_batch = []
    for b in batches:
        lo = b["start_ms"]
        hi = lo + b["durationMs"].get("triggerExecution", 0)
        mine = [j for j in jobs if lo <= j["start_ms"] <= hi]
        stages = [s for j in mine for s in j["stages"]]
        merge = [s["tasks"] for s in stages if s["shuffle_read"] > 0]
        per_batch.append(
            (len(mine), sum(s["tasks"] for s in stages),
             sum(s["shuffle_write"] for s in stages), max(merge, default=0))
        )
    out["stream.jobs_per_batch"] = _p50([x[0] for x in per_batch])
    out["stream.tasks_per_batch"] = _p50([x[1] for x in per_batch])
    out["stream.shuffle_bytes_per_batch"] = _p50([x[2] for x in per_batch])
    out["state.merge_partitions"] = _p50([x[3] for x in per_batch])
    return out


def state_layers(workload: str, it: dict, jobs: list[dict]) -> dict:
    """Size of the final state on disk, and the bytes the drain's stages
    wrote to reach it (the status store's output bytes)."""
    stages = [s for j in jobs for s in j["stages"]]
    if workload == "wire_backfill":
        final = parquet_files(it["out_dir"])
        merge = [s["tasks"] for s in stages if s["shuffle_read"] > 0]
        extra = {"state.merge_partitions": float(max(merge, default=0))}
    else:
        final = [_local(u) for u in it["state"].inputFiles()]
        extra = {}
    written = sum(s["output_bytes"] for s in stages)
    final_bytes = sum(os.path.getsize(p) for p in final)
    return {
        "state.bytes_final": float(final_bytes),
        "state.files_final": float(len(final)),
        "state.bytes_written_total": float(written),
        "state.write_amp": written / final_bytes if final_bytes else 0.0,
        "state.max_write_task_bytes": float(
            max((s.get("max_task_output", 0) for s in stages), default=0)
        ),
        **extra,
    }


def cdc_layers(spark, tracer, it: dict, jobs: list[dict], in_dir: str, events: int,
               scratch: str) -> dict:
    """The wire pipeline's layers, each in a pass of its own: decode to the
    ``noop`` sink, compaction over persisted decoded frames, and the state
    write from a persisted compacted state. Shuffle, spill and skew come
    from the single-pass drain's stages; planning from its write query's
    tracker."""
    stages = [s for j in jobs for s in j["stages"]]
    frames = spark.read.parquet(os.path.join(in_dir, "topic"))
    with tracer.span("cdc.layers") as root:
        with tracer.span("cdc.decode_pass", root):
            t = time.perf_counter()
            wire_changes(frames).write.format("noop").mode("overwrite").save()
            decode_s = time.perf_counter() - t
        changes = wire_changes(frames).persist(StorageLevel.MEMORY_AND_DISK)
        changes.count()
        with tracer.span("cdc.materialize_pass", root):
            t = time.perf_counter()
            materialize_latest(changes, KEY).write.format("noop").mode("overwrite").save()
            materialize_s = time.perf_counter() - t
        latest = materialize_latest(changes, KEY).persist(StorageLevel.MEMORY_AND_DISK)
        latest.count()
        with tracer.span("cdc.state_write", root):
            t = time.perf_counter()
            latest.write.parquet(os.path.join(scratch, "cdc_state_write"))
            write_s = time.perf_counter() - t
        latest.unpersist()
        changes.unpersist()
    return {
        "cdc.decode_s": decode_s,
        "cdc.decode_events_per_s": events / decode_s,
        "cdc.materialize_s": materialize_s,
        "cdc.state_write_s": write_s,
        "cdc.shuffle_bytes": float(sum(s["shuffle_write"] for s in stages)),
        "cdc.spill_bytes": float(sum(s["spill"] for s in stages)),
        "cdc.max_task_shuffle_read_bytes": float(
            max((s.get("max_task_shuffle_read", 0) for s in stages), default=0)
        ),
        "cdc.planning_ms": float(sum(e - s for s, e in it["write"]["phases"].values())),
    }
