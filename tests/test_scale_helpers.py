"""operators/scale.py — the one bytes→count sizing rule and its callers.

Pins the contracts every data-adaptive width rests on:

1. One rule: ``size_partitions`` returns the same width as each of the
   four hand-written formulas it replaced (fan-out exchange, stream plan
   width, state-version file count, changelog files per batch) — gate,
   floor, cap and exact ceiling boundaries included.
2. The fan-out exchange width (``fanout_partitions_by_bytes``): no Spark
   job and ``None`` below the gate, the bytes formula above it, the
   session floor and the hard cap.
3. One pricing call: ``fs_bytes`` prices plain paths and the
   percent-encoded URIs a file source logs.
4. Semantics under the guard: forcing the adaptive path at fixture scale
   changes x11's, x39's and b31's RESULTS not at all.
"""

from __future__ import annotations

import math
import os

import pytest

from scylladb_redpanda_cdc_spark.operators import scale
from scylladb_redpanda_cdc_spark.plans import clear_session_frame_caches


def test_fs_bytes_prices_a_real_file(spark, sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    n = scale.fs_bytes(spark, path)
    assert n == os.path.getsize(path)


def test_fs_bytes_none_on_missing_path(spark):
    assert scale.fs_bytes(spark, "/root/testdata/nope/does-not-exist") is None


def test_fs_bytes_reads_file_uris(spark, tmp_path):
    """A ``file:///…`` URI string prices the file it names, including a
    percent-encoded one (a space logged as ``%20`` — the form a file
    source's checkpoint log records)."""
    d = tmp_path / "with space"
    d.mkdir()
    f = d / "part.bin"
    f.write_bytes(b"x" * 1234)
    uri = f.as_uri()
    assert "%20" in uri and uri.startswith("file:///")
    assert scale.fs_bytes(spark, uri) == 1234
    assert scale.fs_bytes(spark, str(f)) == 1234
    assert scale.fs_bytes(spark, f"file://{f}") == 1234  # unencoded: plain path


def test_gate_short_circuits_at_fixture_scale(spark, sf_dir):
    """Fixture documents.parquet is far below the 32 MB gate: None at any
    multiplier, and no Spark job runs (pricing is driver-side metadata
    only — the status tracker sees no new job)."""
    path = os.path.join(sf_dir, "documents.parquet")
    assert os.path.getsize(path) < scale.GATE_BYTES
    tracker = spark.sparkContext.statusTracker()
    group = "scale-gate-probe"
    spark.sparkContext.setJobGroup(group, "gate probe")
    try:
        for mult in (1, 56, 1e9):
            for sides in (1, 2):
                assert (
                    scale.fanout_partitions_by_bytes(
                        spark, path, bytes_multiplier=mult, sides=sides
                    )
                    is None
                )
        assert tracker.getJobIdsForGroup(group) == []
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    # The rule itself: below the gate every caller gets its floor back.
    assert scale.size_partitions(os.path.getsize(path), 1, 7, 10**6, 1e9) == 7
    assert scale.size_partitions(None, 1, 7, 10**6) == 7


def test_sizing_formula_above_gate(spark, sf_dir, monkeypatch):
    """Gate open: ceil(bytes × multiplier × sides / target), returned
    only when it beats the session's shuffle-partition count."""
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", 1000)
    path = os.path.join(sf_dir, "documents.parquet")
    nbytes = os.path.getsize(path)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for mult, sides in ((1, 1), (3, 1), (3, 2)):
        expected = -(-nbytes * mult * sides // 1000)  # ceil
        got = scale.fanout_partitions_by_bytes(
            spark, path, bytes_multiplier=mult, sides=sides
        )
        assert got == (expected if expected > sess else None), (mult, sides)
    # Make the target small enough that n must beat any session setting.
    monkeypatch.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", 56)
    assert scale.fanout_partitions_by_bytes(
        spark, path, bytes_multiplier=56
    ) == nbytes


def test_session_floor_and_hard_cap(spark, sf_dir, monkeypatch):
    """Tiny priced bytes at the default 64 MB target leave the session
    default in charge (None); a 1-byte target is clamped to
    FANOUT_MAX_PARTITIONS."""
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    path = os.path.join(sf_dir, "documents.parquet")
    assert scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=1) is None
    monkeypatch.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", 1)
    monkeypatch.setattr(scale, "FANOUT_MAX_PARTITIONS", 64)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=1)
    assert got == (64 if 64 > sess else None)
    # The rule: floor wins over a smaller ceil, cap wins over a larger one.
    assert scale.size_partitions(10, 1000, 5, 64) == 5
    assert scale.size_partitions(10**6, 1, 5, 64) == 64


class _FakeConf:
    def __init__(self, value):
        self._v = value

    def get(self, key, default=None):
        return self._v if self._v is not None else default


class _FakeSpark:
    """Just enough session for the sizing helpers: a
    ``spark.sql.shuffle.partitions`` value (``None``: unset) and nothing
    else — with pricing patched, no JVM call can happen."""

    def __init__(self, value):
        self.conf = _FakeConf(value)


#: The four formulas the sizing helpers used before ``size_partitions``,
#: copied verbatim (constants passed in, the multiply-before-divide order
#: kept) as the reference the one rule must reproduce.
def _ref_fanout_by_bytes(nbytes, mult, sides, sess, gate, target, cap):
    if nbytes is None or nbytes < gate:
        return None
    n = min(cap, math.ceil(nbytes * mult * sides / target))
    return n if n > sess else None


def _ref_stream_width(total, floor, gate, target, cap):
    total = total or 0
    if total < gate:
        return floor
    return max(floor, min(cap, math.ceil(total / target)))


def _ref_state_file_count(nbytes, floor, target):
    return max(floor, min(4096, math.ceil((nbytes or 0) / target)))


def _ref_changelog_files_per_batch(src_bytes, n_files, gate, mult, target):
    src_bytes = src_bytes or 0
    if src_bytes < gate:
        return 1
    return max(1, min(256, math.ceil(src_bytes * mult / (n_files * target))))


def test_size_partitions_reproduces_the_four_formulas(monkeypatch):
    """Every width the four sizing helpers return is the width its own
    hand-written formula returned before the merge, on a grid of byte
    counts around the gate (gate-1, gate, gate+1) and around each
    formula's exact ceiling boundaries (k·target-1, k·target,
    k·target+1), plus unpriced, huge (cap-bound) inputs and
    ``test_bytes_variant_gate_formula_and_floor``'s patched case (gate 0,
    target = nbytes, multiplier 4·sess)."""
    from scylladb_redpanda_cdc_spark.streaming import core, ops

    mib = 1024 * 1024
    gate = scale.GATE_BYTES
    assert gate == 32 * mib

    def around(*centres):
        return {c + d for c in centres for d in (-1, 0, 1) if c + d >= 0}

    ks = (1, 2, 3, 7, 64, 1000)
    grid = around(0, gate, 10**15) | {None}
    for t in (
        scale.FANOUT_TARGET_PARTITION_BYTES,
        core.STREAM_TARGET_TASK_SOURCE_BYTES,
        core.STATE_TARGET_FILE_BYTES,
        ops.STAGE_WRITE_TARGET_TASK_BYTES,
    ):
        grid |= around(*(k * t for k in ks))
    fan_t = scale.FANOUT_TARGET_PARTITION_BYTES
    for mult in (1.5, 2, 4, 32):
        for sides in (1, 2):
            grid |= around(*(int(k * fan_t // (mult * sides)) for k in ks))
    for n_files in (1, 3, 4, 8):
        grid |= around(
            *(
                k * n_files * ops.STAGE_WRITE_TARGET_TASK_BYTES
                // ops.CHANGELOG_INFLIGHT_MULTIPLIER
                for k in ks
            )
        )
    grid = sorted(grid, key=lambda b: -1 if b is None else b)

    priced = {}
    monkeypatch.setattr(scale, "fs_bytes", lambda _spark, _path: priced["n"])
    monkeypatch.setattr(core, "stream_source_bytes", lambda _sdf: priced["n"])
    monkeypatch.setattr(ops, "table_bytes", lambda _s, _d, _t: priced["n"])

    def check_fanout(nbytes, gate, target, mults, sesses):
        for sess in sesses:
            for mult in mults:
                for sides in (1, 2):
                    got = scale.fanout_partitions_by_bytes(
                        _FakeSpark(sess), "src", bytes_multiplier=mult, sides=sides
                    )
                    want = _ref_fanout_by_bytes(
                        nbytes, mult, sides, sess, gate, target,
                        scale.FANOUT_MAX_PARTITIONS,
                    )
                    assert got == want, (nbytes, mult, sides, sess)

    for nbytes in grid:
        priced["n"] = nbytes
        check_fanout(
            nbytes, gate, scale.FANOUT_TARGET_PARTITION_BYTES,
            (1.5, 2, 4, 32), (1, 32, 200),
        )
        assert core.stream_shuffle_width(None, None) == _ref_stream_width(
            nbytes,
            core.STREAM_SINK_SHUFFLE_PARTITIONS,
            gate,
            core.STREAM_TARGET_TASK_SOURCE_BYTES,
            core.STREAM_WIDTH_MAX,
        ), nbytes
        for floor in (1, 2, 4, 16):
            assert core.state_file_count(nbytes, floor) == _ref_state_file_count(
                nbytes, floor, core.STATE_TARGET_FILE_BYTES
            ), (nbytes, floor)
        for n_files in (1, 3, 4, 8):
            assert ops._changelog_files_per_batch(
                None, "sf", n_files
            ) == _ref_changelog_files_per_batch(
                nbytes, n_files, gate, ops.CHANGELOG_INFLIGHT_MULTIPLIER,
                ops.STAGE_WRITE_TARGET_TASK_BYTES,
            ), (nbytes, n_files)

    # the patched fan-out case: gate open, target = the priced bytes
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    for nbytes in (117248, 65515, 1, 10**9 + 7):
        priced["n"] = nbytes
        monkeypatch.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", nbytes)
        for sess in (1, 32, 200):
            check_fanout(nbytes, 0, nbytes, (sess, 4 * sess, 4 * sess + 0.5), (sess,))
            assert scale.fanout_partitions_by_bytes(
                _FakeSpark(sess), "src", bytes_multiplier=4 * sess
            ) == 4 * sess


def test_session_conf_read_defensive():
    """A platform exposing a non-numeric spark.sql.shuffle.partitions
    (e.g. "auto" — open-source Spark validates the set, managed platforms
    do not) must not turn the guard into a builder crash: the helper
    falls back to Spark's own 200 default."""
    assert scale._session_shuffle_partitions(_FakeSpark("auto")) == 200
    assert scale._session_shuffle_partitions(_FakeSpark(None)) == 200
    assert scale._session_shuffle_partitions(_FakeSpark("64")) == 64


def test_bytes_variant_gate_formula_and_floor(spark, sf_dir, monkeypatch):
    path = os.path.join(sf_dir, "lineitem.parquet")
    # Below the gate: None, regardless of multiplier.
    assert (
        scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=1e9)
        is None
    )
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    nbytes = os.path.getsize(path)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Multiplier sized so n = 4 * sess: must return exactly that.
    monkeypatch.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", nbytes)
    assert (
        scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=4 * sess)
        == 4 * sess
    )
    # n == sess: the session default suffices -> None.
    assert (
        scale.fanout_partitions_by_bytes(spark, path, bytes_multiplier=sess)
        is None
    )


@pytest.mark.slow
def test_b31_result_invariant_under_forced_adaptive_path(
    spark, sf_dir, monkeypatch
):
    """Force both driver-side bounds open at sf0.001 so b31 takes the
    repartitioned salted plan; the aggregate must be identical to the
    default plan's (the guard is physical layout only)."""
    from scylladb_redpanda_cdc_spark.plans import batch_queries

    def agg():
        df = batch_queries.b31_join_skew_salted(spark, sf_dir)
        return sorted(
            (r["o_orderpriority"], r["n_items"], r["sum_qty"])
            for r in df.collect()
        )

    baseline = agg()
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(scale, "BROADCAST_INFEASIBLE_BYTES", 0)
    monkeypatch.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", 1024)
    forced = agg()
    assert forced == baseline and len(baseline) > 0


@pytest.mark.slow
def test_x11_result_invariant_under_forced_adaptive_path(
    spark, sf_dir, monkeypatch
):
    """Force the gate open at sf0.001 so x11 and x39 take their
    repartitioned plans, and compare each full result set against the
    default plan: the guard must be a physical-layout change only."""
    import io
    from contextlib import redirect_stdout

    from scylladb_redpanda_cdc_spark.plans import llm_queries

    def x11_rows():
        df = llm_queries.x11_dedup_ngram_jaccard(spark, sf_dir)
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in df.collect()
        }

    def x39_rows():
        df = llm_queries.x39_dedup_containment(spark, sf_dir)
        return {
            (r["doc_a"], r["doc_b"], r["n_shared_spans"], r["n_spans_a"],
             round(r["containment"], 12))
            for r in df.collect()
        }

    def x11_plan():
        llm_queries._x11_cache.clear()  # bypass cache, keep blocks alive
        llm_queries.x11_dedup_ngram_jaccard(spark, sf_dir).explain(True)

    def x39_plan():
        llm_queries.x39_dedup_containment(spark, sf_dir).explain(True)

    for rows, plan in ((x11_rows, x11_plan), (x39_rows, x39_plan)):
        clear_session_frame_caches()
        baseline = rows()

        clear_session_frame_caches()
        with monkeypatch.context() as m:
            m.setattr(scale, "GATE_BYTES", 0)
            # A small per-task target guarantees the adaptive count beats
            # the session setting even on tiny fixtures.
            m.setattr(scale, "FANOUT_TARGET_PARTITION_BYTES", 4096)
            m.setattr(scale, "FANOUT_MAX_PARTITIONS", 96)
            forced = rows()

            # The mechanism, not just the result: the forced plan carries
            # the guard's numbered repartition on the join key
            # (REPARTITION_BY_NUM survives AQE).
            buf = io.StringIO()
            with redirect_stdout(buf):
                plan()
        clear_session_frame_caches()
        assert "REPARTITION_BY_NUM" in buf.getvalue(), rows.__name__
        assert forced == baseline and len(baseline) > 0, rows.__name__
