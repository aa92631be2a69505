"""state_file_count sizes foreachBatch state writes by bytes.

The round-13 ×100 probe showed a fixed ``coalesce(16)`` collapsing s17's
whole merge stage (one 643 MB task at decade 3); the fix targets
~STATE_TARGET_FILE_BYTES of parquet per file, estimated from the previous
state version's on-disk size plus the arriving batch's. This file pins
the helper's contract and the StateVersions writes that use it:
fixture-scale writes keep the caller's floor (plans and floors stay
byte-identical), the count grows proportionally once the state exceeds
the target, unpriced bytes degrade to the floor (never wrong, merely
small) without dropping the batch's contribution, and the 4096 cap
bounds file-count explosions.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.operators import scale
from scylladb_redpanda_cdc_spark.streaming import core


def _parts(path: str) -> int:
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def test_no_previous_version_returns_floor():
    assert core.state_file_count(0, 16) == 16
    assert core.state_file_count(None, 4) == 4


def test_missing_path_degrades_to_floor(spark, tmp_path):
    """A path that cannot be priced yields None, which sizes to the floor
    (never wrong, merely small)."""
    missing = str(tmp_path / "never-written")
    assert core._fs_bytes(spark, missing) is None
    assert core.state_file_count(core._fs_bytes(spark, missing), 8) == 8


def test_fixture_scale_state_keeps_floor(spark, tmp_path):
    """A state version far under the per-file target must return exactly
    the caller's floor — this is what keeps fixture-scale plans (and the
    recorded floors) byte-identical to the pre-helper constants."""
    p = str(tmp_path / "v0")
    spark.range(100).write.parquet(p)
    assert core.state_file_count(core._fs_bytes(spark, p), 16) == 16


def test_count_scales_with_state_bytes(spark, tmp_path, monkeypatch):
    """Once the state exceeds the target, the count is ceil(bytes/target)
    — proportional to data, not a fixed cap."""
    p = str(tmp_path / "v1")
    spark.range(5000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("h")
    ).write.parquet(p)
    nbytes = core._fs_bytes(spark, p)
    assert nbytes > 0
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", max(1, nbytes // 3))
    got = core.state_file_count(nbytes, 1)
    assert 3 <= got <= 5  # ceil(n / (n//3)) with rounding slack
    # the floor still wins when it is larger than the byte-derived count
    assert core.state_file_count(nbytes, 64) == 64


def test_count_is_capped_at_4096(monkeypatch):
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", 1)
    assert core.state_file_count(10_000, 4) == 4096


def _wide(spark, n: int = 4000):
    """A frame with 64 non-empty partitions, so coalesce(k) for k <= 64
    writes exactly k files."""
    return spark.range(n).repartition(64).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("h")
    )


def test_write_sized_from_prev_plus_batch_contribution(
    spark, monkeypatch
):
    """Round 16 (VERDICT r15 task 1): sizing from the previous version
    ALONE lags the written size by one batch — the r14 ×1000 s22 drill's
    302 MB write task was v2 sized from v1 during a 3-batch catch-up.
    StateVersions prices each version once after writing it and sizes the
    next write from prev + the batch's priced contribution, which bounds
    the estimate from above, so the per-task write volume stays at the
    target for ANY drain shape."""
    sv = core.StateVersions(spark, "sfc_prev_batch", 1)
    assert sv.read() is None
    sv.write(_wide(spark), 0)  # no prev, no batch bytes: the floor
    assert _parts(sv.path) == 1
    nbytes = sv.bytes
    assert nbytes == core._fs_bytes(spark, sv.path) > 0  # priced after the write
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", nbytes)
    # a catch-up batch twice the state: prev + batch = 3 targets' worth
    sv.write(_wide(spark), 1, batch_bytes=2 * nbytes)
    assert sv.path.endswith("v1")
    assert _parts(sv.path) == 3
    assert sv.final().count() == 4000
    # fixture discipline unchanged: tiny prev + tiny batch -> floor
    monkeypatch.setattr(scale, "GATE_BYTES", 32 * 1024 * 1024)
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", 32 * 1024 * 1024)
    assert core.state_file_count(nbytes + 1024, 16) == 16


def test_unpriced_version_keeps_the_batch_contribution(spark, monkeypatch):
    """When pricing the version just written fails (``_fs_bytes`` returns
    None), the next write is sized to max(floor, ceil(batch_bytes /
    target)) from the batch alone — not dropped to the bare floor."""
    monkeypatch.setattr(core, "_fs_bytes", lambda spark, path: None)
    sv = core.StateVersions(spark, "sfc_unpriced", 2)
    sv.write(_wide(spark), 0)
    assert sv.bytes == 0
    target = 1000
    monkeypatch.setattr(scale, "GATE_BYTES", 0)
    monkeypatch.setattr(core, "STATE_TARGET_FILE_BYTES", target)
    batch_bytes = 5 * target
    sv.write(_wide(spark), 1, batch_bytes=batch_bytes)
    assert _parts(sv.path) == max(2, -(-batch_bytes // target)) == 5


def test_batch_source_bytes_prices_each_micro_batch(spark, tmp_path):
    """The mechanism the prev+batch sizing rests on: the checkpoint's
    FileStreamSource log records which files each batch admitted (the
    foreachBatch batch_df itself is a bare LogicalRDD with no file
    metadata), so batch_source_bytes prices exactly the arriving
    contribution, per batch, driver-side."""
    import shutil
    import time

    src = str(tmp_path / "src")
    os.makedirs(src)
    per_file: list[int] = []
    for i in range(3):
        scratch = str(tmp_path / f"scratch{i}")
        spark.range(100 * (i + 1)).selectExpr(
            "id", "id * 2 AS v"
        ).coalesce(1).write.parquet(scratch)
        (part,) = [
            f for f in os.listdir(scratch) if f.endswith(".parquet")
        ]
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.move(os.path.join(scratch, part), dst)
        mtime = time.time() - 300 + i * 100
        os.utime(dst, (mtime, mtime))
        per_file.append(os.path.getsize(dst))
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple[int, int]] = []

    def body(batch_df, bid):
        seen.append((bid, core.batch_source_bytes(spark, ckpt, bid)))

    sdf = (
        spark.readStream.schema("id bigint, v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sdf.writeStream.foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert [b for b, _ in sorted(seen)] == [0, 1, 2]
    assert [n for _, n in sorted(seen)] == per_file
    # unpriceable inputs degrade to 0, never raise
    assert core.batch_source_bytes(spark, ckpt, 99) == 0
    assert core.batch_source_bytes(spark, str(tmp_path / "nope"), 0) == 0


def test_drain_prices_percent_encoded_source_uris(spark, tmp_path):
    """The checkpoint source log records each admitted file as a
    percent-encoded URI; a source dir whose name holds a space logs it as
    ``%20``. ``drain_foreach_batch`` must still hand every batch its
    file's real size (read as a local path, ``%20`` names no file, and the
    batch was priced at 0)."""
    import shutil
    import time

    src = tmp_path / "staged with space"
    src.mkdir()
    sizes: list[int] = []
    for i in range(2):
        scratch = str(tmp_path / f"scratch{i}")
        spark.range(50 * (i + 1)).coalesce(1).write.parquet(scratch)
        (part,) = [f for f in os.listdir(scratch) if f.endswith(".parquet")]
        dst = str(src / f"{i:02d}.parquet")
        shutil.move(os.path.join(scratch, part), dst)
        mtime = time.time() - 300 + i * 100
        os.utime(dst, (mtime, mtime))
        sizes.append(os.path.getsize(dst))
    sdf = (
        spark.readStream.schema("id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    seen: dict[int, int] = {}
    core.drain_foreach_batch(
        sdf, lambda _df, bid, batch_bytes: seen.__setitem__(bid, batch_bytes)
    )
    assert [seen[b] for b in sorted(seen)] == sizes
