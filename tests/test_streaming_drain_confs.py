"""Streaming drain knobs: the confs scoped to one drain, and the
state-store width derived from input size.
"""

from __future__ import annotations

import os

from pandas_redshift_spark.streaming.windows import adaptive_state_width


def test_scoped_state_confs_set_and_restore_drain_knobs(spark):
    """_scoped_state_confs must scope the two r14 drain-cost knobs
    (no-data micro-batches off, RocksDB changelog checkpointing on)
    to the drain and restore the session's settings on exit."""
    from pandas_redshift_spark.streaming.windows import _scoped_state_confs

    nodata = _scoped_state_confs._NODATA_KEY
    changelog = _scoped_state_confs._CHANGELOG_KEY
    before_nodata = spark.conf.get(nodata, None)
    with _scoped_state_confs(spark, 4):
        assert spark.conf.get(nodata) == "false"
        assert spark.conf.get(changelog) == "true"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get(nodata, None) == before_nodata
    assert spark.conf.get(changelog, None) in (None, "false")


def test_scoped_state_confs_extra_knobs_set_and_restored(spark):
    """The r15 plan-level drain knob — stream-stream join state
    format v3 (one virtual-column-family store per partition instead
    of four) — must apply inside _scoped_state_confs and restore the
    session's setting on exit, like the r14 knobs."""
    from pandas_redshift_spark.streaming.windows import _scoped_state_confs

    join_key = "spark.sql.streaming.join.stateFormatVersion"
    assert _scoped_state_confs.EXTRA_CONFS[join_key] == "3"
    before = spark.conf.get(join_key, None)
    with _scoped_state_confs(spark, 4):
        assert spark.conf.get(join_key) == "3"
    assert spark.conf.get(join_key, None) == before


def test_adaptive_state_width_sizes_directory_tables(tmp_path):
    """A directory-shaped ``events.parquet`` (the usual lake layout) is
    sized by the sum of its data files, not by the directory inode, and
    sizes the same as one file of the same bytes; ``_``/``.``-prefixed
    side files (markers, checksums) are not data and do not count."""
    single = tmp_path / "single"
    single.mkdir()
    (single / "events.parquet").write_bytes(b"x" * 10_000)

    parts = tmp_path / "parts" / "events.parquet"
    (parts / "day=1").mkdir(parents=True)
    (parts / "part-0.parquet").write_bytes(b"x" * 4_000)
    (parts / "day=1" / "part-1.parquet").write_bytes(b"x" * 6_000)
    (parts / "_SUCCESS").write_bytes(b"")
    (parts / ".part-0.parquet.crc").write_bytes(b"x" * 50_000)

    kw = {"bytes_per_partition": 1_000, "cap": 64}
    assert adaptive_state_width(None, str(single), **kw) == 10
    assert adaptive_state_width(None, os.path.dirname(parts), **kw) == 10
    # missing table: fall back to the cap
    assert adaptive_state_width(None, str(tmp_path / "none"), **kw) == 64
