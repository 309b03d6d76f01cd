"""Crash-safe table rewrites (``sources/lake.swap_state``) at every caller.

Each of the six rewrites — the daily warehouse upsert, the foreachBatch
warehouse merge, compaction, the metadata-table write and the kmv / CC
stream-fold states — is run over the three leftovers a crash can leave
beside a table: the table stranded at ``__old`` (crash between the two
renames), a stale ``__old`` beside a live table (crash before cleanup),
and a half-written ``__next``. The rewrite must start from the right
table, leave no leftover, and rename only inside the table's parent
directory (a staging dir elsewhere turns the move into copy + delete
across filesystems).
"""

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_etl_pipeline_spark.sources import lake  # noqa: E402
from reddit_etl_pipeline_spark.streaming import stream as ST  # noqa: E402


def _rows(spark, path):
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def _write(spark, path, rows, ddl):
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(path)


def _fold_state_at(monkeypatch, prefix, path):
    """Point the stream fold's state directory (``scratch_dir(prefix) +
    '/state'``) at ``path``, which must end in ``/state``."""
    real = ST.scratch_dir
    parent = os.path.dirname(path)
    monkeypatch.setattr(
        ST, "scratch_dir", lambda p: parent if p == prefix else real(p)
    )


def _upsert(spark, path, sf_dir, monkeypatch):
    from reddit_etl_pipeline_spark.plans.pipeline import _upsert_warehouse

    _upsert_warehouse(spark, spark.createDataFrame([("a", 2)], "id string, v long"), path)
    return _rows(spark, path)


def _merge_latest(spark, path, sf_dir, monkeypatch):
    b = spark.createDataFrame([(1, 20, "new")], "k long, ts long, v string")
    ST.merge_latest_into_warehouse(b, path, keys=["k"], order_cols=["ts"])
    return _rows(spark, path)


def _compact(spark, path, sf_dir, monkeypatch):
    assert lake.compact_table(spark, path, target_file_bytes=10 * 1024 * 1024) == 1
    return _rows(spark, path)


def _meta(spark, path, sf_dir, monkeypatch):
    lake.write_meta_table([(2, 2.0)], "cid bigint, x double", path)
    return _rows(spark, path)


def _kmv(spark, path, sf_dir, monkeypatch):
    _fold_state_at(monkeypatch, "kmv_state_", path)
    return {tuple(r) for r in ST.streamed_kmv_distinct(spark, sf_dir).collect()}


def _cc(spark, path, sf_dir, monkeypatch):
    _fold_state_at(monkeypatch, "cc_state_", path)
    return {tuple(r) for r in ST.streamed_part_components(spark, sf_dir).collect()}


# name -> (seed rows, seed DDL, rewrite, check on the rewrite's rows).
# Each seed carries a marker the rewrite keeps only if it read the seed.
CASES = {
    "upsert_warehouse": (
        [("a", 1), ("marker", 0)], "id string, v long", _upsert,
        lambda rows: rows == {("a", 2), ("marker", 0)},
    ),
    "merge_latest": (
        [(1, 10, "old"), (9, 1, "marker")], "k long, ts long, v string",
        _merge_latest,
        lambda rows: rows == {(1, 20, "new"), (9, 1, "marker")},
    ),
    "compact_table": (
        [(i,) for i in range(50)], "id long", _compact,
        lambda rows: rows == {(i,) for i in range(50)},
    ),
    "write_meta_table": (
        [(1, 1.0)], "cid bigint, x double", _meta,
        lambda rows: rows == {(2, 2.0)},
    ),
    # kmv state (event_type, flipped): the marker type survives the fold
    "kmv_state": (
        [("zz_marker", 1)], "event_type string, flipped bigint", _kmv,
        lambda rows: ("zz_marker", 1, 1) in rows and len(rows) > 1,
    ),
    # CC state (node, component): the marker star {-7, -6} survives
    "cc_state": (
        [(-7, -7), (-6, -7)], "node bigint, component bigint", _cc,
        lambda rows: {(-7, -7, 2), (-6, -7, 2)} <= rows and len(rows) > 2,
    ),
}


def _junk_dir(path):
    os.makedirs(path)
    with open(f"{path}/part-00000.parquet", "wb") as f:
        f.write(b"not parquet")


LEFTOVERS = {
    # crash between the two renames: the table exists only at __old
    "stranded_old": lambda p: os.replace(p, f"{p}__old"),
    # crash after the swap, before cleanup: __old is stale
    "stale_old": lambda p: _junk_dir(f"{p}__old"),
    # crash mid-write: __next is half written
    "half_next": lambda p: _junk_dir(f"{p}__next"),
}


@pytest.mark.parametrize("leftover", sorted(LEFTOVERS))
@pytest.mark.parametrize("case", list(CASES))
def test_swap_state_callers(spark, sf_dir, tmp_path, monkeypatch, case, leftover):
    seed, ddl, rewrite, check = CASES[case]
    path = str(tmp_path / "state")  # the stream folds' state dir name
    _write(spark, path, seed, ddl)
    LEFTOVERS[leftover](path)

    renames = []

    def recorder(fn):
        def wrapped(src, dst, *a, **kw):
            renames.append((str(src), str(dst)))
            return fn(src, dst, *a, **kw)

        return wrapped

    monkeypatch.setattr(os, "replace", recorder(os.replace))
    monkeypatch.setattr(shutil, "move", recorder(shutil.move))
    rows = rewrite(spark, path, sf_dir, monkeypatch)
    monkeypatch.undo()

    assert check(rows), rows
    assert not os.path.exists(f"{path}__old")
    assert not os.path.exists(f"{path}__next")
    mine = [(s, d) for s, d in renames if s.startswith(path) or d.startswith(path)]
    assert mine
    for src, dst in mine:
        assert os.path.dirname(src) == os.path.dirname(dst) == str(tmp_path), (src, dst)


def test_swap_state_failed_write_keeps_live_table(tmp_path):
    """A write that raises leaves the live table untouched; its
    half-written ``__next`` is cleared by the next rewrite."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    open(f"{path}/live", "w").close()

    def boom(dst):
        os.makedirs(dst)
        raise RuntimeError("crash mid-write")

    with pytest.raises(RuntimeError, match="crash mid-write"):
        lake.swap_state(path, boom)
    assert os.listdir(path) == ["live"]
    assert lake.swap_state(path, lambda dst: os.makedirs(dst) or "done") == "done"
    assert os.listdir(path) == []
    assert sorted(os.listdir(tmp_path)) == ["t"]
