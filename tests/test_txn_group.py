"""GroupTransaction — atomic multi-table commit (operators/table.py).

The streaming near-dup ingest loop lands three sinks per micro-batch;
the group commit makes them advance together or not at all. These
tests pin the protocol's decision point (the group marker file):
everything staged before it is abortable, everything after it rolls
forward — from READS as well as writes — so no observer ever sees a
mix of old and new across the group.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from cdk_datalake_ingest_spark.operators.table import (
    TXN_PENDING,
    ConcurrentWriteError,
    GroupTransaction,
    ManagedTable,
)


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def _tables(spark, tmp_path, n=3):
    tmp = str(tmp_path)
    return tmp, [ManagedTable(spark, f"{tmp}/t{i}") for i in range(n)]


def test_group_commit_applies_all_tables(spark, tmp_path):
    tmp, (a, b, c) = _tables(spark, tmp_path)
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "a")]), txn=txn)
    b.write(_df(spark, [(2, "b")]), txn=txn)
    c.merge_upsert(_df(spark, [(3, "c")]), keys=["k"], txn=txn)
    # staged only: nothing visible yet
    assert not a.exists and not b.exists and not c.exists
    txn.commit()
    assert [r["v"] for r in a.read().collect()] == ["a"]
    assert [r["v"] for r in b.read().collect()] == ["b"]
    assert [r["v"] for r in c.read().collect()] == ["c"]
    # protocol files cleaned up on the happy path
    for t in (a, b, c):
        assert not (t.path / TXN_PENDING).exists()
        assert not list(t.path.glob("_txn_group.*"))


def test_uncommitted_stage_leaves_tables_unchanged(spark, tmp_path):
    tmp, (a, b, _) = _tables(spark, tmp_path)
    a.write(_df(spark, [(1, "old")]))
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "new")]), txn=txn)
    b.write(_df(spark, [(2, "new")]), txn=txn)
    del txn  # never committed (caller crashed before commit())
    assert [r["v"] for r in a.read().collect()] == ["old"]
    assert not b.exists
    # the staged claim dir is an orphan vacuum can reclaim
    assert a.vacuum(drop_aborted_after_s=0.0)


def test_cas_conflict_aborts_whole_group(spark, tmp_path):
    tmp, (a, b, _) = _tables(spark, tmp_path)
    a.write(_df(spark, [(1, "base")]))
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "txn")]), expected_base_version=1, txn=txn)
    b.write(_df(spark, [(2, "txn")]), txn=txn)
    # an independent writer lands on `a` between stage and commit
    a.write(_df(spark, [(1, "raced")]))
    with pytest.raises(ConcurrentWriteError):
        txn.commit()
    # NOTHING applied: a keeps the racing write, b never appears
    assert [r["v"] for r in a.read().collect()] == ["raced"]
    assert not b.exists
    for t in (a, b):
        assert not (t.path / TXN_PENDING).exists()


def test_crash_after_marker_rolls_forward_on_read(spark, monkeypatch, tmp_path):
    """Crash simulation: the marker (commit point) is written, then the
    process dies before any manifest swap. Every subsequent READ of a
    participant must observe the committed state."""
    tmp, (a, b, _) = _tables(spark, tmp_path)
    a.write(_df(spark, [(1, "old")]))
    b.write(_df(spark, [(2, "old")]))
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "new")]), txn=txn)
    b.write(_df(spark, [(2, "new")]), txn=txn)
    boom = RuntimeError("crash after commit point")
    monkeypatch.setattr(
        ManagedTable,
        "_apply_manifest",
        lambda self, manifest, op: (_ for _ in ()).throw(boom),
    )
    with pytest.raises(RuntimeError, match="crash after commit point"):
        txn.commit()
    monkeypatch.undo()
    # marker exists, manifests unswapped → reads roll forward
    assert [r["v"] for r in a.read().collect()] == ["new"]
    assert [r["v"] for r in b.read().collect()] == ["new"]
    for t in (a, b):
        assert not (t.path / TXN_PENDING).exists()
    assert not list(Path(tmp, "t0").glob("_txn_group.*"))


def test_crash_before_marker_aborts_on_read(spark, monkeypatch, tmp_path):
    """Crash simulation: prepare records written, process dies before
    the marker. The transaction never decided — reads must keep the old
    state and drop the stale prepare records."""
    tmp, (a, b, _) = _tables(spark, tmp_path)
    a.write(_df(spark, [(1, "old")]))
    b.write(_df(spark, [(2, "old")]))
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "new")]), txn=txn)
    b.write(_df(spark, [(2, "new")]), txn=txn)
    monkeypatch.setattr(
        GroupTransaction,
        "_write_marker",
        staticmethod(
            lambda path, payload: (_ for _ in ()).throw(
                RuntimeError("crash before commit point")
            )
        ),
    )
    with pytest.raises(RuntimeError, match="crash before commit point"):
        txn.commit()
    monkeypatch.undo()
    assert [r["v"] for r in a.read().collect()] == ["old"]
    assert [r["v"] for r in b.read().collect()] == ["old"]
    for t in (a, b):
        assert not (t.path / TXN_PENDING).exists()


def test_crash_mid_swap_is_still_atomic_to_readers(spark, monkeypatch, tmp_path):
    """Crash between the first and second manifest swap: table a is
    already swapped, b is not. b's next read must roll ITSELF forward —
    the reader can never observe (a=new, b=old)."""
    tmp, (a, b, _) = _tables(spark, tmp_path)
    a.write(_df(spark, [(1, "old")]))
    b.write(_df(spark, [(2, "old")]))
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "new")]), txn=txn)
    b.write(_df(spark, [(2, "new")]), txn=txn)
    real_apply = ManagedTable._apply_manifest
    calls = []

    def once_then_crash(self, manifest, op):
        if calls:
            raise RuntimeError("crash mid swap")
        calls.append(1)
        real_apply(self, manifest, op)

    monkeypatch.setattr(ManagedTable, "_apply_manifest", once_then_crash)
    with pytest.raises(RuntimeError, match="crash mid swap"):
        txn.commit()
    monkeypatch.undo()
    assert [r["v"] for r in a.read().collect()] == ["new"]
    assert [r["v"] for r in b.read().collect()] == ["new"]


def test_recovery_also_runs_before_new_commits(spark, monkeypatch, tmp_path):
    """A writer touching a participant of a decided-but-unapplied group
    must roll it forward first — otherwise its own commit would base on
    the stale version and half-undo the transaction."""
    tmp, (a, b, _) = _tables(spark, tmp_path)
    a.write(_df(spark, [(1, "old")]))
    b.write(_df(spark, [(2, "old")]))
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "new")]), txn=txn)
    b.write(_df(spark, [(2, "new")]), txn=txn)
    monkeypatch.setattr(
        ManagedTable,
        "_apply_manifest",
        lambda self, manifest, op: (_ for _ in ()).throw(
            RuntimeError("crash")
        ),
    )
    with pytest.raises(RuntimeError):
        txn.commit()
    monkeypatch.undo()
    # a NEW writer merges into b without reading first: the merge's own
    # snapshot read triggers recovery, so it builds on "new"
    b2 = ManagedTable(spark, f"{tmp}/t1")
    b2.merge_upsert(_df(spark, [(3, "merged")]), keys=["k"])
    got = {r["k"]: r["v"] for r in b2.read().collect()}
    assert got == {2: "new", 3: "merged"}


def test_double_enlist_same_table_rejected(spark, tmp_path):
    tmp, (a, _, _) = _tables(spark, tmp_path)
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "x")]), txn=txn)
    with pytest.raises(ValueError, match="enlisted twice"):
        a.write(_df(spark, [(2, "y")]), txn=txn)


def test_commit_twice_rejected(spark, tmp_path):
    tmp, (a, _, _) = _tables(spark, tmp_path)
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "x")]), txn=txn)
    txn.commit()
    with pytest.raises(RuntimeError, match="already committed"):
        txn.commit()


def test_single_table_group_degenerates_to_plain_commit(spark, tmp_path):
    tmp, (a, _, _) = _tables(spark, tmp_path)
    txn = GroupTransaction()
    a.write(_df(spark, [(1, "x")]), txn=txn)
    txn.commit()
    assert [r["v"] for r in a.read().collect()] == ["x"]
    assert not list(a.path.glob("_txn_group.*"))


def test_empty_group_commit_is_a_noop(spark):
    GroupTransaction().commit()


def test_stale_pointer_with_garbage_json_is_ignored(spark, tmp_path):
    """A torn/corrupt prepare record must not brick the table."""
    tmp, (a, _, _) = _tables(spark, tmp_path)
    a.write(_df(spark, [(1, "x")]))
    (a.path / TXN_PENDING).write_text("{not json")
    assert [r["v"] for r in a.read().collect()] == ["x"]


def test_partition_scoped_merge_stages_through_txn(spark, tmp_path):
    """The streaming sinks' exact shape: batch-partitioned tables,
    pby ⊆ keys scoped merges with hints, enlisted in one group."""
    tmp, (a, b, _) = _tables(spark, tmp_path)
    import pyspark.sql.functions as F

    base = _df(spark, [(1, "x")]).withColumn("p", F.lit(0))
    a.write(base, partition_by=["p"])
    b.write(base, partition_by=["p"])
    txn = GroupTransaction()
    nxt = _df(spark, [(2, "y")]).withColumn("p", F.lit(1))
    for t in (a, b):
        t.merge_upsert(
            nxt,
            keys=["p", "k"],
            source_unique=True,
            touched_partitions=[(1,)],
            txn=txn,
        )
    # staged: both still show only partition 0
    assert a.read().count() == 1 and b.read().count() == 1
    txn.commit()
    for t in (a, b):
        got = {r["k"]: r["p"] for r in t.read().collect()}
        assert got == {1: 0, 2: 1}
