"""Vacuum version floors (round 11): a live refresh stream's in-read
versions cannot be reaped out from under it.

The refresh stream's manifest TAIL was always vacuum-tolerant
(ignoreMissingFiles — a reaped wake-up file is just a skipped signal),
but the REFRESH it drives reads the (cursor, head] interval of every
base table: a concurrent ``vacuum(keep_last=1)`` could reap exactly
those manifests, turning the next wake into a vacuum error or a
heal-recompute. The guard: the stream registers a version FLOOR on
each base (versioned.register_version_floor), vacuum keeps everything
at or above the lowest live floor, and the floor advances with the
cursor each micro-batch so the pinned window stays O(in-flight).
Crash safety: floors record the holder pid; dead-pid floors are
reaped by the next vacuum.
"""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from rclip_server_spark.sources import matview as MV
from rclip_server_spark.sources import versioned as V
from rclip_server_spark.streaming import sink


def _mk_flat(spark, path, n=12):
    V.create(spark, str(path), spark.createDataFrame(
        [(i, i * 10) for i in range(n)], "id INT, val INT"))
    return str(path)


def test_floor_pins_vacuum_and_release_unpins(spark, tmp_path):
    t = _mk_flat(spark, tmp_path / "t")
    for k in range(3):
        V.append(spark, t, spark.createDataFrame(
            [(100 + k, k)], "id INT, val INT"))
    head = V.current_version(t)  # 4
    fid = V.register_version_floor(t, 2, owner="test")
    V.vacuum(t, keep_last=1)
    # versions 2..head survive the keep_last=1 vacuum
    assert V._manifest_versions(t) == list(range(2, head + 1))
    assert V.read(spark, t, version=2).count() == 13
    # advancing never moves backward
    V.advance_version_floor(t, fid, 1)
    V.vacuum(t, keep_last=1)
    assert V._manifest_versions(t)[0] == 2
    # forward advance + vacuum trims to the new floor
    V.advance_version_floor(t, fid, head)
    V.vacuum(t, keep_last=1)
    assert V._manifest_versions(t) == [head]
    # release: keep_last rules alone again
    V.release_version_floor(t, fid)
    V.append(spark, t, spark.createDataFrame([(999, 9)],
                                             "id INT, val INT"))
    V.vacuum(t, keep_last=1)
    assert V._manifest_versions(t) == [head + 1]


def test_dead_pid_floor_is_reaped(spark, tmp_path):
    t = _mk_flat(spark, tmp_path / "t")
    V.append(spark, t, spark.createDataFrame([(50, 5)],
                                             "id INT, val INT"))
    # a floor held by a process that exited: spawn-and-wait gives a
    # real pid that is guaranteed dead by the time we use it
    dead_pid = int(subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True).stdout.strip())
    fid = V.register_version_floor(t, 1, owner="crashed")
    fp = os.path.join(t, V._SNAP_DIR, fid)
    d = json.load(open(fp))
    d["pid"] = dead_pid
    json.dump(d, open(fp, "w"))
    V.vacuum(t, keep_last=1)
    # the dead holder's floor did not pin, and its file was reaped
    assert V._manifest_versions(t) == [2]
    assert not os.path.exists(fp)


def test_cascade_stream_survives_hostile_vacuum(spark, events, tmp_path):
    """The race the guard exists for: base commits land while a
    keep_last=1 vacuum runs between them and the stream's wake. With
    the floor, the stream's refresh interval survives, the view
    converges exactly, and the floors release on clean stop."""
    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    ev = events.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    V.create(spark, base, ev.where(F.col("event_id") % 3 == 0))
    MV.create_agg_view(spark, base, view, key="event_id",
                       group_cols=["event_id"], sum_cols=["cents"])
    q = sink.start_view_cascade_refresh_stream(
        spark, view, checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        # floors registered on the base at stream start
        floors = getattr(q, "_rclip_floors")
        assert set(floors) == {base}
        for k in (1, 2):
            V.append(spark, base, ev.where(F.col("event_id") % 3 == k))
            # hostile: reap everything keep_last=1 allows, BEFORE the
            # stream wakes — without the floor this removes the
            # manifests the next refresh interval needs
            V.vacuum(base, keep_last=1)
            q.processAllAvailable()
        assert q.exception() is None
        # converged exactly: the view equals a from-scratch aggregate
        got = sorted(tuple(r) for r in V.read(spark, view)
                     .select("event_id", "sum_cents").collect())
        want = sorted(tuple(r) for r in ev.groupBy("event_id")
                      .agg(F.sum("cents").alias("sum_cents"))
                      .collect())
        assert got == want
        # the floor advanced with the cursor: vacuum can trim history
        # up to the in-flight window but no further
        fid = floors[base]
        d = json.load(open(os.path.join(base, V._SNAP_DIR, fid)))
        assert d["floor_version"] == V.current_version(base)
    finally:
        sink.stop_view_refresh_stream(q)
    # clean stop released the floors
    assert not os.path.exists(os.path.join(base, V._SNAP_DIR,
                                           floors[base]))
    # and a post-stop vacuum is unconstrained again
    V.vacuum(base, keep_last=1)
    assert len(V._manifest_versions(base)) == 1


def test_advance_after_release_does_not_resurrect(spark, tmp_path):
    """Review fix (r11): a release racing an in-flight micro-batch's
    advance must win — advance on a missing floor file is a no-op,
    never a re-creation (which would re-pin the table forever with no
    handle left to release)."""
    t = _mk_flat(spark, tmp_path / "t")
    fid = V.register_version_floor(t, 1, owner="race")
    V.release_version_floor(t, fid)
    V.advance_version_floor(t, fid, 5)
    assert not os.path.exists(os.path.join(t, V._SNAP_DIR, fid))


def test_agg_view_stream_gets_floors_too(spark, tmp_path):
    """Review fix (r11): floors live at the shared starter, so a single
    agg view's refresh stream is guarded, not just a composition chain."""
    base = _mk_flat(spark, tmp_path / "base")
    view = str(tmp_path / "view")
    MV.create_agg_view(spark, base, view, key="id",
                       group_cols=["id"], sum_cols=["val"])
    q = sink.start_view_cascade_refresh_stream(
        spark, view, checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        floors = getattr(q, "_rclip_floors")
        assert set(floors) == {base}
        assert os.path.exists(os.path.join(base, V._SNAP_DIR,
                                           floors[base]))
        V.append(spark, base, spark.createDataFrame(
            [(1, 1)], "id INT, val INT"))
        V.vacuum(base, keep_last=1)
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        sink.stop_view_refresh_stream(q)
    assert not os.path.exists(os.path.join(base, V._SNAP_DIR,
                                           floors[base]))


def test_release_tombstone_beats_racing_advance(spark, tmp_path):
    """Second-review fix: release is tombstone-first, so an advance
    that already loaded the floor file and replaces it AFTER the
    release still cannot resurrect the pin."""
    t = _mk_flat(spark, tmp_path / "t")
    fid = V.register_version_floor(t, 1, owner="race")
    fp = os.path.join(t, V._SNAP_DIR, fid)
    # simulate the interleave: the advance's read happened (file
    # present), then release lands, then the advance's replace
    V.release_version_floor(t, fid)
    json.dump({"floor_version": 3, "pid": os.getpid(), "owner": "race"},
              open(fp, "w"))  # the racing replace re-creates the file
    # the NEXT advance (or any floor scan) sees the tombstone and
    # removes the residue instead of honoring it
    V.advance_version_floor(t, fid, 5)
    assert not os.path.exists(fp)
    assert V._live_floor(t) is None


def test_describe_is_read_only_about_floors(spark, tmp_path):
    """Second-review fix: describe() must not reap floor files (a
    metadata report has no business mutating the table directory)."""
    t = _mk_flat(spark, tmp_path / "t")
    fid = V.register_version_floor(t, 1, owner="x")
    fp = os.path.join(t, V._SNAP_DIR, fid)
    d = json.load(open(fp))
    d["pid"] = 999999999  # certainly not a live pid
    json.dump(d, open(fp, "w"))
    rep = V.describe(t)
    assert rep["version_floor"] is None  # dead floor doesn't pin
    assert os.path.exists(fp)  # ...but describe didn't delete it
    V.vacuum(t, keep_last=1)  # vacuum DOES reap it
    assert not os.path.exists(fp)


def test_partial_floor_registration_releases(spark, tmp_path, events):
    """Second-review fix: if floor registration fails for the second
    source of a join view, the first source's floor must release."""
    from pyspark.sql import functions as F
    from rclip_server_spark.streaming.sink import (
        _start_view_refresh_stream,
    )

    left = _mk_flat(spark, tmp_path / "left")
    right = str(tmp_path / "right_missing")  # no _snapshots dir

    def _boom():
        raise AssertionError("refresh must not run")

    import pytest as _pytest
    with _pytest.raises(Exception):
        _start_view_refresh_stream(spark, [left, right], _boom,
                                   None, view_path=left)
    # no floor file leaked on the side that registered first
    assert not [f for f in os.listdir(os.path.join(left, V._SNAP_DIR))
                if f.startswith(".floor-") and f.endswith(".json")]


def test_cascade_catchup_is_floor_guarded(spark, tmp_path):
    """Second-review fix: the cascade starter's synchronous catch-up
    runs AFTER floor registration — during the catch-up, the base's
    floor file already exists at the pre-catch-up cursor."""
    base = _mk_flat(spark, tmp_path / "base")
    view = str(tmp_path / "view")
    MV.create_agg_view(spark, base, view, key="id",
                       group_cols=["id"], sum_cols=["val"])
    V.append(spark, base, spark.createDataFrame(
        [(99, 9)], "id INT, val INT"))  # stale cursor -> catch-up work
    seen = {}
    orig = MV.refresh_cascade

    def _spy(*a, **k):
        seen["floors"] = [f for f in
                          os.listdir(os.path.join(base, V._SNAP_DIR))
                          if f.startswith(".floor-")
                          and f.endswith(".json")]
        return orig(*a, **k)

    MV.refresh_cascade = _spy
    try:
        q = sink.start_view_cascade_refresh_stream(
            spark, view, checkpoint_dir=str(tmp_path / "ckpt"))
    finally:
        MV.refresh_cascade = orig
    try:
        assert seen["floors"], "catch-up ran without a floor in place"
    finally:
        sink.stop_view_refresh_stream(q)


def test_floor_respected_across_processes(spark, tmp_path):
    """The floor's liveness contract is same-machine pid-based, so a
    vacuum run by ANOTHER process must still honor a floor held by
    this (alive) one — pinned with a real subprocess vacuum."""
    t = _mk_flat(spark, tmp_path / "t")
    for k in range(3):
        V.append(spark, t, spark.createDataFrame(
            [(100 + k, k)], "id INT, val INT"))
    fid = V.register_version_floor(t, 2, owner="xproc")
    code = (
        "import sys; sys.path.insert(0, '/root/repo');"
        "from rclip_server_spark.sources import versioned as V;"
        f"V.vacuum({str(t)!r}, keep_last=1)"
    )
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-500:]
    try:
        # versions 2..head survived the other process's keep_last=1
        assert V._manifest_versions(t)[0] == 2
        assert V.read(spark, t, version=2).count() == 13
    finally:
        V.release_version_floor(t, fid)
