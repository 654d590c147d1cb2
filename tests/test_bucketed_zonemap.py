"""Zone maps on the BUCKETED layout (round 11): per-segment min/max
recorded at every bucketed commit, manifest-level segment skipping via
read_pruned — the second pruning layer on top of bucket
subsetting (bucket hash answers key-equi questions; zone maps answer
RANGE questions, e.g. a time window over a user-bucketed table).
Also pinned here: the one zone-map writer both layouts share, and that
every generic verb gives the same rows on either layout."""

import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from conftest import spark_jobs
from rclip_server_spark.sources import versioned as V


def _mk(spark, path):
    """4-bucket table, two range-disjoint commits: create rows with
    val in [0, 990], append rows with val in [10000, 10990]."""
    lo = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "id INT, val INT")
    hi = spark.createDataFrame(
        [(100 + i, 10000 + i * 10) for i in range(100)],
        "id INT, val INT")
    V.create_bucketed(spark, str(path), lo, key="id", n_buckets=4,
                      stat_cols=["val"])
    V.append(spark, str(path), hi)
    return str(path), lo, hi


def _survivors(t, ranges):
    m = V._manifest(t, V.current_version(t))
    stats = m.get("seg_stats", {})
    return [s for ss in m["buckets"].values() for s in ss
            if V.zone_survives(stats.get(s, {}), ranges)]


def test_pruned_read_skips_disjoint_segments(spark, tmp_path):
    t, lo, hi = _mk(spark, tmp_path / "t")
    m = V._manifest(t, V.current_version(t))
    total = sum(len(ss) for ss in m["buckets"].values())
    # every segment carries stats
    assert set(m["seg_stats"]) == {s for ss in m["buckets"].values()
                                   for s in ss}
    ranges = {"val": (0, 500)}
    keep = _survivors(t, ranges)
    assert 0 < len(keep) < total  # the hi-batch segments are skipped
    got = sorted(r.id for r in
                 V.read_pruned(spark, t, ranges=ranges).collect())
    want = sorted(r.id for r in lo.where("val <= 500").collect())
    assert got == want  # no false prune, residual filter exact
    # a range nothing matches: zero-row read with the right schema
    none = V.read_pruned(spark, t, ranges={"val": (90000, None)})
    assert none.count() == 0 and none.columns == ["id", "val"]


def test_stats_survive_dml_and_rewrites(spark, tmp_path):
    t, lo, hi = _mk(spark, tmp_path / "t")
    # delete vector: stats carried, pruned read applies the vector
    V.delete_rows(spark, t, [5], "id")
    got = sorted(r.id for r in V.read_pruned(
        spark, t, ranges={"val": (0, 500)}).collect())
    assert 5 not in got and got == [i for i in range(51) if i != 5]
    # upsert rewrites touched buckets: fresh stats for new segments
    up = spark.createDataFrame([(3, 70000)], "id INT, val INT")
    V.upsert_bucketed(spark, t, up)
    m = V._manifest(t, V.current_version(t))
    assert set(m["seg_stats"]) >= {s for ss in m["buckets"].values()
                                   for s in ss}
    assert [r.id for r in V.read_pruned(
        spark, t, ranges={"val": (60000, None)}).collect()] == [3]
    # compact folds + recomputes; zorder refreshes every segment
    V.compact(spark, t, min_segments=2)
    V.cluster_zorder(spark, t, "id", "val")
    m = V._manifest(t, V.current_version(t))
    assert set(m["seg_stats"]) == {s for ss in m["buckets"].values()
                                   for s in ss}
    got = sorted(r.id for r in V.read_pruned(
        spark, t, ranges={"val": (0, 500)}).collect())
    assert got == [i for i in range(51) if i not in (3, 5)]


def test_convert_to_bucketed_carries_stat_cols(spark, tmp_path):
    flat = str(tmp_path / "flat")
    V.create(spark, flat, spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "id INT, val INT"),
        stat_cols=["val"])
    V.convert_to_bucketed(spark, flat, key="id", n_buckets=4)
    m = V._manifest(flat, V.current_version(flat))
    assert m["stat_cols"] == ["val"]
    assert set(m["seg_stats"]) == {s for ss in m["buckets"].values()
                                   for s in ss}
    got = sorted(r.id for r in V.read_pruned(
        spark, flat, ranges={"val": (100, 200)}).collect())
    assert got == [10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20]


def test_stat_col_drop_refused_on_bucketed(spark, tmp_path):
    t, _, _ = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="zone-map"):
        V.drop_column(spark, t, "val")


def test_zorder_by_declared_unwritten_column(spark, tmp_path):
    """Third-review fixes: ZORDER BY a metadata-only added column
    reconciles (NULL z-component) instead of failing resolution, and
    column names resolve case-insensitively like every other verb."""
    t, lo, hi = _mk(spark, tmp_path / "t")
    V.add_column(spark, t, "ts", "bigint")
    v = V.cluster_zorder(spark, t, "TS", "VAL")
    assert v > 0
    got = sorted(r.id for r in V.read(spark, t).collect())
    assert got == list(range(200))
    with pytest.raises(ValueError, match="no column"):
        V.cluster_zorder(spark, t, "nope", "val")


def test_stats_single_job_covers_every_new_segment(spark, tmp_path):
    """Third-review fix: a full-rewrite commit computes ALL new
    segments' stats in one grouped aggregate — verified by the stats
    being present and exact for every bucket after a zorder pass."""
    t, lo, hi = _mk(spark, tmp_path / "t")
    V.cluster_zorder(spark, t, "id", "val")
    m = V._manifest(t, V.current_version(t))
    segs = {s for ss in m["buckets"].values() for s in ss}
    assert set(m["seg_stats"]) == segs
    import os as _os
    for s in segs:
        seg = spark.read.parquet(_os.path.join(t, s))
        mn, mx = seg.agg(F.min("val"), F.max("val")).first()
        assert m["seg_stats"][s]["val"]["min"] == mn
        assert m["seg_stats"][s]["val"]["max"] == mx


def test_cdc_stream_survives_add_column(spark, tmp_path):
    """Third-review fix: the Arrow CDC stream source accepts the
    metadata-only add-column commit (it shares versioned.APPEND_OPS
    now) instead of killing the query batch table_changes accepts."""
    from rclip_server_spark.sources import cdc_stream as CS

    assert "add-column" in CS._APPEND_OPS
    assert "append-bucketed" in CS._APPEND_OPS
    assert "create-bucketed" in CS._APPEND_OPS


def test_flat_append_omitting_stat_col_commits_nulls(spark, tmp_path):
    """A batch may omit a declared column (it reads as NULL). The zone-map
    writer null-fills it too: the append commits, the segment's stats
    record all-NULL min/max with nulls = its row count, and no orphan
    segment dir is left behind."""
    t = str(tmp_path / "t")
    V.create(spark, t, spark.createDataFrame([(1, 10, 5)],
                                             "id INT, val INT, w INT"),
             stat_cols=["val", "w"])
    v = V.append(spark, t, spark.createDataFrame([(2, 20), (3, 30)],
                                                 "id INT, val INT"))
    m = V._manifest(t, v)
    seg = m["segments"][-1]
    assert m["seg_stats"][seg] == {
        "val": {"min": 20, "max": 30, "nulls": 0},
        "w": {"min": None, "max": None, "nulls": 2}}
    assert sorted(tuple(r) for r in V.read(spark, t).collect()) == [
        (1, 10, 5), (2, 20, None), (3, 30, None)]
    assert {d for d in os.listdir(t) if d.startswith("seg-")} == \
        set(m["segments"])


@pytest.mark.parametrize("layout", ["flat", "bucketed"])
def test_generic_verbs_layout_parity(spark, tmp_path, layout):
    """The layout is a manifest fact: read, read_pruned, compact,
    cluster_zorder, truncate and append_exactly_once take the same call
    and give the same rows on either layout, and an exactly-once replay
    returns None on both."""
    t = str(tmp_path / layout)
    lo = spark.createDataFrame([(i, i * 10) for i in range(100)],
                               "id INT, val INT")
    if layout == "flat":
        V.create(spark, t, lo, stat_cols=["val"])
    else:
        V.create_bucketed(spark, t, lo, key="id", n_buckets=4,
                          stat_cols=["val"])
    V.append(spark, t, spark.createDataFrame(
        [(100 + i, 10000 + i * 10) for i in range(100)], "id INT, val INT"))
    batch = spark.createDataFrame([(300, 5), (301, 99999)],
                                  "id INT, val INT")
    v = V.append_exactly_once(spark, t, batch, batch_id=7)
    assert v == V.current_version(t) == 3
    assert V.append_exactly_once(spark, t, batch, batch_id=7) is None
    everything = list(range(200)) + [300, 301]
    low = list(range(51)) + [300]

    def ids(df):
        return sorted(r.id for r in df.collect())

    assert ids(V.read(spark, t)) == everything
    assert ids(V.read_pruned(spark, t, "val", 0, 500)) == low
    assert V.compact(spark, t) == 4
    assert ids(V.read(spark, t)) == everything
    assert V.cluster_zorder(spark, t, "id", "val") == 5
    assert ids(V.read(spark, t)) == everything
    assert ids(V.read_pruned(spark, t, ranges={"val": (0, 500)})) == low
    assert ids(V.read(spark, t, version=2)) == list(range(200))
    if layout == "flat":
        with pytest.raises(ValueError, match="flat"):
            V.read(spark, t, buckets=[0])
    V.truncate(spark, t)
    empty = V.read(spark, t)
    assert empty.count() == 0 and empty.columns == ["id", "val"]


def test_zone_stats_one_job_however_many_segments(spark, tmp_path):
    """A commit's zone map is ONE grouped aggregate over every segment it
    wrote: a zone-mapped flat cluster_zorder runs the same number of
    Spark jobs writing 2 segments as writing 8."""
    rows = [(i, (i * 37) % 200) for i in range(200)]
    counts = {}
    for n in (2, 8):
        t = str(tmp_path / f"z{n}")
        V.create(spark, t, spark.createDataFrame(rows, "x INT, y INT"),
                 stat_cols=["x"])
        with spark_jobs(spark) as jobs:
            v = V.cluster_zorder(spark, t, "x", "y", n_segments=n)
        m = V._manifest(t, v)
        assert len(m["segments"]) == n
        assert set(m["seg_stats"]) == set(m["segments"])
        counts[n] = len(jobs)
    assert counts[2] == counts[8], counts
