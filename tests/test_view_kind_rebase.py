"""Every maintained view kind rebases a lost OCC race through
``matview.refresh_view``.

One test per ``matview._VIEW_KINDS`` entry, on tiny inputs: create the
view, commit once to its source, and make the first refresh attempt
lose a real race — the view's first commit verb call first runs a
competing ``refresh_view`` of the same view, which commits between the
loser's read and its commit. The loser's commit must raise
ConcurrentWriteError exactly once, the OCC loop must re-read the
advanced cursor, and the view must end fresh and row-identical to the
same view created from scratch over the source head.

The heal matrix pins the one heal rule over the same ten kinds: a
source vacuumed past the view cursor, or rolled back below it, fails
a ``recompute_fraction=None`` refresh with the named error and heals
under the default fraction."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from rclip_server_spark.sources import annindex as AI
from rclip_server_spark.sources import ivfindex as II
from rclip_server_spark.sources import matview as MV
from rclip_server_spark.sources import neardup_view as ND
from rclip_server_spark.sources import textindex as TI
from rclip_server_spark.sources import versioned as V

_SCHEMA = "id long, grp string, v long, text string, emb array<double>"
_FOX = "the quick brown fox jumps over the lazy dog"


def _vec(*head):
    return [float(x) for x in head] + [0.0] * (8 - len(head))


_ROWS = [
    (1, "a", 5, _FOX, _vec(1, 0.05)),
    (2, "a", 7, _FOX + " again", _vec(1, 0.06)),
    (3, "b", 2, "streaming views keep their cursors fresh", _vec(0, 1)),
    (4, "b", 9, "a completely different sentence about spark",
     _vec(0, 0, 1)),
]
# the one source commit: a near-duplicate of doc 3 (text and vector)
_NEW = [(5, "b", 4, "streaming views keep their cursors fresh too",
         _vec(0.02, 1))]


def _double(df):
    return df.select("id", "grp", (F.col("v") * 2).alias("w"))


def _create(kind, spark, src, dim, vp):
    """Create a ``kind`` view at ``vp`` over ``src`` (and ``dim`` for
    the two-source kinds)."""
    if kind == "agg":
        MV.create_agg_view(spark, src, vp, key="id", group_cols=["grp"],
                           sum_cols=["v"])
    elif kind == "transform":
        MV.create_transform_view(spark, src, vp, key="id",
                                 transform=_double, name="double-v1")
    elif kind == "topk":
        MV.create_topk_view(spark, src, vp, key="id", group_cols=["grp"],
                            score_col="v", k=2)
    elif kind == "join":
        MV.create_join_view(spark, src, dim, vp, on="grp", left_key="id",
                            right_key="rid", group_cols=["seg"],
                            sum_cols=["v"])
    elif kind == "join_table":
        MV.create_join_table_view(spark, src, dim, vp, on="grp",
                                  left_key="id", right_key="rid")
    elif kind == "near_dup":
        ND.create_near_dup_pairs_view(spark, src, vp, key="id",
                                      shingle_n=3, num_hashes=16,
                                      bands=8, threshold=0.5)
    elif kind == "embed_near_dup":
        ND.create_embed_near_dup_pairs_view(spark, src, vp, key="id",
                                            vec_col="emb", threshold=0.9,
                                            n_planes=2, n_sets=2, dim=8)
    elif kind == "text_index":
        TI.create_text_index(spark, src, vp, key="id")
    elif kind == "ann_index":
        AI.create_ann_index(spark, src, vp, key="id", vec_col="emb",
                            n_planes=2, dim=8)
    elif kind == "ivf_index":
        # explicit centroids: the from-scratch twin must not retrain
        II.create_ivf_index(spark, src, vp, key="id", vec_col="emb",
                            centroids=np.eye(2, 8))
    else:
        raise AssertionError(f"no test fixture for view kind {kind!r}")


def _rows(spark, path):
    return sorted(repr(sorted(r.asDict().items()))
                  for r in V.read(spark, path).collect())


def _lose_first_commit(monkeypatch, spark, vp, transforms):
    """Patch the commit verbs so the first commit aimed at ``vp`` first
    lets a competing refresh_view commit; returns the list of
    ConcurrentWriteErrors the verbs raise for ``vp`` (nested verb calls
    count once)."""
    target = os.path.abspath(vp)
    state = {"fired": False, "depth": 0}
    raised = []

    def wrap(verb):
        def commit(spark_, path, *args, **kwargs):
            if os.path.abspath(path) != target:
                return verb(spark_, path, *args, **kwargs)
            if not state["fired"]:
                state["fired"] = True
                MV.refresh_view(spark, vp, transforms=transforms)
            state["depth"] += 1
            try:
                return verb(spark_, path, *args, **kwargs)
            except V.ConcurrentWriteError as e:
                if state["depth"] == 1:
                    raised.append(e)
                raise
            finally:
                state["depth"] -= 1

        return commit

    for name in ("append", "overwrite", "delete_and_append"):
        monkeypatch.setattr(V, name, wrap(getattr(V, name)))
    return raised


@pytest.mark.parametrize("kind", sorted(MV._VIEW_KINDS))
def test_refresh_view_rebases_lost_race(spark, tmp_path, monkeypatch,
                                        kind):
    src, dim = str(tmp_path / "src"), str(tmp_path / "dim")
    vp, fresh = str(tmp_path / "view"), str(tmp_path / "fresh")
    V.create(spark, src, spark.createDataFrame(_ROWS, _SCHEMA))
    V.create(spark, dim, spark.createDataFrame(
        [(100, "a", "X"), (101, "b", "Y")],
        "rid long, grp string, seg string"))
    _create(kind, spark, src, dim, vp)
    transforms = {vp: (_double, "double-v1")}
    V.append(spark, src, spark.createDataFrame(_NEW, _SCHEMA))
    view_v = V.current_version(vp)

    raised = _lose_first_commit(monkeypatch, spark, vp, transforms)
    MV.refresh_view(spark, vp, transforms=transforms)
    monkeypatch.undo()

    assert len(raised) == 1, raised
    assert V.current_version(vp) == view_v + 1  # the competitor's commit
    d = MV.describe_view(vp)
    assert d["view_kind"] == kind
    assert d["fresh"] and all(s["lag"] == 0 for s in d["sources"]), d
    _create(kind, spark, src, dim, fresh)
    assert _rows(spark, vp) == _rows(spark, fresh)


def _vacuum_past_cursor(spark, src):
    """Advance the source past the view cursor by an append and a
    rewrite, then vacuum every manifest but the head's."""
    V.append(spark, src, spark.createDataFrame(_NEW, _SCHEMA))
    V.upsert(spark, src, spark.createDataFrame(
        [(1, "b", 6, _FOX + " once more", _vec(1, 0.1))], _SCHEMA), "id")
    V.vacuum(src, keep_last=1)


def _roll_back_below_cursor(spark, src):
    """Leave the source head BELOW the view cursor: drop the manifest
    the cursor names out of band (restore() commits forward, so only an
    operator removing head manifests gets here)."""
    v = V.current_version(src)
    os.remove(V._snap_path(src, v))
    V._write_checkpoint(src, v - 1)


@pytest.mark.parametrize("case", ["vacuum", "rollback"])
@pytest.mark.parametrize("kind", sorted(MV._VIEW_KINDS))
def test_refresh_view_heal_rule(spark, tmp_path, kind, case):
    """The one heal rule: a source vacuumed past the cursor or rolled
    back below it makes ``recompute_fraction=None`` raise the named
    error, and the default fraction heals by recompute — the view ends
    fresh and row-identical to the view created over the source head."""
    src, dim = str(tmp_path / "src"), str(tmp_path / "dim")
    vp, fresh = str(tmp_path / "view"), str(tmp_path / "fresh")
    V.create(spark, src, spark.createDataFrame(_ROWS[:3], _SCHEMA))
    V.create(spark, dim, spark.createDataFrame(
        [(100, "a", "X"), (101, "b", "Y")],
        "rid long, grp string, seg string"))
    if case == "rollback":
        V.append(spark, src, spark.createDataFrame(_ROWS[3:], _SCHEMA))
    _create(kind, spark, src, dim, vp)
    transforms = {vp: (_double, "double-v1")}
    if case == "vacuum":
        _vacuum_past_cursor(spark, src)
        named = "vacuum|retain"
    else:
        _roll_back_below_cursor(spark, src)
        named = "BEHIND the view cursor"
    view_v = V.current_version(vp)

    with pytest.raises(RuntimeError, match=named):
        MV.refresh_view(spark, vp, transforms=transforms,
                        recompute_fraction=None)
    assert V.current_version(vp) == view_v

    MV.refresh_view(spark, vp, transforms=transforms)
    d = MV.describe_view(vp)
    assert d["fresh"] and all(s["lag"] == 0 for s in d["sources"]), d
    _create(kind, spark, src, dim, fresh)
    assert _rows(spark, vp) == _rows(spark, fresh)
