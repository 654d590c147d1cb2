"""Randomized op-sequence fuzz across the WHOLE maintained-view layer
(round 8): a seeded generator drives arbitrary append / upsert / delete /
compact / zorder sequences on one or two versioned sources, with agg,
transform, top-k, join, join-table, and view-over-view maintenance
refreshed at random points — each sequence finally checked against the
direct computation over the source heads. The r6 agg-only net caught a
real SQL-semantics bug; this widens the same oracle property to every
view kind: **incremental maintenance == from-scratch**, under any commit
history, including NULL group keys, NULL measures, multi-commit refresh
intervals, source compaction/reclustering (no-op CDC), auto-compaction
on the view table, and the cost-based recompute dispatch (randomly
enabled — both paths must land on the same state).

Seeds are PARAMETRIZED (50 sequences, seed % 6 selects the view kind) so
a failure names its exact reproduction: `pytest -k "seq47"` replays
sequence 47 alone.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from rclip_server_spark.sources import matview as MV
from rclip_server_spark.sources import versioned as V

GROUPS = ["a", "b", "c", None]
KEYS = [0, 1, 2, 3]
SEGS = ["X", "Y", None]
N_OPS = 5


def _mk_a(spark, rows):
    return spark.createDataFrame(rows, "id long, k long, grp string, v long")


def _mk_b(spark, rows):
    return spark.createDataFrame(rows, "bid long, k long, seg string")


class _Source:
    """One versioned source + its random-op driver (ids never reused, so
    upserts replace and deletes retract deterministically)."""

    def __init__(self, spark, rng, path, mk, rand_row, key_col,
                 zorder_cols=None):
        self.spark, self.rng, self.path = spark, rng, path
        self.mk, self.rand_row = mk, rand_row
        self.key_col = key_col
        self.zorder_cols = zorder_cols
        self.live = list(range(8))
        self.next_id = 100
        V.create(spark, path, mk(spark, [rand_row(i) for i in self.live]))

    def step(self):
        rng = self.rng
        ops = ["append", "upsert", "delete", "compact"]
        weights = [4, 3, 3, 1]
        if self.zorder_cols:
            ops.append("zorder")
            weights.append(1)
        op = rng.choices(ops, weights=weights)[0]
        if op == "append" or not self.live:
            ids = list(range(self.next_id,
                             self.next_id + rng.randint(1, 4)))
            self.next_id += len(ids)
            self.live += ids
            V.append(self.spark, self.path,
                     self.mk(self.spark, [self.rand_row(i) for i in ids]))
        elif op == "upsert":
            old = rng.sample(self.live, min(len(self.live), 2))
            new = [self.next_id]
            self.next_id += 1
            self.live += new
            V.upsert(self.spark, self.path,
                     self.mk(self.spark,
                             [self.rand_row(i) for i in old + new]),
                     self.key_col)
        elif op == "delete":
            victims = rng.sample(self.live,
                                 min(len(self.live), rng.randint(1, 3)))
            self.live = [i for i in self.live if i not in victims]
            if victims:
                V.delete_rows(self.spark, self.path, victims,
                              self.key_col)
        elif op == "compact":
            V.compact(self.spark, self.path)
        else:
            V.cluster_zorder(self.spark, self.path, *self.zorder_cols,
                             n_segments=2, bits=8)


def _rows(df, cols):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.select(*cols).collect()),
        key=lambda t: tuple((x is None, x) for x in t))


def _tf(df):
    """The fuzz transform: a flatMap (each source row -> 2 view rows,
    repeated key) so the downstream multiset diff is load-bearing."""
    return df.select(
        "id", F.col("grp"),
        (F.coalesce(F.col("v"), F.lit(0)) * 2).alias("w"),
    ).unionByName(df.select(
        "id", F.upper(F.col("grp")).alias("grp"),
        F.lit(1).cast("long").alias("w")))


@pytest.mark.parametrize("seed", [f"seq{i}" for i in range(50)])
def test_view_layer_random_sequences(spark, tmp_path, seed):
    i = int(seed[3:])
    rng = random.Random(1000 + i)
    kind = i % 6
    # dispatch fuzzed in: pure incremental, the SHIPPED default
    # (0.5), and the legacy always-compare bound
    frac = rng.choice([None, None, MV._RECOMPUTE_BOUND_FRACTION, 1.0])

    def rand_a(j):
        return (j, rng.choice(KEYS), rng.choice(GROUPS),
                rng.choice([None, rng.randint(-5, 20)]))

    def rand_b(j):
        return (j, rng.choice(KEYS), rng.choice(SEGS))

    a = _Source(spark, rng, str(tmp_path / "A"), _mk_a, rand_a, "id",
                zorder_cols=("id", "k"))
    sources = [a]
    vw = str(tmp_path / "VW")
    tv = str(tmp_path / "TV")

    if kind == 0:
        mm = ["v"] if rng.random() < 0.5 else None
        MV.create_agg_view(spark, a.path, vw, key="id",
                           group_cols=["grp"], sum_cols=["v"],
                           minmax_cols=mm)
        refresh = lambda: MV.refresh_agg_view(spark, vw,
                                              recompute_fraction=frac)

        def check():
            aggs = [F.count(F.lit(1)).alias("cnt"),
                    F.sum("v").alias("sum_v")]
            cols = ["grp", "cnt", "sum_v"]
            if mm:
                aggs += [F.min("v").alias("min_v"),
                         F.max("v").alias("max_v")]
                cols += ["min_v", "max_v"]
            want = V.read(spark, a.path).groupBy("grp").agg(*aggs)
            assert _rows(V.read(spark, vw), cols) == _rows(want, cols)

    elif kind == 1:
        MV.create_transform_view(spark, a.path, tv, key="id",
                                 transform=_tf, name="tf-v1")
        refresh = lambda: MV.refresh_view(
            spark, tv, transforms={tv: (_tf, "tf-v1")},
            auto_compact=rng.random() < 0.3,
            recompute_fraction=frac)

        def check():
            cols = ["id", "grp", "w"]
            assert _rows(V.read(spark, tv), cols) == \
                _rows(_tf(V.read(spark, a.path)), cols)

    elif kind == 2:
        MV.create_transform_view(spark, a.path, tv, key="id",
                                 transform=_tf, name="tf-v1")
        MV.create_agg_view(spark, tv, vw, key="id", group_cols=["grp"],
                           sum_cols=["w"])

        def refresh():
            # sometimes only one layer advances — the agg view must lag
            # cleanly and catch up over a multi-commit interval
            if rng.random() < 0.8:
                MV.refresh_transform_view(spark, tv, _tf, "tf-v1",
                                          recompute_fraction=frac)
            if rng.random() < 0.8:
                MV.refresh_agg_view(spark, vw, recompute_fraction=frac)

        def check():
            # the transform's recompute path commits an OVERWRITE,
            # which the downstream agg must consume as a rewriting
            # snapshot-diff — dispatch on the feeding layer is exactly
            # the composition case worth fuzzing
            MV.refresh_transform_view(spark, tv, _tf, "tf-v1",
                                      recompute_fraction=frac)
            MV.refresh_agg_view(spark, vw, recompute_fraction=frac)
            cols = ["grp", "cnt", "sum_w"]
            want = _tf(V.read(spark, a.path)).groupBy("grp").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("w").alias("sum_w"))
            assert _rows(V.read(spark, vw), cols) == _rows(want, cols)

    elif kind in (3, 4):
        b = _Source(spark, rng, str(tmp_path / "B"), _mk_b, rand_b, "bid")
        sources.append(b)
        if kind == 3:
            how = rng.choice(["inner", "left"])
            mm = ["v"] if rng.random() < 0.5 else None
            MV.create_join_view(spark, a.path, b.path, vw, on="k",
                                left_key="id", right_key="bid",
                                group_cols=["seg"], sum_cols=["v"],
                                minmax_cols=mm, how=how)
            refresh = lambda: MV.refresh_join_view(
                spark, vw, recompute_fraction=frac)

            def check():
                aggs = [F.count(F.lit(1)).alias("cnt"),
                        F.sum("v").alias("sum_v")]
                cols = ["seg", "cnt", "sum_v"]
                if mm:
                    aggs += [F.min("v").alias("min_v"),
                             F.max("v").alias("max_v")]
                    cols += ["min_v", "max_v"]
                want = V.read(spark, a.path).join(
                    V.read(spark, b.path), "k", how).groupBy("seg").agg(*aggs)
                assert _rows(V.read(spark, vw), cols) == _rows(want, cols)
        else:
            jt_how = rng.choice(["inner", "left"])
            MV.create_join_table_view(spark, a.path, b.path, vw, on="k",
                                      left_key="id", right_key="bid",
                                      how=jt_how)
            refresh = lambda: MV.refresh_view(
                spark, vw, auto_compact=rng.random() < 0.3)

            def check():
                cols = ["id", "bid", "grp", "v", "seg"]
                want = V.read(spark, a.path).join(
                    V.read(spark, b.path), "k", jt_how)
                assert _rows(V.read(spark, vw), cols) == _rows(want, cols)

    else:
        MV.create_topk_view(spark, a.path, vw, key="id",
                            group_cols=["grp"], score_col="v", k=2)
        refresh = lambda: MV.refresh_topk_view(
            spark, vw, recompute_fraction=frac)

        def check():
            cols = ["grp", "id", "v", "rnk"]
            want = MV._topk_of(V.read(spark, a.path), ["grp"], "id",
                               "v", 2)
            assert _rows(V.read(spark, vw), cols) == _rows(want, cols)

    views = [tv, vw] if kind == 2 else [tv] if kind == 1 else [vw]
    for _ in range(N_OPS):
        rng.choice(sources).step()
        if rng.random() < 0.4:
            refresh()
        if rng.random() < 0.2:
            # cursor-safe vacuum mid-sequence: must never break the
            # next refresh (the clamp keeps every needed manifest)
            for srcx in sources:
                MV.vacuum_source_safely(srcx.path, keep_last=1,
                                        views=views)
    refresh()  # final catch-up (often a multi-commit interval)
    if kind == 2:
        check()  # check() itself forces both layers to the head first
    else:
        refresh()
        check()
