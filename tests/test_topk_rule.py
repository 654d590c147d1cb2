"""The ranking rule — score DESC, ties broken by key ASC, keep the first
k — is written once, in operators/similarity.py: ``top_k`` (one global
ranking) and ``top_k_per`` (one ranking per group). Every exact vector
top-k is ``similarity.topk_similar``.

Per public entry point, two checks: a negative k raises ValueError
(SqlError through the SQL frontend) instead of answering with no rows,
and on exact score ties — duplicate vectors or texts under distinct
keys — the smallest keys win. A third check, parsed with ast (no
Spark), keeps the rule written once."""

import ast
import pathlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from rclip_server_spark import sql as S
from rclip_server_spark.operators import ann, corpus, retrieval, similarity
from rclip_server_spark.operators import text_analysis as TA
from rclip_server_spark.sources import annindex as AI
from rclip_server_spark.sources import ivfindex as II
from rclip_server_spark.sources import textindex as TI

DIM = 8
E0 = [1.0] + [0.0] * (DIM - 1)
E0_SQL = "array(" + ", ".join(map(str, E0)) + ")"


def _basis(i: int) -> list[float]:
    return [1.0 if j == i else 0.0 for j in range(DIM)]


# 24 vectors, four distinct ones, keys DESCENDING in insertion order: the
# six copies of E0 hold keys 100, 96, ..., 80, so the smallest two are
# 80 and 84. 12 documents, three distinct texts: "alpha beta" holds
# doc ids 50, 47, 44, 41 — the smallest two are 41 and 44.
VEC_ROWS = [(100 - i, _basis(i % 4)) for i in range(24)]
DOC_ROWS = [(50 - i, ("alpha beta", "gamma delta", "epsilon zeta")[i % 3])
            for i in range(12)]
VEC_TIES, DOC_TIES = [80, 84], [41, 44]


class Env:
    def __init__(self, spark, cat, vecs, docs):
        self.spark, self.cat, self.vecs, self.docs = spark, cat, vecs, docs

    def path(self, name: str) -> str:
        return self.cat.get(name)["path"]

    def sql(self, text: str):
        return S.execute(self.spark, text, self.cat)


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    cat = S.Catalog(str(tmp_path_factory.mktemp("topk_rule") / "cat"))
    vecs = spark.createDataFrame(VEC_ROWS,
                                 "vec_id bigint, embedding array<double>")
    docs = spark.createDataFrame(DOC_ROWS, "doc_id bigint, text string")
    vecs.createOrReplaceTempView("tie_vec_seed")
    docs.createOrReplaceTempView("tie_doc_seed")
    spark.createDataFrame([(1, E0)], "vec_id bigint, embedding array<double>")\
        .createOrReplaceTempView("tie_left")
    e = Env(spark, cat, vecs, docs)
    e.sql("CREATE TABLE tv OPTIONS (key='vec_id') AS "
          "SELECT * FROM tie_vec_seed")
    e.sql("CREATE TABLE td OPTIONS (key='doc_id') AS "
          "SELECT * FROM tie_doc_seed")
    e.sql("CREATE MATERIALIZED VIEW tai USING ann_index "
          "OPTIONS (source='tv', key='vec_id', n_planes=4)")
    e.sql("CREATE MATERIALIZED VIEW tii USING ivf_index "
          "OPTIONS (source='tv', key='vec_id', n_cells=2, iters=2)")
    e.sql("CREATE MATERIALIZED VIEW tti USING text_index "
          "OPTIONS (source='td', key='doc_id')")
    return e


def _one_query(df, qid_col, key):
    """The tie query's keys, in the answer's order."""
    if "rank" in df.columns:
        df = df.orderBy("rank")
    return df.where(F.col(qid_col) == 1).select(key)


# name -> (k -> the tie query's answer keys, in order; the smallest tied
# keys, the answer at k = 2)
CASES = {
    "topk_similar": (
        lambda e, k: similarity.topk_similar(e.vecs, E0, k=k),
        VEC_TIES),
    "brute_force_topk_multi": (
        lambda e, k: _one_query(ann.brute_force_topk_multi(
            e.vecs, e.spark.createDataFrame(
                [(1, E0)], "query_id bigint, query_vec array<double>"),
            k=k), "query_id", "vec_id"),
        VEC_TIES),
    "brute_force_topk_multi_gemm": (
        lambda e, k: _one_query(ann.brute_force_topk_multi_gemm(
            e.vecs, [E0], ["1"], k=k), "query_id", "vec_id"),
        VEC_TIES),
    "query_ann_index": (
        lambda e, k: AI.query_ann_index(e.spark, e.path("tai"), E0, k=k),
        VEC_TIES),
    "query_ivf_index": (
        lambda e, k: II.query_ivf_index(e.spark, e.path("tii"), E0, k=k),
        VEC_TIES),
    "query_ann_index_batch": (
        lambda e, k: _one_query(AI.query_ann_index_batch(
            e.spark, e.path("tai"), [(1, E0)], k=k), "qid", "vec_id"),
        VEC_TIES),
    "query_ivf_index_batch": (
        lambda e, k: _one_query(II.query_ivf_index_batch(
            e.spark, e.path("tii"), [(1, E0)], k=k), "qid", "vec_id"),
        VEC_TIES),
    "sql ANN_SEARCH": (
        lambda e, k: e.sql(f"SELECT vec_id FROM "
                           f"ANN_SEARCH('tai', {E0_SQL}, {k})"),
        VEC_TIES),
    "sql KNN_JOIN": (
        lambda e, k: e.sql(f"SELECT id_b FROM KNN_JOIN('tai', tie_left, {k}) "
                           f"ORDER BY rnk"),
        VEC_TIES),
    "lsh_topk_multiprobe": (
        lambda e, k: ann.lsh_topk_multiprobe(e.vecs, E0, k=k, n_planes=2,
                                             n_probe_bits=2),
        VEC_TIES),
    "ivf_topk": (
        lambda e, k: ann.ivf_topk(e.vecs, E0, np.eye(4, DIM), k=k,
                                  n_probe=1),
        VEC_TIES),
    "binary_hamming_topk": (
        lambda e, k: ann.binary_hamming_topk(e.vecs, E0, k=k,
                                             shortlist=len(VEC_ROWS)),
        VEC_TIES),
    "lsh_knn_join": (
        lambda e, k: ann.lsh_knn_join(e.spark.table("tie_left"), e.vecs,
                                      k=k).orderBy("rnk").select("id_b"),
        VEC_TIES),
    "best_words": (
        lambda e, k: similarity.best_words(e.vecs.select(
            F.format_string("w%03d", "vec_id").alias("word"),
            F.col("embedding").alias("vector")), E0, k=k),
        [f"w{i:03d}" for i in VEC_TIES]),
    "bm25_topk": (
        lambda e, k: retrieval.bm25_topk(e.docs, ["alpha"], k=k),
        DOC_TIES),
    "more_like_this": (
        lambda e, k: retrieval.more_like_this(e.docs, 50, k=k),
        DOC_TIES),
    "query_text_index": (
        lambda e, k: TI.query_text_index(e.spark, e.path("tti"), "alpha",
                                         k=k),
        DOC_TIES),
    "query_text_index_batch": (
        lambda e, k: _one_query(TI.query_text_index_batch(
            e.spark, e.path("tti"), [(1, "alpha")], k=k), "qid", "doc_id"),
        DOC_TIES),
    "sql TEXT_SEARCH": (
        lambda e, k: e.sql(f"SELECT doc_id FROM "
                           f"TEXT_SEARCH('tti', 'alpha', {k})"),
        DOC_TIES),
    # "alpha" and "beta" tie on tf-idf inside doc 50
    "top_terms_per_doc": (
        lambda e, k: TA.top_terms_per_doc(e.docs, k=k)
        .where(F.col("doc_id") == 50).orderBy("rnk").select("token"),
        ["alpha", "beta"]),
    # all six tokens occur four times
    "token_topk": (
        lambda e, k: corpus.token_topk(e.docs, k=k).select("token"),
        ["alpha", "beta"]),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_negative_k_raises(env, name):
    run, _ = CASES[name]
    with pytest.raises(S.SqlError if name.startswith("sql ") else ValueError,
                       match="k must be >= 0"):
        run(env, -1).collect()
    assert run(env, 0).collect() == []


@pytest.mark.parametrize("name", sorted(CASES))
def test_smallest_keys_win_ties(env, name):
    run, want = CASES[name]
    assert [r[0] for r in run(env, 2).collect()] == want


# ---------------------------------------------------------------------------
# the rule is written once
# ---------------------------------------------------------------------------

PKG = pathlib.Path(__file__).parent.parent / "rclip_server_spark"
HELPERS = {"operators/similarity.py::top_k",
           "operators/similarity.py::top_k_per"}
# each kept (score DESC, key ASC) ranking, and why it is not the rule
KEPT = {
    # the subset-sum estimator's tau reads the rank-(k+1) row before the cut
    "operators/sampling.py::weighted_fixed_k_sample",
    "operators/sampling.py::weighted_per_class_fixed_k",
    # the two rank windows rank the already-cut sides and cut nothing
    "operators/retrieval.py::rrf_fusion",
    # three sort keys, one row
    "operators/corpus.py::bpe_train",
    # the maintained top-k view ranks by the order its spec names
    "sources/matview.py::_topk_of",
}
# Not matched, so not listed: ascending sorts (binary_hamming_topk's
# Hamming shortlist, dedup's ``row_number() > 1``) and contract/'s
# oracle SQL text.


def _is(node, attr: str) -> bool:
    return (isinstance(node, ast.Call)
            and (getattr(node.func, "attr", None) == attr
                 or getattr(node.func, "id", None) == attr))


def _desc_then_asc(call: ast.Call) -> bool:
    """``orderBy(desc(...), ..., asc(...), ...)``."""
    return (_is(call, "orderBy") and bool(call.args)
            and _is(call.args[0], "desc")
            and any(_is(a, "asc") for a in call.args[1:]))


def _on_window(node) -> bool:
    while isinstance(node, (ast.Call, ast.Attribute)):
        node = node.func if isinstance(node, ast.Call) else node.value
    return getattr(node, "id", None) == "Window"


def _ranks(fn) -> bool:
    """``fn`` cuts by (score DESC, key ASC): ``orderBy(...)`` then
    ``limit``/``first``/``head``/``take``, or a Window ordered that way
    feeding ``row_number()``."""
    calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
    cut = any(getattr(c.func, "attr", None) in ("limit", "first", "head",
                                                 "take")
              and _desc_then_asc(c.func.value) for c in calls
              if isinstance(c.func, ast.Attribute))
    window = (any(_is(c, "orderBy") and c.args and _is(c.args[0], "desc")
                  and _on_window(c.func.value) for c in calls)
              and any(_is(c, "row_number") for c in calls))
    return cut or window


def _ranking_functions() -> set:
    found = set()
    for sub in ("operators", "sources"):
        for path in sorted((PKG / sub).glob("*.py")):
            body = ast.parse(path.read_text()).body
            fns = [(f"{c.name}.", c.body) for c in body
                   if isinstance(c, ast.ClassDef)] + [("", body)]
            found |= {f"{sub}/{path.name}::{prefix}{fn.name}"
                      for prefix, nodes in fns for fn in nodes
                      if isinstance(fn, ast.FunctionDef) and _ranks(fn)}
    return found


def test_ranking_rule_is_written_once():
    found = _ranking_functions()
    assert HELPERS <= found, "the two ranking forms no longer match the " \
        "detector; update it with them"
    assert found - HELPERS - KEPT == set(), (
        "rank through similarity.top_k / top_k_per instead: "
        f"{sorted(found - HELPERS - KEPT)}")
    assert KEPT - found == set(), (
        f"kept rankings that are gone (drop them from KEPT): "
        f"{sorted(KEPT - found)}")
