"""SQL-to-BLAS rewrite rule (SURVEY §7 phase 5): rule on/off must be
result-identical on the flagship dot, the rewritten plan must execute via
ArrowEvalPython (the GEMV pandas_udf), and non-matching plans must pass
through untouched."""

import numpy as np
from pyspark.sql import functions as F

from rclip_server_spark.contract import QV_FLAGSHIP
from rclip_server_spark.operators import similarity
from rclip_server_spark.plans import blas_rewrite


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


def test_rewrite_matches_sql_results_and_uses_arrow(spark, embeddings):
    plain = similarity.with_score(embeddings, QV_FLAGSHIP, method="sql")
    fast = blas_rewrite.accelerate(plain)
    assert "ArrowEvalPython" in _explain(fast)
    assert "ArrowEvalPython" not in _explain(plain)
    a = {r.vec_id: r.score for r in plain.select("vec_id", "score").collect()}
    b = {r.vec_id: r.score for r in fast.select("vec_id", "score").collect()}
    assert a.keys() == b.keys()
    np.testing.assert_allclose(
        [a[k] for k in sorted(a)], [b[k] for k in sorted(b)], rtol=0, atol=1e-12
    )
    # flagship top-k is bit-identical in ids and ordering
    topk_plain = [r.vec_id for r in plain.orderBy(F.desc("score"), "vec_id").limit(12).collect()]
    topk_fast = [r.vec_id for r in fast.orderBy(F.desc("score"), "vec_id").limit(12).collect()]
    assert topk_plain == topk_fast


def test_rewrite_applies_to_pure_sql_text(spark, embeddings):
    """A user-written SQL dot (no DataFrame API at all) gets the BLAS path."""
    embeddings.createOrReplaceTempView("_emb_blas")
    arr = ", ".join(repr(float(x)) + "D" for x in QV_FLAGSHIP)
    sql = (
        "SELECT vec_id, aggregate(zip_with(embedding, array(" + arr + "), "
        "(x, y) -> x * y), 0.0D, (a, x) -> a + x) AS score FROM _emb_blas"
    )
    plain = spark.sql(sql)
    fast = blas_rewrite.accelerate(spark.sql(sql))
    assert "ArrowEvalPython" in _explain(fast)
    a = sorted((r.vec_id, round(r.score, 9)) for r in plain.collect())
    b = sorted((r.vec_id, round(r.score, 9)) for r in fast.collect())
    assert a == b


def test_non_matching_plans_pass_through(spark, embeddings):
    # no dot column at all -> identical object back
    plain = embeddings.select("vec_id", "label")
    assert blas_rewrite.accelerate(plain) is plain
    # dot-like but non-zero seed -> shape mismatch, no rewrite
    odd = embeddings.select(
        "vec_id",
        F.aggregate(
            F.zip_with("embedding", F.array(*[F.lit(0.1)] * 64), lambda x, y: x * y),
            F.lit(1.0),
            lambda a, x: a + x,
        ).alias("score"),
    )
    assert "ArrowEvalPython" not in _explain(blas_rewrite.accelerate(odd))
    # integer-array literal -> type-changing rewrite must NOT match
    int_dot = embeddings.select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                F.array(*[F.lit(1)] * 3), F.array(*[F.lit(2)] * 3),
                lambda x, y: x * y,
            ),
            F.lit(0),
            lambda a, x: a + x,
        ).alias("s"),
    )
    assert "ArrowEvalPython" not in _explain(blas_rewrite.accelerate(int_dot))
    # aggregation root (not a Project) -> untouched
    agg = embeddings.groupBy("label").count()
    assert blas_rewrite.accelerate(agg) is agg
