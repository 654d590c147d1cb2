"""SQL-to-BLAS rewrite: the SURVEY §7 phase-5 'experimental
.extraOptimizations-style rule' — users write the pure-SQL dot product
(``aggregate(zip_with(vec, array(...), (x,y)->x*y), 0.0, (a,x)->a+x)``)
and get the Arrow-GEMV pandas_udf execution path.

Why not a real Catalyst rule: ``Rule[LogicalPlan]`` is a Scala abstract
class — py4j can implement Java *interfaces* from Python but cannot
subclass JVM classes, and the replacement expression is a PythonUDF whose
payload (the pickled GEMV closure) only the Python side can build. So the
rule runs one level up, at the DataFrame boundary, on the ANALYZED logical
plan (read-only py4j walk — the same tree a Catalyst rule would see):

  Project [attrs..., Alias(ArrayAggregate(ZipWith(vec_attr, foldable-array,
  x*y), 0.0, a+x), name)] over child
    ==>  ofRows(child).select(attrs..., gemv_udf(vec_attr).alias(name))

Semantics are identical (both paths accumulate in float64; the contract's
flagship row is oracle-exact under either), and the physical plan swaps the
per-row codegen'd fold for one BLAS matvec per Arrow batch
(``ArrowEvalPython`` in explain — asserted in tests/test_blas_rewrite.py).
Anything that doesn't match the shape exactly is returned UNCHANGED — a
rewrite rule must be a no-op outside its pattern.

Reference parity: rclip_server.py:196 scores with one driver-side BLAS GEMV;
this rule gives SQL users that execution shape, distributed per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_IDENTITY_FINISH = "lambdafunction(namedlambdavariable(), namedlambdavariable())"


def _simple(obj) -> str:
    return obj.getClass().getSimpleName()


def _eval_literal_array(spark, expr):
    """Evaluate a foldable array expression JVM-side to a Python float list."""
    row = spark._jvm.org.apache.spark.sql.catalyst.InternalRow.empty()
    data = expr.eval(row)
    try:
        return [float(x) for x in data.toDoubleArray()]
    except Exception:
        return [float(x) for x in data.toFloatArray()]


def _match_dot(spark, agg):
    """If ``agg`` is the dot-product ArrayAggregate shape, return
    (vec_attr_name, query_vector) else None. Shape checks: ZipWith of one
    attribute and one foldable array, a multiply zip lambda, an add merge
    lambda, zero literal 0, identity finish."""
    if _simple(agg) != "ArrayAggregate":
        return None
    zw = agg.argument()
    if _simple(zw) != "ZipWith":
        return None
    left, right = zw.left(), zw.right()
    if _simple(left) == "AttributeReference" and right.foldable():
        vec, lit = left, right
    elif _simple(right) == "AttributeReference" and left.foldable():
        vec, lit = right, left
    else:
        return None
    # float arrays only: an integer-array dot would come back double from
    # the GEMV (a silent output-type change), so it must not match
    if lit.dataType().simpleString() not in ("array<double>", "array<float>"):
        return None
    if " * " not in zw.function().sql():
        return None
    if " + " not in agg.merge().sql():
        return None
    try:
        if agg.finish().sql() != _IDENTITY_FINISH:
            return None
        if float(agg.zero().eval(
            spark._jvm.org.apache.spark.sql.catalyst.InternalRow.empty()
        )) != 0.0:
            return None
    except Exception:
        return None  # unexpected tree — stay a no-op
    return vec.name(), _eval_literal_array(spark, lit)


def accelerate(df: DataFrame) -> DataFrame:
    """Apply the SQL-to-BLAS rewrite to ``df`` if its plan is a Project
    containing dot-shaped ``aggregate(zip_with(...))`` columns over a
    foldable query vector; otherwise return ``df`` unchanged. The rewritten
    DataFrame is result-identical and executes the dot as one BLAS GEMV per
    Arrow batch."""
    from ..operators.similarity import score_col_gemv

    spark = df.sparkSession
    try:
        analyzed = df._jdf.queryExecution().analyzed()
    except Exception:
        return df
    if _simple(analyzed) != "Project":
        return df
    pl = analyzed.projectList()
    plan_items: list[tuple] = []
    n_rewrites = 0
    for i in range(pl.size()):
        e = pl.apply(i)
        cls = _simple(e)
        if cls == "AttributeReference":
            plan_items.append(("attr", e.name()))
        elif cls == "Alias":
            child = e.child()
            dot = _match_dot(spark, child)
            if dot is not None:
                plan_items.append(("dot", e.name(), dot))
                n_rewrites += 1
            elif _simple(child) == "AttributeReference":
                plan_items.append(("rename", e.name(), child.name()))
            else:
                return df  # unsupported projection item — no-op
        else:
            return df
    if n_rewrites == 0:
        return df

    # rebuild the child plan as a DataFrame (the tree below the Project)
    try:
        jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, analyzed.child()
        )
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        child_df = _CDF(jds, spark)
    except Exception:
        return df
    if len(set(child_df.columns)) != len(child_df.columns):
        return df  # ambiguous names — name-based rebuild would mis-bind

    cols = []
    for item in plan_items:
        if item[0] == "attr":
            cols.append(F.col(item[1]))
        elif item[0] == "rename":
            cols.append(F.col(item[2]).alias(item[1]))
        else:
            _, name, (vec_name, qvec) = item
            cols.append(score_col_gemv(F.col(vec_name), qvec).alias(name))
    return child_df.select(*cols)
