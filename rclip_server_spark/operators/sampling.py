"""Deterministic sampling / splitting operators for training-data pipelines.

The reference has a single ad-hoc sampler (rclip_server.py:321-323: ORDER BY
random() LIMIT 1 for the random-image term); a 100 TB pipeline needs the
reproducible family: content-hash sampling, train/val/test assignment, and
per-class capping. Everything here is keyed on ``portable_hash32`` (md5-based)
rather than ``rand()`` because hash-based decisions are

* **reproducible** — the same row gets the same fate on every run, engine,
  partition layout, and cluster size (``rand()`` is partition-order
  dependent and unseedable across engines);
* **map-side** — sampling and split assignment are pure row-local column
  math: no shuffle, no driver round-trip, fully pushed into the scan stage;
* **stable under growth** — appending new rows never changes existing
  rows' sample/split membership (the property that keeps eval sets
  uncontaminated as a corpus is re-crawled).

Thresholds are compared as INTEGERS (hash < w * 2^32 with the bound computed
in Python) so Spark and the DuckDB oracle agree bit-exactly — no
cross-engine float-division semantics in the predicate.

Scale notes: ``per_class_cap`` is the only shuffle in the file (one hash
exchange on the class column for its window). For a heavily skewed class at
extreme scale, cap in two phases: pre-filter each partition to its local
top-n before the global window — the local pass bounds the exchange at
n x partitions rows per class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash32, single_partition_key
from .similarity import top_k

_HASH_SPACE = 1 << 32  # portable_hash32 range: [0, 2^32)


def _row_hash(id_col: str, salt: str) -> F.Column:
    """Salted row hash in [0, 2^32). The salt namespaces independent
    decisions (the 'train' split and a 10% debug sample must not correlate:
    with the same hash, sample ⊂ train would hold structurally)."""
    return portable_hash32(
        F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))
    )


def hash_mod_sample(
    df: DataFrame, id_col: str, denom: int, bucket: int = 0, salt: str = ""
) -> DataFrame:
    """Keep the rows whose salted id-hash ≡ ``bucket`` (mod ``denom``) — a
    deterministic 1/denom sample. The ``denom`` buckets partition the table:
    running all buckets processes every row exactly once (the standard
    shard-a-backfill idiom)."""
    if not 0 <= bucket < denom:
        raise ValueError(f"bucket must be in [0, {denom}); got {bucket}")
    return df.where(_row_hash(id_col, salt) % F.lit(denom) == F.lit(bucket))


def split_bounds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(label, exclusive upper hash bound) list for ``split_assign`` —
    exposed so oracle SQL can be generated from the IDENTICAL integers
    (float accumulation order matters at the last ulp)."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    bounds: list[tuple[str, int]] = []
    acc = 0.0
    for name, w in weights.items():
        acc += float(w) / total
        bounds.append((name, min(_HASH_SPACE, int(acc * _HASH_SPACE))))
    bounds[-1] = (bounds[-1][0], _HASH_SPACE)  # close the range exactly
    return bounds


def split_assign(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a split label ('train'/'val'/'test'/...) by hash
    range, proportional to ``weights`` (need not sum to 1; normalized).
    Total function: every row gets exactly one label, rows keep their label
    forever (append-stable), zero shuffles."""
    h = _row_hash(id_col, salt)
    bounds = split_bounds(weights)
    expr = F.lit(bounds[-1][0])
    for name, hi in reversed(bounds[:-1]):
        expr = F.when(h < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    class_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Per-class deterministic sampling: keep a row iff its hash fraction is
    below its class's rate (classes absent from ``rates`` use
    ``default_rate``). The class-rebalancing primitive — e.g. downsample the
    dominant language to 10% while keeping the long tail whole — still pure
    map-side row-local math."""
    h = _row_hash(id_col, salt)
    thr = F.lit(int(float(default_rate) * _HASH_SPACE))
    for cls, rate in rates.items():
        thr = F.when(
            F.col(class_col) == F.lit(cls), F.lit(int(float(rate) * _HASH_SPACE))
        ).otherwise(thr)
    return df.where(h < thr)


def per_class_cap(
    df: DataFrame, class_col: str, n: int, order_col: str
) -> DataFrame:
    """Keep at most ``n`` rows per class, chosen by ``order_col`` ascending —
    the bounded variant of rebalancing (exact count guarantee, unlike the
    probabilistic ``stratified_hash_sample``). One shuffle on the class
    column; deterministic for a unique ``order_col``."""
    w = Window.partitionBy(class_col).orderBy(F.asc(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(n))
        .drop("_rn")
    )


def fixed_k_sample(
    df: DataFrame, id_col: str, k: int, salt: str = "resv"
) -> DataFrame:
    """Exactly-k deterministic sample: the k rows with the smallest salted
    hash — the distributed, rerun-stable equivalent of reservoir sampling
    (same marginal uniformity, but a pure function of the id set, so two
    runs — or two engines — agree row-for-row). Plans as hash (map-only)
    + TakeOrderedAndProject: per-partition k-heaps and a k*P-row merge,
    never a global sort. Note the difference from ``hash_mod_sample``
    (fixed RATE, size varies) — this is fixed SIZE, rate varies."""
    h = _row_hash(id_col, salt)
    return (
        df.withColumn("__h", h)
        .orderBy(F.asc("__h"), F.asc(id_col))
        .limit(int(k))
        .drop("__h")
    )


def weighted_fixed_k_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wresv",
) -> DataFrame:
    """Exactly-k WEIGHTED sample without replacement + unbiased subset-sum
    estimator — priority sampling (Duffield, Lund & Thorup, JACM 54(6) 2007).
    Each row gets priority ``q = w / u`` with ``u = (h+1)/2^32`` a salted-hash
    uniform in (0, 1]; the k largest priorities are the sample, and with
    ``tau`` = the (k+1)-th priority, ``est_weight = max(w, tau)`` makes
    ``sum(est_weight)`` over any sampled subset an unbiased estimate of that
    subset's true total weight — the primitive for "sample 10k docs
    proportional to token count, then extrapolate corpus statistics".

    Cross-engine exactness without integer thresholds: ``q`` is computed as
    ``(w * 2^32) / (h+1)`` in doubles — the inputs are integers (exactly
    representable), the 2^32 scaling only shifts the exponent (exact), and
    IEEE-754 division is correctly rounded, so Spark and the DuckDB oracle
    produce bit-identical keys. This is WHY priority sampling is used here
    instead of the exp-key Efraimidis–Spirakis scheme: ES needs ``ln(u)``,
    and transcendental libm calls are only faithfully (not correctly)
    rounded — a 1-ulp JVM-vs-C difference could flip a selection at the
    boundary. No transcendental, no flip.

    Plan shape: the priority projection is map-side row-local math and the
    top-(k+1) is a TakeOrderedAndProject (per-partition (k+1)-heaps, then a
    (k+1)*P-row merge on one reducer) — never a global sort. The follow-up
    window runs on the collected k+1 rows only (single tiny partition, by
    construction). Rows with non-positive weight are excluded (they have no
    sampling mass).

    Like ``fixed_k_sample`` this is a pure function of the (id, weight) set:
    reruns, engines, and partition layouts agree row-for-row; re-sampling is
    a salt bump."""
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    h1 = _row_hash(id_col, salt) + F.lit(1)  # in [1, 2^32] => u in (0, 1]
    q = (F.col(weight_col).cast("double") * F.lit(float(_HASH_SPACE))) / h1.cast(
        "double"
    )
    topk1 = top_k(
        df.where(F.col(weight_col) > 0)
        .select(F.col(id_col), F.col(weight_col), q.alias("__q")),
        int(k) + 1, id_col, "__q")
    # constant partition key: the input is k+1 rows (post-
    # TakeOrderedAndProject), so a single-partition window is the point —
    # the non-foldable zero key keeps this bounded-by-construction case
    # out of the WindowExec "No Partition Defined" log, so a genuinely
    # unbounded global window elsewhere stands out
    w = Window.partitionBy(
        single_partition_key(F.col(id_col))
    ).orderBy(F.desc("__q"), F.asc(id_col))
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tau = F.max(F.when(F.col("__rn") == k + 1, F.col("__q"))).over(wall)
    return (
        topk1.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "est_weight",
            F.greatest(
                F.col(weight_col).cast("double"), F.coalesce(tau, F.lit(0.0))
            ),
        )
        .where(F.col("__rn") <= k)
        .drop("__q", "__rn")
    )


def weighted_per_class_fixed_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    class_col: str,
    k: int,
    salt: str = "wresv",
) -> DataFrame:
    """Per-class priority sampling: ``weighted_fixed_k_sample`` run
    independently inside every class — "k docs PER LANGUAGE, proportional
    to token count, with per-class subset-sum estimators" is the standard
    rebalanced-curation primitive (exact size per class like
    ``per_class_cap``, weighted inclusion like the global sampler, and the
    same bit-exact cross-engine priority key).

    One shuffle (hash exchange on the class column for the windows); τ is
    per-class. For an extremely hot class at extreme scale, pre-filter each
    partition to its local top-(k+1) per class before the global window —
    same bound as the ``per_class_cap`` scale note."""
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    h1 = _row_hash(id_col, salt) + F.lit(1)
    q = (F.col(weight_col).cast("double") * F.lit(float(_HASH_SPACE))) / h1.cast(
        "double"
    )
    w = Window.partitionBy(class_col).orderBy(F.desc("__q"), F.asc(id_col))
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tau = F.max(F.when(F.col("__rn") == k + 1, F.col("__q"))).over(wall)
    return (
        df.where(F.col(weight_col) > 0)
        .select(F.col(class_col), F.col(id_col), F.col(weight_col), q.alias("__q"))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "est_weight",
            F.greatest(
                F.col(weight_col).cast("double"), F.coalesce(tau, F.lit(0.0))
            ),
        )
        .where(F.col("__rn") <= k)
        .drop("__q", "__rn")
    )


def training_shuffle(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle into ``n_shards`` training shards:
    every row gets (shard, pos) where ``shard`` is a salted hash mod and
    ``pos`` is its position in the shard's pseudorandom read order —
    the "shuffle the corpus once, stream shards sequentially" layout every
    epoch-based trainer wants, without ever materializing a global sort.

    Order is the hash order (ties broken by id), so it is reproducible
    across runs/engines/partitionings and changes completely under a new
    ``salt`` (re-shuffling between epochs = a salt bump, one map pass plus
    the per-shard windows — never a global sort).

    Scale: one exchange keyed on ``shard``; each shard sorts independently
    (size corpus/n_shards — pick n_shards so a shard fits an executor,
    e.g. 100k shards at 100 TB => ~1 GB sorts). Write with
    ``partitionBy(shard)`` + sortWithinPartitions(pos) for sequential-read
    training files."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1; got {n_shards}")
    h = _row_hash(id_col, salt)
    with_shard = df.withColumn("__h", h).withColumn(
        "shard", (F.col("__h") % F.lit(n_shards)).cast("long")
    )
    w = Window.partitionBy("shard").orderBy(F.asc("__h"), F.asc(id_col))
    return (
        with_shard.withColumn("pos", F.row_number().over(w).cast("long") - 1)
        .drop("__h")
    )


def _shard_write_frame(df: DataFrame, id_col: str, n_shards: int,
                       salt: str) -> DataFrame:
    """The frame export_training_shards writes — shared with
    tools/explain_audit.py so the audited plan IS the shipped plan.
    ONE exchange, not two: repartition by shard FIRST — the pos
    window's ClusteredDistribution(shard) is satisfied by the existing
    HashPartitioning(shard), so the window adds a per-partition sort
    but no second corpus-wide shuffle (training_shuffle then
    repartition would shuffle the corpus twice). Values are identical
    either way: (shard, pos) depend only on the hash, never on the
    partitioning."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1; got {n_shards}")
    h = _row_hash(id_col, salt)
    placed = (df.withColumn("__h", h)
              .withColumn("shard",
                          (F.col("__h") % F.lit(n_shards)).cast("long"))
              .repartition(n_shards, "shard"))
    w = Window.partitionBy("shard").orderBy(F.asc("__h"),
                                            F.asc(id_col))
    return (placed.withColumn(
        "pos", F.row_number().over(w).cast("long") - 1).drop("__h")
        .sortWithinPartitions("shard", "pos"))


def export_training_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    out_dir: str,
    salt: str = "shuffle",
    overwrite: bool = False,
) -> dict:
    """Materialize ``training_shuffle``'s layout to disk: one
    ``shard=N`` parquet directory per shard, rows stored in the
    shard's pseudorandom read order (``pos``-sorted files), plus an
    atomically-written ``_shards.json`` manifest the training loader
    checks before streaming. This is the LAST step of a curation
    pipeline — curated table in, epoch-ready shard files out — and it
    must be reproducible: same input + same salt = byte-identical
    shard membership and order on any cluster (hash order, never
    ``rand()``).

    The manifest is computed by READING BACK the written files
    (verify-what-landed, not what was planned): per shard, the row
    count and a placement checksum = sum of the salted 32-bit hash of
    ``id|pos`` — any lost, duplicated, or re-ordered row changes it.

    Scale: one exchange keyed on ``shard`` (each task sorts its own
    shards: size corpus/n_shards, so pick n_shards to fit an executor
    — 100k shards at 100 TB => ~1 GB sorts), one partitioned write,
    one read-back aggregation over (id, pos) only (column-pruned to
    two columns of the written parquet). The checksum sum stays far
    inside int64 while shards hold < 2^30 rows each — which the
    shard-sizing rule above already guarantees."""
    import json as _json
    import os as _os

    if _os.path.exists(out_dir):
        if not overwrite:
            raise ValueError(
                f"export target {out_dir!r} exists — pass "
                f"overwrite=True to replace it")
        import shutil as _shutil

        _shutil.rmtree(out_dir)
    spark = df.sparkSession
    wf = _shard_write_frame(df, id_col, n_shards, salt)
    wf.write.partitionBy("shard").parquet(out_dir)
    # the read-back schema is the written frame's own (shard becomes a
    # partition directory column) — pinning it skips the fresh-read
    # footer/partition schema inference; the VERIFY pass below still
    # reads the landed bytes themselves
    back_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in wf.schema.fields if f.name != "shard") + ", `shard` bigint"
    back = spark.read.schema(back_schema).parquet(out_dir)
    per_shard = (
        back.select(
            "shard",
            portable_hash32(F.concat_ws(
                "|", F.lit(salt), F.col(id_col).cast("string"),
                F.col("pos").cast("string"))).alias("__h"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("rows"),
             F.sum("__h").alias("checksum"))
        .collect())  # n_shards rows — bounded, never data-sized
    manifest = {
        "n_shards": int(n_shards), "salt": salt, "id_col": id_col,
        "total_rows": int(sum(r["rows"] for r in per_shard)),
        "shards": {int(r["shard"]): {"rows": int(r["rows"]),
                                     "checksum": int(r["checksum"])}
                   for r in per_shard},
    }
    tmp = _os.path.join(out_dir, "._shards.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(manifest, f)
        f.flush()
        _os.fsync(f.fileno())
    _os.rename(tmp, _os.path.join(out_dir, "_shards.json"))
    return manifest


def split_leakage_report(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Measure train/test contamination: join near-dup ``pairs`` (id_a,
    id_b) against the split assignment and count pairs per (split_a,
    split_b) — off-diagonal cells are leakage (a test doc with a training
    near-duplicate is an eval lie). This MEASURES the invariant
    pipelines.curate_corpus enforces structurally (dedup before split):
    run it on any externally-split corpus before trusting its eval.
    Two broadcast-sized joins (the pair list is candidates, not corpus)
    plus a tiny count agg."""
    s = splits.select(F.col(id_col), F.col(split_col))
    a = s.select(F.col(id_col).alias("id_a"), F.col(split_col).alias("split_a"))
    b = s.select(F.col(id_col).alias("id_b"), F.col(split_col).alias("split_b"))
    lo = F.least("split_a", "split_b").alias("split_lo")
    hi = F.greatest("split_a", "split_b").alias("split_hi")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(lo, hi)
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def temperature_mixture_sample(
    df: DataFrame,
    id_col: str,
    class_col: str,
    target_total: int,
    salt: str = "temp",
) -> DataFrame:
    """Square-root temperature-scaled domain mixture (the multilingual
    rebalancing recipe: sample domain d with weight ∝ n_d^0.5, so dominant
    domains are downsampled and the long tail is boosted relative to
    proportional sampling — the alpha=0.5 point of the temperature family
    used for multilingual corpus balancing).

    Per class: rate_d = min(1, w_d·T / (S·n_d)) with w_d = floor(sqrt(n_d))
    and S = sum(w_d), giving E[kept_d] ≈ (w_d/S)·T. DETERMINISM is why the
    weights are INTEGER square roots: sqrt is IEEE-correctly-rounded (the
    only transcendental-adjacent op that is), floor is exact, and S becomes
    an order-free integer sum — so the per-class threshold
    floor(w_d·T / (S·n_d) · 2^32) involves exact integer products (< 2^53
    in double), ONE correctly-rounded division, an exact power-of-two
    scale, and an exact floor: bit-identical across engines, partition
    layouts, and reruns. The row decision is the standard salted-hash
    threshold (map-side, append-stable per existing-row fate).

    Shape: one sketch-sized agg (n_classes rows), a broadcast join of the
    thresholds back onto the rows, and a map-side filter — the data is
    scanned once and never shuffled."""
    counts = df.groupBy(class_col).agg(F.count(F.lit(1)).alias("__n_d"))
    w = counts.withColumn(
        "__w_d", F.floor(F.sqrt(F.col("__n_d").cast("double"))).cast("long")
    )
    tot = w.agg(F.sum("__w_d").alias("__s_w"))
    thr = (
        F.floor(
            (F.col("__w_d") * F.lit(float(int(target_total))))
            / (F.col("__s_w").cast("double") * F.col("__n_d").cast("double"))
            * F.lit(float(_HASH_SPACE))
        )
        .cast("long")
    )
    rates = (
        w.crossJoin(F.broadcast(tot))
        .select(class_col, F.least(thr, F.lit(_HASH_SPACE)).alias("__thr"))
    )
    h = _row_hash(id_col, salt)
    return (
        df.join(F.broadcast(rates), class_col)
        .where(h < F.col("__thr"))
        .drop("__thr")
    )
