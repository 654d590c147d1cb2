"""Physical-plan audit: capture .explain('formatted') for the headline
operators, assert the plan properties that matter at 100 TB, and write
PLANS.md. Run after operator changes; a failed assertion means a scale
regression (e.g. a filter stopped pushing down, a broadcast became a
shuffle, a map-only op grew an Exchange).

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rclip_server_spark.contract import _QUERIES, CENTROIDS, QV_FLAGSHIP
from rclip_server_spark.operators import corpus, dedup, similarity, stats
from rclip_server_spark.session import get_spark
from rclip_server_spark.sources import load_table, writer

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def normalize_plan(plan: str) -> str:
    """Session-counter renumbering for the WRITTEN file only (the
    assertions run on the raw plan): plan_id and expression ids are
    global monotonic counters, so two identical plans captured in
    different sessions differ on every line — renumber both by first
    appearance so a clean audit run leaves a byte-identical PLANS.md
    and real plan changes stand out in review."""
    ids: dict = {}

    def _sub(m):
        key = m.group(0)
        ids.setdefault(key, f"#{len(ids) + 1}")
        return ids[key]

    plan = re.sub(r"#\d+", _sub, plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=X", plan)
    # query-vector literals come out of BLAS (np.linalg.norm), whose
    # summation order depends on the CPU: their last digits differ
    # between hosts, so long float literals are written at 12 digits
    plan = re.sub(r"(?<![\w.])-?\d+\.\d+(?:E-?\d+)?", _fixed_float, plan)
    # audit scratch tables live in per-run mkdtemp dirs with random
    # names and content-hashed segment files; fixture paths (stable,
    # informative) are left intact
    return re.sub(r"file:/tmp/\S+?(?=[\],\s]|$)", "file:/tmp/...",
                  plan)


def _fixed_float(m) -> str:
    s = m.group(0)
    digits = sum(c.isdigit() for c in s.split("E")[0])
    return s if digits <= 12 else "%.12g" % float(s)


def normalize_label(verdict: str, names: dict) -> str:
    """The WRITTEN verdict label only (the assertion runs on the raw
    needle): random segment names, numbered by first appearance, so a
    clean audit run leaves a byte-identical PLANS.md."""
    return re.sub(r"seg-[0-9a-f]{12}",
                  lambda m: names.setdefault(m.group(0), f"seg-<{len(names) + 1}>"),
                  verdict)


def main() -> int:
    spark = get_spark(cpus=8)
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = load_table(spark, SF_DIR, "documents")

    audits = []  # (title, df, requirements: {substr: must_be_present}, commentary)

    audits.append((
        "A1/A2 flagship cosine top-k",
        similarity.topk_similar(emb, QV_FLAGSHIP, k=12),
        {"TakeOrderedAndProject": True, "Exchange": False},
        "Scoring is a per-row projection (map-only, embarrassingly parallel); "
        "the top-k is TakeOrderedAndProject — a size-k heap per partition and "
        "a k·P-row merge, never a global sort. Zero shuffles: this plan reads "
        "N rows and moves k·P rows, which is the shape that survives 100 TB.",
    ))

    audits.append((
        "A6 point lookup by id",
        emb.where(F.col("vec_id") == 42).select("vec_id", "label"),
        {"PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,42)]": True},
        "The equality predicate reaches the parquet scan (row-group/page skip "
        "via min-max statistics), and ReadSchema prunes to the two projected "
        "columns — at scale this is an index-like seek, not a table read.",
    ))

    audits.append((
        "A8 min-max normalize (zero-shuffle)",
        stats.minmax_normalize(emb),
        {"Exchange": False},
        "Per-dimension stats (<= dim rows) are collected once and applied as "
        "literal arrays; the full-table pass is map-only. The naive "
        "posexplode->join->rebuild plan would shuffle the dataset twice.",
    ))

    audits.append((
        "B8 anti-join incremental skip",
        writer.anti_join_skip(
            load_table(spark, SF_DIR, "customer").select(F.col("c_custkey").alias("k")),
            load_table(spark, SF_DIR, "orders").select(F.col("o_custkey").alias("k")),
            "k",
        ),
        {"BroadcastHashJoin": True, "LeftAnti": True},
        "The done-set never lands on the driver (the reference collects a "
        "python set, IW:73-77). Small done-side broadcasts; a large one would "
        "flip to shuffle anti-join automatically via AQE.",
    ))

    audits.append((
        "Broadcast equi-join + partial aggregation",
        _QUERIES["rel_join_broadcast_agg"](spark, SF_DIR),
        {"BroadcastHashJoin": True, "HashAggregate": True},
        "Dimension side broadcasts (no shuffle of the fact table for the "
        "join); aggregation is partial (map-side combine) then final after "
        "one key shuffle.",
    ))

    audits.append((
        "Sort-merge join variant (merge hint)",
        _QUERIES["rel_join_sortmerge_agg"](spark, SF_DIR),
        {"SortMergeJoin": True},
        "Same query as the broadcast variant with the merge hint: both "
        "strategies produce oracle-identical results; pick by dimension size.",
    ))

    audits.append((
        "TPC-H Q1-style scan+filter+agg",
        _QUERIES["rel_q1_pricing_summary"](spark, SF_DIR),
        {"PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate": True},
        "The shipdate predicate pushes into the parquet scan; whole-stage "
        "codegen covers scan->project->partial agg; one shuffle on the "
        "2-column group key.",
    ))

    audits.append((
        "MinHash LSH candidates (banded self-join)",
        dedup.minhash_lsh_candidates(docs),
        # equi-join of either strategy (broadcast at small sf, SMJ at scale);
        # what must NEVER appear is a nested-loop/cartesian plan
        {("SortMergeJoin", "HashJoin"): True, "CartesianProduct": False,
         "BroadcastNestedLoopJoin": False},
        "Candidates come from an equi-join on (band, signature-slice) — "
        "bucketed, never all-pairs. Signature computation is row-local "
        "column math over a pre-hashed column (md5 evaluated once per "
        "shingle). No nested-loop join appears anywhere in the plan.",
    ))

    from rclip_server_spark.operators import joins, retrieval

    events = load_table(spark, SF_DIR, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    audits.append((
        "As-of join (window, not a join)",
        joins.asof_join(clicks, views, on="user_id", ts="ts"),
        {"Window": True, "Join": False},
        "The as-of match is a tagged union + running last() over a "
        "key-partitioned window: ONE hash shuffle on the key, a "
        "per-partition sort, and no join operator at all — the inequality "
        "predicate that would force BroadcastNestedLoop in a join-based "
        "formulation never exists.",
    ))

    audits.append((
        "Band (range) self-join via time buckets",
        joins.band_self_join(events, band="5 minutes"),
        {("SortMergeJoin", "HashJoin"): True, "CartesianProduct": False,
         "BroadcastNestedLoopJoin": False},
        "The |Δt| <= W predicate becomes an equi-join on (key, W-wide "
        "bucket) with the left side exploded to the two candidate buckets; "
        "the exact band check is a cheap post-filter. Never a cartesian "
        "product, and the 2x explode is the only row amplification.",
    ))

    audits.append((
        "BM25 scoring (row-local tf, one stats broadcast)",
        retrieval.bm25_scores(docs, ["vector", "join", "spark"]),
        {"BroadcastNestedLoopJoin": True, "SortMergeJoin": False},
        "Term frequencies and doc length are row-local array ops (no "
        "explode, so empty docs keep their rows and avgdl stays honest); "
        "corpus stats reduce to ONE row which re-enters via a broadcast "
        "cross join — the only 'nested loop' is 1 x N against a single "
        "stats row, i.e. a map-side literal. The corpus is scanned once.",
    ))

    from rclip_server_spark.operators import sampling

    audits.append((
        "Deterministic split assignment (map-only)",
        sampling.split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}),
        {"Exchange": False, "Project": True},
        "Split labels are a pure row-local hash-range projection: zero "
        "shuffles, no UDF, fully inside whole-stage codegen. The same plan "
        "shape covers hash_mod_sample and stratified_hash_sample — "
        "reproducible sampling costs exactly one scan at any corpus size.",
    ))

    from rclip_server_spark.operators import stats as stats_ops

    audits.append((
        "One-pass Gramian (PCA building block)",
        stats_ops.gramian_long(emb),
        {"MapInPandas": True, "SortMergeJoin": False, "CartesianProduct": False},
        "Each Arrow batch collapses to one dim x dim partial Gramian inside "
        "a BLAS matmul (MapInPandas); the only shuffle carries dim^2-row "
        "partials per batch — never the data. The pure-SQL i x j explode "
        "alternative would amplify the table dim^2-fold before aggregating; "
        "it exists only as the oracle twin (vec_gramian_exact).",
    ))

    from rclip_server_spark.operators import text_analysis as ta

    audits.append((
        "Document chunking (map-only explode)",
        ta.chunk_documents(docs, chunk_tokens=16, stride=8),
        {"Exchange": False, "Generate": True},
        "Tokenize once, explode a chunk-index sequence (Generate), slice the "
        "token array per index — the unit-of-training transform with zero "
        "shuffles; row amplification equals the true chunk count and "
        "happens inside the scan stage's pipeline.",
    ))

    from rclip_server_spark.contract import CENTROIDS
    from rclip_server_spark.operators import corpus

    audits.append((
        "Weighted mixture (map-only epoch weighting)",
        corpus.weighted_mixture(docs, "doc_id", "lang", {"en": 2.5}, 1.0),
        {"Exchange": False, "Generate": True},
        "Hash threshold + copy-sequence explode (Generate) — deterministic "
        "fractional up/downsampling with zero shuffles; replication happens "
        "inside the scan stage, so at 100 TB the op costs exactly the rows "
        "it emits.",
    ))

    audits.append((
        "Bigram LM scoring (broadcast count joins)",
        corpus.bigram_lm_score(docs),
        {"BroadcastHashJoin": True, "SortMergeJoin": False,
         "CartesianProduct": False},
        "The bigram/unigram count tables are vocab-sized (<< corpus), so "
        "both count joins broadcast — the exploded corpus stream is never "
        "shuffled for the joins; only the two count aggregations and the "
        "final per-doc rollup exchange, all with map-side partial "
        "aggregation.",
    ))

    audits.append((
        "SemDeDup (cluster-bounded near-dup)",
        dedup.semantic_dedup(emb, CENTROIDS, threshold=0.4),
        {"CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "Centroid assignment is a map-side greatest-of-structs over literal "
        "centroids; the pair compare is an EQUI-join on the cluster id — "
        "never an all-pairs nested loop — so compare cost is sum(n_c^2) ~ "
        "N^2/k and each cluster's compares stay within its shuffle "
        "partition.",
    ))

    import tempfile

    from rclip_server_spark.operators import events as EV
    from rclip_server_spark.sources import load_table as _lt

    ev = _lt(spark, SF_DIR, "events")
    _layout_dir = tempfile.mkdtemp(prefix="layout_audit_")
    writer.write_partitioned(
        ev.withColumn("event_date", F.to_date("ts")),
        _layout_dir + "/events_by_date",
        ["event_date"],
        sort_cols=["user_id"],
    )
    pruned = (
        spark.read.parquet(_layout_dir + "/events_by_date")
        .where(F.col("event_date") == "2024-01-05")
        .where(F.col("user_id") == 7)
    )
    audits.append((
        "Partitioned layout (planning-time pruning)",
        pruned,
        {"PartitionFilters: [isnotnull(event_date": True,
         "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]": True},
        "write_partitioned hive-partitions by event_date and sorts files by "
        "user_id: the date predicate prunes DIRECTORIES at planning time "
        "(PartitionFilters — excluded days are never listed), and the "
        "user_id predicate hits clustered row-group min/max stats "
        "(PushedFilters). Together a point query touches one partition's "
        "few row groups regardless of total table size.",
    ))

    audits.append((
        "Funnel (chained shrinking min-agg joins)",
        EV.funnel(ev, ["view", "click", "purchase"]),
        {"CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "Each funnel level is a user-keyed min-aggregation equi-joined to "
        "the previous (strictly smaller) level — the event log is never "
        "self-joined raw, and every aggregation combines map-side before "
        "its user_id exchange.",
    ))

    from rclip_server_spark.contract import QV_ZEBRA
    from rclip_server_spark.operators import ann

    audits.append((
        "Binary-quantization ANN (Hamming shortlist + exact re-rank)",
        ann.binary_hamming_topk(emb, QV_ZEBRA, k=10, shortlist=200),
        {"TakeOrderedAndProject": True, "CartesianProduct": False},
        "Stage 1 scores packed sign-bits (8 B/vector at dim 64 when "
        "materialized at rest — 32x less I/O than float32) with JVM "
        "popcount-XOR and takes the Hamming top-200 as "
        "TakeOrderedAndProject; stage 2 exact-dots only those 200. Both "
        "stages are map-side + k.P-row merges — no full sort, no shuffle "
        "of the corpus.",
    ))

    from rclip_server_spark.contract import EMBEDDER, MULTI_QUERY_TERMS
    import numpy as np

    audits.append((
        "Multi-query exact top-k (two-tier: partition partial + consolidation)",
        ann.brute_force_topk_multi_gemm(
            emb,
            np.stack([EMBEDDER.embed_text(t) for t in MULTI_QUERY_TERMS]),
            MULTI_QUERY_TERMS,
            k=10,
        ),
        {"MapInPandas": True, "CartesianProduct": False,
         "BroadcastNestedLoopJoin": False},
        "One Arrow pass runs the GEMM (batch @ Q.T scores all M queries "
        "at once) AND keeps a per-partition partial top-k, so each of the "
        "P partitions emits at most M*k rows; the per-query window then "
        "consolidates <= P*M*k partition winners. The old plan exploded "
        "N*M scored rows and hashed every row of a query onto one "
        "reducer — this one never moves more than P*M*k rows, which is "
        "the shape that survives M small and N huge.",
    ))

    audits.append((
        "SemDeDup (per-cluster GEMM candidates + exact verify)",
        dedup.semantic_dedup(emb, CENTROIDS, threshold=0.4),
        {"FlatMapGroupsInPandas": True, "CartesianProduct": False,
         "BroadcastNestedLoopJoin": False},
        "One shuffle groups each IVF cell; the cluster's pairwise-cosine "
        "block runs as a single BLAS GEMM inside applyInPandas (whole-"
        "cluster groups — a batch-split would lose cross-batch pairs), "
        "emitting only candidates above threshold-1e-6; candidates then "
        "pass the exact left-assoc fold, so results are bit-identical to "
        "the pair-join plan. O(sum n_c^2) at BLAS speed, never a nested "
        "loop; cells are guarded at 100k rows (the k-scales-with-N "
        "memory contract).",
    ))

    from rclip_server_spark.operators import sampling as SAMP

    audits.append((
        "Fixed-k deterministic sample (hash + TakeOrderedAndProject)",
        SAMP.fixed_k_sample(docs.select("doc_id"), "doc_id", k=100),
        {"TakeOrderedAndProject": True, "Exchange": False},
        "The salted hash is map-only row-local math and the k smallest "
        "rows come from per-partition k-heaps merged on the driver "
        "(TakeOrderedAndProject) — an exactly-k, rerun-stable sample "
        "with zero shuffles, at any corpus size.",
    ))

    audits.append((
        "Containment dedup (rare-shingle inverted index + exact verify)",
        dedup.containment_pairs(docs, threshold=0.8),
        {"CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "Candidates come from equi-joining doc ids per RARE shingle "
        "(document frequency <= max_df), so pair count is bounded by "
        "sum df^2 under the cap — the inverted-index shape, never "
        "all-pairs. Exact set intersection runs only on pairs sharing "
        ">= min_shared rare shingles; the asymmetric containment ratio "
        "is one exact double division.",
    ))

    audits.append((
        "SQL Q6-style predicate-pushdown scan",
        _QUERIES["sql_q6_forecast_revenue"](spark, SF_DIR),
        {
            "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
            "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipdate,": True,
            "Exchange": True,  # exactly the final 1-row agg gather
            "SortMergeJoin": False,
        },
        "All four range predicates reach the parquet reader (row-group "
        "min-max skipping: a year of data read from a decade-wide table), "
        "the aggregate combines map-side to one row per task, and the only "
        "exchange moves P rows to the single final-agg reducer. At 100 TB "
        "this plan's cost is the filtered scan, nothing else.",
    ))

    audits.append((
        "Cluster-topic-terms (assign + join + windowed top-k)",
        corpus.cluster_topic_terms(docs, emb, CENTROIDS, k_terms=5),
        {("SortMergeJoin", "HashJoin"): True, "CartesianProduct": False,
         "BroadcastNestedLoopJoin": False},
        "Centroid assignment is a map-only greatest-of-structs over literal "
        "vectors; the doc join is a hash equi-join on the id (broadcast at "
        "this sf, shuffle-hash/SMJ at scale — bucket both tables by id to "
        "elide the exchange); the per-cell top-k windows over (cell, token) "
        "counts — vocab-sized input, cells are few. Never a nested loop: "
        "nothing grows with corpus size except the keyed shuffles.",
    ))

    from rclip_server_spark.plans import blas_rewrite
    from rclip_server_spark.streaming import windows as SW

    audits.append((
        "SQL-to-BLAS rewrite (SURVEY §7 phase 5)",
        blas_rewrite.accelerate(
            similarity.with_score(emb, QV_FLAGSHIP, method="sql")
        ).select("vec_id", "score"),
        {"ArrowEvalPython": True, "Exchange": False},
        "The analyzed-plan rule replaces the codegen'd aggregate(zip_with()) "
        "fold with the Arrow-batched GEMV pandas_udf: the plan's scoring "
        "projection becomes one ArrowEvalPython node (one BLAS matvec per "
        "Arrow batch, the reference's RS:196 execution shape, distributed). "
        "Still map-only — the rewrite must never introduce a shuffle.",
    ))

    audits.append((
        "Hard-bucket dedup, streaming-twin shape (tumbling window + struct-min)",
        SW.dedup_first_in_bucket(load_table(spark, SF_DIR, "events"), minutes=10),
        {"partial_min": True, "CartesianProduct": False,
         "BroadcastNestedLoopJoin": False},
        "The streaming-runnable form of dedup-within-window: tumbling "
        "window() bucket + min(struct(ts,id)) aggregates PARTIALLY map-side "
        "(partial_min before the exchange — SortAggregate, since struct "
        "min-by isn't hash-aggregable), so the keyed shuffle moves one "
        "candidate row per (key, bucket) per task — not the raw event log. "
        "In streaming mode the same plan runs with watermark-bounded state.",
    ))

    from rclip_server_spark.operators import sampling, sketches

    audits.append((
        "Priority sampling (weighted fixed-k, DLT estimator)",
        sampling.weighted_fixed_k_sample(
            docs.select("doc_id", F.length("text").cast("long").alias("weight")),
            "doc_id", "weight", k=100,
        ),
        {"TakeOrderedAndProject": True, "CartesianProduct": False},
        "The priority key is map-side row-local math; the top-(k+1) plans as "
        "TakeOrderedAndProject (per-partition (k+1)-heaps, one (k+1)·P-row "
        "merge — never a global sort of the corpus). The tau/estimator "
        "window that follows runs on the k+1 surviving rows only, so its "
        "single-partition exchange moves k+1 rows, not data.",
    ))

    bloom_target = docs.select("doc_id", "lang")
    bloom_keys = docs.where(F.col("lang") == "en").select("doc_id")
    audits.append((
        "Bloom-pruned exact anti-join",
        sketches.bloom_prune_anti_join(bloom_target, bloom_keys, "doc_id",
                                       fpp=0.01),
        {"ArrowEvalPython": True, "LeftAnti": True,
         "CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "The membership test is an Arrow-batched vectorized-numpy predicate "
        "over JVM-computed salted-md5 bit positions (ArrowEvalPython), "
        "applied map-side to route rows: definitive misses bypass the "
        "shuffle entirely and only the might-contain sliver reaches the "
        "exact LeftAnti join. At 100 TB the anti-join input shrinks from "
        "|big| to |matches| + fpp·|big| while the filter itself ships as "
        "~10 bits/key — the runtime-filter shape, made explicit.",
    ))

    from rclip_server_spark.operators import sampling as samp_ops

    audits.append((
        "sqrt-temperature domain mixture sample",
        samp_ops.temperature_mixture_sample(docs, "doc_id", "lang", 200),
        {"BroadcastHashJoin": True, "CartesianProduct": False},
        "The per-domain thresholds come from a sketch-sized aggregate "
        "(n_classes rows — its exchange moves class counts, not data) and "
        "broadcast back onto the corpus; the keep/drop decision is a "
        "map-side salted-hash comparison riding the scan. The DATA is "
        "read once and never shuffled — rebalancing a 100 TB multilingual "
        "corpus costs one pass. (The plan's one BroadcastNestedLoopJoin "
        "is the 1-row normalizer total attached to the n_classes weight "
        "rows — a sketch × scalar product, bounded by the class count.)",
    ))

    import tempfile as _tf

    _btdir = _tf.mkdtemp(prefix="bucketed_audit_")
    writer.write_spark_bucketed_table(
        spark, docs.select("doc_id", "lang"), "audit_bt_a", "doc_id", 8,
        path=os.path.join(_btdir, "a"))
    writer.write_spark_bucketed_table(
        spark, docs.select("doc_id", "n_chars"), "audit_bt_b", "doc_id", 8,
        path=os.path.join(_btdir, "b"))
    audits.append((
        "Co-located join on native bucketed tables (zero Exchange)",
        spark.table("audit_bt_a").hint("merge")
        .join(spark.table("audit_bt_b").hint("merge"), "doc_id"),
        {"SortMergeJoin": True, "Exchange": False},
        "Both sides were written with bucketBy(8, key) + sortBy + "
        "saveAsTable, so the catalog hands Catalyst a pre-existing hash "
        "partitioning: the SortMergeJoin consumes the at-rest layout and "
        "the plan contains NO Exchange — the repeated-big-join answer at "
        "100 TB (pay one write-time shuffle, then every join/groupBy on "
        "the key is shuffle-free). The merge hint only pins SMJ over "
        "broadcast for the audit; the zero-shuffle property comes from "
        "the bucketed layout, and a groupBy on the bucket key plans "
        "Exchange-free the same way (test-asserted).",
    ))

    from rclip_server_spark.operators import ann as ann_ops

    knn_left = emb.where(F.col("vec_id") % 7 == 0)
    audits.append((
        "Cross-table LSH k-NN join (default path)",
        ann_ops.lsh_knn_join(knn_left, emb, k=5, n_planes=6, n_probe_bits=1,
                             dim=64, n_left=1, n_right=1),
        {"CartesianProduct": False, "BroadcastNestedLoopJoin": False,
         "Window": True},
        "Neither side broadcasts by contract: the candidate generation is an "
        "EQUI-join on the literal-hyperplane bucket (never a cross product), "
        "the left side's multiprobe explode XORs masks against a bucket "
        "column computed ONCE (inlining the n_planes-dot expression into "
        "every probe slot multiplies Catalyst planning time by the probe "
        "count — measured 5x wall at 16 planes), and the per-left-row top-k "
        "is a Window partitioned by id_a — candidate volume per reducer is "
        "(probes/2^n_planes)·|right| in expectation.",
    ))

    audits.append((
        "Cross-table LSH k-NN join (skew_prepass=True)",
        ann_ops.lsh_knn_join(knn_left, emb, k=5, n_planes=6, n_probe_bits=1,
                             dim=64, n_left=1, n_right=1, skew_prepass=True),
        {"MapInPandas": True, "CartesianProduct": False,
         "BroadcastNestedLoopJoin": False},
        "The right-skew guard: a per-partition partial top-k (MapInPandas, "
        "keyed by id_a) between the bucket join and the id_a window bounds "
        "each partition's contribution to the exchange at (left rows in "
        "it)·k — a hot bucket can no longer hash a data-sized candidate "
        "list onto one reducer. Partial top-k under the total order "
        "(cosine DESC, id_b ASC) is exact, so this plan is bit-identical "
        "to the default path.",
    ))

    audits.append((
        "Mergeable equi-width histogram build",
        sketches.histogram_build(
            load_table(spark, SF_DIR, "lineitem"), "l_extendedprice",
            0.0, 110000.0, 64,
        ),
        {"partial_count": True, "CartesianProduct": False},
        "Binning is row-local column math fused into the scan stage; the "
        "count aggregates PARTIALLY map-side (partial_count before the "
        "exchange), so the one shuffle moves at most n_bins rows per task "
        "— the exchange is sketch-sized no matter the input. Quantile "
        "interpolation afterwards touches only the n_bins sketch rows.",
    ))

    from rclip_server_spark.sources import versioned as V

    _vtdir = _tf.mkdtemp(prefix="cdc_audit_")
    _vt = os.path.join(_vtdir, "t")
    _vt_df = docs.select("doc_id", "lang").limit(50)
    V.create(spark, _vt, _vt_df)
    V.append(spark, _vt, docs.select("doc_id", "lang")
             .where(F.col("doc_id") >= 100000))
    audits.append((
        "CDC append-only fast path (O(delta) change read)",
        V.table_changes(spark, _vt, from_version=1),
        {"Exchange": False, "CartesianProduct": False},
        "An append-only interval's change set is EXACTLY the appended "
        "segments' rows: the plan is a parquet scan of those segment "
        "directories plus a literal _change_type column — zero Exchange, "
        "zero join, zero touch of pre-existing data. This is the "
        "mechanical form of the O(delta) claim that makes incremental "
        "consumers (matview refresh, downstream sync) cost a day of "
        "ingest, not a table scan, at 100 TB.",
    ))
    V.overwrite(spark, _vt, _vt_df)
    audits.append((
        "CDC snapshot diff with pre-images (Delta-CDF shape)",
        V.table_changes(spark, _vt, from_version=1, key="doc_id",
                        include_preimage=True),
        {("SortMergeJoin", "HashJoin"): True, "Generate": True,
         "CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "A rewriting interval falls back to ONE full-outer key equi-join "
        "of the two snapshots (the honest cost when data moved in place); "
        "classification plus the update_preimage/update_postimage pair is "
        "a map-side array explode (Generate) on top of the join — no "
        "second shuffle, no nested loop. The null-safe per-column payload "
        "comparison is projection math riding the join output.",
    ))

    _ztdir = _tf.mkdtemp(prefix="zorder_audit_")
    _zt = os.path.join(_ztdir, "t")
    V.create(spark, _zt,
             docs.select("doc_id", "n_chars", "lang").limit(400),
             stat_cols=["doc_id", "n_chars"])
    V.cluster_zorder(spark, _zt, "doc_id", "n_chars", n_segments=8)
    audits.append((
        "Z-order-clustered 2-D pruned read",
        V.read_pruned(spark, _zt,
                      ranges={"doc_id": (0, 100), "n_chars": (0, 500)}),
        {"Exchange": False, "CartesianProduct": False},
        "cluster_zorder laid the table out as range-disjoint Morton-key "
        "segments with zone maps on BOTH columns, so read_pruned resolves "
        "the surviving segments from the manifest (metadata-only) and the "
        "plan is a parquet scan of those directories plus pushed row "
        "filters — zero Exchange, zero join. At 100 TB the 2-D range "
        "query reads the overlapping z-ranges' segments and nothing else, "
        "decided before the storage layer is touched.",
    ))

    from rclip_server_spark.sources import bloomindex as BX
    from rclip_server_spark.sources import matview as MVIEW

    _bxdir = _tf.mkdtemp(prefix="bloom_audit_")
    _bx = os.path.join(_bxdir, "t")
    _bx_df = docs.select("doc_id", "lang")
    V.create(spark, _bx, _bx_df.where(F.col("doc_id") % 3 == 0))
    V.append(spark, _bx, _bx_df.where(F.col("doc_id") % 3 == 1))
    V.append(spark, _bx, _bx_df.where(F.col("doc_id") % 3 == 2))
    BX.build_bloom_index(spark, _bx, "doc_id")
    audits.append((
        "Bloom-sidecar point lookup (segment-skipped IN scan)",
        BX.read_point_lookup(spark, _bx, "doc_id", [6, 13]),
        {"PushedFilters": True, "Exchange": False,
         "CartesianProduct": False},
        "The prune decision happened BEFORE this plan existed: a "
        "driver-side bitmap test against per-segment sidecars picked the "
        "few segments that can hold the ids (zero Spark jobs), so the "
        "plan is a parquet scan of those directories with the IN "
        "predicate pushed to the reader — no Exchange, no join. Zone "
        "maps cannot do this on an unclustered key (every segment's "
        "min/max spans the domain); the Bloom sidecar is what turns a "
        "100 TB id lookup into an O(1)-segment read.",
    ))

    _jvdir = _tf.mkdtemp(prefix="jv_audit_")
    _jl = os.path.join(_jvdir, "l")
    _jr = os.path.join(_jvdir, "r")
    V.create(spark, _jl, docs.select(
        F.col("doc_id").alias("o_id"), (F.col("doc_id") % 50).alias("k"),
        F.col("n_chars").alias("amt")).limit(300))
    V.create(spark, _jr, spark.range(50).select(
        F.col("id").alias("r_id"), F.col("id").alias("k"),
        (F.col("id") % 5).cast("string").alias("seg")))
    V.append(spark, _jl, docs.select(
        F.col("doc_id").alias("o_id"), (F.col("doc_id") % 50).alias("k"),
        F.col("n_chars").alias("amt")).where(F.col("doc_id") >= 100000))
    _jch = V.table_changes(spark, _jl, from_version=1)
    _jpruned = MVIEW._prune_to_delta_keys(
        V.read(spark, _jr), _jch, ["k"], MVIEW._change_bound(_jl, 1, 2))
    audits.append((
        "Join-view ingest delta term (ΔL ⋈ key-pruned R snapshot)",
        MVIEW._aggregate(_jch.join(_jpruned, "k"), ["seg"], ["amt"],
                         sign=MVIEW._signed_change()),
        {"BroadcastHashJoin": True, "LeftSemi": True,
         "CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "The signed delta rule's ingest term: the change feed is the "
        "appended segments' rows (CDC fast path — no Exchange to produce "
        "it), the OPPOSITE snapshot is first key-pruned by a broadcast "
        "semi-join on the delta's join keys (size-guarded by the "
        "manifest-derived change bound), and the per-group signed "
        "aggregate combines partially map-side. A day of ingest "
        "refreshes a 100 TB join view for delta ⋈ matching-keys work — "
        "the join is never recomputed.",
    ))

    # round-8: the LEFT-outer join view's anti-semijoin delta term —
    # ΔL rows with no match in the cursor-pinned right snapshot become
    # null-extensions. The right side is reduced to its KEY COLUMN
    # pruned to the delta's keys, so the anti-join build side is
    # delta-bounded, never the right table.
    _r_fields = V.read(spark, _jr).schema.fields
    _r1_keys = MVIEW._prune_to_delta_keys(
        V.read(spark, _jr).select("k"), _jch, ["k"],
        MVIEW._change_bound(_jl, 1, 2))
    audits.append((
        "LEFT-outer join view null-extension term (ΔL ▷ R1 keys)",
        MVIEW._aggregate(
            MVIEW._null_extend(_jch.join(_r1_keys, ["k"], "left_anti"),
                               _r_fields, ["k"]),
            ["seg"], ["amt"], sign=MVIEW._signed_change()),
        {"BroadcastHashJoin": True, "LeftAnti": True,
         "CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "The LEFT-outer flavor's term A: the ingest delta anti-joins "
        "the right snapshot's KEYS (projected to the join column, "
        "key-pruned to the delta's keys behind the same size-guarded "
        "broadcast semi-join, so the anti build side is delta-sized). "
        "Unmatched delta rows aggregate null-extended — typed NULL "
        "literals, a pure projection. At 100 TB a day of left-side "
        "ingest maintains the outer aggregate without ever scanning "
        "the left table, and the right table contributes only its "
        "delta-matching keys.",
    ))

    # round-9: the maintained near-dup pairs view's Δ probe — inserted
    # docs' bands equi-join the band index; the pair volume is bounded
    # by band collisions, and the plan must be a hash/merge equi-join,
    # never a nested loop (the all-pairs failure mode LSH exists to
    # avoid). The Δ-key flag and probe restriction both broadcast.
    from rclip_server_spark.sources import neardup_view as NDV

    _nddir = _tf.mkdtemp(prefix="nd_audit_")
    _ndsrc = os.path.join(_nddir, "docs")
    _ndvw = os.path.join(_nddir, "pairs")
    V.create(spark, _ndsrc, docs.select("doc_id", "text")
             .where(F.col("doc_id") % 2 == 0))
    NDV.create_near_dup_pairs_view(spark, _ndsrc, _ndvw, key="doc_id")
    _ndspec = MVIEW._spec(_ndvw, kind="near_dup")
    _ndband = MVIEW._read_source(spark, _ndvw + NDV.BANDS_SUFFIX)
    _ndgram = MVIEW._read_source(spark, _ndvw + NDV.GRAMS_SUFFIX)
    _ndins = docs.select("doc_id").where(F.col("doc_id") % 20 == 0)
    audits.append((
        "Near-dup pairs view Δ probe (Δ-bands ⋈ band index)",
        NDV._probe_pairs(_ndband, _ndgram, _ndins, _ndspec),
        {("SortMergeJoin", "BroadcastHashJoin"): True,
         "CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "The incremental pair discovery: the inserted docs' banded "
        "signatures (semi-join-restricted probe side) equi-join the "
        "maintained band index on (band, band-hash) — a hash/merge "
        "join whose output is bounded by band collisions, with the "
        "Δ-key set broadcast to flag new-vs-new orientation. At 100 TB "
        "the band index is bucketed by (band, bh) so this probe is a "
        "co-located join against a day's crawl, never corpus × corpus "
        "(and never a nested loop — asserted).",
    ))

    # the embedding flavor's probe must hold the same shape: sign-bit
    # bucket equi-join, never a nested loop over vectors
    _edvw = os.path.join(_nddir, "epairs")
    _edsrc = os.path.join(_nddir, "vecs")
    V.create(spark, _edsrc, emb.select("vec_id", "embedding")
             .where(F.col("vec_id") % 2 == 0))
    NDV.create_embed_near_dup_pairs_view(spark, _edsrc, _edvw,
                                         key="vec_id", threshold=0.4,
                                         dim=64)
    _edspec = MVIEW._spec(_edvw, kind="embed_near_dup")
    _edbkt = MVIEW._read_source(spark, _edvw + NDV.EBKTS_SUFFIX)
    _edvec = MVIEW._read_source(spark, _edvw + NDV.EVECS_SUFFIX)
    _edins = emb.select("vec_id").where(F.col("vec_id") % 20 == 0)
    audits.append((
        "Embedding near-dup pairs view Δ probe (sign-bit buckets)",
        NDV._ed_probe_pairs(_edbkt, _edvec, _edins, _edspec),
        {("SortMergeJoin", "BroadcastHashJoin"): True,
         "CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "The vector flavor's incremental discovery: Δ rows' stored "
        "sign-bit buckets equi-join the maintained bucket index on "
        "(plane-set, bucket) — hash/merge join, candidates bounded by "
        "bucket collisions, exact-cosine verification only on the "
        "candidates. The planes' literal expression tree lives in the "
        "index TRANSFORM, planned once per refresh over Δ rows — the "
        "probe reuses the stored column and plans no vector math "
        "beyond the verification dot products.",
    ))

    # SQL UPDATE lands as ONE delete-vector + append commit; the keys
    # job (what fills the delete vector) must stay a pruned map-only
    # scan: key + predicate columns only, filter pushed to parquet,
    # wide payload columns never read, no shuffle
    _upath = os.path.join(_nddir, "updtbl")
    V.create(spark, _upath, emb.select(
        "vec_id", (F.col("vec_id") % 97).cast("long").alias("score"),
        "embedding"))
    from rclip_server_spark import sql as SQL
    _ukeys = SQL._update_plan(V.read(spark, _upath),
                              {"score": "score * 2 + 1"},
                              "score > 50").select("vec_id")
    audits.append((
        "SQL UPDATE delete-vector keys job (pruned scan)",
        _ukeys,
        {"PushedFilters": True, "embedding": False, "Exchange": False},
        "UPDATE t SET score = ... WHERE score > 50 commits one "
        "delete-vector + append (versioned.delete_and_append). The "
        "keys job projects the row-identity column out of the "
        "filtered+reassigned plan, and Catalyst prunes straight "
        "through the assignment projection: the scan reads ONLY the "
        "key and predicate columns (the wide embedding payload never "
        "leaves parquet — asserted by its absence), the predicate is "
        "pushed to the scan, and the whole job is map-only (zero "
        "Exchange). At 100 TB an UPDATE's cost is the pruned scan "
        "plus O(matched) writes — never a table rewrite.",
    ))

    # MERGE matched-DELETE keys job: the delete-vector keys come off
    # the SOURCE side of the join, so when the clause condition reads
    # only source columns, the TARGET scan prunes to the key column
    # alone — no payload column ever leaves parquet
    _msrc = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 10 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op")).where(F.col("vec_id") % 5 == 0)
    _mkeys, _mbatch = SQL._merge_stage_plans(
        V.read(spark, _upath), _msrc, "vec_id", "vec_id", "t", "s",
        [("s.op = 'D'", "delete", None)], [])
    assert _mbatch is None  # delete-only: no append side at all
    audits.append((
        "SQL MERGE matched-DELETE keys job (target pruned to key)",
        _mkeys,
        {("BroadcastHashJoin", "SortMergeJoin"): True,
         "embedding#": False, "score#": False,
         "CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED AND s.op = "
        "'D' THEN DELETE fills the delete vector from ONE inner "
        "equi-join whose keys are selected off the SOURCE side: the "
        "100 TB target contributes a key-column-only scan (the wide "
        "embedding payload and the score column never appear as plan "
        "attributes — `col#` asserted absent, the bare name would "
        "false-match the source's file path) and the commit is a "
        "delete vector — O(matched), never a rewrite.",
    ))

    # MERGE WHEN NOT MATCHED BY SOURCE keys job: the full-sync delete
    # term is one target anti-join against the source keys — an
    # equi-anti-join with both sides pruned to the key (+ condition
    # columns), never a nested loop, and the wide payload stays in
    # parquet
    _bs_keys, _bs_batch = SQL._merge_stage_plans(
        V.read(spark, _upath), _msrc, "vec_id", "vec_id", "t", "s",
        [], [], [(None, "delete", None)])
    assert _bs_batch is None
    audits.append((
        "SQL MERGE by-source sync-DELETE keys job",
        _bs_keys,
        {("BroadcastHashJoin", "SortMergeJoin"): True,
         "LeftAnti": True, "embedding#": False, "score#": False,
         "CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE (full-sync: "
        "drop what the source no longer carries) fills the delete "
        "vector from ONE left-anti equi-join of the target against "
        "the source keys. The O(target) scan is inherent to by-source "
        "semantics, but it is a KEY-COLUMN-ONLY scan (payload columns "
        "asserted absent as plan attributes) and the commit is a "
        "delete vector — never a rewrite.",
    ))

    audits.append((
        "Salted join (hot-key skew mitigation)",
        _QUERIES["rel_salted_join_skew"](spark, SF_DIR),
        {("SortMergeJoin", "BroadcastHashJoin"): True,
         "CartesianProduct": False, "BroadcastNestedLoopJoin": False},
        "One hot key carrying ~75% of the big side is spread over 4 "
        "reducer slices by a DETERMINISTIC row-hash salt; the small "
        "side replicates once per salt via one explode. Catalyst "
        "still plans a plain equi-join on (key, salt) — the fix for "
        "the regime where the small side is too big to broadcast and "
        "AQE's skew-split can't divide a single key's sort-merge "
        "buffer.",
    ))

    # --- bucketed delete vectors (r11): the vector's scope keeps
    # untouched buckets anti-join-free ---
    import tempfile

    from rclip_server_spark.sources import versioned as V

    _bt = tempfile.mkdtemp(prefix="rclip_audit_bdv_")
    os.rmdir(_bt)
    V.create_bucketed(
        spark,
        _bt,
        spark.createDataFrame([(i, i * 10) for i in range(64)],
                              "id INT, val INT"),
        key="id", n_buckets=8)
    V.delete_rows(spark, _bt, [3], "id")
    _bm = V._manifest(_bt, V.current_version(_bt))
    _scoped = set(_bm["delete_scopes"][_bm["delete_segs"][0]])
    _touched = sorted(int(b) for b, ss in _bm["buckets"].items()
                      if set(ss) & _scoped)
    _clean = sorted(int(b) for b in _bm["buckets"]
                    if int(b) not in _touched)
    assert _touched and _clean
    audits.append((
        "Bucketed delete vector: touched-bucket read",
        V.read(spark, _bt, buckets=_touched[:1]),
        {"LeftAnti": True, "BroadcastHashJoin": True},
        "A DELETE against a bucketed table commits a KB-sized vector "
        "scoped to the deleted keys' own hash buckets. Reading a "
        "scoped bucket applies it as ONE broadcast anti-join — the "
        "delete itself rewrote nothing.",
    ))
    # --- bucketed zone maps (r11): range reads skip whole segments at
    # manifest resolution ---
    _zt = tempfile.mkdtemp(prefix="rclip_audit_bzm_")
    os.rmdir(_zt)
    V.create_bucketed(
        spark, _zt,
        spark.createDataFrame([(i, i * 10) for i in range(64)],
                              "id INT, val INT"),
        key="id", n_buckets=4, stat_cols=["val"])
    V.append(spark, _zt, spark.createDataFrame(
        [(100 + i, 100000 + i) for i in range(64)], "id INT, val INT"))
    _zm = V._manifest(_zt, V.current_version(_zt))
    _lo_segs = {s for s, st in _zm["seg_stats"].items()
                if st["val"]["max"] is not None
                and st["val"]["max"] < 100000}
    _hi_segs = {s for ss in _zm["buckets"].values()
                for s in ss} - _lo_segs
    assert _lo_segs and _hi_segs
    _pruned_df = V.read_pruned(spark, _zt, ranges={"val": (0, 500)})
    # BOTH directions asserted via the resolved input files — the plan
    # TEXT truncates its Location path list (maxMetadataStringLength),
    # so a substring check against it is vacuous for absence too; the
    # plan-substring checks below are belt-and-braces only
    _in_files = set(_pruned_df.inputFiles())
    assert all(any(f"/{s}/" in f for f in _in_files)
               for s in _lo_segs), "survivor segment missing from scan"
    assert not any(f"/{s}/" in f for s in _hi_segs
                   for f in _in_files), \
        "zone-skipped segment leaked into the scan"
    audits.append((
        "Bucketed zone-map pruned range read",
        _pruned_df,
        {s: False for s in sorted(_hi_segs)},
        "Per-segment min/max recorded by every bucketed commit; the "
        "range read names ONLY the overlapping segments in its scan "
        "(every skipped segment's directory is asserted absent from "
        "the plan, and the survivors verified present via the "
        "resolved input files) — the second pruning layer on top of "
        "bucket subsetting, decided from a KB-sized manifest with "
        "zero file opens. At 100 TB with daily appends into a "
        "user-bucketed table, a one-day window reads that day's "
        "segments per bucket and zero others.",
    ))

    audits.append((
        "Bucketed delete vector: untouched-bucket read (vector scoped away)",
        V.read(spark, _bt, buckets=_clean[:1]),
        {"Join": False, "LeftAnti": False},
        "The same table, a bucket the delete cannot touch (the key "
        "hashes elsewhere): the scope check groups it with NO vector, "
        "so the plan is a bare scan. At 65536 buckets a 100-key GDPR "
        "erasure leaves 65400+ buckets' read plans completely "
        "untouched — the property that keeps point deletes free at "
        "100 TB.",
    ))

    # --- late-r11 surfaces: shard export, shallow clone, constraints ---
    from rclip_server_spark.operators import sampling as SAMP

    audits.append((
        "Training-shard export write frame (one exchange)",
        SAMP._shard_write_frame(docs.select("doc_id", "text"),
                                "doc_id", 8, "shuffle"),
        # tree-node form "Exchange (N" — the formatted text prints each
        # node twice (tree + detail section), so the bare word counts 2x
        {"Exchange (": 1, "Window": True},
        "The epoch-shard layout costs exactly ONE corpus-wide shuffle: "
        "rows repartition by shard FIRST, and the pos window's "
        "ClusteredDistribution(shard) is satisfied by that existing "
        "HashPartitioning — so the window contributes a per-partition "
        "sort, not a second Exchange (the naive shuffle-then-"
        "repartition shape moves the corpus twice). Asserted as an "
        "exact Exchange COUNT, the audited frame IS the one "
        "export_training_shards writes.",
    ))

    _ct = tempfile.mkdtemp(prefix="rclip_audit_clone_")
    os.rmdir(_ct)
    V.create(spark, _ct, spark.createDataFrame(
        [(i, i * 10) for i in range(64)], "id INT, val INT"))
    _cc = tempfile.mkdtemp(prefix="rclip_audit_clone2_")
    os.rmdir(_cc)
    V.clone(_ct, _cc)
    _cdf = V.read(spark, _cc)
    assert set(_cdf.inputFiles()) == set(V.read(spark, _ct).inputFiles()), \
        "clone read must resolve to the SOURCE's segment files"
    audits.append((
        "Shallow clone read (zero-copy, join-free)",
        _cdf,
        {"Join": False, "Exchange": False},
        "CREATE TABLE c CLONE t: the clone's manifest references the "
        "source's segments by absolute path, so its read plan is the "
        "SAME bare scan as the source's (verified: identical resolved "
        "input files) — no copy, no join, no exchange. Divergence "
        "cost starts at zero and grows only with the clone's own "
        "writes.",
    ))

    V.add_constraint(spark, _ct, "pos", "val >= 0")
    _ckm = V._manifest(_ct, V.current_version(_ct))
    audits.append((
        "CHECK constraint enforcement survives Catalyst pruning",
        V._apply_constraints(
            spark.createDataFrame([(1, 2)], "id INT, val INT"),
            _ckm, "append"),
        {"raise_error": True, "Exchange": False},
        "Constraint checks are threaded INTO a written column's "
        "expression (when(cond, col).otherwise(raise_error(row))) — "
        "asserted present in the batch plan, because the obvious "
        "alternative (assert_true in a helper column that is then "
        "dropped) is PRUNED by Catalyst and silently never runs. "
        "Enforcement is map-side only: zero extra pass, zero "
        "exchange, the write job fails on the first violating row.",
    ))

    # --- maintained index views (late r11): the query-side plans must
    # push their selection into the index scan ---
    from rclip_server_spark.sources import annindex as AIX
    from rclip_server_spark.sources import textindex as TIX

    _tis = tempfile.mkdtemp(prefix="rclip_audit_tis_")
    os.rmdir(_tis)
    V.create(spark, _tis, docs.select("doc_id", "text").limit(2000))
    _tii = tempfile.mkdtemp(prefix="rclip_audit_tii_")
    os.rmdir(_tii)
    TIX.create_text_index(spark, _tis, _tii, key="doc_id")
    audits.append((
        "Text-index query (term filter pushed to the postings scan)",
        TIX.query_text_index(spark, _tii, ["vector", "join"], k=10),
        {"PushedFilters: [In(term": True, "TakeOrderedAndProject": True},
        "query_text_index reads ONLY the query terms' posting rows: "
        "the term IN-list reaches the parquet scan as a pushed filter "
        "(row-group min/max + dictionary skipping), so a query costs "
        "O(matching postings) — never a corpus scan or re-tokenization "
        "pass — and the top-k is a per-partition heap, not a global "
        "sort. After OPTIMIZE ZORDER/bucketing by term the same filter "
        "prunes whole segments too.",
    ))

    _ais = tempfile.mkdtemp(prefix="rclip_audit_ais_")
    os.rmdir(_ais)
    V.create(spark, _ais,
             load_table(spark, SF_DIR, "embeddings")
             .select("vec_id", "embedding").limit(2000))
    _aii = tempfile.mkdtemp(prefix="rclip_audit_aii_")
    os.rmdir(_aii)
    AIX.create_ann_index(spark, _ais, _aii, key="vec_id", n_planes=4)
    audits.append((
        "ANN-index query (bucket probe set pushed to the scan)",
        AIX.query_ann_index(spark, _aii, [0.125] * 32 + [-0.125] * 32,
                            k=10, n_probe_bits=1),
        {"PushedFilters: [In(bucket": True,
         "TakeOrderedAndProject": True},
        "query_ann_index filters the stored bucket column to the "
        "driver-computed probe set BEFORE any scoring: the IN-list "
        "reaches the parquet scan, so only the probed buckets' rows "
        "are read and dot-scored — O(probe fraction of the corpus) "
        "per query, with the bucketing paid once at WRITE time "
        "instead of per call.",
    ))

    # --- r12: the bucketed AT-REST layout — probe queries skip FILES
    # (manifest-resolution pruning), not just rows ---
    AIX.convert_index_to_bucketed(spark, _aii, n_buckets=16)
    _aq = AIX.query_ann_index(spark, _aii,
                              [0.125] * 32 + [-0.125] * 32,
                              k=10, n_probe_bits=1)
    _am = V._manifest(_aii, V.current_version(_aii))
    _probed = {os.path.basename(os.path.dirname(f))
               for f in _aq.inputFiles()}
    _all_buckets = {s for ss in _am["buckets"].values() for s in ss}
    assert _probed < _all_buckets, \
        "bucketed ANN probe read must name a STRICT SUBSET of the " \
        "index's bucket segments in its plan (file pruning)"
    audits.append((
        "Bucketed ANN-index probe read (file skipping at rest)",
        _aq,
        {"PushedFilters: [In(bucket": True,
         "TakeOrderedAndProject": True},
        "After OPTIMIZE aiidx BUCKET BY (bucket, N) the probed LSH "
        "buckets resolve to a subset of the physical hash buckets at "
        "MANIFEST resolution — non-probed buckets' segment files are "
        "never named in the plan (verified: the scan's input files "
        f"are {len(_probed)} of {len(_all_buckets)} bucket segments, "
        "a strict subset), and the residual bucket IN-list prunes "
        "hash-collided rows inside the survivors. At 100 TB the "
        "untouched (1 - probe fraction) of the corpus costs zero IO "
        "and zero tasks.",
    ))

    # --- r14: FILTERED vector search — the payload predicate reaches
    # the SAME probed parquet scan (pushed next to the bucket IN-list)
    # and never joins back to the source table ---
    _afs = tempfile.mkdtemp(prefix="rclip_audit_afs_")
    os.rmdir(_afs)
    V.create(spark, _afs,
             load_table(spark, SF_DIR, "embeddings")
             .select("vec_id", "embedding",
                     (F.col("vec_id") % 7).alias("category"))
             .limit(2000))
    _afi = tempfile.mkdtemp(prefix="rclip_audit_afi_")
    os.rmdir(_afi)
    AIX.create_ann_index(spark, _afs, _afi, key="vec_id", n_planes=4,
                         include_cols=["category"])
    AIX.convert_index_to_bucketed(spark, _afi, n_buckets=16)
    _fq = AIX.query_ann_index(spark, _afi,
                              [0.125] * 32 + [-0.125] * 32,
                              k=10, n_probe_bits=1,
                              where="category = 3")
    _fm = V._manifest(_afi, V.current_version(_afi))
    _fprobed = {os.path.basename(os.path.dirname(f))
                for f in _fq.inputFiles()}
    _fall = {s for ss in _fm["buckets"].values() for s in ss}
    assert _fprobed < _fall, \
        "filtered ANN probe read must keep the strict-subset file " \
        "pruning (the payload filter must not widen the scan)"
    audits.append((
        "Filtered ANN-index query (payload predicate pushed into the "
        "probed scan)",
        _fq,
        # the pushdown lists IsNotNull(category) first, so the usual
        # "PushedFilters: [In(bucket" anchor doesn't hold here; the
        # `In(bucket,` spelling only occurs inside PushedFilters
        # (the residual Filter condition renders as `bucket IN`)
        {"In(bucket": True,
         "EqualTo(category,3)": True,
         "TakeOrderedAndProject": True,
         "Join": False},
        "include_cols stores filterable payload IN the index rows, so "
        "a metadata filter (`where='category = 3'`) is pushed to the "
        "SAME parquet scan as the bucket probe IN-list — non-matching "
        "row groups skip via parquet stats, the probed-bucket FILE "
        "pruning is unchanged (verified: strict subset, "
        f"{len(_fprobed)} of {len(_fall)} bucket segments), and there "
        "is NO join back to the source table in the plan. At 100 TB "
        "filtered vector search costs the probe fraction, not a "
        "corpus-sized semi-join.",
    ))

    _tip = tempfile.mkdtemp(prefix="rclip_audit_tip_")
    os.rmdir(_tip)
    TIX.create_text_index(spark, _tis, _tip, key="doc_id",
                          positions=True)
    audits.append((
        "Phrase query from the positional index (no corpus pass)",
        TIX.query_phrase_index(spark, _tip, "value table", k=10),
        {"PushedFilters: [In(term": True,
         "TakeOrderedAndProject": True},
        "query_phrase_index reads ONLY the phrase terms' posting rows "
        "(pushed term IN-list), pivots each candidate's per-term "
        "offset arrays into one map, and counts adjacency chains with "
        "JVM higher-order array functions — exact-phrase matching at "
        "O(matching postings), never a re-tokenization of the corpus; "
        "the top-k is a per-partition heap.",
    ))

    # --- r14: filtered lexical search — the phrase path pushes the
    # payload predicate into the term-pruned scan (no global stats);
    # the BM25 path applies it after the global-df window by DESIGN
    # (filters select docs, never reshape idf — pinned by the
    # ti_filtered_topk oracle, whose hash would differ under a
    # pre-filtered df) ---
    _tfs = tempfile.mkdtemp(prefix="rclip_audit_tfs_")
    os.rmdir(_tfs)
    V.create(spark, _tfs,
             load_table(spark, SF_DIR, "documents")
             .select("doc_id", "text",
                     (F.col("doc_id") % 3).alias("lang"))
             .limit(1500))
    _tfi = tempfile.mkdtemp(prefix="rclip_audit_tfi_")
    os.rmdir(_tfi)
    TIX.create_text_index(spark, _tfs, _tfi, key="doc_id",
                          positions=True, include_cols=["lang"])
    audits.append((
        "Filtered phrase query (payload predicate pushed into the "
        "term-pruned scan)",
        TIX.query_phrase_index(spark, _tfi, "value table", k=10,
                               where="lang = 1"),
        {"In(term": True,
         "EqualTo(lang,1)": True,
         "TakeOrderedAndProject": True,
         "Join": False},
        "include_cols stores per-posting payload (doc-values-in-"
        "postings), so a phrase query's metadata filter lands in the "
        "SAME parquet scan as the term IN-list — and there is no "
        "join back to the source. The BM25 twin applies the same "
        "predicate AFTER its global-df window instead: filters "
        "select eligible docs but must never reshape idf "
        "(search-engine semantics; candidates still shrink before "
        "the doc-aggregation shuffle).",
    ))

    # --- r13: the TEXT index's bucketed at-rest layout — term/phrase
    # queries skip FILES at manifest resolution, the symmetric twin of
    # the r12 ANN treatment ---
    TIX.convert_index_to_bucketed(spark, _tii, n_buckets=16)
    _tq = TIX.query_text_index(spark, _tii, ["vector", "join"], k=10)
    _tm = V._manifest(_tii, V.current_version(_tii))
    _t_probed = {os.path.basename(os.path.dirname(f))
                 for f in _tq.inputFiles()}
    _t_all = {s for ss in _tm["buckets"].values() for s in ss}
    assert _t_probed < _t_all, \
        "bucketed text-index term read must name a STRICT SUBSET of " \
        "the postings' bucket segments in its plan (file pruning)"
    audits.append((
        "Bucketed text-index term read (file skipping at rest)",
        _tq,
        {"PushedFilters: [In(term": True,
         "TakeOrderedAndProject": True},
        "After OPTIMIZE tiidx BUCKET BY (term, N) the query terms "
        "resolve to their physical hash buckets DRIVER-SIDE (pure-"
        "Python xxhash64, parity-pinned by tests/test_xxh.py — zero "
        "Spark jobs) and only those buckets' segment files are named "
        "in the plan (verified: the scan's input files are "
        f"{len(_t_probed)} of {len(_t_all)} bucket segments, a strict "
        "subset); the residual term IN-list prunes hash-collided "
        "terms inside the survivors. At 100 TB a 3-term query opens "
        "the 3 terms' buckets, never the whole postings table — "
        "r12's layout pushed the IN-list to the scan but still OPENED "
        "every segment file.",
    ))

    TIX.convert_index_to_bucketed(spark, _tip, n_buckets=16)
    _pq = TIX.query_phrase_index(spark, _tip, "value table", k=10)
    _pm = V._manifest(_tip, V.current_version(_tip))
    _p_probed = {os.path.basename(os.path.dirname(f))
                 for f in _pq.inputFiles()}
    _p_all = {s for ss in _pm["buckets"].values() for s in ss}
    assert _p_probed < _p_all, \
        "bucketed phrase read must name a STRICT SUBSET of the " \
        "postings' bucket segments in its plan"
    audits.append((
        "Bucketed positional phrase read (file skipping at rest)",
        _pq,
        {"PushedFilters: [In(term": True,
         "TakeOrderedAndProject": True},
        "Phrase queries get the same at-rest pruning: the phrase "
        "terms' buckets' files only (verified strict subset, "
        f"{len(_p_probed)} of {len(_p_all)}), adjacency chains "
        "counted with JVM array functions inside the survivors. The "
        "whole plan builds with ZERO Spark jobs (driver-side bucket "
        "resolution + manifest-pinned scan schema, status-tracker-"
        "asserted in tests/test_textindex.py).",
    ))

    # --- r13: the maintained IVF index — probe queries skip files on
    # the bucketed layout, exact-dot re-rank inside the probed cells
    from rclip_server_spark.sources import ivfindex as IIX

    _iis = tempfile.mkdtemp(prefix="rclip_audit_iis_")
    os.rmdir(_iis)
    V.create(spark, _iis,
             load_table(spark, SF_DIR, "embeddings")
             .select("vec_id", "embedding").limit(2000))
    _iii = tempfile.mkdtemp(prefix="rclip_audit_iii_")
    os.rmdir(_iii)
    IIX.create_ivf_index(spark, _iis, _iii, key="vec_id", n_cells=8,
                         iters=2)
    IIX.convert_index_to_bucketed(spark, _iii, n_buckets=8)
    _iq = IIX.query_ivf_index(spark, _iii,
                              [0.125] * 32 + [-0.125] * 32,
                              k=10, n_probe=2)
    _im = V._manifest(_iii, V.current_version(_iii))
    _i_probed = {os.path.basename(os.path.dirname(f))
                 for f in _iq.inputFiles()}
    _i_all = {s for ss in _im["buckets"].values() for s in ss}
    assert _i_probed < _i_all, \
        "bucketed IVF probe read must name a STRICT SUBSET of the " \
        "index's bucket segments in its plan (file pruning)"
    audits.append((
        "Bucketed IVF-index probe read (exact re-rank tier)",
        _iq,
        {"PushedFilters: [In(ivf_cell": True,
         "TakeOrderedAndProject": True},
        "The maintained IVF index assigns cells at WRITE time under "
        "FROZEN centroids (stored in the manifest spec, KB-sized); a "
        "query ranks cells DRIVER-SIDE from those centroids (zero "
        "Spark jobs) and exact-dot re-ranks only the n_probe nearest "
        "cells' rows. On the bucketed at-rest layout the probed "
        "cells' buckets' segment files alone enter the plan "
        f"(verified strict subset: {len(_i_probed)} of {len(_i_all)} "
        "bucket segments) with the residual cell IN-list pruning "
        "hash-collided rows inside survivors. Refresh is O(changed "
        "rows) — retraining would be an implicit corpus rewrite, so "
        "centroids freeze and drift-heal is an explicit re-create.",
    ))

    # --- r13: the IVFADC tier on the maintained IVF index — ADC
    # scoring over stored codes, exact re-rank of the shortlist ---
    _adc = tempfile.mkdtemp(prefix="rclip_audit_adc_")
    os.rmdir(_adc)
    IIX.create_ivf_index(spark, _iis, _adc, key="vec_id", n_cells=8,
                         iters=2, pq_m=8, pq_k=16)
    IIX.convert_index_to_bucketed(spark, _adc, n_buckets=8)
    audits.append((
        "Maintained IVFADC query (code-byte scoring, exact re-rank)",
        IIX.query_ivf_index(spark, _adc,
                            [0.125] * 32 + [-0.125] * 32,
                            k=10, n_probe=2, method="adc",
                            shortlist=64),
        {"ArrowEvalPython": True, "CartesianProduct": False,
         "BroadcastNestedLoopJoin": False,
         "TakeOrderedAndProject": True},
        "The memory-bound rung of the quantization ladder, maintained: "
        "residual PQ codes are written at refresh time under frozen "
        "centroids+codebooks (manifest spec), so a query reads only "
        "the probed cells' CODE rows (file-pruned buckets), scores "
        "them with one (m_sub x k_cent) lookup table in an "
        "Arrow-batched pandas UDF (never per-row Python), heap-"
        "shortlists, and exact-re-ranks the survivors against the "
        "index's own full-precision column via a broadcast semi-join. "
        "At 100 TB the ADC pass scans m_sub bytes per candidate "
        "instead of the vector — the candidate IO shrinks by "
        "~dim*4/m_sub while the final scores stay exact dots.",
    ))

    # --- r13: the indexed cross-table k-NN join (annindex.
    # knn_join_via_index) — the ad-hoc lsh_knn_join's plan shape with
    # the corpus side served from the maintained index ---
    _kjl = load_table(spark, SF_DIR, "embeddings") \
        .select("vec_id", "embedding").limit(50)
    audits.append((
        "Indexed cross-table k-NN join (bucket equi-join, manifest "
        "guard)",
        AIX.knn_join_via_index(spark, _kjl, _aii, k=5, n_probe_bits=1,
                               n_left=1),
        {"CartesianProduct": False, "BroadcastNestedLoopJoin": False,
         "Window": True},
        "knn_join_via_index inherits the ad-hoc join's contract — an "
        "EQUI-join on the bucket column (never a cross product), "
        "probe masks XORed against a once-computed left bucket, "
        "per-left-row top-k as a Window — with two serving wins: the "
        "right side's bucket column comes from the MAINTAINED index "
        "(the ad-hoc full-corpus bucketing pass disappears from "
        "every call), and the candidate-volume scale guard plans "
        "from the manifest's row count (parquet footers, zero Spark "
        "jobs). On a bucketed index state the right scan additionally "
        "skips non-probed buckets' files.",
    ))

    # --- r14: batched multi-query serving — M queries, ONE plan ---
    from rclip_server_spark.operators.ann import hyperplanes as _hp

    _qb = [(int(i), [float(x) for x in v]) for i, v in
           enumerate(_hp(2, 64, seed=5))]
    _bq = AIX.query_ann_index_batch(spark, _aii, _qb, k=5,
                                    n_probe_bits=1)
    _bplan = fmt_plan(_bq)
    _n_scans = len(re.findall(r"\(\d+\) Scan parquet", _bplan))
    assert _n_scans == 1, \
        "batch serving must read the index with ONE union-probe scan " \
        f"(saw {_n_scans})"
    _b_probed = {os.path.basename(os.path.dirname(f))
                 for f in _bq.inputFiles()}
    _b_all = {s for ss in _am["buckets"].values() for s in ss}
    assert _b_probed < _b_all, \
        "batch probe read must name a STRICT SUBSET of the index's " \
        "bucket segments (union-of-probes file pruning)"
    audits.append((
        "Batched multi-query ANN serving (M queries, one plan)",
        _bq,
        {"PushedFilters: [In(bucket": True,
         "Generate": True,
         "BroadcastHashJoin": False,
         "CartesianProduct": False,
         "BroadcastNestedLoopJoin": False,
         "Window": True},
        "query_ann_index_batch answers M queries from ONE file-pruned "
        "scan of the union probe set (verified: exactly one parquet "
        "scan in the plan, naming a strict subset of bucket segments "
        f"— {len(_b_probed)} of {len(_b_all)}), fanned out to its "
        "matching queries by a Generate over two constant-folded "
        "literal maps (bucket -> [qid], qid -> qvec) INSIDE the scan "
        "stage — no broadcast-build job, no join at all (r15; a row "
        "occupies exactly one bucket, so the explode emits each "
        "(row, query) pair at most once), exact dots JVM-side, and "
        "a per-qid Window top-k. The only shuffle is the qid window "
        "over CANDIDATE rows — never the corpus; per-query plan-build "
        "cost amortizes by the batch factor, and per query the rows "
        "are identical to query_ann_index (tests/test_index_batch). "
        "The IVF twin shares the shape (one union scan + literal-map "
        "fan-out + per-qid window); the text twin keeps its broadcast "
        "(qid, term, mult) frame, whose scores flow through a float "
        "SUM the literal-map rewrite must not reorder.",
    ))

    lines = [
        "# PLANS — physical-plan audit of the headline operators",
        "",
        f"Generated by `python tools/explain_audit.py {SF_DIR}` — re-run after",
        "operator changes; the assertions below are enforced, not aspirational.",
        "Each section: why the plan holds at 100 TB, then the actual",
        "`.explain('formatted')` output at this scale factor.",
        "",
    ]
    failures = []
    for title, df, reqs, commentary in audits:
        plan = fmt_plan(df)
        checks, names = [], {}
        for needle, must in reqs.items():
            alts = needle if isinstance(needle, tuple) else (needle,)
            label = " OR ".join(f"`{n}`" for n in alts)
            if isinstance(must, bool):
                ok = any(n in plan for n in alts) == must
                verdict = f"{'MUST' if must else 'MUST NOT'} contain " \
                          f"{label}"
            else:  # exact occurrence count (e.g. Exchange: 1)
                got = sum(plan.count(n) for n in alts)
                ok = got == must
                verdict = f"MUST contain exactly {must}x {label} " \
                          f"(got {got})"
            if not ok:
                failures.append(f"{title}: {verdict}")
            checks.append(f"{normalize_label(verdict, names)} — "
                          f"{'ok' if ok else 'VIOLATED'}")
        lines += [f"## {title}", "", commentary, ""]
        lines += [f"- {c}" for c in checks]
        lines += ["", "```", normalize_plan(plan.strip()[:3500]), "```",
                  ""]

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    if failures:
        print("PLAN ASSERTIONS VIOLATED:")
        for msg in failures:
            print(" -", msg)
        return 1
    print(f"all plan assertions hold ({len(audits)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
