"""tools/unreached.py as a gate: the package's public functions that no
root (bench, the contract, perfbench, tools, the API, the SQL entry)
reaches are exactly the ones kept on purpose. A new function that only
its tests call fails here, named in the message."""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# each kept name, and why nothing in the package reaches it
KEPT = {
    # the numpy reference the PageRank tests check against
    "rclip_server_spark.operators.graph.pagerank_numpy_reference",
    # the real-CLIP path (needs model weights; smoke-tested when present)
    "rclip_server_spark.operators.multimodal.embed_text_udf_from_factory",
    "rclip_server_spark.plans.embedder.ClipEmbedder",
    "rclip_server_spark.plans.embedder.real_clip_backend",
    # public verbs of kept families
    "rclip_server_spark.sources.ivfindex.refresh_ivf_index",
    "rclip_server_spark.sources.versioned.point_lookup_bucketed",
    "rclip_server_spark.sources.versioned.upsert_with_retry",
    # the stream test harness
    "rclip_server_spark.streaming.windows.read_events_stream",
    "rclip_server_spark.streaming.windows.run_stream_to_memory",
}


def test_unreached_prints_only_the_kept_names():
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "unreached.py")],
        capture_output=True, text=True, check=True, timeout=300).stdout
    found = {line.split()[0] for line in out.splitlines() if line.strip()}
    assert found - KEPT == set(), (
        "public package functions that no root reaches (delete them with "
        f"their tests, or reach them): {sorted(found - KEPT)}")
    assert KEPT - found == set(), (
        "kept names that a root now reaches (drop them from KEPT): "
        f"{sorted(KEPT - found)}")
