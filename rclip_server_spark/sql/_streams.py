"""SQL-started refresh streams: continuous cascade maintenance with
process-local StreamingQuery handles (see _STREAMS)."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession

from ._base import SqlError, _parse_options
from ._catalog import Catalog
from ._mvdef import _mv_transforms

# live handles keyed by (catalog root, lowercased view name).
# StreamingQuery handles are PROCESS-LOCAL: DESCRIBE VIEW reports
# liveness for streams started in this process; a stream started by
# another process shows as absent here (its wakes are still visible
# as the view's advancing cursor/version).
_STREAMS: dict[tuple, object] = {}


def _stream_key(catalog: Catalog, name: str) -> tuple:
    return (catalog.root, name.lower())


def _ckpt_root(catalog: Catalog, name: str) -> str:
    return os.path.join(catalog.root, ".streams", name.lower())


def _reap_stream_ckpts(catalog: Catalog, name: str) -> None:
    """Remove every checkpoint this view's streams ever wrote — run on
    DROP so a later same-named view can never resume a tail positioned
    for a different composition's base tables."""
    shutil.rmtree(_ckpt_root(catalog, name), ignore_errors=True)


def _start_refresh_stream(spark: SparkSession, catalog: Catalog, cur,
                          name: str):
    """``START REFRESH STREAM ON VIEW v [CASCADE]`` — continuous
    maintenance: one streaming query tails the view composition's
    BASE-table manifest logs and cascades a refresh bottom-up per
    micro-batch (streaming/sink.start_view_cascade_refresh_stream).
    The stream always cascades — it wakes on base-leaf commits, so
    every intermediate registered view on the path refreshes in
    order; the optional CASCADE keyword documents that.

    Each START gets a FRESH checkpoint directory
    (``<root>/.streams/<view>/<uuid>``): a shared path would let two
    processes' streams corrupt each other's offset logs, and a
    DROP-then-recreate would resume a tail positioned for the OLD
    composition's base tables. Nothing is lost by starting fresh —
    the starter runs one synchronous catch-up cascade before the tail
    begins, so the stream only needs future wakes. The previous
    checkpoint (same process) is reaped on the next START/STOP."""
    cur.take_kw("cascade")
    yield
    e = catalog.get(name)
    if e["kind"] == "table":
        raise SqlError(f"{name} is a base table — refresh streams "
                       f"maintain views")
    key = _stream_key(catalog, name)
    from ..streaming import sink

    old = _STREAMS.get(key)
    if old is not None:
        if old.isActive:
            raise SqlError(f"a refresh stream on {name} is already "
                           f"running in this process — STOP REFRESH "
                           f"STREAM ON VIEW {name} first")
        # the predecessor died asynchronously: release its vacuum
        # floors (the holder pid — this process — is still alive, so
        # dead-pid reaping would never fire and every vacuum would
        # stay pinned at the dead stream's cursor forever) AND reap
        # its checkpoint dir (the docstring's next-START/STOP promise;
        # repeated die-then-START cycles must not accrete orphans)
        sink.stop_view_refresh_stream(old)
        _STREAMS.pop(key, None)
        old_ckpt = getattr(old, "_rclip_ckpt", None)
        if old_ckpt:
            shutil.rmtree(old_ckpt, ignore_errors=True)

    ckpt = os.path.join(_ckpt_root(catalog, name), uuid.uuid4().hex)
    q = sink.start_view_cascade_refresh_stream(
        spark, e["path"], checkpoint_dir=ckpt,
        transforms=_mv_transforms(catalog))
    _STREAMS[key] = q
    setattr(q, "_rclip_ckpt", ckpt)
    return {"status": "stream_started", "name": name,
            "stream_id": str(q.id)}


def _stop_refresh_stream(spark: SparkSession, catalog: Catalog, cur,
                         name: str):
    yield
    catalog.get(name)  # unknown names error the same way everywhere
    key = _stream_key(catalog, name)
    q = _STREAMS.get(key)
    if q is None:
        raise SqlError(f"no refresh stream on {name} was started in "
                       f"this process")
    from ..streaming import sink

    # stop FIRST, pop only after it succeeds: popping first would
    # orphan a still-live query when stop() raises (py4j hiccup) —
    # unstoppable thereafter, and no longer blocking DROP.
    # stop_view_refresh_stream also releases the stream's vacuum
    # floors on the base tables (versioned.register_version_floor).
    sink.stop_view_refresh_stream(q)
    _STREAMS.pop(key, None)
    ckpt = getattr(q, "_rclip_ckpt", None)
    if ckpt:
        shutil.rmtree(ckpt, ignore_errors=True)
    return {"status": "stream_stopped", "name": name}


def _show_streams(spark: SparkSession, catalog: Catalog, cur):
    """Every live streaming query THIS process started through the
    frontend (refresh + copy ingest); handles are process-local, the
    same contract DESCRIBE VIEW's liveness states."""
    yield
    out = []
    for (root, label), q in _STREAMS.items():
        if root != catalog.root or not q.isActive:
            continue
        if label.startswith("copy:"):
            out.append({"name": label[5:], "type": "copy",
                        "stream_id": str(q.id)})
        else:
            out.append({"name": label, "type": "refresh",
                        "stream_id": str(q.id)})
    return sorted(out, key=lambda r: (r["name"], r["type"]))


def _stream_liveness(catalog: Catalog, name: str) -> dict:
    q = _STREAMS.get(_stream_key(catalog, name))
    if q is None:
        return {"live": False, "stream_id": None}
    return {"live": bool(q.isActive), "stream_id": str(q.id)}


# ---------------------------------------------------------------------------
# COPY STREAM: continuous file ingest into a versioned table
# ---------------------------------------------------------------------------


def _copy_stream_key(catalog: Catalog, name: str) -> tuple:
    # distinct key space: a table may be the target of an ingest
    # stream while a same-named view has a refresh stream
    return (catalog.root, "copy:" + name.lower())


def _copy_ckpt_root(catalog: Catalog, name: str) -> str:
    return os.path.join(catalog.root, ".streams",
                        "copy-" + name.lower())


def _start_copy_stream(spark: SparkSession, catalog: Catalog, cur):
    """``START COPY STREAM FROM '<dir>' INTO t [OPTIONS (...)]`` —
    continuous file ingest (streaming/sink.start_file_ingest_stream):
    each micro-batch reads only newly-landed files and commits through
    the exactly-once versioned sink.

    The checkpoint is PERSISTENT and keyed by (table, source, format):
    restarting the stream RESUMES its file index and batch-id sequence,
    so the table never double-ingests across process restarts — which
    also means ONE ingest identity per table: starting a copy stream
    from a DIFFERENT source directory is refused while the first
    identity's checkpoint exists (a fresh checkpoint would restart
    batch ids at 0 and the exactly-once log would silently skip them).
    DROP TABLE reaps the identity with the table."""
    src = cur.expect_str()
    cur.expect_kw("into")
    name = cur.expect_ident()
    opts = _parse_options(cur)
    yield
    import hashlib
    import json

    from ..sources import versioned as V
    from ..streaming import sink
    from ._dml import _writable_table

    e = _writable_table(catalog, name, "COPY STREAM")
    fmt = str(opts.get("format", "parquet")).lower()
    key = _copy_stream_key(catalog, name)
    old = _STREAMS.get(key)
    if old is not None and old.isActive:
        raise SqlError(f"a copy stream into {name} is already running "
                       f"in this process — STOP COPY STREAM ON {name} "
                       f"first")
    croot = _copy_ckpt_root(catalog, name)
    ident = hashlib.md5(
        f"{os.path.abspath(src)}|{fmt}".encode()).hexdigest()[:12]
    if os.path.isdir(croot):
        others = [d for d in os.listdir(croot)
                  if d != ident and not d.endswith(".json")]
        if others:
            marker = os.path.join(croot, others[0] + ".json")
            prev = "<unknown>"
            if os.path.exists(marker):
                with open(marker) as f:
                    prev = json.load(f).get("src", prev)
            raise SqlError(
                f"{name} already has an ingest identity (source "
                f"{prev!r}): one copy stream per table — resume it by "
                f"starting from the same source, or recreate the "
                f"table for a new one")
    ckpt = os.path.join(croot, ident)
    os.makedirs(croot, exist_ok=True)
    with open(os.path.join(croot, ident + ".json"), "w") as f:
        json.dump({"src": os.path.abspath(src), "format": fmt}, f)
    mf = int(opts["max_files"]) if "max_files" in opts else None
    header = opts.get("header", True)
    if isinstance(header, str):
        header = header.strip().lower() == "true"
    q = sink.start_file_ingest_stream(
        spark, src, e["path"], fmt=fmt, header=bool(header),
        checkpoint_dir=ckpt, max_files_per_trigger=mf)
    _STREAMS[key] = q
    # resume marker for DESCRIBE: the head before this process's tail
    setattr(q, "_rclip_ckpt", None)  # persistent — never auto-reaped
    return {"status": "copy_stream_started", "name": name,
            "from": src, "format": fmt, "stream_id": str(q.id),
            "resumed": V.committed_batch_ids(e["path"]) != set()}


def _stop_copy_stream(spark: SparkSession, catalog: Catalog, cur,
                      name: str):
    yield
    catalog.get(name)
    key = _copy_stream_key(catalog, name)
    q = _STREAMS.get(key)
    if q is None:
        raise SqlError(f"no copy stream into {name} was started in "
                       f"this process")
    q.stop()
    try:
        q.awaitTermination(30)
    except Exception:
        pass
    _STREAMS.pop(key, None)
    # the checkpoint stays: it IS the resume identity (batch ids +
    # file index); DROP TABLE reaps it with the table
    return {"status": "copy_stream_stopped", "name": name}
