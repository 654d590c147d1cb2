"""SQL frontend for the lakehouse layer: a driver-side statement
dispatcher that makes versioned tables and all five maintained-view
kinds (agg / transform / top-k / join / join-table) reachable through
SQL text instead of ``import matview``.

The reference's whole value was a *query interface* over its index
(rclip_server.py:85-106 serves parsed query strings); this module gives
the Spark engine the equivalent entry point for its storage layer:

* ``CREATE TABLE t [OPTIONS (key='id'[, buckets=N])] AS SELECT ...``
  (``buckets`` hash-routes rows into per-bucket segments — the
  co-located-join layout; INSERT appends per-bucket, the full-upsert
  MERGE rewrites only touched buckets, OPTIMIZE folds them) /
  ``CREATE TABLE t (col type, ...) [OPTIONS (...)]`` (explicit empty
  schema) / ``SHOW CREATE TABLE t`` (reconstructed DDL)
* ``INSERT INTO|OVERWRITE t SELECT ...`` / ``DELETE FROM t WHERE ...``
* ``UPDATE t SET col = expr WHERE ...`` / ``MERGE INTO t USING src ON
  t.k = s.k WHEN MATCHED [AND c] THEN UPDATE SET ...|DELETE / WHEN NOT
  MATCHED [BY TARGET] [AND c] THEN INSERT ... / WHEN NOT MATCHED BY
  SOURCE [AND c] THEN UPDATE ...|DELETE`` (the full Delta CDC-apply
  clause surface, including full-sync)
* ``ALTER TABLE t ADD COLUMN c <type> | DROP COLUMN c`` — O(1)
  schema evolution both ways (ADD: old segments read NULL; DROP:
  metadata-only hide, materialized by the next OPTIMIZE)
* ``ALTER TABLE t ADD CONSTRAINT nm CHECK (<expr>) | DROP CONSTRAINT
  nm`` — Delta-style table constraints: existing data validated once
  at ADD; every later batch enforced INLINE in its write job
  (assert_true wrap — zero extra pass, violating row named as JSON);
  NULL predicates pass (SQL CHECK unknown-is-satisfied)
* ``CREATE MATERIALIZED VIEW v [OPTIONS (...)] AS SELECT ...`` — the
  view KIND is inferred from the query shape (see ``_plan_mv``):
    - ``SELECT g, COUNT(*) AS c, SUM(x) AS s, MIN(y)... FROM t GROUP
      BY g``                         → incremental agg view
    - same over ``a [LEFT] JOIN b USING (k)``  → incremental join view
    - ``SELECT * FROM a [LEFT] JOIN b USING (k)`` → maintained join
      TABLE (the denormalized pre-join)
    - ``SELECT <exprs> FROM t [WHERE p]`` → row-transform view (the
      transform is the projection+filter itself; its identity is a
      hash of the normalized SQL so refreshes can't silently mix
      functions)
    - ``SELECT g..., id, score FROM t QUALIFY ROW_NUMBER() OVER
      (PARTITION BY g... ORDER BY score DESC, id ASC) <= k``
                                      → maintained top-k view
* ``REFRESH MATERIALIZED VIEW v [CASCADE]`` — kind-dispatched through
  matview.refresh_view / refresh_cascade (transform views have their
  function rebuilt from the catalog-recorded SQL).
* ``START REFRESH STREAM ON VIEW v [CASCADE]`` / ``STOP REFRESH
  STREAM ON VIEW v`` — continuous maintenance: a streaming query
  tails the composition's base-table manifest logs and cascades a
  refresh per micro-batch; ``DESCRIBE [MATERIALIZED] VIEW`` reports
  the stream's liveness.
* ``SELECT ...`` over any mix of registered tables/views — names are
  registered as Spark temp views (internal maintenance columns
  ``nn_*`` / ``_pair_key`` hidden, SQL aliases restored) and the text
  is delegated verbatim to ``spark.sql`` — so the FULL Spark SQL
  surface composes on top of maintained state. ``t VERSION AS OF n``
  / ``t TIMESTAMP AS OF '<ts>'`` time-travel a versioned table (the
  timestamp resolves against the commit clock DESCRIBE HISTORY
  reports); ``VACUUM t [KEEP n] DRY RUN`` previews a vacuum;
  ``RESTORE TABLE t TO TIMESTAMP AS OF '<ts>'`` is the timestamp
  flavor of the metadata-only rollback.
* ``CREATE MATERIALIZED VIEW v USING near_dup | embed_near_dup |
  text_index | ann_index OPTIONS (source='t', key='id', ...)`` — the
  algorithm-defined kinds that have no SQL shape to infer from: the
  maintained banded-MinHash / hyperplane-LSH pair tables, the
  maintained full-text (BM25) postings index (refresh O(changed
  docs); textindex.query_text_index scores from the postings,
  O(matching postings) per query), and the maintained ANN
  (hyperplane-LSH) index (annindex.query_ann_index scores only the
  probed buckets' rows).
* ``EXPLAIN <select>`` — the formatted physical plan, for checking
  pushdown/broadcast/shuffle shape from the same entry point.
* ``DESCRIBE [MATERIALIZED] VIEW v`` / ``DESCRIBE CASCADE v`` /
  ``DESCRIBE HISTORY t`` / ``SHOW TABLES`` — manifest-only metadata.
* ``DESCRIBE CHANGES t FROM v1 [TO v2]`` — the CDC read (table_changes
  with Delta-CDF pre-images): O(delta) over append-only intervals,
  one keyed snapshot diff when the interval rewrote data.
* ``VACUUM t [KEEP n]`` — cursor-safe: clamped to every registered
  view's refresh cursor (matview.vacuum_source_safely with the whole
  catalog as the dependent-view list).
* ``OPTIMIZE t [ZORDER BY (x, y) | BUCKET BY (key, n)]`` — fold
  accreted segments into one committed version (versioned.compact),
  recluster by Morton key with zone maps on both columns
  (cluster_zorder; within each bucket on the bucketed layout), or
  migrate a flat table to the hash-bucketed co-located layout
  (convert_to_bucketed).
* ``TRUNCATE TABLE t`` — reversible empty-the-table commit (zero-row
  overwrite; RESTORE undoes it; a bucketed table keeps its layout)
* ``ANALYZE TABLE t [COLUMNS (a, b)] [EXACT]`` / ``DESCRIBE STATS t``
  — one distributed agg pass (rows, per-column nulls/ndv/min/max)
  stored as a version-keyed sidecar; DESCRIBE STATS reports it with a
  staleness marker
* ``CREATE TABLE c CLONE t [VERSION AS OF n]`` — zero-copy SHALLOW
  clone: the new manifest references the source's segments by
  absolute path (O(manifest) at any size); writes diverge locally;
  the source's vacuum pins segments live clones still name
* ``COPY t FROM '<path>' [OPTIONS (format='csv'|'ndjson'|'parquet',
  header=...)]`` / ``COPY t | (SELECT ...) TO '<path>' [OPTIONS
  (format=..., partition_by='c1,c2', overwrite=true)]`` — distributed
  file ingest (schemaful scan + append commit through the layout
  dispatch) and export (optional Hive-style partition layout)
* ``START COPY STREAM FROM '<dir>' INTO t [OPTIONS (format=...,
  header=..., max_files=N)]`` / ``STOP COPY STREAM ON t`` —
  continuous file ingest (the Auto Loader idea): micro-batches read
  only newly-landed files and commit through the exactly-once
  versioned sink; the checkpoint is a persistent per-table ingest
  identity, so restarts resume instead of double-ingesting
* ``DROP TABLE t`` / ``DROP MATERIALIZED VIEW v``

Scale notes: every statement is driver-side manifest work plus the
same incremental refresh plans the Python API produces — the parser
adds zero Spark jobs and the generated plans are byte-identical to
the matview/versioned ones (the plan-audit assertions in PLANS.md
cover them). The catalog is a JSON file next to the tables; at 100 TB
the same statements run unchanged because names resolve to paths and
paths resolve to manifests, never to data scans.
"""

import os
import re
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources import matview as MV
from ..sources import versioned as V
from ._base import (  # noqa: F401 — public/compat surface
    SqlError,
    _Cursor,
    _find_top_level_kw,
    _ident_list,
    _mask,
    _matching_paren,
    _parse_options,
    _split_top_level,
    _strip_statement,
    _tk,
    _tokenize,
)
from ._catalog import Catalog  # noqa: F401
from ._dml import (  # noqa: F401
    _delete,
    _insert,
    _is_bucketed as _is_bucketed_entry,
    _merge,
    _merge_stage_plans,
    _update,
    _update_plan,
    _writable_table,
)
from ._mvdef import (  # noqa: F401
    _create_mv,
    _create_using,
    _dependents_of,
    _entry_owned_paths,
    _mv_transforms,
    _parse_mv_body,
    _strand_proof,
    _synth_transform,
    _transform_fn,
    _transform_name,
)
from ._reads import _read_entry, _run_select  # noqa: F401
from ._streams import (  # noqa: F401
    _STREAMS,
    _copy_ckpt_root,
    _copy_stream_key,
    _reap_stream_ckpts,
    _start_copy_stream,
    _start_refresh_stream,
    _stop_copy_stream,
    _stop_refresh_stream,
    _stream_key,
    _stream_liveness,
)




def _bucket_opts(opts: dict, key) -> int | None:
    """Validate the (buckets, key) option pair shared by both CREATE
    forms; returns the bucket count or None for a flat table."""
    buckets = opts.get("buckets")
    if buckets is None:
        return None
    if not isinstance(buckets, int) or buckets < 2:
        raise SqlError(f"OPTIONS buckets must be an integer >= 2, "
                       f"got {buckets!r}")
    if not key:
        raise SqlError("bucketed tables hash-route by the "
                       "row-identity column: OPTIONS (key='id', "
                       "buckets=N)")
    return buckets


def _show_create(catalog: Catalog, name: str) -> str:
    """Reconstruct a statement that would recreate the object: base
    tables from the manifest's committed col_types (+ declared key),
    SQL-shaped views from their catalog-recorded normalized SQL, the
    algorithm-defined pair views from their manifest spec (source path
    resolved back to its catalog name). Manifest/catalog reads only —
    zero Spark jobs."""
    e = catalog.get(name)
    if e["kind"] == "table":
        d = V.describe(e["path"])
        cols = ", ".join(f"{c} {t}" for c, t in d["col_types"].items())
        kv = []
        if e["meta"].get("key"):
            kv.append(f"key='{e['meta']['key']}'")
        if d.get("layout") == "bucketed":
            kv.append(f"buckets={d['n_buckets']}")
        opts = f" OPTIONS ({', '.join(kv)})" if kv else ""
        return f"CREATE TABLE {name} ({cols}){opts}"
    if e["kind"] in ("near_dup", "embed_near_dup"):
        spec = (V.describe(e["path"]).get("app") or {})
        prefix = "nd_" if e["kind"] == "near_dup" else "ed_"
        by_path = {v["path"]: n for n, v in catalog.snapshot().items()}
        parts = []
        for k in sorted(spec):
            if not k.startswith(prefix) or k.endswith("_version"):
                continue
            short = k[len(prefix):]
            val = spec[k]
            if short == "source":
                val = by_path.get(os.path.abspath(str(val)), val)
            parts.append(f"{short}={val!r}" if isinstance(val, str)
                         else f"{short}={val}")
        return (f"CREATE MATERIALIZED VIEW {name} USING {e['kind']} "
                f"OPTIONS ({', '.join(parts)})")
    kv = [(k, e["meta"][k]) for k in ("key", "left_key", "right_key")
          if e["meta"].get(k)]
    opts = (" OPTIONS (" + ", ".join(f"{k}='{v}'" for k, v in kv) + ")"
            if kv else "")
    return (f"CREATE MATERIALIZED VIEW {name}{opts} AS "
            f"{e['meta'].get('sql', '<unrecorded>')}")


def execute(spark: SparkSession, statement: str, catalog: Catalog):
    """Run one statement. Returns a DataFrame for SELECT, a dict (or
    list of dicts) for DDL/metadata statements."""
    text = _strip_statement(statement)
    head_m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", text)
    if not head_m:
        raise SqlError("empty statement")
    head = head_m.group(0).lower()

    # reads delegate to Spark SQL untokenized — the DDL mini-grammar
    # must never reject syntax that Spark accepts
    if head in ("select", "with", "values"):
        return _run_select(spark, text, catalog)

    if head == "explain":
        body = text[len(head_m.group(0)):].strip()
        df = _run_select(spark, body, catalog)
        jvm = spark.sparkContext._jvm
        return {"plan": jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")}

    # statements whose BODY is arbitrary Spark SQL are split by regex
    # (header) + delegation (body) for the same reason
    if head == "insert":
        m = re.match(
            r"insert\s+(into|overwrite)\s+([A-Za-z_][A-Za-z0-9_]*)"
            r"\s+(.+)$",
            text, re.IGNORECASE | re.DOTALL)
        if not m or not m.group(3).lower().lstrip().startswith(
                ("select", "with", "values")):
            raise SqlError("INSERT INTO|OVERWRITE t SELECT ... | "
                           "VALUES ...")
        return _insert(spark, catalog, m.group(2), m.group(3),
                       overwrite=m.group(1).lower() == "overwrite")

    if head == "delete":
        m = re.match(
            r"delete\s+from\s+([A-Za-z_][A-Za-z0-9_]*)\s+where\b\s*(.+)$",
            text, re.IGNORECASE | re.DOTALL)
        if not m:
            raise SqlError("DELETE FROM t WHERE <predicate>")
        return _delete(spark, catalog, m.group(1), m.group(2))

    if head == "update":
        fm = _mask(text)
        m = re.match(r"update\s+([A-Za-z_][A-Za-z0-9_]*)\s+set\b", fm,
                     re.IGNORECASE)
        # WHERE is found on the MASK, so a literal containing the word
        # can't split the statement (no scalar subqueries in SET)
        wm = re.search(r"\bwhere\b", fm, re.IGNORECASE)
        if not m or not wm or wm.start() < m.end():
            raise SqlError(
                "UPDATE t SET col = expr [, ...] WHERE <predicate>")
        return _update(spark, catalog, text[m.start(1):m.end(1)],
                       text[m.end():wm.start()], text[wm.end():])

    if head == "merge":
        return _merge(spark, catalog, text)

    if head == "copy":
        # COPY t FROM '<path>' [OPTIONS (format='parquet'|'csv'|
        # 'ndjson', header=true|false)] — distributed file ingest into
        # a versioned table: the files are scanned by Spark's parallel
        # reader (one task per split, same at 100 TB), csv/ndjson are
        # read WITH the table's declared schema (no inference job, no
        # type drift), and the batch lands as one append commit through
        # the layout dispatch (a bucketed target hash-routes per
        # bucket) with the usual schema drift guard.
        # COPY t | (SELECT ...) TO '<path>' [OPTIONS (format=...,
        # header=..., partition_by='c1,c2', overwrite=true)] — the
        # export half: distributed write, optional Hive-style
        # partition layout (downstream readers get partition pruning
        # for free). Refuses to clobber unless overwrite=true.
        fm = _mask(text)
        cm = re.match(r"copy\s*", fm, re.IGNORECASE)
        src_body = None
        if text[cm.end():cm.end() + 1] == "(":
            close = _matching_paren(fm, cm.end())
            src_body = text[cm.end() + 1:close].strip()
            if not src_body.lower().startswith(("select", "with",
                                                "values")):
                raise SqlError("COPY (SELECT ...) TO '<path>' — the "
                               "parenthesized source must be a query")
            tail = text[close + 1:]
        else:
            tail = text[cm.end():]
        tcur = _Cursor(_tokenize(tail), tail)
        name = None
        if src_body is None:
            name = tcur.expect_ident()
        if not (tcur.at_kw("from") or tcur.at_kw("to")):
            raise SqlError("COPY t FROM '<path>' | COPY t|(SELECT...) "
                           "TO '<path>'")
        direction = tcur.take().lower
        pt = tcur.take()
        if pt.kind != "str":
            raise SqlError("COPY needs a quoted file path")
        fpath = pt.text[1:-1].replace("''", "'")
        opts = _parse_options(tcur)
        if not tcur.done():
            raise SqlError("trailing tokens after COPY")
        fmt = str(opts.get("format", "parquet")).lower()
        if fmt not in ("parquet", "csv", "ndjson"):
            raise SqlError(f"COPY format must be parquet, csv, or "
                           f"ndjson, got {fmt!r}")

        def _flag(k: str, default: bool = False) -> bool:
            # accept both the bare literal (header=false) and the
            # quoted form (header='false'): a truthiness test on the
            # string 'false' would silently enable the flag
            v = opts.get(k, default)
            if isinstance(v, str):
                if v.strip().lower() not in ("true", "false"):
                    raise SqlError(f"COPY option {k} must be "
                                   f"true or false, got {v!r}")
                return v.strip().lower() == "true"
            return bool(v)

        header = _flag("header", True)
        if direction == "from":
            if src_body is not None:
                raise SqlError("COPY FROM targets a table, not a "
                               "query")
            e = _writable_table(catalog, name, "COPY")
            if fmt == "parquet":
                # parquet carries its own schema; append's drift
                # guard judges compatibility with the declared types
                batch = spark.read.parquet(fpath)
            else:
                # schemaful scan: the TABLE's visible schema is pushed
                # to the reader, so there is no inference pass and a
                # malformed value fails the load, not a later query —
                # FAILFAST makes that promise real (Spark's default
                # PERMISSIVE mode would silently NULL the bad value
                # and commit it, and NULLs even satisfy CHECK
                # constraints under unknown-is-satisfied)
                schema = _read_entry(spark, e).limit(0).schema
                rd = spark.read.schema(schema).option("mode",
                                                      "FAILFAST")
                if fmt == "csv":
                    batch = rd.option(
                        "header", "true" if header else "false"
                    ).csv(fpath)
                else:
                    batch = rd.json(fpath)
            try:
                ver = V.append(spark, e["path"], batch)
            except (V.SchemaDriftError, ValueError) as ex:
                raise SqlError(str(ex)) from ex
            return {"status": "copied", "name": name, "from": fpath,
                    "format": fmt, "version": ver}
        if src_body is not None:
            df = _run_select(spark, src_body, catalog)
        else:
            df = _read_entry(spark, catalog.get(name))
        if opts.get("shards"):
            # COPY ... TO '<dir>' OPTIONS (shards=N, shard_by='id'
            # [, salt='epoch0', overwrite=true]) — training-shard
            # export (sampling.export_training_shards): deterministic
            # hash-shuffled shard=N/ parquet dirs in pseudorandom read
            # order + a read-back-verified _shards.json manifest
            shard_by = opts.get("shard_by")
            if not isinstance(shard_by, str) or not shard_by:
                raise SqlError("COPY TO with shards=N needs "
                               "shard_by='<id column>'")
            if shard_by not in df.columns:
                raise SqlError(f"shard_by column {shard_by!r} not in "
                               f"the output ({df.columns})")
            if str(opts.get("format", "parquet")).lower() != "parquet":
                raise SqlError("sharded COPY TO writes parquet only")
            if opts.get("partition_by"):
                raise SqlError("shards and partition_by are exclusive "
                               "— the shard IS the partition")
            from ..operators.sampling import export_training_shards

            try:
                mf = export_training_shards(
                    df, shard_by, int(opts["shards"]), fpath,
                    salt=str(opts.get("salt", "shuffle")),
                    overwrite=_flag("overwrite"))
            except ValueError as ex:
                raise SqlError(str(ex)) from ex
            return {"status": "copied", "to": fpath,
                    "format": "parquet", "n_shards": mf["n_shards"],
                    "total_rows": mf["total_rows"]}
        w = df.write.mode(
            "overwrite" if _flag("overwrite") else "errorifexists")
        pb = opts.get("partition_by")
        part_cols = []
        if pb:
            part_cols = [c.strip() for c in str(pb).split(",")
                         if c.strip()]
            missing = [c for c in part_cols if c not in df.columns]
            if missing:
                raise SqlError(f"partition_by column(s) {missing} not "
                               f"in the output ({df.columns})")
            w = w.partitionBy(*part_cols)
        try:
            if fmt == "parquet":
                w.parquet(fpath)
            elif fmt == "csv":
                w.option("header", "true" if header else "false"
                         ).csv(fpath)
            else:
                w.json(fpath)
        except Exception as ex:
            if "already exists" in str(ex).lower():
                raise SqlError(
                    f"COPY TO target {fpath!r} exists — pass OPTIONS "
                    f"(overwrite=true) to replace it") from ex
            raise
        out = {"status": "copied", "to": fpath, "format": fmt}
        if part_cols:
            out["partition_by"] = part_cols
        if name is not None:
            out["name"] = name
        return out

    if head == "create" and re.match(
            r"create\s+table\s+[A-Za-z_][A-Za-z0-9_]*\s+clone\b",
            text, re.IGNORECASE):
        # CREATE TABLE c CLONE t [VERSION AS OF n] — SHALLOW clone
        # (versioned.clone): the new table's manifest references the
        # source's segments by absolute path, zero bytes copied at any
        # table size. Writes diverge as clone-local segments; the
        # source's vacuum keeps every segment a live clone still
        # names (ref files under _clones/); OPTIMIZE c materializes.
        m = re.match(
            r"create\s+table\s+([A-Za-z_][A-Za-z0-9_]*)\s+clone\s+"
            r"([A-Za-z_][A-Za-z0-9_]*)"
            r"(?:\s+version\s+as\s+of\s+(\d+))?\s*$",
            text, re.IGNORECASE)
        if not m:
            raise SqlError("CREATE TABLE c CLONE t "
                           "[VERSION AS OF <int>]")
        name, src_name, ver = m.group(1), m.group(2), m.group(3)
        catalog.check_available(name)
        se = _writable_table(catalog, src_name, "CLONE")
        path = catalog.path_for(name)

        def _mk_clone() -> dict:
            try:
                V.clone(se["path"], path,
                        None if ver is None else int(ver))
            except (ValueError, FileNotFoundError) as ex:
                raise SqlError(str(ex)) from ex
            catalog.register(name, path, kind="table",
                             meta=dict(se["meta"]), require_path=True)
            return {"status": "created", "name": name, "path": path,
                    "cloned_from": src_name, "version": 1}

        return _strand_proof(catalog, [path], _mk_clone)

    if head == "create" and re.match(
            r"create\s+table\s+[A-Za-z_][A-Za-z0-9_]*\s*\(", text,
            re.IGNORECASE):
        # CREATE TABLE t (a BIGINT, b STRING, ...) [OPTIONS (...)] —
        # explicit empty-schema declaration. The parenthesized column
        # list is handed to Spark VERBATIM as a DDL schema string
        # (struct<>/decimal()/array<> all legal), so Spark judges type
        # syntax, not the mini-grammar.
        fm0 = _mask(text)
        nm = re.match(r"create\s+table\s+([A-Za-z_][A-Za-z0-9_]*)\s*",
                      fm0, re.IGNORECASE)
        name = text[nm.start(1):nm.end(1)]
        copen = nm.end()
        cclose = _matching_paren(fm0, copen)
        ddl = text[copen + 1:cclose].strip()
        if not ddl:
            raise SqlError("CREATE TABLE t (col type, ...) needs at "
                           "least one column")
        tail = text[cclose + 1:].strip()
        opts = {}
        if tail:
            tcur = _Cursor(_tokenize(tail), tail)
            opts = _parse_options(tcur)
            if not tcur.done() or not opts:
                # no silent discard: "(cols) AS SELECT ..." would
                # otherwise create an empty table and drop the query
                raise SqlError(
                    f"unexpected tokens after the column list: "
                    f"{tail!r} (explicit-schema CREATE TABLE takes "
                    f"only OPTIONS (...); use CREATE TABLE t AS "
                    f"SELECT to load data)")
        catalog.check_available(name)
        try:
            empty = spark.createDataFrame([], ddl)
        except Exception as ex:
            raise SqlError(f"bad column list {ddl!r}: {ex}") from ex
        key = opts.get("key")
        if key is not None and not isinstance(key, str):
            raise SqlError(f"OPTIONS key must be a quoted column "
                           f"name, got {key!r}")
        if key and key.lower() not in {c.lower() for c in empty.columns}:
            raise SqlError(f"OPTIONS key {key!r} is not a declared "
                           f"column ({empty.columns})")
        buckets = _bucket_opts(opts, key)
        path = catalog.path_for(name)

        def _mk_empty() -> dict:
            if buckets:
                # empty bucketed declaration: the manifest records the
                # layout + col_types; versioned.read serves the
                # schema-accurate zero-row frame until the first INSERT
                ver = V.create_bucketed(spark, path, empty, key=key,
                                        n_buckets=buckets)
            else:
                ver = V.create(spark, path, empty)
            catalog.register(name, path, kind="table",
                             meta={"key": key} if key else {},
                             require_path=True)
            return {"status": "created", "name": name, "path": path,
                    "version": ver}

        return _strand_proof(catalog, [path], _mk_empty)

    if head == "create" and re.match(r"create\s+table\b", text,
                                     re.IGNORECASE):
        m = re.match(
            r"create\s+table\s+([A-Za-z_][A-Za-z0-9_]*)\s*"
            r"(options\s*\([^)]*\))?\s*as\b\s*(.+)$",
            text, re.IGNORECASE | re.DOTALL)
        if not m:
            raise SqlError("CREATE TABLE name [OPTIONS (...)] AS SELECT")
        name = m.group(1)
        catalog.check_available(name)
        opts = {}
        if m.group(2):
            opts = _parse_options(_Cursor(_tokenize(m.group(2)),
                                          m.group(2)))
        if opts.get("key") is not None and \
                not isinstance(opts["key"], str):
            raise SqlError(f"OPTIONS key must be a quoted column "
                           f"name, got {opts['key']!r}")
        df = _run_select(spark, m.group(3), catalog)
        path = catalog.path_for(name)

        buckets = _bucket_opts(opts, opts.get("key"))
        if buckets and opts["key"].lower() not in {
                c.lower() for c in df.columns}:
            raise SqlError(f"OPTIONS key {opts['key']!r} is not a "
                           f"column of the SELECT ({df.columns})")

        def _mk_table() -> dict:
            if buckets:
                # physical co-location: rows hash-route by the key
                # into per-bucket segments, so every later key-equi
                # join/upsert touches only its buckets
                ver = V.create_bucketed(spark, path, df,
                                        key=opts["key"],
                                        n_buckets=buckets)
            else:
                ver = V.create(spark, path, df)
            catalog.register(name, path, kind="table",
                             meta={"key": opts.get("key")}
                             if opts.get("key") else {},
                             require_path=True)
            return {"status": "created", "name": name, "path": path,
                    "version": ver}

        return _strand_proof(catalog, [path], _mk_table)

    if head == "alter" and re.search(r"\bconstraint\b", _mask(text),
                                     re.IGNORECASE):
        # ALTER TABLE t ADD CONSTRAINT nm CHECK (<expr>) — validates
        # existing data (one filter-count; refused with the violation
        # count), then commits metadata-only; every later batch is
        # enforced INLINE in its write job (versioned.
        # _apply_constraints wraps rows with assert_true — zero extra
        # pass, and the error names the violating row as JSON).
        # ALTER TABLE t DROP CONSTRAINT nm — metadata-only removal.
        fm = _mask(text)
        dm = re.match(
            r"alter\s+table\s+([A-Za-z_][A-Za-z0-9_]*)\s+drop\s+"
            r"constraint\s+([A-Za-z_][A-Za-z0-9_]*)\s*$",
            fm, re.IGNORECASE)
        if dm:
            name, cname = dm.group(1), dm.group(2)
            e = _writable_table(catalog, name, "ALTER TABLE")
            try:
                ver = V.drop_constraint(spark, e["path"], cname)
            except ValueError as ex:
                raise SqlError(str(ex)) from ex
            return {"status": "altered", "name": name,
                    "dropped_constraint": cname, "version": ver}
        am = re.match(
            r"alter\s+table\s+([A-Za-z_][A-Za-z0-9_]*)\s+add\s+"
            r"constraint\s+([A-Za-z_][A-Za-z0-9_]*)\s+check\s*\(",
            fm, re.IGNORECASE)
        if not am:
            raise SqlError("ALTER TABLE t ADD CONSTRAINT nm CHECK "
                           "(<expr>) | DROP CONSTRAINT nm")
        copen = am.end() - 1
        cclose = _matching_paren(fm, copen)
        expr = text[copen + 1:cclose].strip()
        if text[cclose + 1:].strip():
            raise SqlError("trailing tokens after CHECK (...)")
        if not expr:
            raise SqlError("empty CHECK expression")
        name, cname = am.group(1), am.group(2)
        e = _writable_table(catalog, name, "ALTER TABLE")
        try:
            ver = V.add_constraint(spark, e["path"], cname, expr)
        except ValueError as ex:
            raise SqlError(str(ex)) from ex
        return {"status": "altered", "name": name,
                "added_constraint": {cname: expr}, "version": ver}

    if head == "alter":
        # ALTER TABLE t ADD COLUMN c <type> — schema evolution via the
        # append path's drift guard: ONE zero-row segment carrying the
        # evolved schema is committed (O(1), no data read or rewritten;
        # OPTIMIZE folds it away later). Old segments read the new
        # column as NULL (mergeSchema), DESCRIBE shows the evolved
        # col_types from the new manifest, and the next INSERT must
        # supply the column positionally like any other. Header split
        # by regex (not the tokenizer): the type text is Spark DDL —
        # struct<a:int> etc. contain characters the mini-tokenizer
        # doesn't know, and Spark is the judge of type legality.
        dm = re.match(
            r"alter\s+table\s+([A-Za-z_][A-Za-z0-9_]*)\s+drop\s+"
            r"column\s+([A-Za-z_][A-Za-z0-9_]*)\s*$",
            text, re.IGNORECASE)
        if dm:
            # DROP COLUMN: O(1) metadata-only commit (versioned.
            # drop_column hides the column at the read projection; the
            # next OPTIMIZE materializes). Refused while any
            # registered view reads this table — a view spec may
            # aggregate the column, and its refresh would silently
            # lose it mid-interval.
            name, col = dm.group(1), dm.group(2)
            e = _writable_table(catalog, name, "ALTER TABLE")
            key = e["meta"].get("key")
            if key and key.lower() == col.lower():
                raise SqlError(
                    f"cannot drop {name}'s declared row-identity "
                    f"column {key!r}")
            deps = _dependents_of(catalog, name, e)
            if deps:
                raise SqlError(
                    f"cannot drop a column of {name}: registered "
                    f"view(s) {deps} read this table — DROP them "
                    f"first")
            try:
                ver = V.drop_column(spark, e["path"], col)
            except ValueError as ex:
                raise SqlError(str(ex)) from ex
            return {"status": "altered", "name": name,
                    "dropped": col, "version": ver}
        m = re.match(
            r"alter\s+table\s+([A-Za-z_][A-Za-z0-9_]*)\s+add\s+"
            r"column\s+([A-Za-z_][A-Za-z0-9_]*)\s+(\S.*)$",
            text, re.IGNORECASE | re.DOTALL)
        if not m:
            raise SqlError("ALTER TABLE t ADD COLUMN c <type> | "
                           "DROP COLUMN c")
        name, col, type_text = m.group(1), m.group(2), m.group(3).strip()
        e = _writable_table(catalog, name, "ALTER TABLE")
        if _is_bucketed_entry(e):
            # bucketed twin: metadata-only manifest evolution (there
            # is no natural bucket for a zero-row segment); reads
            # reconcile the declared-but-unwritten column as typed
            # NULLs (versioned.add_column / versioned.read)
            try:
                ver = V.add_column(spark, e["path"], col, type_text)
            except ValueError as ex:
                raise SqlError(str(ex)) from ex
            return {"status": "altered", "name": name,
                    "added": {col: type_text}, "version": ver}
        df = _read_entry(spark, e)
        clash = next((c for c in df.columns
                      if c.lower() == col.lower()), None)
        if clash:
            raise SqlError(f"column {clash!r} already exists on "
                           f"{name} (names resolve case-"
                           f"insensitively)")
        try:
            empty = df.limit(0).withColumn(
                col, F.lit(None).cast(type_text))
        except Exception as ex:
            raise SqlError(
                f"bad column type {type_text!r} for ALTER TABLE "
                f"ADD COLUMN: {ex}") from ex
        ver = V.append(spark, e["path"], empty)
        return {"status": "altered", "name": name,
                "added": {col: type_text}, "version": ver}

    toks = _tokenize(text)
    cur = _Cursor(toks, text)

    if head == "show":
        cur.take()
        if cur.at_kw("create"):
            cur.take()
            cur.expect_kw("table")
            name = cur.expect_ident()
            if not cur.done():
                raise SqlError("trailing tokens after SHOW CREATE "
                               "TABLE")
            return {"name": name,
                    "create_statement": _show_create(catalog, name)}
        if cur.at_kw("streams"):
            # SHOW STREAMS — every live streaming query THIS process
            # started through the frontend (refresh + copy ingest);
            # handles are process-local, same contract DESCRIBE VIEW's
            # liveness states
            cur.take()
            if not cur.done():
                raise SqlError("trailing tokens after SHOW STREAMS")
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
        cur.expect_kw("tables")
        return [{"name": n, **{k: e[k] for k in ("kind", "path")}}
                for n, e in sorted(catalog.snapshot().items())]

    if head == "analyze":
        # ANALYZE TABLE t [COLUMNS (a, b, ...)] [EXACT] — one
        # distributed agg pass (versioned.analyze): row count + per
        # analyzable column nulls / ndv (HLL approx by default, the
        # one-pass choice at 100 TB; EXACT switches to COUNT DISTINCT)
        # / min / max, stored as a _stats/v{N}.json sidecar keyed by
        # the analyzed version. DESCRIBE STATS t serves it.
        cur.take()
        cur.expect_kw("table")
        name = cur.expect_ident()
        columns = None
        if cur.at_kw("columns"):
            cur.take()
            cur.expect_op("(")
            columns = _ident_list(cur)
            cur.expect_op(")")
        exact = False
        if cur.at_kw("exact"):
            cur.take()
            exact = True
        if not cur.done():
            raise SqlError("ANALYZE TABLE t [COLUMNS (a, b, ...)] "
                           "[EXACT]")
        e = _writable_table(catalog, name, "ANALYZE TABLE")
        try:
            stats = V.analyze(spark, e["path"], columns=columns,
                              exact_ndv=exact)
        except ValueError as ex:
            raise SqlError(str(ex)) from ex
        return {"status": "analyzed", "name": name, **stats}

    if head == "describe":
        cur.take()
        if cur.at_kw("stats"):
            cur.take()
            name = cur.expect_ident()
            if not cur.done():
                raise SqlError("trailing tokens after DESCRIBE STATS")
            e = _writable_table(catalog, name, "DESCRIBE STATS")
            try:
                out = V.describe_stats(e["path"])
            except FileNotFoundError as ex:
                raise SqlError(str(ex)) from ex
            out["name"] = name
            return out
        if cur.at_kw("history"):
            cur.take()
            return V.history(catalog.get(cur.expect_ident())["path"])
        if cur.at_kw("changes"):
            # DESCRIBE CHANGES t FROM v1 [TO v2] — the CDC read
            # (versioned.table_changes with Delta-CDF pre-images):
            # returns a DataFrame of changed rows tagged _change_type.
            # O(delta) segment read over append-only intervals; one
            # keyed snapshot diff (the table's declared key) when the
            # interval rewrote data — the honest cost, stated in the
            # function's contract.
            cur.take()
            name = cur.expect_ident()
            cur.expect_kw("from")
            t1 = cur.take()
            if t1.kind != "num" or "." in t1.text:
                raise SqlError("DESCRIBE CHANGES t FROM <int> "
                               "[TO <int>]")
            v_to = None
            if cur.at_kw("to"):
                cur.take()
                t2 = cur.take()
                if t2.kind != "num" or "." in t2.text:
                    raise SqlError("DESCRIBE CHANGES ... TO <int>")
                v_to = int(t2.text)
            if not cur.done():
                raise SqlError("trailing tokens after DESCRIBE "
                               "CHANGES")
            e = _writable_table(catalog, name, "DESCRIBE CHANGES")
            try:
                return V.table_changes(
                    spark, e["path"], from_version=int(t1.text),
                    to_version=v_to, key=e["meta"].get("key"),
                    include_preimage=True)
            except (ValueError, FileNotFoundError) as ex:
                raise SqlError(str(ex)) from ex
        if cur.at_kw("cascade"):
            cur.take()
            return MV.describe_cascade(
                catalog.get(cur.expect_ident())["path"])
        if cur.at_kw("index"):
            # DESCRIBE INDEX i — the maintained-index health window:
            # kind, key, at-rest layout (+n_buckets), cursor lag vs
            # the source head, row/segment counts, kind params, and
            # (IVF) the drift readout with its alarm verdict. All
            # KB-sized manifest reads, zero Spark jobs.
            cur.take()
            name = cur.expect_ident()
            if not cur.done():
                raise SqlError("trailing tokens after DESCRIBE INDEX")
            try:
                out = MV.describe_index(catalog.get(name)["path"])
            except ValueError as ex:
                raise SqlError(str(ex)) from ex
            out["name"] = name
            out["refresh_stream"] = _stream_liveness(catalog, name)
            return out
        is_view = False
        if cur.at_kw("materialized"):
            cur.take()
            cur.expect_kw("view")
            is_view = True
        elif cur.at_kw("view"):
            cur.take()
            is_view = True
        name = cur.expect_ident()
        if not cur.done():
            raise SqlError("trailing tokens after DESCRIBE")
        if is_view:
            out = MV.describe_view(catalog.get(name)["path"])
            out["refresh_stream"] = _stream_liveness(catalog, name)
            return out
        # plain DESCRIBE t: the everyday "what is this?" — schema,
        # layout, row/segment counts (manifest-only, zero Spark jobs),
        # plus what the catalog knows (kind, declared key)
        e = catalog.get(name)
        out = V.describe(e["path"])
        out["name"] = name
        out["kind"] = e["kind"]
        if e["meta"].get("key"):
            out["key"] = e["meta"]["key"]
        return out

    if head == "retrain":
        # RETRAIN INDEX i — the IVF drift heal as one statement: new
        # kmeans centroids (+ PQ codebooks, create-recipe) over the
        # source HEAD, full reassignment, cursor advanced, drift
        # baseline reset. Only the kmeans-trained IVF kind supports
        # an in-band retrain (explicit quantizers need their new
        # literals through the Python API).
        cur.take()
        cur.expect_kw("index")
        name = cur.expect_ident()
        if not cur.done():
            raise SqlError("trailing tokens after RETRAIN INDEX")
        e = catalog.get(name)
        if e["kind"] != "ivf_index":
            raise SqlError(f"RETRAIN INDEX heals an ivf_index view; "
                           f"{name} is a {e['kind']}")
        from ..sources import ivfindex as II

        try:
            ver = II.retrain_ivf_index(spark, e["path"])
        except ValueError as ex:
            raise SqlError(str(ex)) from ex
        return {"status": "retrained", "name": name, "version": ver}

    if head == "refresh":
        cur.take()
        cur.expect_kw("materialized")
        cur.expect_kw("view")
        name = cur.expect_ident()
        cascade = False
        if cur.at_kw("cascade"):
            cur.take()
            cascade = True
        if not cur.done():
            raise SqlError("trailing tokens after REFRESH")
        e = catalog.get(name)
        path = e["path"]
        transforms = _mv_transforms(catalog)
        if cascade:
            refreshed = MV.refresh_cascade(spark, path,
                                           transforms=transforms)
            return {"status": "refreshed", "name": name,
                    "refreshed_paths": refreshed}
        # a stacked view (COUNT DISTINCT) is a chain — plain REFRESH
        # advances exactly its hidden levels then the top, NEVER other
        # user-registered upstream views (that's what CASCADE is for)
        stack = e["meta"].get("stack") or []
        for p in stack:
            MV.refresh_view(spark, p, transforms=transforms)
        ver = MV.refresh_view(spark, path, transforms=transforms)
        out = {"status": "refreshed", "name": name, "version": ver}
        if stack:
            out["refreshed_paths"] = stack + [path]
        return out

    if head == "create":
        cur.take()
        if cur.at_kw("materialized"):
            cur.take()
            cur.expect_kw("view")
            name = cur.expect_ident()
            if cur.at_kw("using"):
                # non-SQL-expressible maintained kinds declare a USING
                # clause instead of a SELECT body — currently the
                # banded-MinHash near-dup pair table
                cur.take()
                kind = cur.expect_ident().lower()
                opts = _parse_options(cur)
                if not cur.done():
                    raise SqlError("trailing tokens after OPTIONS")
                return _create_using(spark, catalog, name, kind, opts)
            opts = _parse_options(cur)
            cur.expect_kw("as")
            body = text[cur.peek().start:] if not cur.done() else ""
            plan = _parse_mv_body(cur)
            # name validation FIRST so an ordinary duplicate reports
            # "already exists — DROP it first", not an orphan warning
            catalog.check_available(name)
            # only the AGG kind self-wraps via its distinct chain —
            # mirror _create_mv's dispatch exactly (join TABLE plans
            # carry no select items at all: SELECT * shape)
            if plan.kind == "agg" and any(
                    i.kind == "count_distinct"
                    for i in getattr(plan, "items", None) or []):
                # the distinct chain wraps itself (it owns two extra
                # hidden paths) — no outer wrap, no double reap
                return _create_mv(spark, catalog, name, opts, plan,
                                  body)
            return _strand_proof(
                catalog, [catalog.path_for(name)],
                lambda: _create_mv(spark, catalog, name, opts, plan,
                                   body))
        raise SqlError("CREATE supports TABLE ... AS and "
                       "MATERIALIZED VIEW ... AS")

    if head == "drop":
        cur.take()
        want_view = False
        if cur.at_kw("materialized"):
            cur.take()
            cur.expect_kw("view")
            want_view = True
        else:
            cur.expect_kw("table")
        name = cur.expect_ident()
        e = catalog.get(name)
        # the statement form must match the entry's kind: "DROP TABLE
        # v" silently deleting a materialized view's state (or the
        # reverse) is how users lose data to a typo
        if want_view and e["kind"] == "table":
            raise SqlError(f"{name} is a base table — use DROP TABLE")
        if not want_view and e["kind"] != "table":
            raise SqlError(f"{name} is a materialized view "
                           f"({e['kind']}) — use DROP MATERIALIZED "
                           f"VIEW")
        # refuse to drop an object other registered views read: their
        # manifests would point at rmtree'd directories forever
        dependents = _dependents_of(catalog, name, e)
        if dependents:
            raise SqlError(
                f"cannot drop {name}: registered view(s) "
                f"{dependents} read it — DROP them first")
        # same rule for shallow clones — but MANIFEST-WALKING, the
        # same liveness vacuum's segment pinning uses: a clone whose
        # retained history still names this table's segment dirs
        # blocks the drop; one fully localized (OPTIMIZE + VACUUM of
        # its old manifests) or dropped releases it
        if e["kind"] == "table":
            clones = V.clones_still_referencing(e["path"])
            if clones:
                raise SqlError(
                    f"cannot drop {name}: live clone(s) at {clones} "
                    f"still reference its segments — DROP them, or "
                    f"localize them (OPTIMIZE + VACUUM) first")
        live = _STREAMS.get(_stream_key(catalog, name))
        if live is not None and live.isActive:
            raise SqlError(
                f"cannot drop {name}: a refresh stream is "
                f"maintaining it — STOP REFRESH STREAM ON VIEW "
                f"{name} first")
        live_copy = _STREAMS.get(_copy_stream_key(catalog, name))
        if live_copy is not None and live_copy.isActive:
            raise SqlError(
                f"cannot drop {name}: a copy stream is ingesting "
                f"into it — STOP COPY STREAM ON {name} first")
        catalog.unregister(name)
        spark.catalog.dropTempView(name)  # no stale reads post-drop
        doomed = _entry_owned_paths(e)
        for d in doomed:
            if os.path.isdir(d):
                shutil.rmtree(d)
        # a later same-named view must never resume a stale stream
        # checkpoint positioned for THIS composition's base tables;
        # a dropped table's ingest identity (copy-stream checkpoint +
        # batch-id sequence) dies with it too
        _reap_stream_ckpts(catalog, name)
        shutil.rmtree(_copy_ckpt_root(catalog, name),
                      ignore_errors=True)
        return {"status": "dropped", "name": name}

    if head in ("start", "stop"):
        verb = cur.take().lower
        if cur.at_kw("copy"):
            # START COPY STREAM FROM '<dir>' INTO t [OPTIONS
            # (format=..., header=..., max_files=N)] /
            # STOP COPY STREAM ON t — continuous file ingest into a
            # versioned table through the exactly-once sink, with a
            # persistent resume identity per (table, source, format)
            cur.take()
            cur.expect_kw("stream")
            if verb == "stop":
                cur.expect_kw("on")
                name = cur.expect_ident()
                if not cur.done():
                    raise SqlError("trailing tokens after STOP COPY "
                                   "STREAM")
                return _stop_copy_stream(catalog, name)
            cur.expect_kw("from")
            pt = cur.take()
            if pt.kind != "str":
                raise SqlError("START COPY STREAM FROM '<dir>' "
                               "INTO t")
            src = pt.text[1:-1].replace("''", "'")
            cur.expect_kw("into")
            name = cur.expect_ident()
            opts = _parse_options(cur)
            if not cur.done():
                raise SqlError("trailing tokens after START COPY "
                               "STREAM")
            return _start_copy_stream(spark, catalog, name, src, opts)
        cur.expect_kw("refresh")
        cur.expect_kw("stream")
        cur.expect_kw("on")
        cur.expect_kw("view")
        name = cur.expect_ident()
        if verb == "start" and cur.at_kw("cascade"):
            cur.take()  # the stream always cascades; keyword is doc
        if not cur.done():
            raise SqlError(f"trailing tokens after "
                           f"{verb.upper()} REFRESH STREAM")
        if verb == "start":
            return _start_refresh_stream(spark, catalog, name)
        return _stop_refresh_stream(catalog, name)

    if head == "optimize":
        cur.take()
        name = cur.expect_ident()
        # OPTIMIZE is STATE-PRESERVING (compaction / clustering /
        # layout migration) — legal on maintained views too, unlike
        # DML: refresh accretion (delete_and_append segments +
        # vectors) folds back down without diverging the view from
        # its definition, and the app-namespace spec carries through
        # every compaction commit
        e = catalog.get(name)
        if cur.at_kw("zorder"):
            cur.take()
            cur.expect_kw("by")
            cur.expect_op("(")
            cols = _ident_list(cur)
            cur.expect_op(")")
            if len(cols) != 2:
                raise SqlError("OPTIMIZE t ZORDER BY (x, y) takes "
                               "exactly two columns (Morton key)")
            if not cur.done():
                raise SqlError("trailing tokens after ZORDER BY (...)")
            try:
                ver = V.cluster_zorder(spark, e["path"], cols[0], cols[1])
            except ValueError as ex:
                raise SqlError(str(ex)) from ex
            return {"status": "optimized", "name": name,
                    "zorder_by": cols, "version": ver}
        if cur.at_kw("bucket"):
            # OPTIMIZE t BUCKET BY (key, N) — migrate a flat table to
            # the hash-bucketed co-located layout as one committed
            # rewrite (versioned.convert_to_bucketed); older versions
            # stay flat, RESTORE returns to flat
            cur.take()
            cur.expect_kw("by")
            cur.expect_op("(")
            bcol = cur.expect_ident()
            cur.expect_op(",")
            t = cur.take()
            if t.kind != "num" or "." in t.text:
                raise SqlError("OPTIMIZE t BUCKET BY (key, <int>)")
            n_buckets = int(t.text)
            cur.expect_op(")")
            if not cur.done():
                raise SqlError("trailing tokens after BUCKET BY (...)")
            if n_buckets < 2:
                raise SqlError("bucket count must be >= 2")
            # index kinds: OPTIMIZE v BUCKET BY (<probe col>, N) lays
            # the maintained index out by its probe column so serving
            # queries skip FILES (only the probed buckets' segments
            # are named in the plan), not rows
            from ..sources import indexkind as IK

            kinds = IK.kinds()
            if e["kind"] in kinds:
                col = kinds[e["kind"]].probe_col
                if bcol.lower() != col:
                    raise SqlError(
                        f"a {e['kind']} view buckets by its "
                        f"{col!r} column (got {bcol!r})")
                try:
                    ver = IK.convert_index_to_bucketed(
                        spark, e["path"], n_buckets)
                except ValueError as ex:
                    raise SqlError(str(ex)) from ex
                return {"status": "optimized", "name": name,
                        "bucketed_by": col,
                        "n_buckets": n_buckets, "version": ver}
            if e["kind"] != "table":
                raise SqlError(
                    f"BUCKET BY migrates base tables (or an index "
                    f"view on its probe column: "
                    f"{', '.join(f'{k} by {x.probe_col}' for k, x in sorted(kinds.items()))}); "
                    f"{name} is a {e['kind']} view")
            key = e["meta"].get("key")
            if not key:
                raise SqlError(
                    f"BUCKET BY needs {name}'s declared row-identity "
                    f"column — recreate it with OPTIONS (key='id')")
            if bcol.lower() != key.lower():
                raise SqlError(
                    f"BUCKET BY must use {name}'s declared "
                    f"row-identity column {key!r} (got {bcol!r}) — "
                    f"bucketed MERGE routes by it")
            try:
                ver = V.convert_to_bucketed(spark, e["path"], key,
                                            n_buckets=n_buckets)
            except ValueError as ex:
                raise SqlError(str(ex)) from ex
            return {"status": "optimized", "name": name,
                    "bucketed_by": key, "n_buckets": n_buckets,
                    "version": ver}
        if not cur.done():
            raise SqlError("OPTIMIZE t [ZORDER BY (x, y) | "
                           "BUCKET BY (key, n)]")
        ver = V.compact(spark, e["path"])
        return {"status": "optimized", "name": name, "version": ver}

    if head == "truncate":
        # TRUNCATE TABLE t — the reversible empty-the-table commit
        # (versioned.truncate): zero-row overwrite, old versions stay
        # readable, RESTORE undoes it. Same dependents story as INSERT
        # OVERWRITE (views refresh via their cursors over the rewrite).
        cur.take()
        cur.expect_kw("table")
        name = cur.expect_ident()
        if not cur.done():
            raise SqlError("trailing tokens after TRUNCATE TABLE")
        e = _writable_table(catalog, name, "TRUNCATE TABLE")
        ver = V.truncate(spark, e["path"])
        return {"status": "truncated", "name": name, "version": ver}

    if head == "restore":
        # metadata-only rollback (Delta RESTORE semantics): a NEW
        # head whose manifest re-points to the old segments — the
        # "oops" recovery for a bad UPDATE/DELETE/MERGE, no data read
        # or copied, audit trail intact
        cur.take()
        cur.expect_kw("table")
        name = cur.expect_ident()
        if cur.at_kw("to"):
            cur.take()
        e = _writable_table(catalog, name, "RESTORE")
        if cur.at_kw("timestamp"):
            # RESTORE TABLE t [TO] TIMESTAMP AS OF '<ts>' — resolve
            # against the same commit clock TIMESTAMP AS OF reads use
            cur.take()
            cur.expect_kw("as")
            cur.expect_kw("of")
            t = cur.take()
            if t.kind != "str":
                raise SqlError("RESTORE ... TIMESTAMP AS OF takes a "
                               "quoted timestamp")
            if not cur.done():
                raise SqlError("trailing tokens after RESTORE")
            try:
                target = V.version_at_timestamp(
                    e["path"], t.text[1:-1].replace("''", "'"))
                ver = V.restore(spark, e["path"], target)
            except (ValueError, FileNotFoundError) as ex:
                raise SqlError(str(ex)) from ex
            return {"status": "restored", "name": name,
                    "restored_to": target, "version": ver}
        cur.expect_kw("version")
        cur.expect_kw("as")
        cur.expect_kw("of")
        t = cur.take()
        if t.kind != "num" or "." in t.text:
            raise SqlError("RESTORE TABLE t [TO] VERSION AS OF <int> "
                           "| TIMESTAMP AS OF '<ts>'")
        if not cur.done():
            raise SqlError("trailing tokens after RESTORE")
        try:
            ver = V.restore(spark, e["path"], int(t.text))
        except (ValueError, FileNotFoundError) as ex:
            raise SqlError(str(ex)) from ex
        return {"status": "restored", "name": name,
                "restored_to": int(t.text), "version": ver}

    if head == "vacuum":
        cur.take()
        name = cur.expect_ident()
        keep = 1
        if cur.at_kw("keep"):
            cur.take()
            t = cur.take()
            if t.kind != "num" or "." in t.text:
                raise SqlError("VACUUM t KEEP <int>")
            keep = int(t.text)
        dry = False
        if cur.at_kw("dry"):
            # VACUUM t [KEEP n] DRY RUN — preview: the same keep/reap
            # decision (cursors, floors, clone pins), nothing deleted
            cur.take()
            cur.expect_kw("run")
            dry = True
        if not cur.done():
            raise SqlError("VACUUM t [KEEP <int>] [DRY RUN]")
        e = catalog.get(name)
        views = [e2["path"] for e2 in catalog.snapshot().values()
                 if e2["kind"] != "table"]
        deleted = MV.vacuum_source_safely(e["path"], keep_last=keep,
                                          views=views, dry_run=dry)
        if dry:
            return {"status": "dry_run", "name": name,
                    "would_delete_segments": len(deleted),
                    "segments": deleted}
        return {"status": "vacuumed", "name": name,
                "deleted_segments": len(deleted)}

    raise SqlError(
        f"unsupported statement head {toks[0].text!r}; supported: "
        "SELECT / WITH / EXPLAIN / CREATE [MATERIALIZED VIEW [USING "
        "near_dup]|TABLE] / REFRESH "
        "MATERIALIZED VIEW / INSERT INTO|OVERWRITE / DELETE FROM / UPDATE / "
        "MERGE INTO / ALTER TABLE ADD|DROP COLUMN / START|STOP REFRESH "
        "STREAM ON VIEW / DESCRIBE / SHOW TABLES "
        "/ SHOW CREATE TABLE / VACUUM / OPTIMIZE / RESTORE TABLE / "
        "TRUNCATE TABLE / COPY FROM|TO / ANALYZE TABLE / DROP")
