"""SQL frontend for the lakehouse layer: ``execute`` runs one statement
over a ``Catalog`` of versioned tables, maintained views and indexes,
the storage layer's counterpart of the reference's one query interface
(rclip_server.py:85-106).

``_STATEMENTS`` is the list of statements. It maps each statement
form's leading words to one function and its one-line usage string.
A statement function is a generator: it reads the rest of its header
off the lazy ``_Cursor`` and yields, and only then runs. In between,
the dispatcher checks that nothing of the statement is left, so a
statement with trailing tokens fails before it touches anything.
Spark SQL bodies (queries, predicates, SET lists, column DDL, CHECK
expressions, column types) go to Spark verbatim and are never
tokenized; SELECT / WITH / VALUES go to ``spark.sql`` whole, over temp
views of the registered names (``t VERSION AS OF n`` / ``t TIMESTAMP
AS OF '<ts>'`` time-travel, and the index table functions ANN_SEARCH,
IVF_SEARCH, TEXT_SEARCH, PHRASE_SEARCH and KNN_JOIN are rewritten
first, see ``_reads``).

Scale notes: every statement is driver-side manifest work plus the
same plans the Python API produces. The parser adds zero Spark jobs,
and the plans are byte-identical to the matview/versioned ones (the
plan-audit assertions in PLANS.md cover them). Names resolve to paths
and paths to manifests, never to data scans.
"""

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources import matview as MV
from ..sources import versioned as V
from ._base import (
    _RESERVED,
    SqlError,
    _Cursor,
    _ident_list,
    _parse_options,
    _strip_statement,
)
from ._catalog import Catalog
from ._dml import (
    _delete,
    _insert_into,
    _insert_overwrite,
    _is_bucketed,
    _merge,
    _update,
    _writable_table,
)
# reached as sql.<name> by tools/explain_audit.py
from ._dml import _merge_stage_plans, _update_plan  # noqa: F401
from ._mvdef import (
    _create_mv,
    _create_using,
    _dependents_of,
    _entry_owned_paths,
    _mv_transforms,
    _parse_mv_body,
    _strand_proof,
)
from ._reads import _read_entry, _run_select
from ._streams import (
    _STREAMS,
    _copy_ckpt_root,
    _copy_stream_key,
    _reap_stream_ckpts,
    _show_streams,
    _start_copy_stream,
    _start_refresh_stream,
    _stop_copy_stream,
    _stop_refresh_stream,
    _stream_key,
    _stream_liveness,
)


def execute(spark: SparkSession, statement: str, catalog: Catalog):
    """Run one statement. Returns a DataFrame for a query, a dict (or
    list of dicts) for the other statements."""
    cur = _Cursor(_strip_statement(statement))
    key, names = _match(cur)
    fn, usage = _STATEMENTS[key]
    try:
        run = fn(spark, catalog, cur, *names)
        next(run)
        if not cur.done():
            raise SqlError(f"trailing tokens {cur.rest()!r}; expected "
                           f"{usage}")
        next(run)
    except StopIteration as ran:
        return ran.value
    except SqlError:
        raise
    except (ValueError, FileNotFoundError) as ex:
        # the engine's refusals surface as the layer's one error type
        raise SqlError(str(ex)) from ex


_NAME = "<name>"  # an identifier slot in a statement key


def _match(cur: _Cursor) -> tuple[tuple, list[str]]:
    """The longest ``_STATEMENTS`` key the statement starts with, and
    the names in its identifier slots. The key's words are taken off
    the cursor; a key's closing ``(`` is only looked at."""
    head = cur.peek()
    if head is None:
        raise SqlError("empty statement")
    if head.kind != "ident" or head.lower not in _HEADS:
        raise SqlError(
            f"unsupported statement head {head.text!r}; supported: "
            + "; ".join(u for _, u in _STATEMENTS.values()))

    def fits(w: str, t) -> bool:
        if t is None:
            return False
        if w == "(":
            return t.text == "("
        return t.kind == "ident" and (
            t.lower not in _RESERVED if w == _NAME else t.lower == w)

    key = max((k for k in _STATEMENTS
               if all(fits(w, cur.peek(i)) for i, w in enumerate(k))),
              key=len, default=None)
    if key is None:
        raise SqlError(f"{head.text.upper()} supports: " + "; ".join(
            u for k, (_, u) in _STATEMENTS.items() if k[0] == head.lower))
    toks = [cur.take() for w in key if w != "("]
    return key, [t.text for t, w in zip(toks, key) if w == _NAME]


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _query(spark, catalog, cur):
    cur.rest()
    yield
    return _run_select(spark, cur.text, catalog)


def _explain(spark, catalog, cur):
    """The formatted physical plan, for checking pushdown / broadcast /
    shuffle shape from the same entry point."""
    body = cur.rest()
    yield
    df = _run_select(spark, body, catalog)
    jvm = spark.sparkContext._jvm
    return {"plan": jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")}


# ---------------------------------------------------------------------------
# CREATE / ALTER / DROP
# ---------------------------------------------------------------------------


def _table_opts(opts: dict) -> tuple[str | None, int | None]:
    """The (key, buckets) OPTIONS both CREATE TABLE forms take:
    ``buckets`` hash-routes rows by the row-identity ``key`` into
    per-bucket segments (the co-located-join layout: INSERT appends
    per bucket, the full-upsert MERGE rewrites only touched buckets,
    OPTIMIZE folds them)."""
    key, buckets = opts.get("key"), opts.get("buckets")
    if key is not None and not isinstance(key, str):
        raise SqlError(f"OPTIONS key must be a quoted column name, got "
                       f"{key!r}")
    if buckets is None:
        return key, None
    if not isinstance(buckets, int) or buckets < 2:
        raise SqlError(f"OPTIONS buckets must be an integer >= 2, "
                       f"got {buckets!r}")
    if not key:
        raise SqlError("bucketed tables hash-route by the "
                       "row-identity column: OPTIONS (key='id', "
                       "buckets=N)")
    return key, buckets


def _create_table(spark, catalog, name, df, key, buckets) -> dict:
    """Write and register a new table, reaping its directory if that
    fails."""
    path = catalog.path_for(name)

    def build() -> dict:
        if buckets:
            ver = V.create_bucketed(spark, path, df, key=key,
                                    n_buckets=buckets)
        else:
            ver = V.create(spark, path, df)
        catalog.register(name, path, kind="table",
                         meta={"key": key} if key else {},
                         require_path=True)
        return {"status": "created", "name": name, "path": path,
                "version": ver}

    return _strand_proof(catalog, [path], build)


def _create_table_as(spark, catalog, cur, name):
    opts = _parse_options(cur)
    cur.expect_kw("as")
    body = cur.rest()
    key, buckets = _table_opts(opts)
    yield
    catalog.check_available(name)
    df = _run_select(spark, body, catalog)
    if buckets and key.lower() not in {c.lower() for c in df.columns}:
        raise SqlError(f"OPTIONS key {key!r} is not a column of the "
                       f"SELECT ({df.columns})")
    return _create_table(spark, catalog, name, df, key, buckets)


def _create_table_cols(spark, catalog, cur, name):
    """An empty table with an explicit schema. The column list goes to
    Spark verbatim as a DDL schema string (struct<> / decimal() /
    array<> all legal), so Spark judges the type syntax."""
    ddl = cur.paren()
    if not ddl:
        raise SqlError("CREATE TABLE t (col type, ...) needs at least "
                       "one column")
    opts = _parse_options(cur)
    if not cur.done():
        # no silent discard: "(cols) AS SELECT ..." would otherwise
        # create an empty table and drop the query
        raise SqlError(
            f"unexpected tokens after the column list: {cur.rest()!r} "
            f"(explicit-schema CREATE TABLE takes only OPTIONS (...); "
            f"use CREATE TABLE t AS SELECT to load data)")
    key, buckets = _table_opts(opts)
    yield
    catalog.check_available(name)
    try:
        empty = spark.createDataFrame([], ddl)
    except Exception as ex:
        raise SqlError(f"bad column list {ddl!r}: {ex}") from ex
    if key and key.lower() not in {c.lower() for c in empty.columns}:
        raise SqlError(f"OPTIONS key {key!r} is not a declared column "
                       f"({empty.columns})")
    return _create_table(spark, catalog, name, empty, key, buckets)


def _create_table_clone(spark, catalog, cur, name):
    """A SHALLOW clone (versioned.clone): the new manifest references
    the source's segments by absolute path, zero bytes copied at any
    size. Writes diverge as clone-local segments; the source's vacuum
    keeps every segment a live clone still names; OPTIMIZE c
    materializes."""
    src_name = cur.expect_ident()
    ver = None
    if cur.take_kw("version"):
        cur.expect_kw("as", "of")
        ver = cur.expect_int()
    yield
    catalog.check_available(name)
    se = _writable_table(catalog, src_name, "CLONE")
    path = catalog.path_for(name)

    def build() -> dict:
        V.clone(se["path"], path, ver)
        catalog.register(name, path, kind="table",
                         meta=dict(se["meta"]), require_path=True)
        return {"status": "created", "name": name, "path": path,
                "cloned_from": src_name, "version": 1}

    return _strand_proof(catalog, [path], build)


def _create_view_as(spark, catalog, cur, name):
    """The view KIND is inferred from the query shape
    (``_parse_mv_body``): GROUP BY aggregates → agg view (over ``a
    [LEFT] JOIN b USING (k)`` → join view); ``SELECT * FROM a JOIN b
    USING (k)`` → maintained join table; ``SELECT <exprs> FROM t
    [WHERE p]`` → row-transform view; ``QUALIFY ROW_NUMBER() OVER
    (PARTITION BY g ORDER BY score DESC, id ASC) <= k`` → top-k
    view."""
    opts = _parse_options(cur)
    cur.expect_kw("as")
    body = cur.rest()
    plan = _parse_mv_body(_Cursor(body))
    yield
    # name validation FIRST so an ordinary duplicate reports "already
    # exists — DROP it first", not an orphan warning
    catalog.check_available(name)
    if plan.kind == "agg" and any(i.kind == "count_distinct"
                                  for i in plan.items):
        # the distinct chain wraps itself (it owns two extra hidden
        # paths) — no outer wrap, no double reap
        return _create_mv(spark, catalog, name, opts, plan, body)
    return _strand_proof(
        catalog, [catalog.path_for(name)],
        lambda: _create_mv(spark, catalog, name, opts, plan, body))


def _add_column(spark, catalog, cur, name):
    """O(1) schema evolution: ONE zero-row segment carrying the evolved
    schema is committed (no data read or rewritten; OPTIMIZE folds it
    away). Old segments read the new column as NULL. The type is Spark
    DDL text, so Spark judges it."""
    col = cur.expect_word()
    type_text = cur.rest()
    yield
    e = _writable_table(catalog, name, "ALTER TABLE")
    if _is_bucketed(e):
        # bucketed: metadata-only manifest evolution (there is no
        # natural bucket for a zero-row segment); reads reconcile the
        # declared-but-unwritten column as typed NULLs
        ver = V.add_column(spark, e["path"], col, type_text)
        return {"status": "altered", "name": name,
                "added": {col: type_text}, "version": ver}
    df = _read_entry(spark, e)
    clash = next((c for c in df.columns if c.lower() == col.lower()),
                 None)
    if clash:
        raise SqlError(f"column {clash!r} already exists on {name} "
                       f"(names resolve case-insensitively)")
    try:
        empty = df.limit(0).withColumn(col, F.lit(None).cast(type_text))
    except Exception as ex:
        raise SqlError(f"bad column type {type_text!r} for ALTER TABLE "
                       f"ADD COLUMN: {ex}") from ex
    ver = V.append(spark, e["path"], empty)
    return {"status": "altered", "name": name, "added": {col: type_text},
            "version": ver}


def _drop_column(spark, catalog, cur, name):
    """O(1) metadata-only commit (versioned.drop_column hides the
    column at the read projection; the next OPTIMIZE materializes).
    Refused while any registered view reads the table: a view spec may
    aggregate the column, and its refresh would silently lose it."""
    col = cur.expect_word()
    yield
    e = _writable_table(catalog, name, "ALTER TABLE")
    key = e["meta"].get("key")
    if key and key.lower() == col.lower():
        raise SqlError(f"cannot drop {name}'s declared row-identity "
                       f"column {key!r}")
    deps = _dependents_of(catalog, name, e)
    if deps:
        raise SqlError(f"cannot drop a column of {name}: registered "
                       f"view(s) {deps} read this table — DROP them "
                       f"first")
    ver = V.drop_column(spark, e["path"], col)
    return {"status": "altered", "name": name, "dropped": col,
            "version": ver}


def _add_constraint(spark, catalog, cur, name):
    """A Delta-style table constraint: existing data is validated once
    (refused with the violation count), then every later batch is
    enforced INLINE in its write job (assert_true, zero extra pass, the
    violating row named as JSON). NULL predicates pass."""
    cname = cur.expect_word()
    cur.expect_kw("check")
    expr = cur.paren()
    if not expr:
        raise SqlError("empty CHECK expression")
    yield
    e = _writable_table(catalog, name, "ALTER TABLE")
    ver = V.add_constraint(spark, e["path"], cname, expr)
    return {"status": "altered", "name": name,
            "added_constraint": {cname: expr}, "version": ver}


def _drop_constraint(spark, catalog, cur, name):
    cname = cur.expect_word()
    yield
    e = _writable_table(catalog, name, "ALTER TABLE")
    ver = V.drop_constraint(spark, e["path"], cname)
    return {"status": "altered", "name": name,
            "dropped_constraint": cname, "version": ver}


def _drop(spark, catalog, name: str, view: bool):
    yield
    e = catalog.get(name)
    # the statement form must match the entry's kind: "DROP TABLE v"
    # silently deleting a materialized view's state (or the reverse)
    # is how users lose data to a typo
    if view and e["kind"] == "table":
        raise SqlError(f"{name} is a base table — use DROP TABLE")
    if not view and e["kind"] != "table":
        raise SqlError(f"{name} is a materialized view ({e['kind']}) — "
                       f"use DROP MATERIALIZED VIEW")
    # refuse to drop an object other registered views read: their
    # manifests would point at rmtree'd directories forever
    dependents = _dependents_of(catalog, name, e)
    if dependents:
        raise SqlError(f"cannot drop {name}: registered view(s) "
                       f"{dependents} read it — DROP them first")
    # same rule for shallow clones, by the manifest walk vacuum's
    # segment pinning uses: a clone whose retained history still names
    # this table's segments blocks the drop
    if e["kind"] == "table":
        clones = V.clones_still_referencing(e["path"])
        if clones:
            raise SqlError(
                f"cannot drop {name}: live clone(s) at {clones} still "
                f"reference its segments — DROP them, or localize them "
                f"(OPTIMIZE + VACUUM) first")
    live = _STREAMS.get(_stream_key(catalog, name))
    if live is not None and live.isActive:
        raise SqlError(f"cannot drop {name}: a refresh stream is "
                       f"maintaining it — STOP REFRESH STREAM ON VIEW "
                       f"{name} first")
    live_copy = _STREAMS.get(_copy_stream_key(catalog, name))
    if live_copy is not None and live_copy.isActive:
        raise SqlError(f"cannot drop {name}: a copy stream is ingesting "
                       f"into it — STOP COPY STREAM ON {name} first")
    catalog.unregister(name)
    spark.catalog.dropTempView(name)  # no stale reads post-drop
    for d in _entry_owned_paths(e):
        if os.path.isdir(d):
            shutil.rmtree(d)
    # a later same-named view must never resume a stale stream
    # checkpoint, and a dropped table's ingest identity (copy-stream
    # checkpoint + batch-id sequence) dies with it
    _reap_stream_ckpts(catalog, name)
    shutil.rmtree(_copy_ckpt_root(catalog, name), ignore_errors=True)
    return {"status": "dropped", "name": name}


def _drop_table(spark, catalog, cur, name):
    return _drop(spark, catalog, name, view=False)


def _drop_view(spark, catalog, cur, name):
    return _drop(spark, catalog, name, view=True)


# ---------------------------------------------------------------------------
# COPY: distributed file ingest and export
# ---------------------------------------------------------------------------


def _copy_format(opts: dict) -> str:
    fmt = str(opts.get("format", "parquet")).lower()
    if fmt not in ("parquet", "csv", "ndjson"):
        raise SqlError(f"COPY format must be parquet, csv, or ndjson, "
                       f"got {fmt!r}")
    return fmt


def _flag(opts: dict, k: str, default: bool = False) -> bool:
    # accept both the bare literal (header=false) and the quoted form
    # (header='false'): a truthiness test on the string 'false' would
    # silently enable the flag
    v = opts.get(k, default)
    if isinstance(v, str):
        if v.strip().lower() not in ("true", "false"):
            raise SqlError(f"COPY option {k} must be true or false, got "
                           f"{v!r}")
        return v.strip().lower() == "true"
    return bool(v)


def _copy_from(spark, catalog, cur, name):
    """The files are scanned by Spark's parallel reader; csv/ndjson
    are read WITH the table's declared schema (no inference job, no
    type drift), and the batch lands as one append commit through the
    layout dispatch, with the usual schema drift guard."""
    fpath = cur.expect_str()
    opts = _parse_options(cur)
    yield
    fmt, header = _copy_format(opts), _flag(opts, "header", True)
    e = _writable_table(catalog, name, "COPY")
    if fmt == "parquet":
        # parquet carries its own schema; append's drift guard judges
        # compatibility with the declared types
        batch = spark.read.parquet(fpath)
    else:
        # FAILFAST: Spark's default PERMISSIVE mode would silently NULL
        # a malformed value and commit it (NULLs even satisfy CHECK
        # constraints)
        schema = _read_entry(spark, e).limit(0).schema
        rd = spark.read.schema(schema).option("mode", "FAILFAST")
        batch = (rd.option("header", "true" if header else "false")
                 .csv(fpath) if fmt == "csv" else rd.json(fpath))
    try:
        ver = V.append(spark, e["path"], batch)
    except V.SchemaDriftError as ex:
        raise SqlError(str(ex)) from ex
    return {"status": "copied", "name": name, "from": fpath,
            "format": fmt, "version": ver}


def _export(df, fpath: str, opts: dict, name: str | None = None) -> dict:
    """The COPY ... TO body: a distributed write with an optional
    Hive-style partition layout, or (shards=N, shard_by='id') the
    training-shard export. Refuses to clobber unless overwrite=true."""
    fmt, header = _copy_format(opts), _flag(opts, "header", True)
    if opts.get("shards"):
        # sampling.export_training_shards: deterministic hash-shuffled
        # shard=N/ parquet dirs + a read-back-verified _shards.json
        shard_by = opts.get("shard_by")
        if not isinstance(shard_by, str) or not shard_by:
            raise SqlError("COPY TO with shards=N needs "
                           "shard_by='<id column>'")
        if shard_by not in df.columns:
            raise SqlError(f"shard_by column {shard_by!r} not in the "
                           f"output ({df.columns})")
        if fmt != "parquet":
            raise SqlError("sharded COPY TO writes parquet only")
        if opts.get("partition_by"):
            raise SqlError("shards and partition_by are exclusive — the "
                           "shard IS the partition")
        from ..operators.sampling import export_training_shards

        mf = export_training_shards(
            df, shard_by, int(opts["shards"]), fpath,
            salt=str(opts.get("salt", "shuffle")),
            overwrite=_flag(opts, "overwrite"))
        return {"status": "copied", "to": fpath, "format": "parquet",
                "n_shards": mf["n_shards"],
                "total_rows": mf["total_rows"]}
    w = df.write.mode("overwrite" if _flag(opts, "overwrite")
                      else "errorifexists")
    part_cols = [c.strip() for c in str(opts.get("partition_by") or "")
                 .split(",") if c.strip()]
    missing = [c for c in part_cols if c not in df.columns]
    if missing:
        raise SqlError(f"partition_by column(s) {missing} not in the "
                       f"output ({df.columns})")
    if part_cols:
        w = w.partitionBy(*part_cols)
    try:
        if fmt == "parquet":
            w.parquet(fpath)
        elif fmt == "csv":
            w.option("header", "true" if header else "false").csv(fpath)
        else:
            w.json(fpath)
    except Exception as ex:
        if "already exists" in str(ex).lower():
            raise SqlError(f"COPY TO target {fpath!r} exists — pass "
                           f"OPTIONS (overwrite=true) to replace it"
                           ) from ex
        raise
    out = {"status": "copied", "to": fpath, "format": fmt}
    if part_cols:
        out["partition_by"] = part_cols
    if name is not None:
        out["name"] = name
    return out


def _copy_to(spark, catalog, cur, name):
    fpath = cur.expect_str()
    opts = _parse_options(cur)
    yield
    return _export(_read_entry(spark, catalog.get(name)), fpath, opts,
                   name)


def _copy_query_to(spark, catalog, cur):
    body = cur.paren()
    if not _Cursor(body).at_kw("select", "with", "values"):
        raise SqlError("COPY (SELECT ...) TO '<path>' — the "
                       "parenthesized source must be a query")
    cur.expect_kw("to")
    fpath = cur.expect_str()
    opts = _parse_options(cur)
    yield
    return _export(_run_select(spark, body, catalog), fpath, opts)


# ---------------------------------------------------------------------------
# metadata
# ---------------------------------------------------------------------------


def _describe(spark, catalog, cur, name):
    """Schema, layout, row/segment counts (manifest-only, zero Spark
    jobs), plus what the catalog knows (kind, declared key)."""
    yield
    e = catalog.get(name)
    out = V.describe(e["path"])
    out["name"] = name
    out["kind"] = e["kind"]
    if e["meta"].get("key"):
        out["key"] = e["meta"]["key"]
    return out


def _describe_view(spark, catalog, cur, name):
    yield
    out = MV.describe_view(catalog.get(name)["path"])
    out["refresh_stream"] = _stream_liveness(catalog, name)
    return out


def _describe_history(spark, catalog, cur, name):
    yield
    return V.history(catalog.get(name)["path"])


def _describe_cascade(spark, catalog, cur, name):
    yield
    return MV.describe_cascade(catalog.get(name)["path"])


def _describe_changes(spark, catalog, cur, name):
    """The CDC read (versioned.table_changes with Delta-CDF
    pre-images): a DataFrame of changed rows tagged _change_type.
    O(delta) over append-only intervals; one keyed snapshot diff when
    the interval rewrote data."""
    v_from = cur.expect_int()
    v_to = cur.expect_int() if cur.take_kw("to") else None
    yield
    e = _writable_table(catalog, name, "DESCRIBE CHANGES")
    return V.table_changes(spark, e["path"], from_version=v_from,
                           to_version=v_to, key=e["meta"].get("key"),
                           include_preimage=True)


def _describe_stats(spark, catalog, cur, name):
    yield
    e = _writable_table(catalog, name, "DESCRIBE STATS")
    out = V.describe_stats(e["path"])
    out["name"] = name
    return out


def _describe_index(spark, catalog, cur, name):
    """The maintained-index health window: kind, key, layout, cursor
    lag, row/segment counts, kind params and (IVF) the drift readout.
    Manifest reads only, zero Spark jobs."""
    yield
    out = MV.describe_index(catalog.get(name)["path"])
    out["name"] = name
    out["refresh_stream"] = _stream_liveness(catalog, name)
    return out


def _show_tables(spark, catalog, cur):
    yield
    return [{"name": n, **{k: e[k] for k in ("kind", "path")}}
            for n, e in sorted(catalog.snapshot().items())]


def _show_create_table(spark, catalog, cur, name):
    """A statement that would recreate the object: base tables from
    the manifest's col_types (+ declared key), SQL-shaped views from
    their recorded SQL, the pair views from their manifest spec.
    Manifest and catalog reads only."""
    yield
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
        stmt = f"CREATE TABLE {name} ({cols}){opts}"
    elif e["kind"] in ("near_dup", "embed_near_dup"):
        spec = V.describe(e["path"]).get("app") or {}
        prefix = "nd_" if e["kind"] == "near_dup" else "ed_"
        by_path = {v["path"]: n for n, v in catalog.snapshot().items()}
        parts = []
        for k in sorted(spec):
            if not k.startswith(prefix) or k.endswith("_version"):
                continue
            short, val = k[len(prefix):], spec[k]
            if short == "source":
                val = by_path.get(os.path.abspath(str(val)), val)
            parts.append(f"{short}={val!r}" if isinstance(val, str)
                         else f"{short}={val}")
        stmt = (f"CREATE MATERIALIZED VIEW {name} USING {e['kind']} "
                f"OPTIONS ({', '.join(parts)})")
    else:
        kv = [(k, e["meta"][k]) for k in ("key", "left_key", "right_key")
              if e["meta"].get(k)]
        opts = (" OPTIONS (" + ", ".join(f"{k}='{v}'" for k, v in kv)
                + ")" if kv else "")
        stmt = (f"CREATE MATERIALIZED VIEW {name}{opts} AS "
                f"{e['meta'].get('sql', '<unrecorded>')}")
    return {"name": name, "create_statement": stmt}


def _analyze(spark, catalog, cur, name):
    """One distributed agg pass (versioned.analyze): row count + per
    column nulls / ndv (HLL by default, COUNT DISTINCT with EXACT) /
    min / max, stored as a sidecar keyed by the analyzed version."""
    columns = None
    if cur.take_kw("columns"):
        cur.expect_op("(")
        columns = _ident_list(cur)
        cur.expect_op(")")
    exact = cur.take_kw("exact")
    yield
    e = _writable_table(catalog, name, "ANALYZE TABLE")
    stats = V.analyze(spark, e["path"], columns=columns, exact_ndv=exact)
    return {"status": "analyzed", "name": name, **stats}


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------


def _refresh(spark, catalog, cur, name):
    cascade = cur.take_kw("cascade")
    yield
    e = catalog.get(name)
    path = e["path"]
    transforms = _mv_transforms(catalog)
    if cascade:
        refreshed = MV.refresh_cascade(spark, path, transforms=transforms)
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


def _retrain_index(spark, catalog, cur, name):
    """The IVF drift heal as one statement: new kmeans centroids (+ PQ
    codebooks) over the source head, full reassignment, cursor
    advanced, drift baseline reset."""
    yield
    e = catalog.get(name)
    if e["kind"] != "ivf_index":
        raise SqlError(f"RETRAIN INDEX heals an ivf_index view; {name} "
                       f"is a {e['kind']}")
    from ..sources import ivfindex as II

    ver = II.retrain_ivf_index(spark, e["path"])
    return {"status": "retrained", "name": name, "version": ver}


def _optimize(spark, catalog, cur, name):
    """Fold accreted segments into one committed version
    (versioned.compact). OPTIMIZE is state-preserving, so unlike DML it
    is legal on maintained views too."""
    yield
    ver = V.compact(spark, catalog.get(name)["path"])
    return {"status": "optimized", "name": name, "version": ver}


def _optimize_zorder(spark, catalog, cur, name):
    """Recluster by Morton key with zone maps on both columns (within
    each bucket on the bucketed layout)."""
    cur.expect_op("(")
    cols = _ident_list(cur)
    cur.expect_op(")")
    if len(cols) != 2:
        raise SqlError("OPTIMIZE t ZORDER BY (x, y) takes exactly two "
                       "columns (Morton key)")
    yield
    ver = V.cluster_zorder(spark, catalog.get(name)["path"], *cols)
    return {"status": "optimized", "name": name, "zorder_by": cols,
            "version": ver}


def _optimize_bucket_by(spark, catalog, cur, name):
    """Migrate a flat table to the hash-bucketed co-located layout as
    one committed rewrite (versioned.convert_to_bucketed; RESTORE
    returns to flat), or lay an index view out by its probe column so
    serving queries skip files, not rows."""
    cur.expect_op("(")
    bcol = cur.expect_ident()
    cur.expect_op(",")
    n_buckets = cur.expect_int()
    cur.expect_op(")")
    if n_buckets < 2:
        raise SqlError("bucket count must be >= 2")
    yield
    from ..sources import indexkind as IK

    e = catalog.get(name)
    kinds = IK.kinds()
    if e["kind"] in kinds:
        col = kinds[e["kind"]].probe_col
        if bcol.lower() != col:
            raise SqlError(f"a {e['kind']} view buckets by its {col!r} "
                           f"column (got {bcol!r})")
        ver = IK.convert_index_to_bucketed(spark, e["path"], n_buckets)
        return {"status": "optimized", "name": name, "bucketed_by": col,
                "n_buckets": n_buckets, "version": ver}
    if e["kind"] != "table":
        probes = ", ".join(f"{k} by {x.probe_col}"
                           for k, x in sorted(kinds.items()))
        raise SqlError(f"BUCKET BY migrates base tables (or an index "
                       f"view on its probe column: {probes}); {name} is "
                       f"a {e['kind']} view")
    key = e["meta"].get("key")
    if not key:
        raise SqlError(f"BUCKET BY needs {name}'s declared row-identity "
                       f"column — recreate it with OPTIONS (key='id')")
    if bcol.lower() != key.lower():
        raise SqlError(f"BUCKET BY must use {name}'s declared "
                       f"row-identity column {key!r} (got {bcol!r}) — "
                       f"bucketed MERGE routes by it")
    ver = V.convert_to_bucketed(spark, e["path"], key,
                                n_buckets=n_buckets)
    return {"status": "optimized", "name": name, "bucketed_by": key,
            "n_buckets": n_buckets, "version": ver}


def _truncate(spark, catalog, cur, name):
    """The reversible empty-the-table commit (versioned.truncate):
    zero-row overwrite, old versions stay readable, RESTORE undoes
    it."""
    yield
    e = _writable_table(catalog, name, "TRUNCATE TABLE")
    ver = V.truncate(spark, e["path"])
    return {"status": "truncated", "name": name, "version": ver}


def _restore(spark, catalog, cur, name):
    """Metadata-only rollback (Delta RESTORE): a NEW head whose
    manifest re-points to the old segments. TIMESTAMP AS OF resolves
    against the commit clock DESCRIBE HISTORY reports."""
    cur.take_kw("to")
    target = ts = None
    if cur.take_kw("timestamp"):
        cur.expect_kw("as", "of")
        ts = cur.expect_str()
    else:
        cur.expect_kw("version", "as", "of")
        target = cur.expect_int()
    yield
    e = _writable_table(catalog, name, "RESTORE")
    if ts is not None:
        target = V.version_at_timestamp(e["path"], ts)
    ver = V.restore(spark, e["path"], target)
    return {"status": "restored", "name": name, "restored_to": target,
            "version": ver}


def _vacuum(spark, catalog, cur, name):
    """Cursor-safe: clamped to every registered view's refresh cursor
    (matview.vacuum_source_safely with the whole catalog as the
    dependent-view list). DRY RUN previews the same decision."""
    keep = cur.expect_int() if cur.take_kw("keep") else 1
    dry = cur.take_kw("dry")
    if dry:
        cur.expect_kw("run")
    yield
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


# One entry per statement form: leading words (``_NAME`` for an
# identifier slot; a final "(" for a form told apart by a parenthesized
# group) -> (function, usage). ``_match`` picks the longest key that
# fits, so a form's specific keys win over its short ones.
_STATEMENTS = {
    ("select",): (_query, "SELECT ..."),
    ("with",): (_query, "WITH ... SELECT ..."),
    ("values",): (_query, "VALUES (...), ..."),
    ("explain",): (_explain, "EXPLAIN <query>"),
    ("insert", "into", _NAME): (
        _insert_into, "INSERT INTO t SELECT ... | VALUES ..."),
    ("insert", "overwrite", _NAME): (
        _insert_overwrite, "INSERT OVERWRITE t SELECT ... | VALUES ..."),
    ("delete", "from", _NAME, "where"): (
        _delete, "DELETE FROM t WHERE <predicate>"),
    ("update", _NAME, "set"): (
        _update, "UPDATE t SET col = expr [, ...] WHERE <predicate>"),
    ("merge", "into", _NAME): (
        _merge, "MERGE INTO t [[AS] a] USING <table | (SELECT ...)> "
                "[[AS] s] ON a.k = s.k WHEN [NOT] MATCHED [BY SOURCE] "
                "[AND <cond>] THEN ..."),
    ("copy", _NAME, "from"): (
        _copy_from, "COPY t FROM '<path>' [OPTIONS (format='parquet'|"
                    "'csv'|'ndjson', header=true|false)]"),
    ("copy", _NAME, "to"): (
        _copy_to, "COPY t TO '<path>' [OPTIONS (format=..., header=..., "
                  "partition_by='c1,c2', overwrite=true | shards=N, "
                  "shard_by='id', salt='s')]"),
    ("copy", "("): (
        _copy_query_to, "COPY (SELECT ...) TO '<path>' [OPTIONS (...)]"),
    ("create", "table", _NAME): (
        _create_table_as, "CREATE TABLE t [OPTIONS (key='id'[, "
                          "buckets=N])] AS SELECT ..."),
    ("create", "table", _NAME, "("): (
        _create_table_cols, "CREATE TABLE t (col type, ...) [OPTIONS "
                            "(key='id'[, buckets=N])]"),
    ("create", "table", _NAME, "clone"): (
        _create_table_clone, "CREATE TABLE c CLONE t [VERSION AS OF "
                             "<int>]"),
    ("create", "materialized", "view", _NAME): (
        _create_view_as, "CREATE MATERIALIZED VIEW v [OPTIONS (...)] AS "
                         "SELECT ..."),
    ("create", "materialized", "view", _NAME, "using"): (
        _create_using, "CREATE MATERIALIZED VIEW v USING near_dup|"
                       "embed_near_dup|text_index|ann_index|ivf_index "
                       "OPTIONS (source='t', ...)"),
    ("alter", "table", _NAME, "add", "column"): (
        _add_column, "ALTER TABLE t ADD COLUMN c <type>"),
    ("alter", "table", _NAME, "drop", "column"): (
        _drop_column, "ALTER TABLE t DROP COLUMN c"),
    ("alter", "table", _NAME, "add", "constraint"): (
        _add_constraint, "ALTER TABLE t ADD CONSTRAINT nm CHECK (<expr>)"),
    ("alter", "table", _NAME, "drop", "constraint"): (
        _drop_constraint, "ALTER TABLE t DROP CONSTRAINT nm"),
    ("drop", "table", _NAME): (_drop_table, "DROP TABLE t"),
    ("drop", "materialized", "view", _NAME): (
        _drop_view, "DROP MATERIALIZED VIEW v"),
    ("refresh", "materialized", "view", _NAME): (
        _refresh, "REFRESH MATERIALIZED VIEW v [CASCADE]"),
    ("start", "refresh", "stream", "on", "view", _NAME): (
        _start_refresh_stream, "START REFRESH STREAM ON VIEW v [CASCADE]"),
    ("stop", "refresh", "stream", "on", "view", _NAME): (
        _stop_refresh_stream, "STOP REFRESH STREAM ON VIEW v"),
    ("start", "copy", "stream", "from"): (
        _start_copy_stream, "START COPY STREAM FROM '<dir>' INTO t "
                            "[OPTIONS (format=..., header=..., "
                            "max_files=N)]"),
    ("stop", "copy", "stream", "on", _NAME): (
        _stop_copy_stream, "STOP COPY STREAM ON t"),
    ("describe", _NAME): (_describe, "DESCRIBE t"),
    ("describe", "view", _NAME): (_describe_view, "DESCRIBE VIEW v"),
    ("describe", "materialized", "view", _NAME): (
        _describe_view, "DESCRIBE MATERIALIZED VIEW v"),
    ("describe", "history", _NAME): (
        _describe_history, "DESCRIBE HISTORY t"),
    ("describe", "cascade", _NAME): (
        _describe_cascade, "DESCRIBE CASCADE v"),
    ("describe", "changes", _NAME, "from"): (
        _describe_changes, "DESCRIBE CHANGES t FROM <int> [TO <int>]"),
    ("describe", "stats", _NAME): (_describe_stats, "DESCRIBE STATS t"),
    ("describe", "index", _NAME): (_describe_index, "DESCRIBE INDEX i"),
    ("show", "tables"): (_show_tables, "SHOW TABLES"),
    ("show", "streams"): (_show_streams, "SHOW STREAMS"),
    ("show", "create", "table", _NAME): (
        _show_create_table, "SHOW CREATE TABLE t"),
    ("analyze", "table", _NAME): (
        _analyze, "ANALYZE TABLE t [COLUMNS (a, b, ...)] [EXACT]"),
    ("retrain", "index", _NAME): (_retrain_index, "RETRAIN INDEX i"),
    ("optimize", _NAME): (_optimize, "OPTIMIZE t"),
    ("optimize", _NAME, "zorder", "by"): (
        _optimize_zorder, "OPTIMIZE t ZORDER BY (x, y)"),
    ("optimize", _NAME, "bucket", "by"): (
        _optimize_bucket_by, "OPTIMIZE t BUCKET BY (key, <int>)"),
    ("truncate", "table", _NAME): (_truncate, "TRUNCATE TABLE t"),
    ("restore", "table", _NAME): (
        _restore, "RESTORE TABLE t [TO] VERSION AS OF <int> | "
                  "TIMESTAMP AS OF '<ts>'"),
    ("vacuum", _NAME): (_vacuum, "VACUUM t [KEEP <int>] [DRY RUN]"),
}
_HEADS = {k[0] for k in _STATEMENTS}
