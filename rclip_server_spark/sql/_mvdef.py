"""Materialized-view DEFINITION machinery: the SELECT-body parser that
classifies a CREATE MATERIALIZED VIEW into one of the five maintained
kinds, the agg/transform spec builders, the CREATE-race strand-proof
protocol, entry ownership/dependency enumeration, and the catalog ->
transform-function reconstruction REFRESH needs."""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..sources import matview as MV
from ._base import (
    SqlError,
    _RESERVED,
    _Cursor,
    _ident_list,
    _parse_options,
)
from ._catalog import Catalog

# ---------------------------------------------------------------------------
# CREATE MATERIALIZED VIEW — parse the SELECT body, infer the view kind
# ---------------------------------------------------------------------------


class _Item:
    """One select-list item: ('count',None) | ('sum'|'min'|'max',col)
    | ('col',name) | ('star',None) | ('expr',src_text) — plus the
    SQL-declared output alias."""

    def __init__(self, kind, col, alias):
        self.kind, self.col, self.alias = kind, col, alias


def _parse_select_items(cur: _Cursor) -> list[_Item]:
    items = []
    while True:
        t = cur.peek()
        if t.text == "*":
            cur.take()
            items.append(_Item("star", None, None))
        elif (t.kind == "ident" and t.lower in ("count", "sum", "min",
                                                "max", "avg")
              and cur.peek(1) is not None and cur.peek(1).text == "("):
            fn = cur.take().lower
            cur.expect_op("(")
            if fn == "count" and cur.at_kw("distinct"):
                cur.take()
                fn, col = "count_distinct", cur.expect_ident()
            elif fn == "count":
                cur.expect_op("*")
                col = None
            else:
                col = cur.expect_ident()
            cur.expect_op(")")
            items.append(_Item(fn, col, _maybe_alias(cur)))
        elif (t.kind == "ident" and t.lower not in _RESERVED
              and (cur.peek(1) is None
                   or cur.peek(1).text in (",",)
                   or cur.peek(1).lower in ("as", "from"))):
            items.append(_Item("col", cur.take().text, _maybe_alias(cur)))
        else:
            # raw expression: consume tokens to top-level , / AS / FROM
            depth, start = 0, t.start
            end = start
            while cur.peek() is not None:
                p = cur.peek()
                if depth == 0 and (p.text == ","
                                   or (p.kind == "ident"
                                       and p.lower in ("as", "from"))):
                    break
                if p.text == "(":
                    depth += 1
                elif p.text == ")":
                    depth -= 1
                end = cur.take().end
            items.append(_Item("expr", cur.text[start:end],
                               _maybe_alias(cur)))
        nxt = cur.peek()
        if nxt is not None and nxt.text == ",":
            cur.take()
            continue
        return items


def _maybe_alias(cur: _Cursor) -> str | None:
    if cur.at_kw("as"):
        cur.take()
        return cur.expect_ident()
    return None


def _raw_until(cur: _Cursor, stop_kws: set[str]) -> str:
    """Verbatim source slice to the next top-level stop keyword."""
    if cur.done():
        raise SqlError("expected an expression")
    start = cur.peek().start
    end, depth = start, 0
    while cur.peek() is not None:
        p = cur.peek()
        if depth == 0 and p.kind == "ident" and p.lower in stop_kws:
            break
        if p.text == "(":
            depth += 1
        elif p.text == ")":
            depth -= 1
        end = cur.take().end
    return cur.text[start:end]


class _MvPlan:
    def __init__(self, kind, **kw):
        self.kind = kind
        self.__dict__.update(kw)


def _parse_mv_body(cur: _Cursor) -> _MvPlan:
    """Parse the SELECT body of CREATE MATERIALIZED VIEW and classify
    it into one of the five maintained-view kinds."""
    cur.expect_kw("select")
    items = _parse_select_items(cur)
    cur.expect_kw("from")
    left = cur.expect_ident()
    right = how = None
    on: list[str] = []
    if cur.at_kw("join", "left", "inner"):
        kw = cur.take().lower
        how = "inner"
        if kw == "left":
            how = "left"
            if cur.at_kw("outer"):
                cur.take()
            cur.expect_kw("join")
        elif kw == "inner":
            cur.expect_kw("join")
        right = cur.expect_ident()
        t = cur.take()
        if t.kind != "ident" or t.lower != "using":
            raise SqlError(
                "maintained join views join with USING (col, ...) — "
                f"ON syntax is not supported; got {t.text!r}")
        cur.expect_op("(")
        on = _ident_list(cur)
        cur.expect_op(")")
    where = None
    if cur.at_kw("where"):
        cur.take()
        where = _raw_until(cur, {"group", "qualify"})
    group_by: list[str] = []
    if cur.at_kw("group"):
        cur.take()
        cur.expect_kw("by")
        group_by = _ident_list(cur)
    qualify = None
    if cur.at_kw("qualify"):
        cur.take()
        qualify = _parse_qualify(cur)
    if not cur.done():
        raise SqlError(f"unexpected trailing tokens: "
                       f"{cur.text[cur.peek().start:]!r}")

    if qualify is not None:
        if right is not None or group_by or where is not None:
            raise SqlError("QUALIFY top-k views take a single source, "
                           "no WHERE/GROUP BY")
        return _MvPlan("topk", items=items, source=left, **qualify)
    if group_by:
        if where is not None:
            raise SqlError(
                "WHERE on an aggregating materialized view is not "
                "supported — materialize a transform view of the "
                "filter first and aggregate over it (views compose)")
        if right is None:
            return _MvPlan("agg", items=items, source=left,
                           group_by=group_by)
        return _MvPlan("join", items=items, left=left, right=right,
                       on=on, how=how, group_by=group_by)
    if right is not None:
        if len(items) != 1 or items[0].kind != "star":
            raise SqlError("a maintained join TABLE must select * "
                           "(both sides' columns verbatim)")
        if where is not None:
            raise SqlError("WHERE on a maintained join table is not "
                           "supported — filter a transform view first")
        return _MvPlan("join_table", left=left, right=right, on=on,
                       how=how)
    return _MvPlan("transform", items=items, source=left, where=where)


def _parse_qualify(cur: _Cursor) -> dict:
    """``ROW_NUMBER() OVER (PARTITION BY g... ORDER BY s DESC, k ASC)
    <= K`` — the one rank shape top-k views maintain."""
    t = cur.take()
    if t.lower != "row_number":
        raise SqlError("QUALIFY supports exactly ROW_NUMBER() OVER "
                       "(PARTITION BY ... ORDER BY s DESC, key ASC) <= k")
    cur.expect_op("(")
    cur.expect_op(")")
    cur.expect_kw("over")
    cur.expect_op("(")
    cur.expect_kw("partition")
    cur.expect_kw("by")
    part = _ident_list(cur)
    cur.expect_kw("order")
    cur.expect_kw("by")
    score = cur.expect_ident()
    cur.expect_kw("desc")
    cur.expect_op(",")
    key = cur.expect_ident()
    cur.expect_kw("asc")
    cur.expect_op(")")
    cur.expect_op("<=")
    k_tok = cur.take()
    if k_tok.kind != "num" or "." in k_tok.text:
        raise SqlError(f"top-k bound must be an integer, got "
                       f"{k_tok.text!r}")
    return {"part": part, "score": score, "key": key, "k": int(k_tok.text)}


def _bare_cols_must_match(items: list[_Item],
                          group_by: list[str]) -> None:
    bare = [i.col for i in items if i.kind == "col"]
    if bare != list(group_by):
        raise SqlError(
            f"select-list bare columns {bare} must equal the GROUP BY "
            f"list {list(group_by)} (in order)")


def _agg_spec(items: list[_Item], group_by: list[str]) -> dict:
    """Map parsed select items onto create_[join_]view's
    (group_cols, sum_cols, minmax_cols) + the alias map canonical→SQL
    name. Bare columns must equal the GROUP BY list; aggregates become
    state columns (MIN or MAX alone still maintains the min/max pair —
    the unrequested twin is hidden by the read projection). AVG(x) is
    maintained as the retractable pair (sum_x, nn_x) and divided at
    read time — exact for the integer columns the view layer sums."""
    _bare_cols_must_match(items, group_by)
    sum_cols, minmax_cols, aliases, requested = [], [], {}, []
    avgs = {}
    has_count = False
    for it in items:
        if it.kind == "col":
            requested.append(it.col)
            if it.alias and it.alias != it.col:
                aliases[it.col] = it.alias
        elif it.kind == "count":
            has_count = True
            requested.append("cnt")
            if it.alias and it.alias != "cnt":
                aliases["cnt"] = it.alias
        elif it.kind in ("sum", "min", "max", "avg"):
            canon = f"{it.kind}_{it.col}"
            requested.append(canon)
            if it.alias and it.alias != canon:
                aliases[canon] = it.alias
            if it.kind in ("sum", "avg"):
                if it.col not in sum_cols:
                    sum_cols.append(it.col)
                if it.kind == "avg":
                    avgs[canon] = it.col
            elif it.col not in minmax_cols:
                minmax_cols.append(it.col)
        elif it.kind == "count_distinct":
            raise SqlError(
                "COUNT(DISTINCT x) is supported in single-source agg "
                "views (it stacks a hidden pairs view) — for a join, "
                "materialize the join first and stack the distinct "
                "view on top")
        else:
            raise SqlError(
                "aggregating views support COUNT(*) / SUM / AVG / MIN "
                "/ MAX and the grouping columns — arbitrary "
                "expressions belong in a transform view underneath")
    if not has_count:
        raise SqlError("aggregating views must select COUNT(*) — it is "
                       "the maintenance anchor (group liveness)")
    return {"sum_cols": sum_cols, "minmax_cols": minmax_cols,
            "aliases": aliases, "requested": requested, "avgs": avgs}


def _norm_sql(text: str) -> str:
    return " ".join(text.split())


def _transform_name(body_sql: str) -> str:
    return "sql:" + hashlib.sha256(
        _norm_sql(body_sql).encode()).hexdigest()[:16]


def _transform_fn(items: list[_Item], where: str | None):
    """The row-local transform a SQL-defined transform view applies:
    WHERE filter + selectExpr projection. Row-local by construction —
    every select item is a scalar expression over one input row."""
    exprs = []
    for it in items:
        if it.kind == "star":
            exprs.append("*")
        elif it.kind == "col":
            exprs.append(f"{it.col} AS {it.alias}" if it.alias
                         else it.col)
        elif it.kind == "expr":
            if not it.alias:
                raise SqlError(
                    f"expression select items need AS <name>: "
                    f"{it.src if hasattr(it, 'src') else it.col!r}")
            exprs.append(f"({it.col}) AS {it.alias}")
        else:
            raise SqlError(
                "aggregate functions need GROUP BY (agg view) — a "
                "transform view's select list is row-local expressions")

    def fn(df: DataFrame) -> DataFrame:
        if where is not None:
            df = df.where(where)
        return df.selectExpr(*exprs)

    return fn


def _kind_internal_suffixes(kind: str) -> list:
    """Path suffixes of a view kind's hidden internal views — the ONE
    place a new kind with internals must be added (the strand-proof
    reap guard, DROP, and _create_using all derive from it)."""
    from ..sources import neardup_view as ND
    if kind == "near_dup":
        return [ND.GRAMS_SUFFIX, ND.BANDS_SUFFIX]
    if kind == "embed_near_dup":
        return [ND.EVECS_SUFFIX, ND.EBKTS_SUFFIX]
    return []


def _entry_owned_paths(e: dict) -> list:
    """Every directory one catalog entry owns: its data path, its
    hidden stack levels, and its kind's internal index views."""
    return ([e["path"]] + (e["meta"].get("stack") or [])
            + list(e["meta"].get("stack_transforms") or {})
            + [e["path"] + s for s in _kind_internal_suffixes(e["kind"])])


def _dependents_of(catalog: Catalog, name: str, e: dict) -> list[str]:
    """Registered entries whose view graph READS any path the entry
    ``name`` owns — discovered from manifests (matview's post-order
    walk), so hidden stack levels and near-dup index internals count
    too. Manifest-only, zero Spark jobs."""
    owned = {os.path.abspath(p) for p in _entry_owned_paths(e)}
    out = []
    for n, e2 in sorted(catalog.snapshot().items()):
        if n.lower() == name.lower():
            continue
        if e2["kind"] == "table":
            continue
        reads: set = set()
        try:
            nodes, _leaves = MV._walk_views_post_order(e2["path"])
        except ValueError:
            continue  # unreadable/cyclic graph: not provably dependent
        for _p, (_k, _spec, sources) in nodes:
            reads.update(os.path.abspath(s) for s in sources)
        reads.discard(os.path.abspath(e2["path"]))
        reads -= {os.path.abspath(p) for p in _entry_owned_paths(e2)}
        if reads & owned:
            out.append(n)
    return sorted(out)


def _catalog_owned_paths(catalog: Catalog) -> set:
    owned = set()
    for e in catalog.snapshot().values():
        owned.update(os.path.abspath(p) for p in _entry_owned_paths(e))
    return owned


def _strand_proof(catalog: Catalog, paths: list, fn):
    """Run a CREATE body; on failure (including KeyboardInterrupt —
    a Ctrl-C mid-CREATE must not brick the name) reap the directories
    the call created, so a failed CREATE neither strands unregistered
    dirs that block the next CREATE nor touches another object's
    data. The reap runs under the catalog mutation lock with a fresh
    ownership read, and skips any path a registered entry owns — so
    a racing loser never deletes the registered winner's data. In
    the residual window (winner built but not yet registered when the
    loser reaps), the winner's own register(require_path=True) fails
    cleanly rather than publishing an entry with no data. The reap is
    best-effort: if the guard itself fails (unreadable catalog,
    second interrupt), the ORIGINAL build error still surfaces."""
    clash = [p for p in paths if os.path.exists(p)]
    if clash:
        raise SqlError(
            f"cannot create: path(s) already exist on disk: {clash} — "
            f"another object (or an orphaned directory) owns them; "
            f"DROP or remove it first")
    try:
        return fn()
    except BaseException:
        tombstones = []
        try:
            # O(1) critical section: RENAME unowned paths to
            # tombstones under the lock (ownership can't change
            # mid-decision), delete the bytes after releasing it — a
            # multi-GB rmtree must not stall other processes into the
            # 30s lock deadline
            with catalog._locked():
                owned = _catalog_owned_paths(catalog)
                for p in paths:
                    if (os.path.abspath(p) not in owned
                            and os.path.exists(p)):
                        t = f"{p}.reap-{uuid.uuid4().hex[:8]}"
                        os.rename(p, t)
                        tombstones.append(t)
        except BaseException:
            import sys as _sys
            # best-effort lock-free ownership read JUST for the
            # warning: never name a registered winner's live data as
            # "stranded" (a user following rm advice would delete it)
            try:
                catalog._load()
                owned = _catalog_owned_paths(catalog)
            except BaseException:
                owned = None
            stranded = [p for p in paths if os.path.exists(p)
                        and (owned is None
                             or os.path.abspath(p) not in owned)]
            if stranded:
                print(f"warning: failed CREATE could not clean up; "
                      f"possibly stranded path(s): {stranded} — "
                      f"verify no catalog entry owns them before "
                      f"removing", file=_sys.stderr)
        try:
            for t in tombstones:
                shutil.rmtree(t, ignore_errors=True)
        except BaseException:
            # a second interrupt mid-delete leaves *.reap-* dirs
            # (harmless, uniquely named) — the ORIGINAL build error
            # must still be what surfaces
            pass
        raise


def _create_mv(spark: SparkSession, catalog: Catalog, name: str,
               opts: dict, plan: _MvPlan, body_sql: str) -> dict:
    # name already validated by the dispatch (check_available runs
    # BEFORE the strand-proof disk check so a plain duplicate reports
    # "already exists", not an orphan warning)
    vp = catalog.path_for(name)
    meta: dict = {"sql": _norm_sql(body_sql)}
    if plan.kind == "agg":
        src = catalog.get(plan.source)
        key = opts.get("key") or src["meta"].get("key")
        if not key:
            raise SqlError(
                "agg views need the source's row-identity column: "
                "OPTIONS (key='id') on the view or the source table")
        if any(i.kind == "count_distinct" for i in plan.items):
            return _create_distinct_mv(spark, catalog, name, key, plan,
                                       body_sql)
        spec = _agg_spec(plan.items, plan.group_by)
        MV.create_agg_view(spark, src["path"], vp, key=key,
                           group_cols=plan.group_by,
                           sum_cols=spec["sum_cols"],
                           minmax_cols=spec["minmax_cols"])
        meta.update(aliases=spec["aliases"], requested=spec["requested"],
                    avgs=spec["avgs"], key=key)
    elif plan.kind == "join":
        le, re_ = catalog.get(plan.left), catalog.get(plan.right)
        lk = opts.get("left_key") or le["meta"].get("key")
        rk = opts.get("right_key") or re_["meta"].get("key")
        if not (lk and rk):
            raise SqlError("join views need OPTIONS (left_key='..', "
                           "right_key='..') or keys declared on both "
                           "source tables")
        spec = _agg_spec(plan.items, plan.group_by)
        MV.create_join_view(spark, le["path"], re_["path"], vp,
                            on=plan.on, left_key=lk, right_key=rk,
                            group_cols=plan.group_by,
                            sum_cols=spec["sum_cols"],
                            minmax_cols=spec["minmax_cols"],
                            how=plan.how)
        meta.update(aliases=spec["aliases"], requested=spec["requested"],
                    avgs=spec["avgs"], left_key=lk, right_key=rk)
    elif plan.kind == "join_table":
        le, re_ = catalog.get(plan.left), catalog.get(plan.right)
        lk = opts.get("left_key") or le["meta"].get("key")
        rk = opts.get("right_key") or re_["meta"].get("key")
        if not (lk and rk):
            raise SqlError("join tables need OPTIONS (left_key='..', "
                           "right_key='..') or keys declared on both "
                           "source tables")
        MV.create_join_table_view(spark, le["path"], re_["path"], vp,
                                  on=plan.on, left_key=lk, right_key=rk,
                                  how=plan.how)
        meta.update(left_key=lk, right_key=rk)
    elif plan.kind == "topk":
        src = catalog.get(plan.source)
        proj = [i.col for i in plan.items if i.kind == "col"]
        if ([i for i in plan.items if i.kind != "col"]
                or set(proj) != set(plan.part + [plan.key, plan.score])):
            raise SqlError(
                "a top-k view's select list must be exactly the "
                "partition columns, the key and the score "
                f"({plan.part + [plan.key, plan.score]}); got {proj}")
        MV.create_topk_view(spark, src["path"], vp, key=plan.key,
                            group_cols=plan.part, score_col=plan.score,
                            k=plan.k)
    elif plan.kind == "transform":
        src = catalog.get(plan.source)
        key = opts.get("key") or src["meta"].get("key")
        if not key:
            raise SqlError("transform views need the source's "
                           "row-identity column: OPTIONS (key='id') "
                           "or a key declared on the source table")
        fn = _transform_fn(plan.items, plan.where)
        MV.create_transform_view(spark, src["path"], vp, key=key,
                                 transform=fn,
                                 name=_transform_name(body_sql))
        meta["key"] = key
    else:  # pragma: no cover - _parse_mv_body is exhaustive
        raise SqlError(f"unknown view kind {plan.kind}")
    catalog.register(name, vp, kind=plan.kind, meta=meta,
                     require_path=True)
    return {"status": "created", "name": name, "kind": plan.kind,
            "path": vp}


def _synth_transform(sql_text: str):
    """(fn, name) for a stack-internal transform view, reconstructed
    from its synthetic SQL exactly the way _mv_transforms rebuilds
    user-declared transforms — one code path for both."""
    cur = _Cursor(sql_text)
    plan = _parse_mv_body(cur)
    return _transform_fn(plan.items, plan.where), _transform_name(
        sql_text)


_DISTINCT_IND = "_x_nn"


def _create_distinct_mv(spark: SparkSession, catalog: Catalog,
                        name: str, key: str, plan: _MvPlan,
                        body_sql: str) -> dict:
    """``SELECT k, COUNT(DISTINCT x) [, COUNT(*)] FROM t GROUP BY k``
    as incrementally-maintained EXACT distinct counting — no sketch,
    pure view COMPOSITION of three hidden-except-the-top levels:
    a transform view (``<name>__nn``) projects the key/group/distinct
    columns plus a 0/1 x-IS-NOT-NULL indicator; a pairs agg view
    (``<name>__pairs``) holds one row per LIVE (k, x) pair (a pair
    whose count retracts to zero leaves it); and the named top view
    sums the indicator over pair rows — NULL never counts, matching
    SQL COUNT(DISTINCT) — while its SUM over the pair counts serves
    COUNT(*) (which does include NULL-x rows). Each level refreshes
    for the cost of the changes; plain REFRESH advances exactly the
    hidden levels then the top, and the graph walker gives
    vacuum-safety/DESCRIBE CASCADE for free."""
    cds = [i for i in plan.items if i.kind == "count_distinct"]
    if len(cds) > 1:
        raise SqlError("one COUNT(DISTINCT ...) per view — stack "
                       "another view for a second distinct column")
    cd = cds[0]
    bad = [i for i in plan.items
           if i.kind not in ("col", "count", "count_distinct")]
    if bad:
        raise SqlError(
            "COUNT(DISTINCT x) composes with COUNT(*) and the "
            "grouping columns only — other aggregates belong in a "
            "separate view over the same source")
    _bare_cols_must_match(plan.items, plan.group_by)
    if cd.col.lower() in {c.lower() for c in plan.group_by}:
        raise SqlError(
            f"COUNT(DISTINCT {cd.col}) over its own grouping column "
            f"is constant 1 per group — drop it or group differently")
    src = catalog.get(plan.source)
    vp = catalog.path_for(name)
    vp0, vp1 = vp + "__nn", vp + "__pairs"
    seen: set = set()
    proj = [c for c in [key, *plan.group_by, cd.col]
            if not (c.lower() in seen or seen.add(c.lower()))]
    t_sql = (f"SELECT {', '.join(proj)}, CASE WHEN {cd.col} IS NULL "
             f"THEN 0 ELSE 1 END AS {_DISTINCT_IND} "
             f"FROM {plan.source}")

    def _build() -> dict:
        fn, tname = _synth_transform(t_sql)
        MV.create_transform_view(spark, src["path"], vp0, key=key,
                                 transform=fn, name=tname)
        MV.create_agg_view(spark, vp0, vp1, key=key,
                           group_cols=[*plan.group_by, cd.col,
                                       _DISTINCT_IND])
        MV.create_agg_view(spark, vp1, vp, key=cd.col,
                           group_cols=list(plan.group_by),
                           sum_cols=["cnt", _DISTINCT_IND])
        requested, aliases = [], {}
        for it in plan.items:
            if it.kind == "col":
                requested.append(it.col)
                if it.alias and it.alias != it.col:
                    aliases[it.col] = it.alias
            elif it.kind == "count":
                requested.append("sum_cnt")
                aliases["sum_cnt"] = it.alias or "cnt"
            else:
                requested.append(f"sum_{_DISTINCT_IND}")
                aliases[f"sum_{_DISTINCT_IND}"] = (
                    it.alias or f"n_distinct_{cd.col}")
        catalog.register(name, vp, kind="agg",
                         meta={"sql": _norm_sql(body_sql),
                               "aliases": aliases,
                               "requested": requested,
                               "stack": [vp0, vp1],
                               "stack_transforms": {
                                   vp0: _norm_sql(t_sql)}},
                         require_path=True)
        return {"status": "created", "name": name, "kind": "agg",
                "path": vp}

    return _strand_proof(catalog, [vp, vp1, vp0], _build)


def _include_cols_opt(kw: dict, opts: dict) -> None:
    """OPTIONS (include_cols='a,b') — filterable payload columns
    copied into the index rows (the search table functions' filter
    argument evaluates over them); one CSV parse shared by all three
    index kinds."""
    if "include_cols" in opts:
        kw["include_cols"] = [c.strip() for c in
                              str(opts["include_cols"]).split(",")
                              if c.strip()]


def _create_using(spark: SparkSession, catalog: Catalog, cur: _Cursor,
                  name: str):
    """``CREATE MATERIALIZED VIEW v USING <kind> OPTIONS (source='t',
    key='id', ...)`` — the view kinds whose definition is an
    algorithm, not a SQL shape: the maintained banded-MinHash /
    hyperplane-LSH pair tables (sources/neardup_view.py), the BM25
    postings index, and the ANN / IVF vector indexes. REFRESH /
    DESCRIBE / VACUUM / SELECT all work on them like any other
    registered view."""
    kind = cur.expect_ident().lower()
    opts = _parse_options(cur)
    yield
    if kind not in ("near_dup", "embed_near_dup", "text_index",
                    "ann_index", "ivf_index"):
        raise SqlError(f"unknown USING kind {kind!r}; supported: "
                       f"near_dup, embed_near_dup, text_index, "
                       f"ann_index, ivf_index (SQL-shaped kinds use "
                       f"AS SELECT)")
    from ..sources import indexkind as IK
    from ..sources import neardup_view as ND

    src_name = opts.get("source")
    if not src_name:
        raise SqlError(f"USING {kind} needs OPTIONS (source='<table>')")
    src = catalog.get(str(src_name))
    key = opts.get("key") or src["meta"].get("key")
    if not key:
        raise SqlError(f"USING {kind} needs OPTIONS (key='id') or a "
                       f"key declared on the source table")
    catalog.check_available(name)
    vp = catalog.path_for(name)
    internals = [vp + s for s in _kind_internal_suffixes(kind)]

    def _create_index() -> None:
        if kind == "text_index":
            from ..sources import textindex as TI

            kw = {k: opts[k] for k in ("text_col", "k1", "b")
                  if k in opts}
            _include_cols_opt(kw, opts)
            if "positions" in opts:
                pv = opts["positions"]
                kw["positions"] = (str(pv).strip().lower() == "true"
                                   if isinstance(pv, str) else bool(pv))
            TI.create_text_index(spark, src["path"], vp, key=key, **kw)
        elif kind == "ann_index":
            from ..sources import annindex as AI

            kw = {k: opts[k] for k in ("vec_col", "n_planes", "seed",
                                       "dim") if k in opts}
            _include_cols_opt(kw, opts)
            AI.create_ann_index(spark, src["path"], vp, key=key, **kw)
        else:
            from ..sources import ivfindex as II

            kw = {}
            for ok, cast in (("vec_col", str), ("n_cells", int),
                             ("iters", int), ("init", str),
                             ("pq_m", int), ("pq_k", int),
                             ("pq_iters", int), ("pq_sample", int)):
                if ok in opts:
                    kw[ok] = cast(opts[ok])
            _include_cols_opt(kw, opts)
            II.create_ivf_index(spark, src["path"], vp, key=key, **kw)
        if "buckets" in opts:
            # OPTIONS (buckets=N): the at-rest layout bucketed by the
            # index's probe column in one statement — probe queries
            # skip segment files from the first query (same as
            # OPTIMIZE ... BUCKET BY (<probe col>, N))
            IK.convert_index_to_bucketed(spark, vp, int(opts["buckets"]))

    def _build() -> dict:
        if kind in IK.kinds():
            _create_index()
        elif kind == "near_dup":
            kw = {k: opts[k] for k in ("text_col", "shingle_n",
                                       "num_hashes", "bands",
                                       "threshold", "seed")
                  if k in opts}
            ND.create_near_dup_pairs_view(spark, src["path"], vp,
                                          key=key, **kw)
        else:
            kw = {k: opts[k] for k in ("vec_col", "threshold",
                                       "n_planes", "n_sets", "seed",
                                       "dim") if k in opts}
            ND.create_embed_near_dup_pairs_view(spark, src["path"], vp,
                                                key=key, **kw)
        catalog.register(name, vp, kind=kind, require_path=True)
        return {"status": "created", "name": name, "kind": kind,
                "path": vp}

    return _strand_proof(catalog, [vp, *internals], _build)


def _mv_transforms(catalog: Catalog) -> dict:
    """path → (fn, name) for every SQL-defined transform view in the
    catalog — what refresh_view/refresh_cascade need to advance them."""
    out = {}
    for n, e in sorted(catalog.snapshot().items()):
        if e["kind"] == "transform" and e["meta"].get("sql"):
            cur = _Cursor(e["meta"]["sql"])
            plan = _parse_mv_body(cur)
            out[e["path"]] = (_transform_fn(plan.items, plan.where),
                              _transform_name(e["meta"]["sql"]))
        # hidden stack-internal transforms (COUNT DISTINCT chains)
        # travel in the owning entry's meta, same reconstruction
        for p, s in (e["meta"].get("stack_transforms") or {}).items():
            out[p] = _synth_transform(s)
    return out

