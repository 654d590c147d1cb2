"""The read path: catalog entries -> temp views -> spark.sql, with
VERSION AS OF rewriting and view-state column presentation."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import matview as MV
from ._base import SqlError, _mask, _matching_paren
from ._catalog import Catalog

# ---------------------------------------------------------------------------
# reads: catalog names → temp views → spark.sql
# ---------------------------------------------------------------------------


def _read_entry(spark: SparkSession, entry: dict,
                version: int | None = None) -> DataFrame:
    """Read a catalog entry's CURRENT state the way a SQL user expects:
    maintenance-internal columns (``nn_*`` NULL-ness counters,
    ``_pair_key`` row identities) are hidden, and an MV created with
    non-canonical SQL aliases gets its declared output names back."""
    df = MV._read_source(spark, entry["path"], version)
    if entry.get("kind") == "table":
        # maintenance-column hiding / avgs / projection are VIEW-state
        # concerns — a base table legally owning columns named nn_x
        # and sum_x must surface them all, or SELECT * and INSERT's
        # column-count check disagree with append's real schema
        return df
    meta = entry.get("meta", {})
    for canon, col in (meta.get("avgs") or {}).items():
        # AVG presents as exact-BIGINT sum / non-null count (nn_*),
        # the same arithmetic both engines produce for integer AVG;
        # 0/0 -> NULL matches SQL AVG over an all-NULL group
        df = df.withColumn(canon, F.col(f"sum_{col}") / F.col(f"nn_{col}"))
    hide = [c for c in df.columns
            if c in ("_pair_key", "_nd_pair")
            or (c.startswith("nn_") and f"sum_{c[3:]}" in df.columns)]
    if hide:
        df = df.drop(*hide)
    requested = meta.get("requested")
    if requested:
        # project to the DECLARED SQL output: asking MIN(x) alone still
        # maintains the min/max pair, but the unrequested twin is state,
        # not schema — it must not leak into SELECT *
        df = df.select(*[c for c in requested if c in df.columns])
    aliases = meta.get("aliases") or {}
    if aliases:  # canonical state name -> SQL-declared output name
        df = df.select(*[F.col(c).alias(aliases.get(c, c))
                         for c in df.columns])
    return df


_VERSION_AS_OF = re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_]*)\s+version\s+as\s+of\s+(\d+)\b",
    re.IGNORECASE,
)

# the literal (quotes included) is blanked to spaces on the mask, so
# the pattern ends at OF; whitespace is then skipped and the literal
# recovered from the ORIGINAL text
_TIMESTAMP_AS_OF = re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_]*)\s+timestamp\s+as\s+of\b",
    re.IGNORECASE,
)
_TS_LITERAL = re.compile(r"\s*'((?:[^']|'')*)'")

# LENGTH-PRESERVING mask of string literals (backslash escapes and
# ''-doubling; BOTH quote styles — Spark treats \" as an escape inside
# double-quoted literals too), backticked identifiers, and both
# comment syntaxes: the VERSION AS OF rewrite and the name scan run
# against the mask, so quoted/commented text can neither pin versions
# nor trigger catalog reads, while offsets into the REAL text stay


# each index table function -> the index kind its view must be
_INDEX_FN_KIND = {
    "text_search": "text_index", "phrase_search": "text_index",
    "ann_search": "ann_index", "ivf_search": "ivf_index",
    "knn_join": "ann_index",
}
_INDEX_FN = re.compile(r"\b(" + "|".join(_INDEX_FN_KIND) + r")\s*\(",
                       re.IGNORECASE)


def _str_arg(a: str, fn: str, what: str) -> str:
    if len(a) >= 2 and a[0] == "'" and a[-1] == "'":
        return a[1:-1].replace("''", "'")
    raise SqlError(f"{fn} needs a quoted {what}, got {a!r}")


def _int_arg(a: str, fn: str, what: str) -> int:
    try:
        return int(a)
    except ValueError:
        raise SqlError(f"{fn} needs an integer {what}, "
                       f"got {a!r}") from None


def _rewrite_index_searches(spark: SparkSession, text: str,
                            catalog: Catalog) -> str:
    """Table-function rewrites for the maintained indexes —
    ``TEXT_SEARCH('view', 'terms', k)`` → the BM25 top-k FROM the
    postings index (textindex.query_text_index: O(matching postings),
    the term IN-list pushed to the scan),
    ``PHRASE_SEARCH('view', 'exact phrase', k)`` → the adjacency-chain
    phrase top-k FROM a positional index
    (textindex.query_phrase_index), and
    ``ANN_SEARCH('view', array(x, y, ...), k[, probe_bits])`` → the
    multiprobe-LSH top-k FROM the ANN index (annindex.query_ann_index:
    O(probe fraction), file-pruned on a bucketed layout), with its
    IVF twin ``IVF_SEARCH`` and the ``KNN_JOIN`` of a table against an
    ANN index. Each call is evaluated against the index VIEW named by
    its first argument — of the kind ``_INDEX_FN_KIND`` names for the
    function, else SqlError naming both kinds — and spliced in as a
    temp view, so the result composes with full Spark
    SQL — joins, CTEs, window functions, aliases all work. k and
    probe_bits must be literals (the plan is resolved at parse time,
    exactly like VERSION AS OF)."""
    import hashlib

    from ..sources import versioned as V
    from ._base import _split_top_level

    scannable = _mask(text)
    spans: list[tuple[int, int, str]] = []
    for m in _INDEX_FN.finditer(scannable):
        fn = m.group(1).lower()
        close = _matching_paren(scannable, m.end() - 1)
        # split on the MASK (the repo's one top-level splitter):
        # commas inside comments, literals, or array(...) never split
        args = [a.strip() for a in _split_top_level(
            text[m.end():close], scannable[m.end():close], ",")]
        if args == [""]:
            args = []
        vname = _str_arg(args[0] if args else "''", fn.upper(),
                         "view name")
        e = catalog.get(vname)
        want_kind = _INDEX_FN_KIND[fn]
        if e["kind"] != want_kind:
            raise SqlError(f"{fn.upper()} reads a {want_kind} view; "
                           f"{vname} is a {e['kind']}")
        # CONTENT-KEYED temp-view name (fn + args + the index's
        # current version): two concurrent statements on one session
        # can only collide when they'd register the identical frame —
        # a position-keyed name (__text_search_0) would let statement
        # B clobber A's view with different content between A's
        # registration and A's spark.sql, silently swapping results
        ver = V.current_version(e["path"])
        tmp = "__{}_{}".format(fn, hashlib.md5(repr(
            (vname, ver, args)).encode()).hexdigest()[:12])
        if fn == "knn_join":
            # KNN_JOIN('ann_view', left_table, k[, probe_bits]) — the
            # cross-table alignment primitive through SQL: every LEFT
            # row gets its k approximate nearest corpus rows FROM the
            # maintained index (annindex.knn_join_via_index — the
            # corpus bucketing pass is write-time state, the scale
            # guard plans from the manifest row count). The left side
            # is a TABLE NAME (catalog table/view or session temp
            # view) whose columns match the index spec's key/vec_col.
            # Returns (id_a, id_b, cosine, rnk), composable like the
            # other table functions.
            if len(args) not in (3, 4, 5):
                raise SqlError("KNN_JOIN('ann_view', left_table, k"
                               "[, probe_bits[, filter]])")
            from ..sources import annindex as AI
            from ..sources import indexkind as IK

            lname = args[1]
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", lname):
                raise SqlError(f"KNN_JOIN's left side must be a "
                               f"table name, got {lname!r}")
            lkey = lname.lower()
            lcat = {n.lower(): n for n in catalog.names()}.get(lkey)
            n_left = None
            if lcat is not None:
                lentry = catalog.get(lcat)
                lpath = lentry["path"]
                lver = V.current_version(lpath)
                # plain-table left: schema-pinned serving read (both
                # layouts) — zero Spark jobs at rewrite time; view
                # kinds keep _read_entry's state presentation
                if lentry.get("kind") == "table":
                    left = V.read_probed(spark, lpath, lver, "")
                else:
                    left = _read_entry(spark, lentry)
                # the guard's left count comes from the MANIFEST
                # (parquet footers, zero Spark jobs) — without it the
                # operator would run left.count() at rewrite time,
                # the exact per-statement job class the serving
                # paths eliminated. Upper bound is exact for plain
                # tables; pending delete vectors only shrink it
                # (guard stays conservative).
                n_left = V.table_row_count(lpath, lver)
            else:
                try:
                    left = spark.table(lname)
                except Exception:
                    raise SqlError(
                        f"KNN_JOIN: no catalog table or temp view "
                        f"named {lname!r}") from None
                # a temp-view left has no manifest: key the rewrite
                # on its ANALYZED PLAN's semantic hash so replacing
                # the view with different content can never collide
                # with a concurrent identical statement's temp name
                # (the clobber content-keying exists to prevent);
                # its guard count stays the operator's own count()
                try:
                    lver = ("plan", int(
                        left._jdf.queryExecution().analyzed()
                        .semanticHash()))
                except Exception:
                    import uuid

                    lver = ("uniq", uuid.uuid4().hex)
            k = _int_arg(args[2], "KNN_JOIN", "k")
            probes = _int_arg(args[3], "KNN_JOIN", "probe_bits") \
                if len(args) >= 4 else 1
            # optional 5th arg: corpus-side payload filter (filtered
            # k-NN join — the predicate prunes the index state scan
            # BEFORE the bucket equi-join)
            jwhere = _str_arg(args[4], "KNN_JOIN", "filter") \
                if len(args) == 5 else None
            spec = IK.spec_of("ann_index", e["path"], ver)
            missing = [c for c in (spec["ai_key"], spec["ai_vec_col"])
                       if c not in left.columns]
            if missing:
                raise SqlError(
                    f"KNN_JOIN: left table {lname!r} lacks the "
                    f"index's column(s) {missing} (index {vname} "
                    f"joins on key={spec['ai_key']!r}, "
                    f"vec_col={spec['ai_vec_col']!r})")
            # re-key the content hash with the LEFT side's identity
            # too: same args over a churned left table must not share
            # a temp-view name across concurrent statements
            tmp = "__{}_{}".format(fn, hashlib.md5(repr(
                (vname, ver, args, lver)).encode()).hexdigest()[:12])
            from ..operators.dedup import ScaleGuardError

            try:
                AI.knn_join_via_index(
                    spark, left, e["path"], k=k, n_probe_bits=probes,
                    id_col=spec["ai_key"], vec_col=spec["ai_vec_col"],
                    n_left=n_left, where=jwhere,
                    version=ver).createOrReplaceTempView(tmp)
            except (KeyError, ScaleGuardError) as ex:
                # SQL has no max_expected_candidates escape hatch, so
                # the guard must surface through the layer's SqlError
                # contract
                raise SqlError(str(ex)) from ex
            spans.append((m.start(), close + 1, tmp))
            continue
        if fn in ("text_search", "phrase_search"):
            up = fn.upper()
            if len(args) not in (3, 4):
                raise SqlError(f"{up}('view', 'terms', k[, filter])")
            from ..sources import textindex as TI

            terms = _str_arg(args[1], up, "terms string")
            k = _int_arg(args[2], up, "k")
            # optional 4th arg: payload filter predicate (filtered
            # lexical search over include_cols; idf stays global)
            twhere = _str_arg(args[3], up, "filter") \
                if len(args) == 4 else None
            q = (TI.query_text_index(spark, e["path"], terms, k=k,
                                     version=ver, where=twhere)
                 if fn == "text_search" else
                 TI.query_phrase_index(spark, e["path"], terms, k=k,
                                       version=ver, where=twhere))
            q.createOrReplaceTempView(tmp)
        else:
            # ANN_SEARCH('view', array(...), k[, probe_bits[, filter]])
            # and IVF_SEARCH('view', array(...), k[, n_probe[, method[,
            # filter]]]): 'adc' routes IVF through the IVFADC tier
            # (PQ-code scoring + exact re-rank); the filter is a
            # payload predicate evaluated inside the probed scan
            up = fn.upper()
            ivf = fn == "ivf_search"
            opt = ["n_probe", "method", "filter"] if ivf else \
                ["probe_bits", "filter"]
            if not (3 <= len(args) <= 3 + len(opt)):
                raise SqlError(f"{up}('view', array(...), k[, "
                               + "[, ".join(opt) + "]" * len(opt) + ")")
            am = re.match(r"array\s*\((.*)\)\s*$", args[1],
                          re.IGNORECASE | re.DOTALL)
            if not am:
                raise SqlError(f"{up}'s query vector must be an "
                               f"array(x, y, ...) literal")
            try:
                qv = [float(x.rstrip("dDfF")) for x in
                      am.group(1).split(",")]
            except ValueError as ex:
                raise SqlError(f"bad vector literal: {ex}") from ex
            k = _int_arg(args[2], up, "k")
            probe = _int_arg(args[3], up, opt[0]) if len(args) >= 4 \
                else (2 if ivf else 1)
            method = _str_arg(args[4], up, "method") \
                if ivf and len(args) >= 5 else "exact"
            vwhere = _str_arg(args[-1], up, "filter") \
                if len(args) == 3 + len(opt) else None
            from ..sources import annindex as AI
            from ..sources import ivfindex as II

            q = (II.query_ivf_index(spark, e["path"], qv, k=k,
                                    n_probe=probe, version=ver,
                                    method=method, where=vwhere)
                 if ivf else
                 AI.query_ann_index(spark, e["path"], qv, k=k,
                                    n_probe_bits=probe, version=ver,
                                    where=vwhere))
            q.createOrReplaceTempView(tmp)
        spans.append((m.start(), close + 1, tmp))
    if not spans:
        return text
    out, last = [], 0
    for start, end, tmp in spans:
        out.append(text[last:start])
        out.append(tmp)
        last = end
    out.append(text[last:])
    return "".join(out)


def _run_select(spark: SparkSession, text: str, catalog: Catalog
                ) -> DataFrame:
    """Register every referenced catalog name as a temp view, rewrite
    ``name VERSION AS OF n`` to a pinned temp view and the
    TEXT_SEARCH/ANN_SEARCH index table functions to their evaluated
    results, and delegate the statement text to spark.sql — full
    Spark SQL composes over maintained state."""

    from ..sources import versioned as V

    text = _rewrite_index_searches(spark, text, catalog)
    by_lower = {n.lower(): n for n in catalog.names()}
    scannable = _mask(text)

    # both time-travel forms rewrite to a pinned temp view; spans are
    # collected first (mixed forms in one statement), then spliced in
    # one left-to-right pass
    pins: list[tuple[int, int, str]] = []  # (start, end, view_name)
    for m in _VERSION_AS_OF.finditer(scannable):
        name = by_lower.get(m.group(1).lower())
        if name is None:
            continue
        ver = int(m.group(2))
        pinned = f"{name}__v{ver}"
        _read_entry(spark, catalog.get(name), ver)\
            .createOrReplaceTempView(pinned)
        pins.append((m.start(), m.end(), pinned))
    for m in _TIMESTAMP_AS_OF.finditer(scannable):
        name = by_lower.get(m.group(1).lower())
        if name is None:
            continue
        lm = _TS_LITERAL.match(text, m.end())
        if lm is None:
            continue
        ts = lm.group(1).replace("''", "'")
        entry = catalog.get(name)
        ver = V.version_at_timestamp(entry["path"], ts)
        pinned = f"{name}__v{ver}"
        _read_entry(spark, entry, ver).createOrReplaceTempView(pinned)
        pins.append((m.start(), lm.end(), pinned))
    if pins:
        out, last = [], 0
        for start, end, pinned in sorted(pins):
            out.append(text[last:start])
            out.append(pinned)
            last = end
        out.append(text[last:])
        text = "".join(out)
        scannable = _mask(text)
    referenced = {m.group(0).lower()
                  for m in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*",
                                       scannable)}
    for name in catalog.names():
        if name.lower() in referenced:
            _read_entry(spark, catalog.get(name))\
                .createOrReplaceTempView(name)
    return spark.sql(text)

