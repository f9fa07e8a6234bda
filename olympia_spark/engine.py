"""Engine — the Spark-facing façade over the catalog plane.

This is the rebuild of the reference's Spark integration surface
(docs/spark.md), Spark-first instead of JVM-plugin:

* **SQL front-end (A35)** — ``engine.sql(text)`` gates
  BEGIN/COMMIT/ROLLBACK TRANSACTION with the same normalization the
  reference's parser applies before ANTLR
  (OlympiaSparkSqlExtensionsParser.scala:115-133), handles catalog DDL
  (CREATE/DROP NAMESPACE|TABLE|VIEW, SHOW, DESCRIBE) and DML
  (INSERT/DELETE/UPDATE), and delegates everything else to ``spark.sql``
  after resolving ``ns.table`` references to frames over the
  catalog-tracked parquet files — the Python-native equivalent of the
  reference's DSv2 catalog plugin (SURVEY §4: no Catalyst rule needed).
  A statement binds them in one ``_StatementScope`` under names no
  other statement uses, dropped once the text is analyzed.
  Every read or rewrite of statement text before ``spark.sql`` goes
  through one lexer, ``sqltext.py``: one grammar for string literals
  (``\\`` escapes and ``''`` doubling, both quote styles), backtick
  identifiers and nesting comments, and from it a code view, keyword
  and paren finds, a top-level comma split and a map over code runs.
* **Read path (§3.1)** — table resolution = tree search → TableDef →
  ``spark.read.parquet(files)``, recording a TABLE_SELECT action on the
  transaction (reference OlympiaIcebergTableScan.java:31-48).
* **Write path (§3.2, B28-B30)** — executors write parquet; the driver
  lists the new files (with per-file min/max stats from the footers),
  builds the new TableDef and commits through the optimistic CAS loop.
  DELETE/UPDATE are copy-on-write: stats-based file pruning → rewrite
  only files that actually contain matches (the Spark-native
  mini-Iceberg of SURVEY §7 "what's hard").
* **System namespace (A36)** — ``sys.dtxns`` virtualizes distributed
  transactions as a queryable table; ``engine.begin_dist/resume_dist``
  persist/resume them (docs/spark.md:110-142).

Scale posture: catalog ops are driver-side KB-scale metadata; every data
movement is a Spark job over the tracked files — reads prune columns and
push predicates into the parquet scan exactly as a plain
``spark.read.parquet`` would, because that is literally what resolution
produces.
"""

from __future__ import annotations

import collections
import contextlib
import dataclasses
import datetime
import decimal
import itertools
import json
import math
import os
import re
import shutil
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olympia_spark import driver_write, sqltext
from olympia_spark.catalog import Catalog
from olympia_spark.catalog.actions import Action, ActionType
from olympia_spark.catalog.catalog import DropNamespaceBehavior
from olympia_spark.catalog.defs import DataFile, TableDef, ViewDef
from olympia_spark.catalog.errors import (CheckConstraintError,
                                          MergeCardinalityError,
                                          ObjectNotFoundError,
                                          TransactionValueError)
from olympia_spark.catalog.transactions import Transaction, roll_back_to

_DATA_DIR = "data"
_ZCOL = "__zorder"
# shadow tables (B55b/B55c bucketed reads): per-(applicationId, shadow
# name) set of WRITE-DIR ids this process saw registered AND on-disk
# verified — keyed to the applicationId so a restarted session never
# trusts a prior session's registration, per-dir so appends register
# only their NEW dirs (r10 VERDICT #3: one shadow per (table, spec,
# schema), O(new dirs) work per append instead of a full replay under
# a fresh name)
_SHADOW_DIRS: dict[tuple[str, str], set[str]] = {}

# per-(app, shadow) rotating cursor for the cross-process-GC freshness
# probe: each bucketed read re-verifies ONE vouched dir on disk (r11
# VERDICT wrong #2 — an external vacuum must downgrade to the loud
# plain scan, never silently serve vacuumed dirs as empty partitions)
_SHADOW_PROBE_CURSOR: dict[tuple[str, str], int] = {}

# TableDef properties minted by pointer HYDRATION (describe-time, from
# the live Iceberg metadata) — they describe one snapshot and must never
# be persisted into a def file, where they would outlive the snapshot
_HYDRATION_PROPS = frozenset({
    "iceberg.mor_deletes", "iceberg.identity_fill",
    "iceberg.format-version", "iceberg.hydrated"})

# In-job failure markers raised via F.raise_error inside write jobs and
# detected on the driver by substring over the (nested) exception text.
# The bracketed token makes the match collision-resistant: a user row or
# an unrelated failure whose message merely contains the words
# "CHECK constraint" / "MERGE" cannot be misclassified, only the exact
# marker token fires the typed error. End-to-end tests pin the mapping,
# so a changed Spark exception-wrapping format fails loudly instead of
# silently downgrading to a raw exception.
_CHECK_MARKER = "OLYMPIA_CHECK[b3f6c2e9]"
# Spark-lane write option: no ``_SUCCESS`` marker. The catalog commit is
# what publishes a write, and nothing reads the marker.
_NO_SUCCESS = {"mapreduce.fileoutputcommitter.marksuccessfuljobs": "false"}
_CARDINALITY_MARKER = "MERGE_CARDINALITY[b3f6c2e9]"

# statement gate — same normalization as the reference parser
# (trim, strip trailing ';', collapse whitespace, case-insensitive)
_BEGIN_RE = re.compile(r"^BEGIN(\s+TRANSACTION)?$", re.I)
# A whole-conjunct simple comparison for stats pruning: column op literal,
# where the literal is a complete quoted string ('' doubling only — a
# backslash escape would need unescaping to compare, so such a literal
# never parses and never prunes) or a complete signed number (decimal /
# scientific). ``col BETWEEN literal AND literal`` is the two comparisons
# ``col >= lo`` and ``col <= hi``, as Spark rewrites it.
_LITERAL = (r"('(?:[^'\\]|'')*'"
            r"|[+-]?(?:\d+(?:\.\d+)?|\.\d+)(?:[eE][+-]?\d+)?)")
_SIMPLE_CMP_RE = re.compile(
    rf"^\s*(\w+)\s*(=|<=|>=|<|>)\s*{_LITERAL}\s*$")
_BETWEEN_RE = re.compile(
    rf"^\s*(\w+)\s+BETWEEN\s+{_LITERAL}\s+AND\s+{_LITERAL}\s*$", re.I)
_COMMIT_RE = re.compile(r"^COMMIT(\s+TRANSACTION)?$", re.I)
_ROLLBACK_RE = re.compile(r"^ROLLBACK(\s+TRANSACTION)?$", re.I)


_NUMERIC_WIDTH = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
                  "float": 4, "double": 5}
_PLAIN_NUMBER_RE = re.compile(
    r"\s*[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?\s*")
_ISO_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}")


def _pruning_bounds(dt: T.DataType | None, stats: list,
                    lit: str) -> tuple | None:
    """(min, max, value) of one ``column op literal`` comparison, in the
    value space Spark compares in for the column's declared type ``dt``,
    or None when the file stats cannot decide it. ``stats`` are a
    file's [min, max]; older warehouses hold decimal and date stats as
    strings, so both sides are converted here, never compared as text.

    - integers and decimals against a number compare exactly, except an
      exponent literal, which is a double in Spark
    - decimals against a quoted number compare as doubles, as Spark does
    - floats compare as doubles; stats with a NaN decide nothing
    - dates compare only against a canonical ``'YYYY-MM-DD'``; any other
      text may still cast to a date that matches
    - strings compare against a quoted literal
    - timestamps and every other type never prune"""
    mn, mx = stats
    quoted = lit.startswith("'")
    text = lit[1:-1].replace("''", "'") if quoted else lit
    as_double = quoted or "e" in lit.lower()
    try:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType, T.DecimalType)):
            if quoted and not (isinstance(dt, T.DecimalType)
                               and _PLAIN_NUMBER_RE.fullmatch(text)):
                return None
            if any(isinstance(v, (bool, float)) for v in (mn, mx)):
                return None            # a lossy hive partition value
            lo, hi = decimal.Decimal(mn), decimal.Decimal(mx)
            if as_double:
                return float(lo), float(hi), float(text)
            return lo, hi, decimal.Decimal(text)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            if quoted or any(isinstance(v, bool) or math.isnan(v)
                             for v in (mn, mx)):
                return None
            return float(mn), float(mx), float(text)
        if isinstance(dt, T.DateType):
            if not (quoted and _ISO_DATE_RE.fullmatch(text)):
                return None
            day = datetime.date.fromisoformat
            return day(str(mn)), day(str(mx)), day(text)
        if dt == T.StringType():
            if quoted and isinstance(mn, str) and isinstance(mx, str):
                return mn, mx, text
    except (ValueError, TypeError, ArithmeticError):
        pass
    return None


def _hive_era(path: str, schema_names: set[str]) -> tuple[str, ...]:
    """The ordered tuple of hive-encoded partition COLUMN names in an
    engine-owned relative path — the table's layout ERA. Applies ONLY
    to engine-owned layouts: absolute/URI paths (external estates,
    adopted Iceberg files) are OPAQUE — a user directory that happens
    to be named like a column (…/source=web/… with a real in-file
    `source` column) must never have its file values replaced by a
    path-derived constant. Shared by the scan planner and the
    small-file packer so the two can't silently diverge."""
    if os.path.isabs(path) or "://" in path:
        return ()
    return tuple(seg.split("=", 1)[0] for seg in path.split("/")[:-1]
                 if "=" in seg and seg.split("=", 1)[0] in schema_names)


def _can_upcast(src: T.DataType, dst: T.DataType) -> bool:
    """Lossless-cast check for schema-bound views: numeric widening, date→
    timestamp, and decimal growth are safe; anything else (string→number,
    narrowing, type-family change) can NULL or mangle values."""
    s, d = src.simpleString(), dst.simpleString()
    if s in _NUMERIC_WIDTH and d in _NUMERIC_WIDTH:
        return _NUMERIC_WIDTH[s] <= _NUMERIC_WIDTH[d]
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return (dst.precision >= src.precision
                and dst.scale >= src.scale
                and dst.precision - dst.scale
                >= src.precision - src.scale)
    if s == "date" and d == "timestamp":
        return True
    return False


def _rewrite_exclude(stmt: str) -> str:
    """``SELECT * EXCLUDE (cols)`` (DuckDB/Snowflake spelling) → Spark's
    native ``* EXCEPT (cols)``. Pure keyword alias, applied to code
    only."""
    return sqltext.map_code(stmt, lambda seg: re.sub(
        r"\bEXCLUDE\s*\(", "EXCEPT (", seg, flags=re.I))


def _rewrite_tablesample_all(stmt: str) -> str:
    """The TABLESAMPLE rewrite at the top level and inside every
    parenthesized group, so the documented syntax works in subqueries
    and CTE bodies, not just at depth 0."""
    if not re.search(r"\bTABLESAMPLE\b", stmt, re.I):
        return stmt              # fast path: no paren walk on plain SQL
    return _rewrite_tablesample(sqltext.rewrite_groups(
        stmt, _rewrite_tablesample, "TABLESAMPLE"))


def _rewrite_tablesample(stmt: str) -> str:
    """Deterministic TABLESAMPLE: ``t TABLESAMPLE (p PERCENT ON key
    [SEED n]) [AS a]`` → a derived table filtered on an md5-bucket
    predicate of the key. Native engine sampling (Spark's TABLESAMPLE,
    DuckDB's USING SAMPLE) is neither portable nor replayable; hashing an
    explicit key makes the sample a pure function of the data — stable
    across runs, engines, and repartitions (same principle as
    data_split_stratified), and the predicate pushes down to the scan.
    The whole spec lives inside the parens so a following JOIN ... ON is
    never consumed."""
    while True:
        code = sqltext.code_view(stmt)
        ti = sqltext.find_kw(code, "TABLESAMPLE")
        if ti is None:
            return stmt
        j = ti - 1
        while j >= 0 and stmt[j].isspace():
            j -= 1
        end_tbl = j + 1
        while j >= 0 and (stmt[j].isalnum() or stmt[j] in "._`"):
            j -= 1
        tbl = stmt[j + 1:end_tbl]
        if not tbl:
            raise ValueError("TABLESAMPLE must directly follow a table "
                             "reference")
        start = j + 1
        op = code.index("(", ti)
        cp = sqltext.match_paren(code, op)
        spec = stmt[op + 1:cp - 1].strip()
        m = re.fullmatch(
            r"(\d+(?:\.\d+)?)\s+PERCENT\s+ON\s+(.+?)(?:\s+SEED\s+(\d+))?",
            spec, re.I | re.S)
        if not m:
            raise ValueError(
                "TABLESAMPLE spec must be '<p> PERCENT ON <key-expr> "
                "[SEED <n>]' — deterministic sampling hashes an explicit "
                f"key; got: ({spec})")
        pct, key, seed = float(m.group(1)), m.group(2), m.group(3) or "0"
        if not 0 <= pct <= 100:
            raise ValueError(f"TABLESAMPLE percentage out of range: {pct}")
        i = cp
        ma = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", stmt[i:], re.I)
        _STOP = {"WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY",
                 "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "ON",
                 "UNION", "EXCEPT", "INTERSECT", "SELECT", "AND", "OR",
                 "USING", "LATERAL", "TABLESAMPLE", "AS"}
        if ma and ma.group(1).upper() not in _STOP:
            alias = ma.group(1)
            i += ma.end()
        else:
            alias = tbl.split(".")[-1].strip("`")
        threshold = int(round(pct * 100))            # basis points of 10000
        pred = (f"CAST(conv(substring(md5(concat(CAST(({key}) AS STRING), "
                f"'{seed}')), 1, 8), 16, 10) AS BIGINT) % 10000 "
                f"< {threshold}")
        stmt = (f"{stmt[:start]}(SELECT * FROM {tbl} WHERE {pred}) "
                f"{alias}{stmt[i:]}")


def _rewrite_qualify(stmt: str) -> tuple[str, list[str]]:
    """QUALIFY — filter on window results without a subquery — which
    Spark SQL lacks (DuckDB/Snowflake/BigQuery have it). Rewritten to the
    standard form: the inner select gains hidden projections for any
    window expressions written inline in the condition, the query wraps
    in a subquery filtered on the condition, trailing ORDER BY/LIMIT
    move outside, and the hidden columns are dropped from the returned
    frame. QUALIFY inside parenthesized subqueries / CTE bodies is
    rewritten recursively (schema-preserving: nested hidden projections
    are dropped with ``* EXCEPT`` so the subquery's shape is unchanged).
    Returns (sql, hidden_column_names)."""
    if not re.search(r"\bQUALIFY\b", stmt, re.I):
        return stmt, []          # fast path: no paren-walk on plain SQL
    return _rewrite_qualify_here(sqltext.rewrite_groups(
        stmt, _rewrite_qualify_nested, "QUALIFY"))


def _rewrite_qualify_nested(body: str) -> str:
    """The QUALIFY rewrite of one parenthesized group. Nested rewrites
    drop their hidden window projections via ``SELECT * EXCEPT (...)``
    so the subquery schema is exactly what the un-rewritten query would
    have produced."""
    rewritten, hidden = _rewrite_qualify_here(body)
    if hidden:
        rewritten = rewritten.replace(
            "SELECT * FROM",
            f"SELECT * EXCEPT ({', '.join(hidden)}) FROM", 1)
    return rewritten


def _rewrite_qualify_here(stmt: str) -> tuple[str, list[str]]:
    code = sqltext.code_view(stmt)
    qi = sqltext.find_kw(code, "QUALIFY")
    if qi is None:
        return stmt, []
    inner = stmt[:qi].strip()
    tail, tail_code = stmt[qi + len("QUALIFY"):], code[qi + len("QUALIFY"):]
    t_candidates = [p for p in (sqltext.find_kw(tail_code, "ORDER"),
                                sqltext.find_kw(tail_code, "LIMIT"))
                    if p is not None]
    cut = min(t_candidates) if t_candidates else len(tail)
    cond, trailing = tail[:cut].strip(), tail[cut:].strip()
    cond_code = sqltext.code_view(cond)
    # inline window expressions in the condition become hidden columns
    hidden: list[str] = []
    extra: list[str] = []
    while True:
        oi = sqltext.find_kw(cond_code, "OVER")
        if oi is None:
            break
        # right: the OVER (...) frame
        op = cond_code.index("(", oi)
        end = sqltext.match_paren(cond_code, op)
        # left: backwards over ws → the function call's closing paren
        j = oi - 1
        while j >= 0 and cond_code[j].isspace():
            j -= 1
        if j < 0 or cond_code[j] != ")":
            raise ValueError("QUALIFY: cannot parse window function "
                             f"before OVER in: {cond}")
        depth = 0
        k = j
        while k >= 0:
            if cond_code[k] == ")":
                depth += 1
            elif cond_code[k] == "(":
                depth -= 1
                if depth == 0:
                    break
            k -= 1
        while k > 0 and (cond[k - 1].isalnum() or cond[k - 1] == "_"):
            k -= 1
        alias = f"__qualify_{len(hidden)}"
        extra.append(f"{cond[k:end]} AS {alias}")
        hidden.append(alias)
        cond = cond[:k] + alias + cond[end:]
        cond_code = cond_code[:k] + alias + cond_code[end:]
    if extra:
        inner_code = sqltext.code_view(inner)
        si = sqltext.find_kw(inner_code, "SELECT")
        if si is not None and re.match(r"\s*DISTINCT\b",
                                       inner[si + len("SELECT"):], re.I):
            # injecting hidden projections into a DISTINCT select list
            # would change its cardinality before the filter runs
            raise ValueError(
                "QUALIFY with an inline window function over SELECT "
                "DISTINCT is not supported: project the window "
                "expression as a named column first, then QUALIFY on it")
        fi = sqltext.find_kw(inner_code, "FROM")
        if fi is None:
            raise ValueError("QUALIFY: no top-level FROM to attach "
                             "window projections to")
        inner = f"{inner[:fi].rstrip()}, {', '.join(extra)} {inner[fi:]}"
    out = (f"SELECT * FROM ({inner}) __qualify_src "
           f"WHERE {cond} {trailing}").strip()
    return out, hidden


def _s3a_on_classpath(spark: SparkSession) -> bool:
    """True when a Hadoop S3A filesystem is loadable in Spark's JVM — the
    prerequisite for handing executors ``s3a://`` URIs directly (the
    hadoop-aws jar provides it on real clusters; this container lacks
    it, so auto mode falls back to the spool lane).

    Probes through the current thread's context classloader, not
    ``Class.forName``: jars shipped with ``spark-submit --jars`` land in
    Spark's MutableURLClassLoader (the context loader on driver
    threads), which forName from the py4j gateway never consults —
    forName-only probing silently spools on properly configured
    clusters."""
    try:
        jvm = spark._jvm
        loader = (jvm.java.lang.Thread.currentThread()  # type: ignore[union-attr]
                  .getContextClassLoader())
        if loader is None:
            jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.hadoop.fs.s3a.S3AFileSystem")
        else:
            loader.loadClass("org.apache.hadoop.fs.s3a.S3AFileSystem")
        return True
    except Exception:
        return False


# One counter for the process: every Engine and thread on a SparkSession
# shares its temp-view namespace.
_STATEMENT_NAMES = itertools.count()


class _StatementScope(contextlib.AbstractContextManager):
    """The session names one statement's SQL reads its frames under:
    ``bind`` registers a frame as a temp view under a name no other
    statement uses, and leaving the ``with`` block drops every name it
    registered, also when the statement fails. Classic Spark analyzes
    eagerly, so a DataFrame built over the names inside the block keeps
    its plan once they are gone. A key says what a frame stands for
    (``("obj", ns, tbl)``, a snapshot, a metadata table); one key is one
    name, which :meth:`name` hands out before the frame is bound."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._names: dict[tuple, str] = {}
        self._bound: list[str] = []

    def name(self, *key) -> str:
        if key not in self._names:
            hint = re.sub(r"\W+", "_", "_".join(map(str, key)))
            self._names[key] = f"olympia__{next(_STATEMENT_NAMES)}_{hint}"
        return self._names[key]

    def bind(self, df: DataFrame, *key) -> str:
        name = self.name(*key)
        if name not in self._bound:             # a key keeps its frame
            df.createOrReplaceTempView(name)
            self._bound.append(name)
        return name

    def __exit__(self, *exc) -> None:
        # the session catalog's drop releases the name only; the one of
        # ``spark.catalog`` also uncaches the frame's plan, unpinning a
        # persisted frame (a REPLACE WHERE source) still in use
        if self._bound:
            catalog = self.spark._jsparkSession.sessionState().catalog()
            for name in self._bound:
                catalog.dropTempView(name)


@dataclasses.dataclass(frozen=True)
class _MVPlan:
    """A stored MV query that refresh can maintain incrementally, as
    ``Engine._mv_plan`` parsed it. ``lane`` names how a change feed
    reaches the aggregate: ``single`` (one bare source table), ``union``
    (``branches``: one ``(source, items, where)`` per UNION ALL
    projection/filter branch) or ``join`` (``join``: ``slots``, the
    ``(source, alias)`` chain, and ``conds``, one ``(type, on)`` per
    link). ``from_sql`` is the FROM text the augmented query re-emits."""
    lane: str
    group: tuple[str, ...]              # stored key column names
    group_items: tuple[str, ...]        # key select items, verbatim
    key_exprs: tuple[str, ...]          # key expressions, alias stripped
    group_sql: str | None
    aggs: tuple[tuple[str, str, str], ...]   # (kind, inner, out)
    where: str | None
    select_raw: str
    from_sql: str
    having_out: str | None = None
    branches: tuple[tuple[str, str, str | None], ...] = ()
    join: dict | None = None


class Engine:
    """One Engine per (SparkSession, warehouse). Holds the session
    transaction for multi-statement BEGIN/COMMIT (reference
    OlympiaIcebergCatalog.java:620-637 session state)."""

    def __init__(self, spark: SparkSession, warehouse: str,
                 isolation_level: str | None = None,
                 data_plane: str = "auto"):
        self.spark = spark
        self.catalog = (Catalog.load(warehouse) if Catalog.exists(warehouse)
                        else Catalog.create(warehouse))
        # Object-store data plane (s3:// warehouses) — two lanes:
        #
        # * ``direct``: executors stream the object store themselves —
        #   _scan hands Spark ``s3a://bucket/key`` URIs, _write_files
        #   writes straight to an ``s3a://`` directory, and the driver
        #   touches only parquet FOOTERS (ranged GETs) for stats. Zero
        #   data bytes through the driver; this is the production lane
        #   and the reference's premise (tables live on object storage
        #   and the host engine reads them in place —
        #   docs/format.md:218-246, spark/v3.5 via Iceberg FileIO).
        #   Requires a Hadoop S3 filesystem on the JVM classpath.
        # * ``spool``: every data-file byte moves through the SAME
        #   Storage abstraction the catalog uses (boto3-backed,
        #   moto-testable) with a local spool/cache — writes spool
        #   locally and upload on close (S3AtomicOutputStream.java:42-47),
        #   reads download into an immutable local cache
        #   (S3StorageOps.java:110-117 prepareToReadLocal). Data files
        #   are immutable at uuid-unique paths, so the cache never needs
        #   invalidation.
        #
        # ``data_plane="auto"`` picks ``direct`` when
        # org.apache.hadoop.fs.s3a.S3AFileSystem is loadable in Spark's
        # JVM (this container ships no hadoop-aws jar, so tests exercise
        # ``spool`` end-to-end and pin the ``direct`` lane's URI handoff
        # with a forced mode).
        from olympia_spark.catalog.storage import LocalStorage
        # validate the literal BEFORE branching on warehouse kind — a
        # typo accepted silently on a posix dev warehouse would only
        # error once pointed at s3:// in production
        if data_plane not in ("auto", "direct", "spool"):
            raise ValueError(f"unknown data_plane {data_plane!r} "
                             "(expected auto|direct|spool)")
        self._object_store = not isinstance(self.catalog.storage,
                                            LocalStorage)
        if not self._object_store:
            self.data_plane = "local"
        elif data_plane == "auto":
            self.data_plane = ("direct" if _s3a_on_classpath(spark)
                               else "spool")
        else:
            self.data_plane = data_plane
        if self.data_plane == "direct":
            self._configure_s3a()
        self._local_root = (self.catalog.storage.cache_dir
                            if self._object_store
                            else self.catalog.storage.root)
        self.isolation_level = (isolation_level
                                or self.catalog.catalog_def.txn_isolation_level)
        self.current_txn: Transaction | None = None
        # bucket() partition transforms hash with Iceberg's
        # murmur3_x86_32 through these session UDFs — registration is
        # idempotent and session-wide, so every engine on the session
        # can evaluate stored generated-column expressions
        from olympia_spark.iceberg_hash import register_iceberg_hash
        register_iceberg_hash(spark)

    # --- transaction session state (A35) ------------------------------------

    @contextlib.contextmanager
    def _statement(self) -> Iterator[Transaction]:
        """The transaction one statement runs in (reference
        beginOrLoadTransaction, OlympiaIcebergCatalog.java:639-665): an
        open BEGIN block's, else a fresh one that only this scope holds
        and commits on normal exit. A statement that raises commits
        nothing; inside a BEGIN block its staged ops are undone, so the
        block's COMMIT publishes none of them. If they cannot be undone,
        the block keeps them and the statement's own error is raised."""
        txn = self.current_txn
        if txn is None:
            txn = self.catalog.begin(self.isolation_level)
            yield txn
            self.catalog.commit(txn)
            return
        n_ops = len(txn.ops)
        try:
            yield txn
        except BaseException as err:
            if len(txn.ops) > n_ops:
                try:
                    roll_back_to(txn, n_ops)
                except Exception as undo:
                    err.add_note("its staged changes stay in the open "
                                 f"transaction: {undo}")
            raise

    def begin(self) -> None:
        if self.current_txn is not None:
            raise TransactionValueError("transaction already in progress")
        self.current_txn = self.catalog.begin(self.isolation_level)

    def commit(self) -> None:
        if self.current_txn is None:
            raise TransactionValueError("no transaction in progress")
        try:
            self.catalog.commit(self.current_txn)
        finally:
            # a failed COMMIT ends the block too, as in PostgreSQL
            self.current_txn = None

    def rollback(self) -> None:
        """ROLLBACK discards the in-memory transaction
        (OlympiaIcebergCatalog.java:626-637, with the obviously-intended
        precondition — the reference's checkArgument is inverted)."""
        if self.current_txn is None:
            raise TransactionValueError("no transaction in progress")
        self.current_txn = None

    # --- table I/O ----------------------------------------------------------

    def _abs(self, rel: str) -> str:
        """The LOCAL materialization path of a warehouse-relative data
        path: the warehouse directory itself for posix warehouses, the
        read-local cache location for object-store warehouses (where the
        authoritative copy lives at the storage key ``rel``). External
        tables store absolute paths, which pass through unchanged
        (os.path.join drops the root when ``rel`` is absolute)."""
        return os.path.join(self._local_root, rel)

    def _ensure_local(self, rel_paths: list[str]) -> list[str]:
        """Materialize data files locally for a Spark scan and return
        their local paths. Posix warehouses: identity. Object stores:
        download cache-missing files in parallel (atomic temp+rename per
        file, so concurrent engines share the cache safely); files just
        written by this engine are already cache-resident, so the hot
        read-your-writes path costs zero GETs."""
        if not self._object_store:
            return [self._abs(p) for p in rel_paths]
        storage = self.catalog.storage
        missing = [p for p in rel_paths
                   if not os.path.isabs(p)
                   and not os.path.exists(self._abs(p))]
        if missing:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=min(16, len(missing))) \
                    as pool:
                list(pool.map(
                    lambda p: storage.get_to_file(p, self._abs(p)),
                    missing))
        return [self._abs(p) for p in rel_paths]

    def _configure_s3a(self) -> None:
        """Direct lane: propagate the storage client's endpoint/addressing
        to Spark's Hadoop conf so executors resolve the same object store
        the catalog talks to (custom endpoints — MinIO, localstack — need
        path-style addressing; AWS proper needs neither key)."""
        s = self.catalog.storage
        client = getattr(s, "_s3", None)
        endpoint = str(getattr(getattr(client, "meta", None),
                               "endpoint_url", "") or "")
        if endpoint and "amazonaws.com" not in endpoint:
            # per-BUCKET keys, not the global fs.s3a.endpoint: the
            # Hadoop conf is session-wide, so two Engines on one
            # SparkSession (MinIO + AWS, or two MinIO endpoints) would
            # clobber each other through the global key. Hadoop's
            # per-bucket override (fs.s3a.bucket.<b>.*) scopes the
            # setting to this warehouse's bucket. (Same bucket NAME on
            # two endpoints still collides — inherent to per-bucket
            # config; use distinct bucket names across stores.)
            hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
            hconf.set(f"fs.s3a.bucket.{s.bucket}.endpoint", endpoint)
            hconf.set(f"fs.s3a.bucket.{s.bucket}.path.style.access",
                      "true")

    def _s3a_uri(self, rel: str) -> str:
        """The executor-readable Spark URI of a warehouse-relative data
        path in the direct lane."""
        s = self.catalog.storage
        key = f"{s.root}/{rel}" if s.root else rel
        return f"s3a://{s.bucket}/{key}"

    def _scan_uri(self, rel: str) -> str:
        """The ONE path Spark reads/writes for a warehouse-relative data
        path, per lane: local/spool → local filesystem path (spool
        downloads happen in :meth:`_scan_uris`), direct → ``s3a://``
        object URI (executors stream the object store; the driver moves
        no data bytes). Absolute paths (external tables) pass through."""
        if self.data_plane == "direct" and not os.path.isabs(rel):
            return self._s3a_uri(rel)
        return self._abs(rel)

    def _scan_uris(self, rel_paths: list[str]) -> list[str]:
        """Lane-dispatched scan path list: spool lane materializes the
        local cache first (one parallel download for all missing files);
        direct lane is pure URI construction — zero driver I/O."""
        if self.data_plane == "direct":
            return [self._scan_uri(p) for p in rel_paths]
        return self._ensure_local(rel_paths)

    def _data_uri(self, rel: str) -> str:
        """The AUTHORITATIVE URI of a data file — what external readers
        (Iceberg metadata exports) should record: the s3:// object URI
        for object-store warehouses, the absolute local path otherwise."""
        if self._object_store and not os.path.isabs(rel):
            s = self.catalog.storage
            key = f"{s.root}/{rel}" if s.root else rel
            return f"s3://{s.bucket}/{key}"
        return self._abs(rel)

    def _data_exists(self, rel: str) -> bool:
        """Authoritative existence of a data file — the object store is
        consulted (never the cache: VACUUM may have deleted the object
        while a cache copy lingers, and trusting it would let RESTORE
        'succeed' into a table other machines cannot read)."""
        if self._object_store and not os.path.isabs(rel):
            return self.catalog.storage.exists(rel)
        return os.path.exists(self._abs(rel))

    def _record_select(self, txn: Transaction, ns: str, tbl: str,
                       columns: list[str], predicate: str = "") -> None:
        """A38 — every read records (table, columns, predicate) for
        SERIALIZABLE conflict checks (OlympiaIcebergTableScan.java:31-48)."""
        txn.record_read(Action(
            ActionType.TABLE_SELECT, self.catalog._tbl_key(ns, tbl),
            {"column_names": columns, "expression": predicate}))

    def read_table(self, name: str, txn: Transaction | None = None,
                   *, historical: bool = False) -> DataFrame:
        """§3.1 read path: tree search → TableDef → parquet scan, with
        governance POLICIES (B97 row filter / column masks) applied at
        this reader-facing chokepoint — every SQL reference (SELECT,
        views, time travel, MERGE/INSERT sources) resolves through
        here, while internal rewrite paths (COW DML, compaction,
        CLONE, export) scan raw via ``_scan`` so a policy can never
        silently destroy the rows it hides. ``historical=True`` marks
        a time-travel/dtxn snapshot read: those enforce the table's
        CURRENT policies (one extra read-only catalog probe) — VERSION
        AS OF a pre-policy version must not be an RLS escape hatch.
        Latest-state reads take the policies straight off the tdef in
        hand, paying ZERO extra catalog I/O on the hot path."""
        if txn is None:
            with self._statement() as txn:
                return self.read_table(name, txn, historical=historical)
        ns, tbl = self._split(name)
        tdef = self.catalog.describe_table(txn, ns, tbl)
        schema = tdef.spark_schema()
        self._record_select(txn, ns, tbl, [f.name for f in schema.fields])
        policies = (self._current_policies(ns, tbl, tdef)
                    if historical else tdef.properties)
        base = (self._mor_scan(tdef)
                or self._scan(tdef, tdef.file_paths()))
        hv = tdef.properties.get(self._MV_HAVING_PROP)
        if hv:
            # HAVING materialized view (VERDICT r14 #5): the stored
            # files keep ALL groups (full group state — the hidden
            # companions let a group cross the threshold incrementally
            # in either direction); the rewritten predicate over the
            # OUTPUT columns applies here at the reader chokepoint.
            # It reads from the SNAPSHOT's own def — unlike governance
            # policies, HAVING is part of the MV's logical DEFINITION,
            # so a time-travel read across a CREATE OR REPLACE must
            # apply the predicate the rows were materialized under,
            # never today's.
            base = base.filter(F.expr(hv))
        return self._apply_policies(base, tdef, policies)

    def _mor_scan(self, tdef: TableDef,
                  schema: T.StructType | None = None) -> DataFrame | None:
        """The net-rows scan of a merge-on-read pointer def, or None
        when the def carries no delete obligation. EVERY reader surface
        that scans a tdef's files wholesale must route through this
        (read_table, ANALYZE, the change feed) — a raw ``_scan`` on a
        MOR def resurrects deleted rows (review r12 pass-2, reproduced
        on ANALYZE). ``schema`` overrides the def's own (the change
        feed scans the FROM snapshot with the TO schema so additive
        evolution fills NULLs)."""
        mor = tdef.properties.get("iceberg.mor_deletes", "")
        if not mor:
            return None
        scope = json.loads(mor)
        return self._iceberg_mor_net(
            schema or tdef.spark_schema(), scope["data"],
            scope["deletes"])

    def _current_policies(self, ns: str, tbl: str,
                          fallback: TableDef) -> dict:
        """The LATEST committed policy set for a table — time-travel /
        dtxn reads enforce today's governance over yesterday's data.
        Reads through the ambient explicit txn or a READ-ONLY snapshot.
        Only the documented table-dropped case falls back to the
        snapshot's own properties — any other error (storage hiccup,
        expired hint) PROPAGATES rather than failing open on
        governance."""
        from olympia_spark.catalog.errors import ObjectNotFoundError
        try:
            probe = self.current_txn or self.catalog.begin(read_only=True)
            return self.catalog.describe_table(probe, ns, tbl).properties
        except ObjectNotFoundError:   # dropped since — snapshot rules
            return fallback.properties

    def _apply_policies(self, df: DataFrame, tdef: TableDef,
                        policies: dict | None = None) -> DataFrame:
        """Row filter evaluates on RAW values (the filter may key on
        exactly the attribute the mask then hides — the standard
        lakehouse semantics); masks replace the column expression and
        cast back to the declared type, so the schema is unchanged.
        ``policies`` defaults to the tdef's own properties; readers of
        historical snapshots pass the CURRENT set instead. Metadata
        listings ($files/$partitions, SHOW PARTITIONS) are REFUSED on
        governed tables (see :meth:`_refuse_governed_metadata`) — they
        can't apply a row policy, and per-file row counts leak the
        existence and volume of hidden rows."""
        props = tdef.properties if policies is None else policies
        rf = props.get("policy.row_filter")
        masks = {k.removeprefix("policy.mask."): v
                 for k, v in props.items()
                 if k.startswith("policy.mask.")}
        if not rf and not masks:
            return df
        if rf:
            # FAIL-CLOSED: a current filter referencing a column that
            # does not exist at this snapshot blocks the read with a
            # clear error — silently skipping the filter would leak the
            # rows it hides. (Masks below are the opposite case: the
            # masked column is absent from the frame, so there is
            # nothing to redact — skipping is the fail-SAFE direction.)
            try:
                df = df.filter(F.expr(rf))
            except Exception as e:
                raise ValueError(
                    f"row filter ({rf}) cannot evaluate against this "
                    f"version's schema — historical reads are blocked "
                    f"(fail-closed) rather than ungoverned: {e}") from e
        if masks:
            # cast targets come from the SNAPSHOT schema (the frame
            # being governed), so evolved types never mis-cast old data
            types = {f.name: f.dataType
                     for f in tdef.spark_schema().fields}
            df = df.select(*[
                F.expr(masks[c]).cast(types[c]).alias(c)
                if c in masks and c in types else F.col(c)
                for c in df.columns])
        return df

    def set_row_filter(self, name: str, expr: str) -> None:
        """``ALTER TABLE ... SET ROW FILTER (<expr>)`` (Databricks/
        Snowflake-style row-level security, beyond-reference): from
        this commit on, every reader-facing resolution of the table
        sees only rows where ``expr`` is TRUE. Validated against the
        current schema before it is admitted (an unanalyzable filter
        would brick every read)."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "SET ROW FILTER")
            empty = self._local_df([], tdef.spark_schema())
            empty.filter(F.expr(expr))          # analyze-or-raise
            tdef.properties = {**tdef.properties, "policy.row_filter": expr}
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER,
                                     {"set_row_filter": [expr]})

    def drop_row_filter(self, name: str) -> None:
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "DROP ROW FILTER")
            if "policy.row_filter" not in tdef.properties:
                raise ValueError(f"{name} has no row filter")
            tdef.properties = {k: v for k, v in tdef.properties.items()
                               if k != "policy.row_filter"}
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER,
                                     {"drop_row_filter": []})

    def set_column_mask(self, name: str, col: str, expr: str) -> None:
        """``ALTER TABLE ... ALTER COLUMN c SET MASK (<expr>)``: every
        reader-facing resolution replaces ``c`` with ``expr`` (which
        may reference c itself and other columns), cast back to c's
        declared type — schema-stable redaction at the resolution
        chokepoint, zero data rewrite."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "SET MASK")
            schema = tdef.spark_schema()
            types = {f.name: f.dataType for f in schema.fields}
            if col not in types:
                raise ValueError(f"no such column: {col}")
            empty = self._local_df([], schema)
            empty.select(F.expr(expr).cast(types[col]))   # analyze-or-raise
            tdef.properties = {**tdef.properties,
                               f"policy.mask.{col}": expr}
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER,
                                     {"set_column_mask": [col, expr]})

    def drop_column_mask(self, name: str, col: str) -> None:
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "DROP MASK")
            if f"policy.mask.{col}" not in tdef.properties:
                raise ValueError(f"{name}.{col} has no mask")
            tdef.properties = {k: v for k, v in tdef.properties.items()
                               if k != f"policy.mask.{col}"}
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER,
                                     {"drop_column_mask": [col]})

    def table_changes(self, name: str, from_version: int,
                      to_version: int) -> DataFrame:
        """Change data feed between two CATALOG versions: the rows
        inserted and deleted in ``name`` from ``from_version`` (exclusive
        state) to ``to_version``. Computed from the version-tracked file
        lists — only files that ENTERED or LEFT the table are scanned,
        and carried-through rows of copy-on-write rewrites cancel via
        multiset difference (``exceptAll`` both ways), so an UPDATE
        surfaces as its delete+insert pair. This is the incremental-
        consumption surface (downstream jobs process the delta, not the
        table) and its cost is O(changed files), never O(table).

        Returns the table's columns plus ``_change_type``
        ('insert' | 'delete')."""
        ns, tbl = self._split(name)
        t_from = self.catalog.at_version(from_version)
        t_to = self.catalog.at_version(to_version)
        d_from = self.catalog.describe_table(t_from, ns, tbl)
        d_to = self.catalog.describe_table(t_to, ns, tbl)
        paths_from = set(d_from.file_paths())
        paths_to = set(d_to.file_paths())
        import dataclasses as _dc

        # FROM-side scans need the TO schema (additive evolution fills
        # NULLs) but the FROM version's FILE METADATA: departed files
        # are absent from d_to.data_files, so identity-fill constants
        # (carried as per-file stats) would silently read NULL and
        # un-cancel exceptAll pairs — every untouched row of a
        # rewritten file would surface as a spurious delete+insert
        # (review r12 pass-4). identity_fill follows the FROM def too:
        # the departed files' fill semantics are theirs.
        d_mix = _dc.replace(
            d_to, data_files=list(d_from.data_files),
            properties={
                **{k: v for k, v in d_to.properties.items()
                   if k != "iceberg.identity_fill"},
                **({"iceberg.identity_fill":
                    d_from.properties["iceberg.identity_fill"]}
                   if "iceberg.identity_fill" in d_from.properties
                   else {})})
        if d_from.properties.get("iceberg.mor_deletes") \
                or d_to.properties.get("iceberg.mor_deletes"):
            # MOR pointers: a file-diff scan would emit events for
            # merge-on-read-DELETED rows that were never logically
            # present (review r12 pass-2). Diff the NET relations of
            # both snapshots instead — O(two snapshots), not O(changed
            # files), the honest cost when row-level deletes ride in
            # separate files rather than rewritten data files.
            # BOTH nets scan with the TO-version schema — the same
            # invariant as the file-diff branch (additive evolution
            # fills NULLs; mismatched schemas would break exceptAll —
            # review r12 pass-3)
            to_schema = d_to.spark_schema()
            net_from = (self._mor_scan(d_from, schema=to_schema)
                        or self._scan(d_mix, d_from.file_paths()))
            net_to = (self._mor_scan(d_to)
                      or self._scan(d_to, d_to.file_paths()))
            added, removed = net_to, net_from
        else:
            # scan with the TO-version schema (additive evolution
            # fills NULLs)
            entered = sorted(paths_to - paths_from)
            left = sorted(paths_from - paths_to)
            added = self._scan(d_to, entered)
            removed = self._scan(d_mix, left)
        # HAVING materialized views keep ALL groups in their files —
        # the feed must diff the VISIBLE content, each side filtered by
        # ITS OWN version's predicate (part of the MV's definition, so
        # a replace-window feed retracts under the old predicate and
        # inserts under the new). Filtering before the diff commutes
        # with exceptAll per side, so with an unchanged predicate the
        # feed nets to exactly the changed visible groups — which is
        # what makes a downstream MV's incremental consumption of a
        # HAVING upstream correct.
        hv_from = d_from.properties.get(self._MV_HAVING_PROP)
        hv_to = d_to.properties.get(self._MV_HAVING_PROP)
        if hv_from:
            removed = removed.filter(F.expr(hv_from))
        if hv_to:
            added = added.filter(F.expr(hv_to))
        one_sided = (not (d_from.properties.get("iceberg.mor_deletes")
                          or d_to.properties.get("iceberg.mor_deletes"))
                     and (not paths_to - paths_from
                          or not paths_from - paths_to))
        if one_sided:
            # pure append (no file left) or pure whole-file removal (no
            # file entered): one diff side is STRUCTURALLY empty, so
            # there is nothing to cancel — the feed IS the scanned side
            # labelled directly. The exceptAll pair below would hash-
            # aggregate every scanned row on ALL columns TWICE (two
            # exchanges) merely to subtract an empty multiset; Catalyst
            # cannot fold that itself because RewriteExceptAll runs
            # before PropagateEmptyRelation sees the empty scan
            # (guide §2.4 — remove shuffles outright). Multiset
            # equivalence is exact: exceptAll(X, ∅) ≡ X and
            # exceptAll(∅, X) ≡ ∅.
            inserts = added.withColumn("_change_type", F.lit("insert"))
            deletes = removed.withColumn("_change_type",
                                         F.lit("delete"))
        else:
            inserts = added.exceptAll(removed) \
                .withColumn("_change_type", F.lit("insert"))
            deletes = removed.exceptAll(added) \
                .withColumn("_change_type", F.lit("delete"))
        # the change feed is a READER-facing surface (downstream
        # consumers, streaming CDC) — the table's current governance
        # policies apply to it exactly like a SELECT; hidden rows'
        # events drop, masked columns emit masked
        return self._apply_policies(
            inserts.unionByName(deletes), d_to,
            self._current_policies(ns, tbl, d_to))

    def _feed_counts_meta(self, name: str, from_version: int,
                          to_version: int) -> dict:
        """Driver-side STRUCTURAL cardinalities of a table_changes feed:
        ``{"n_inserts": int|None, "n_deletes": int|None}``. For a
        one-sided diff (pure append / pure whole-file removal) whose
        scanned side is not re-filtered — no MOR pointers, no HAVING
        predicate on that side, no current row-filter policy — the
        event counts are exactly the parquet footer row counts of the
        entered/left files, already in the tracked DataFile stats
        (masks never drop rows). The MV refresh uses this to skip BOTH
        its delete probe and its report count job on the common
        append-only path (guide §1.4 — don't launch a job for a number
        the metadata already holds); anything that can change feed
        cardinality (exceptAll cancellation of a two-sided COW diff,
        HAVING, row filters, MOR) returns None counts and callers fall
        back to counting. Metadata-only — never constructs a frame, so
        it can never diverge from what table_changes SCANS, only
        decline to predict its size."""
        ns, tbl = self._split(name)
        d_from = self.catalog.describe_table(
            self.catalog.at_version(from_version), ns, tbl)
        d_to = self.catalog.describe_table(
            self.catalog.at_version(to_version), ns, tbl)
        unknown = {"n_inserts": None, "n_deletes": None}
        if d_from.properties.get("iceberg.mor_deletes") \
                or d_to.properties.get("iceberg.mor_deletes"):
            return unknown
        if self._current_policies(ns, tbl, d_to).get("policy.row_filter"):
            return unknown
        paths_from = set(d_from.file_paths())
        paths_to = set(d_to.file_paths())
        entered = paths_to - paths_from
        left = paths_from - paths_to
        if entered and left:
            # two-sided diff: exceptAll cancellation normally makes the
            # counts data-dependent — EXCEPT when every commit in the
            # window is a row-SUBTRACTING rewrite (TABLE_DELETE: the COW
            # delete writes a multiset-subset of the rows it removes;
            # TRUNCATE adds nothing — the only two producers). Then the
            # kept rows cancel exactly and the feed is
            # (0 inserts, rows_from − rows_to deletes) — footer
            # arithmetic, zero jobs. Any other action type (UPDATE can
            # no-op rows into full cancellation — the b58 seam), a
            # rollback root, or an unloadable root declines.
            if d_from.properties.get(self._MV_HAVING_PROP) \
                    or d_to.properties.get(self._MV_HAVING_PROP):
                return unknown
            from olympia_spark.catalog.actions import READ_ACTIONS
            acts = self._table_actions_between(ns, tbl, from_version,
                                               to_version)
            writes = [a for a in acts or []
                      if a.type not in READ_ACTIONS]
            if writes and all(a.type is ActionType.TABLE_DELETE
                              for a in writes):
                rows_from = sum(f.num_rows for f in d_from.data_files)
                rows_to = sum(f.num_rows for f in d_to.data_files)
                return {"n_inserts": 0,
                        "n_deletes": rows_from - rows_to}
            return unknown
        if not left and not d_to.properties.get(self._MV_HAVING_PROP):
            return {"n_inserts": sum(f.num_rows for f in d_to.data_files
                                     if f.path in entered),
                    "n_deletes": 0}
        if not entered and not d_from.properties.get(self._MV_HAVING_PROP):
            return {"n_inserts": 0,
                    "n_deletes": sum(f.num_rows for f in d_from.data_files
                                     if f.path in left)}
        return unknown

    def _table_actions_between(self, ns: str, tbl: str,
                               from_version: int,
                               to_version: int) -> list[Action] | None:
        """The committed actions touching ``ns.tbl`` in the root window
        (from_version, to_version] — the provenance record
        `_feed_counts_meta` needs to PROVE a diff window delete-only.
        Returns None when the walk cannot be trusted: a rollback root
        inside the window (its file-list changes carry no table
        action), a root that no longer loads, or an empty window.
        Driver-side metadata only — O(window commits) cached root
        reads, never a Spark job."""
        try:
            key = self.catalog._tbl_key(ns, tbl)
            latest = self.catalog.tree.load_latest_root()
            # jump straight to the window's top — no per-root scan of
            # commits newer than to_version
            top = self.catalog.tree.find_root_for_version(latest,
                                                          to_version)
            out: list[Action] = []
            for root in self.catalog.tree.list_roots(top):
                if root.version <= from_version:
                    return out
                if root.rollback_from_root_path:
                    return None
                out.extend(Action.from_row(k, v)
                           for k, v in root.actions if k == key)
            # chain ended (expiration horizon) before reaching
            # from_version — the window is not fully covered
            return None
        except Exception:
            return None

    def _phys(self, tdef: TableDef, col: str) -> str:
        """Physical (in-file) name of a logical column (A15 companion:
        RENAME COLUMN is metadata-only, so files keep the name the column
        was CREATED with — Iceberg-style column mapping)."""
        return tdef.column_mapping.get(col, col)

    def _physical_schema(self, tdef: TableDef) -> T.StructType:
        schema = tdef.spark_schema()
        if not tdef.column_mapping:
            return schema
        return T.StructType([
            T.StructField(self._phys(tdef, f.name), f.dataType,
                          f.nullable, f.metadata)
            for f in schema.fields])

    def _to_logical(self, df: DataFrame, tdef: TableDef) -> DataFrame:
        if not tdef.column_mapping:
            return df
        inv = {p: l for l, p in tdef.column_mapping.items()}
        return df.select(*[
            F.col(c).alias(inv[c]) if c in inv else F.col(c)
            for c in df.columns])

    def _to_physical(self, df: DataFrame, tdef: TableDef) -> DataFrame:
        if not tdef.column_mapping:
            return df
        return df.select(*[
            F.col(c).alias(self._phys(tdef, c))
            if c in tdef.column_mapping else F.col(c)
            for c in df.columns])

    def _parquet_read(self, schema: T.StructType | None,
                      uris: tuple[str, ...]) -> DataFrame:
        """Construct (or reuse) the explicit-schema parquet relation
        over a fixed URI list. Memoized per engine (r16, guide §5):
        the construction is pure driver work — a DataFrameReader
        round-trip plus an InMemoryFileIndex over the paths
        (~0.09s/call measured) — and every SQL statement re-resolves
        its referenced tables through here. Same schema + same paths ⇒
        the same immutable plan: tracked files are copy-on-write under
        uuid dirs, so a path's CONTENT never changes; any table change
        changes the path list and misses the memo. Execution still
        reads the parquet fresh on every action — this caches plan
        construction, never results."""
        memo = getattr(self, "_parquet_read_memo", None)
        if memo is None:
            memo = self._parquet_read_memo = {}
        key = (schema.json() if schema is not None else "", uris)
        hit = memo.get(key)
        if hit is not None:
            return hit
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*uris)
        if len(memo) >= 128:
            memo.clear()
        memo[key] = df
        return df

    def _footer_schema(self, rel: str) -> T.StructType | None:
        """The schema Spark infers for a data file, read from the schema
        Spark records in its footer: one footer read, no Spark job. Made
        nullable throughout, as Spark's file sources read it. None for a
        file without that record (a driver-lane file), which leaves the
        inference to Spark."""
        import pyarrow.parquet as pq
        if self.data_plane == "direct":
            with self.catalog.storage.open_ranged(rel) as f:
                kv = pq.ParquetFile(f).metadata.metadata
        else:
            kv = pq.ParquetFile(self._abs(rel)).metadata.metadata
        raw = (kv or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
        if raw is None:
            return None

        def nullable(dt: T.DataType) -> T.DataType:
            if isinstance(dt, T.StructType):
                return T.StructType([
                    T.StructField(f.name, nullable(f.dataType), True,
                                  f.metadata) for f in dt.fields])
            if isinstance(dt, T.ArrayType):
                return T.ArrayType(nullable(dt.elementType), True)
            if isinstance(dt, T.MapType):
                return T.MapType(nullable(dt.keyType),
                                 nullable(dt.valueType), True)
            return dt
        return nullable(T.StructType.fromJson(json.loads(raw)))

    def _scan(self, tdef: TableDef, rel_paths: list[str]) -> DataFrame:
        """Scan a tracked file list. Partitioned tables build ONE parquet
        relation per LAYOUT ERA (the ordered tuple of hive-encoded
        partition columns in a file's path), NOT one per write directory:
        a table with a thousand daily appends plans one scan node, not a
        1000-leg union (r7 VERDICT weak #2). Hive partition values —
        which the file data itself doesn't store — are reconstructed
        from ``_metadata.file_path``; Spark's metadata-filter pushdown
        evaluates such predicates per FILE at the index level, so
        filters on partition columns still PRUNE files before any data
        page is opened (behaviorally pinned by a poison-file test).
        CSV/JSON external tables re-apply their registered reader
        options; filters still push into the scan (row-group/stats
        pruning is parquet-only, which is one reason they are read-only
        ingest sources, not native tables)."""
        schema = tdef.spark_schema()
        if not rel_paths:
            return self._local_df([], schema)
        phys = self._physical_schema(tdef)
        if tdef.format in ("CSV", "JSON"):
            opts = {k.removeprefix("read.option."): v
                    for k, v in tdef.properties.items()
                    if k.startswith("read.option.")}
            reader = self.spark.read.schema(schema).options(**opts)
            paths = self._scan_uris(rel_paths)
            return (reader.csv(paths) if tdef.format == "CSV"
                    else reader.json(paths))
        schema_by_phys = {f.name: f for f in phys.fields}

        def era_of(p: str) -> tuple[str, ...]:
            # engine-owned layouts only (_hive_era shared helper):
            # external/adopted estates are opaque — in-file data is
            # authoritative there (adopted Iceberg identity values come
            # from manifests, not paths)
            return _hive_era(p, schema_by_phys)

        derive = [c for c in tdef.properties.get(
                      "spec.derive_on_read", "").split(",")
                  if c and c in tdef.generated_columns]
        eras: dict[tuple[str, ...], list[str]] = {}
        for p in rel_paths:
            eras.setdefault(era_of(p), []).append(p)
        # B55b/B55c bucketed fast path: a bucketed table whose requested
        # files form COMPLETE write dirs reads through the session-catalog
        # shadow table, so the scan's output partitioning is the bucket
        # hash and downstream joins/aggs on the key plan with zero
        # exchange. B55c composes this with hive partitioning — the
        # shadow's partition spec is (hive cols…, era), so the standard
        # date-partitioned + key-bucketed fact keeps both partition
        # PRUNING and the bucket plan (r10 VERDICT #2 lifted the
        # blanket downgrade). Falls through to the plain scan (same
        # values, no layout claim) on partial dirs, mixed/evolved
        # layout eras, or adopted identity-fill estates.
        if (tdef.bucket_by and len(eras) == 1 and not derive
                and not tdef.properties.get("iceberg.identity_fill")):
            era = next(iter(eras))
            expect = tuple(self._phys(tdef, c)
                           for c in (tdef.partition_by or []))
            if era == expect:
                shadow = self._bucketed_shadow(tdef, rel_paths, era)
                if shadow is not None:
                    return self._to_logical(shadow, tdef)
        # plain single-read branch ONLY when nothing needs path-derived
        # columns: no hive-encoded paths and no spec-evolution derive
        # markers (B86). Never-evolved unpartitioned tables — generated
        # columns included, their values are always in-file — keep the
        # one multi-path read.
        if set(eras) == {()} and not derive:
            return self._to_logical(
                self._fill_identity_constants(
                    self._parquet_read(
                        phys, tuple(self._scan_uris(rel_paths))),
                    tdef, rel_paths),
                tdef)
        self._scan_uris(rel_paths)   # spool lane: one download for all
        schema_by_name = {f.name: f for f in schema.fields}
        parts = []
        for era, paths in sorted(eras.items()):
            enc = set(era)
            read_schema = T.StructType(
                [f for f in phys.fields if f.name not in enc])
            df = self._parquet_read(
                read_schema, tuple(self._scan_uri(p) for p in paths))
            if not era:
                # a mixed-layout table's PATH-OPAQUE era (adopted
                # Iceberg files, exported absolute paths) still needs
                # its manifest-constant fill — the single-read branch
                # below applies it, and before r11 this union branch
                # silently skipped it (identity columns read NULL the
                # moment an engine-written hive era joined the table)
                df = self._fill_identity_constants(df, tdef, paths)
            for c in era:
                # value segment is always mid-path (…/c=v/file.parquet);
                # Hive-escaped %xx via url_decode, with literal '+'
                # pre-escaped (URLDecoder would turn it into a space —
                # Hive's escapePathName leaves '+' unescaped)
                raw = F.regexp_extract(
                    F.col("_metadata.file_path"),
                    "/" + re.escape(c) + "=([^/]+)/", 1)
                # TWO decode layers: _metadata.file_path URI-encodes the
                # already-Hive-escaped dir name (value 'a:b' → dir
                # 'a%3Ab' → file_path 'a%253Ab'), so one decode strips
                # the URI layer and the second the Hive layer; '+' is
                # never escaped by either layer and is protected before
                # each decode (URLDecoder would turn it into a space)

                def _undecode(col):
                    return F.url_decode(
                        F.regexp_replace(col, r"\+", "%2B"))

                df = df.withColumn(c, F.when(
                    raw == "__HIVE_DEFAULT_PARTITION__", F.lit(None)
                ).otherwise(
                    _undecode(_undecode(raw))
                ).cast(schema_by_phys[c].dataType))
            df = self._to_logical(
                df.select(*[F.col(f.name) for f in phys.fields]), tdef)
            # partition-SPEC EVOLUTION (B86): files written before a
            # generated column became a partition field carry neither
            # the hive dir nor the in-file value — exactly the columns
            # in the derive marker. Those eras DERIVE the column on
            # read from its generation expression (engine-owned ⇒
            # stored value ≡ expr, so coalesce is exact).
            for g in derive:
                if self._phys(tdef, g) not in enc:
                    df = df.withColumn(g, F.coalesce(
                        F.col(g),
                        F.expr(tdef.generated_columns[g])
                        .cast(schema_by_name[g].dataType)))
            parts.append(df)
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
        return out

    def _fill_identity_constants(self, df: DataFrame, tdef: TableDef,
                                 rel_paths: list[str]) -> DataFrame:
        """Iceberg identity-partition constants (spec: "Columns used
        for identity partition values may be omitted from data files"
        — readers supply the manifest partition value as a per-file
        constant). Adopted tables record those columns in the
        ``iceberg.identity_fill`` property and their per-file values as
        [v, v] stats; here each is coalesce-filled through a BROADCAST
        (file_path → value) join — O(files) rows, never data-sized — so
        a file that physically stores the column keeps its own values
        and a migrated file that omits it reads the manifest constant.
        No-op for every non-adopted table (property absent)."""
        cols = [c for c in tdef.properties.get(
                    "iceberg.identity_fill", "").split(",")
                if c and c in df.columns]
        if not cols:
            return df
        want = set(rel_paths)
        # PHYSICAL schema: identity_fill records physical names and the
        # frame here is pre-_to_logical — a renamed fill column must
        # still resolve its type (logical lookup KeyError'd)
        by_name = {f.name: f.dataType
                   for f in self._physical_schema(tdef).fields}
        def pyv(c: str, v):
            if v is not None and isinstance(by_name[c], T.DateType):
                import datetime as _dt
                return _dt.date.fromisoformat(str(v))
            return v

        rows = [tuple([re.sub(r"^file:/+", "/", f.path)]
                      + [pyv(c, f.stats[c][0]) if c in f.stats else None
                         for c in cols])
                for f in tdef.data_files if f.path in want]
        fill_schema = T.StructType(
            [T.StructField("__ifp", T.StringType())]
            + [T.StructField(f"__iv_{c}", by_name[c]) for c in cols])
        fdf = self._local_df(rows, fill_schema)
        # _metadata.file_path percent-encodes the raw filesystem path
        # (space → %20, '%' → %25, non-ASCII → %xx) while the manifest
        # records the RAW path — decode the URI layer once (with
        # literal '+' protected, same convention as the hive-era scan
        # branch) so a migrated file whose path carries a space/%/
        # non-ASCII char still matches its manifest constant instead of
        # silently reading NULL.
        out = (df.withColumn("__ifp", F.url_decode(F.regexp_replace(
                   F.regexp_replace(
                       F.col("_metadata.file_path"), "^file:/+", "/"),
                   r"\+", "%2B")))
               .join(F.broadcast(fdf), "__ifp", "left"))
        for c in cols:
            out = out.withColumn(
                c, F.coalesce(F.col(c), F.col(f"__iv_{c}")))
        return out.select(*df.columns)

    def create_table(self, name: str, schema: T.StructType,
                     properties: dict | None = None,
                     partition_by: list[str] | None = None,
                     generated_columns: dict[str, str] | None = None,
                     bucket_by: tuple[list[str], int] | None = None
                     ) -> None:
        """``bucket_by=(columns, num_buckets)`` declares the engine-
        catalog bucketed layout (B55b): every write hash-distributes on
        the columns into ``num_buckets`` bucket files and reads
        re-register the layout with the session catalog, so repeated
        joins/aggs on the bucket key run with no exchange."""
        ns, tbl = self._split(name)
        names = {f.name for f in schema.fields}
        for g in (generated_columns or {}):
            if g not in names:
                raise ValueError(
                    f"generated column {g} is not in the table schema")
        bspec = (self._validate_bucket_spec(
                     names, partition_by or [], list(bucket_by[0]),
                     int(bucket_by[1]))
                 if bucket_by else {})
        with self._statement() as txn:
            self.catalog.create_table(txn, ns, tbl, TableDef(
                schema_json=schema.json(), properties=properties or {},
                partition_by=list(partition_by or []),
                generated_columns=dict(generated_columns or {}),
                bucket_by=bspec))

    @staticmethod
    def _validate_bucket_spec(schema_names: set, partition_by: list,
                              cols: list[str], n: int) -> dict:
        """Shared CLUSTERED BY validation (python API + SQL DDL)."""
        missing = [c for c in cols if c not in schema_names]
        if missing:
            raise ValueError(
                f"bucket column(s) not in the table schema: {missing}")
        if len(set(cols)) != len(cols):
            # Spark's writer/shadow DDL reject duplicate bucket columns
            # — admitting the spec would brick the first INSERT
            raise ValueError(
                f"duplicate bucket column(s) in CLUSTERED BY: {cols}")
        overlap = sorted(set(cols) & set(partition_by))
        if overlap:
            raise ValueError(
                f"bucket column(s) cannot also be partition "
                f"column(s): {overlap}")
        if n < 2:
            raise ValueError("CLUSTERED BY needs at least 2 buckets")
        return {"columns": cols, "num_buckets": n}

    def register_external_table(self, name: str, *paths: str,
                                format: str = "parquet",
                                options: dict[str, str] | None = None) -> None:
        """Register existing files as a catalog table WITHOUT copying
        data — the TableDef simply points at them (the same move the
        reference makes when it adopts an existing Iceberg metadata
        location).

        ``format`` may be ``parquet`` (default), ``csv``, or ``json`` —
        the raw-ingest source formats of a data pipeline. Parquet stats
        come from the footers so DML pruning works immediately; csv/json
        tables count rows with one Spark job and are READ-ONLY (the
        copy-on-write rewrite path emits parquet, and silently converting
        a table's storage format on first mutation would surprise the
        owner — ingest them into a native table with CTAS / INSERT
        SELECT instead). Reader options (header, multiLine, …) persist in
        the table properties so every later scan reads identically."""
        fmt = format.upper()
        if fmt not in ("PARQUET", "CSV", "JSON"):
            raise ValueError(f"unsupported external format: {format}")
        opts = dict(options or {})
        if fmt == "CSV":
            opts.setdefault("header", "true")
        ns, tbl = self._split(name)
        files = []
        if fmt == "PARQUET":
            import pyarrow.parquet as pq
            schema = self.spark.read.parquet(*paths).schema
            for p in paths:
                md = pq.ParquetFile(p).metadata
                files.append(DataFile(path=p, num_rows=md.num_rows,
                                      size_bytes=os.path.getsize(p)))
        else:
            from urllib.parse import unquote, urlparse
            reader = self.spark.read.options(**opts)
            df = (reader.option("inferSchema", "true").csv(list(paths))
                  if fmt == "CSV" else reader.json(list(paths)))
            schema = df.schema
            # input_file_name() returns a percent-encoded file: URI —
            # decode to the plain filesystem path and match EXACTLY
            # (suffix matching mis-binds counts when one path is a
            # suffix of another, and never matches special characters)
            counts: dict[str, int] = {}
            for r in (df.groupBy(F.input_file_name().alias("f"))
                      .agg(F.count("*").alias("n")).collect()):
                counts[unquote(urlparse(r["f"]).path)] = r["n"]
            for p in paths:
                n = counts.get(os.path.abspath(p), 0)
                files.append(DataFile(path=p, num_rows=n,
                                      size_bytes=os.path.getsize(p)))
        with self._statement() as txn:
            self.catalog.create_table(txn, ns, tbl, TableDef(
                format=fmt, schema_json=schema.json(),
                properties={f"read.option.{k}": v for k, v in opts.items()}))
            self.catalog.update_table_files(
                txn, ns, tbl, files, [], ActionType.TABLE_INSERT,
                {"added": [f.path for f in files], "external": True})

    def adopt_iceberg_table(self, name: str, location: str, *,
                            snapshot_id: int | None = None,
                            as_native: bool = False) -> int:
        """Adopt an existing Apache Iceberg table into the catalog
        WITHOUT rewriting data — the analogue of the reference's
        Iceberg-pointer table model (proto/objects.proto:64
        ``iceberg_metadata_location``; refresh path
        core/.../iceberg/OlympiaIcebergTableOperations.java:87-119),
        except the selected snapshot is materialized into a
        self-contained TableDef instead of re-resolved per read.

        ``location`` is a table root directory or a direct
        ``*.metadata.json`` path; ``snapshot_id`` time-travels to a
        specific Iceberg snapshot (default: current). The adopted table
        is read-only (format ICEBERG, _require_native refuses DML);
        pass ``as_native=True`` to take ownership — the TableDef becomes
        a native PARQUET table whose copy-on-write DML rewrites only
        ever touch files our engine wrote, leaving the Iceberg
        originals intact for the old catalog. Returns the number of
        adopted data files."""
        from olympia_spark.catalog import iceberg as il

        mloc = il.resolve_metadata_location(location)
        meta = il.load_table_metadata(mloc)
        schema = il.iceberg_schema_to_spark(il.current_schema(meta))
        snapshot = il.select_snapshot(meta, snapshot_id)
        entries, deletes = (il.live_files(snapshot) if snapshot
                            else ([], []))
        if deletes:
            return self._adopt_with_deletes(
                name, mloc, meta, snapshot, schema, entries, deletes,
                as_native=as_native)

        # identity-transform partition values become [v, v] file stats
        # ([shared with pointer-def hydration] iceberg.adopted_files);
        # ident_fill names the identity source columns data files MAY
        # omit (spec: readers use the manifest partition value as a
        # per-file constant — the Hive-migration layout, and what our
        # own identity export emits). _scan coalesce-fills them PER
        # FILE from the stats, so a file that DOES store the column
        # keeps its in-file values and a file whose partition value is
        # NULL simply has no stats row and reads NULL.
        files, ident_fill = il.adopted_files(meta, schema, entries)

        prev = ""
        if meta.get("metadata-log"):
            prev = meta["metadata-log"][-1].get("metadata-file", "")
        ns, tbl = self._split(name)
        with self._statement() as txn:
            self.catalog.create_table(txn, ns, tbl, TableDef(
                format="PARQUET" if as_native else "ICEBERG",
                schema_json=schema.json(),
                metadata_location=mloc,
                previous_metadata_location=prev,
                properties={
                    "iceberg.format-version": str(meta["format-version"]),
                    "iceberg.snapshot-id": str(
                        snapshot.get("snapshot-id", "")),
                    "iceberg.table-uuid": meta.get("table-uuid", ""),
                    **({"iceberg.identity_fill": ident_fill}
                       if ident_fill else {}),
                }))
            self.catalog.update_table_files(
                txn, ns, tbl, files, [], ActionType.TABLE_INSERT,
                {"added": [f.path for f in files], "adopted_from": mloc})
        return len(files)

    def _adopt_with_deletes(self, name: str, mloc: str,
                                     meta: dict, snapshot: dict,
                                     schema: T.StructType,
                                     entries: list, deletes: list, *,
                                     as_native: bool) -> int:
        """Merge-on-read (Iceberg v2) adoption: delete files are applied
        at adoption time by materializing the net rows, then a CTAS into
        engine-owned files. The Iceberg originals are left untouched for
        the old catalog; the spec's per-read merge obligation is
        discharged ONCE here instead of on every scan (the reference's
        host Iceberg 1.8.1 merges per read — spark/v3.5/build.gradle:38).

        * POSITION deletes (content=1): distributed anti-join of the
          data scan (parquet ``_metadata.file_path`` / ``row_index``
          hidden columns) against the delete-file (file_path, pos)
          pairs.
        * EQUALITY deletes (content=2, the Flink-CDC shape): per delete
          file, an anti-join on the ``equality_ids`` columns with
          NULL-SAFE equality (spec: null values match null), scoped by
          sequence number — a delete applies only to rows whose data
          file's sequence number is STRICTLY LESS than the delete
          file's (rows upserted in or after the delete's commit
          survive) — AND by partition: a delete file written with a
          partition tuple applies only to data files of that partition
          (spec "Scan Planning": "an equality delete file stored with
          an unpartitioned spec is applied as a global delete",
          otherwise it applies to its own partition only)."""
        from olympia_spark.catalog import iceberg as il
        pos_dels = [d for d in deletes if d["content"] != 2]
        eq_dels = [d for d in deletes if d["content"] == 2]
        name_by_id = il.field_names_by_id(il.current_schema(meta))
        _, ident_fill = il.adopted_files(meta, schema, entries)
        if ident_fill:
            # same refusal as pointer hydration (review r12 pass-1):
            # the net-rows scan reads data files directly, so identity
            # columns the files omit would materialize as NULL
            raise ValueError(
                f"iceberg table at {mloc} combines merge-on-read "
                f"deletes with identity-fill partition columns "
                f"({ident_fill}); compact the deletes first")
        net = self._iceberg_mor_net(
            schema, entries,
            il.resolve_mor_deletes(deletes, name_by_id))
        prev = ""
        if meta.get("metadata-log"):
            prev = meta["metadata-log"][-1].get("metadata-file", "")
        ns, tbl = self._split(name)
        with self._statement() as txn:
            self.catalog.create_table(txn, ns, tbl, TableDef(
                format="PARQUET" if as_native else "ICEBERG",
                schema_json=schema.json(),
                metadata_location=mloc,
                previous_metadata_location=prev,
                properties={
                    "iceberg.format-version": str(meta["format-version"]),
                    "iceberg.snapshot-id": str(
                        snapshot.get("snapshot-id", "")),
                    "iceberg.table-uuid": meta.get("table-uuid", ""),
                    "iceberg.position-deletes-applied": str(len(pos_dels)),
                    "iceberg.equality-deletes-applied": str(len(eq_dels)),
                }))
            files = self._write_files(net, ns, tbl, [])
            self.catalog.update_table_files(
                txn, ns, tbl, files, [], ActionType.TABLE_INSERT,
                {"added": [f.path for f in files], "adopted_from": mloc,
                 "position_deletes_applied": [d["file_path"]
                                              for d in pos_dels],
                 "equality_deletes_applied": [d["file_path"]
                                              for d in eq_dels]})
        return len(files)

    def _iceberg_mor_net(self, schema: T.StructType, entries: list[dict],
                         deletes: list[dict]) -> DataFrame:
        """The NET rows of an Iceberg v2 snapshot: data files minus
        merge-on-read deletes. Shared by the one-time adoption lane
        (:meth:`_adopt_with_deletes`, which CTASes the result) and —
        new in r12 — the IN-PLACE read of a reference pointer def
        whose snapshot carries live deletes (the reference reads these
        natively through the Iceberg library,
        core OlympiaIcebergTableScan.java; before r12 our hydration
        refused them).

        ``entries``: data files as {file_path, sequence_number,
        partition}; ``deletes``: :func:`iceberg.resolve_mor_deletes`
        output (equality ids already resolved to column names).

        * POSITION deletes (content=1): distributed anti-join of the
          data scan (parquet ``_metadata.file_path`` / ``row_index``
          hidden columns) against the delete-file (file_path, pos)
          pairs.
        * EQUALITY deletes (content=2, the Flink-CDC shape): per
          distinct equality-column set, ONE anti-join with NULL-SAFE
          equality (spec: null values match null), scoped by sequence
          number — a delete applies only to rows whose data file's
          sequence number is STRICTLY LESS than the delete file's —
          AND by partition: a delete file written with a partition
          tuple applies only to data files of that partition (spec
          "Scan Planning"; an unpartitioned delete applies globally).

        Delete-side relations ride in on broadcasts — delete files are
        small by construction (Iceberg compacts them away past a
        threshold), the data side never reshuffles."""
        pos_dels = [d for d in deletes if d["content"] != 2]
        eq_dels = [d for d in deletes if d["content"] == 2]
        data_paths = [e["file_path"] for e in entries]

        # both sides normalize to a plain path (the data scan emits
        # file:-scheme URIs; delete files record whatever URI form the
        # writer used — spec requires it to match the manifest entry)
        def norm(col):
            return F.regexp_replace(col, "^file:/+", "/")

        if not data_paths:
            # all data manifests tombstoned, deletes not yet compacted
            # away — the net table is simply empty
            return self._local_df([], schema)
        net = (self.spark.read.schema(schema).parquet(*data_paths)
               .select("*",
                       norm(F.col("_metadata.file_path"))
                       .alias("__fp"),
                       F.col("_metadata.row_index").alias("__pos")))
        if pos_dels:
            dels = (self.spark.read.parquet(
                        *[d["file_path"] for d in pos_dels])
                    .select(norm(F.col("file_path")).alias("__fp"),
                            F.col("pos").alias("__pos")))
            net = net.join(dels, ["__fp", "__pos"], "left_anti")
        if eq_dels:
            # canonical partition-tuple string for scope matching
            # (data file's tuple == delete file's tuple)
            def pcanon(p) -> str:
                return json.dumps(p or {}, sort_keys=True, default=str)

            # per-data-file sequence numbers + partition tuples ride
            # in on a broadcast (file_path → seq, part) map —
            # O(files) rows, never data-sized. The manifest path is
            # normalized EXACTLY like the scan side's norm() — if the
            # two disagreed (e.g. a file:// URI estate) __seq would
            # join NULL and every delete condition would evaluate
            # NULL, silently resurrecting equality-deleted rows.
            seq_df = self._local_df(
                [(re.sub(r"^file:/+", "/", e["file_path"]),
                  e["sequence_number"],
                  pcanon(e.get("partition")))
                 for e in entries],
                T.StructType([
                    T.StructField("__fp", T.StringType()),
                    T.StructField("__seq", T.LongType()),
                    T.StructField("__part", T.StringType())]))
            net = net.join(F.broadcast(seq_df), "__fp", "left")
            # BATCHED application (r7 VERDICT missing #3): a Flink-CDC
            # snapshot can carry thousands of small equality-delete
            # files; one anti-join per FILE is a thousand join
            # operators in one plan. Files sharing an equality-column
            # set read as ONE relation — each delete row tagged with
            # its file's sequence number and partition scope via a
            # broadcast (file → seq, part) map on _metadata.file_path
            # — so the plan holds O(distinct col-sets) anti-joins,
            # matching how Iceberg itself groups eq-deletes.
            groups: dict[tuple[str, ...], list[dict]] = {}
            for d in eq_dels:
                groups.setdefault(tuple(d["cols"]), []).append(d)
            for cols, dels in sorted(groups.items()):
                dmap = self._local_df(
                    [(re.sub(r"^file:/+", "/", d["file_path"]),
                      d["sequence_number"],
                      pcanon(d["partition"])
                      if d.get("partition") else None)
                     for d in dels],
                    T.StructType([
                        T.StructField("__dfp", T.StringType()),
                        T.StructField("__d_seq", T.LongType()),
                        T.StructField("__d_part", T.StringType())]))
                ddf = (self.spark.read.parquet(
                           *[d["file_path"] for d in dels])
                       .select(*[F.col(c).alias(f"__d_{c}")
                                 for c in cols],
                               norm(F.col("_metadata.file_path"))
                               .alias("__dfp"))
                       .join(F.broadcast(dmap), "__dfp")
                       .drop("__dfp").dropDuplicates())
                cond = F.col("__d_seq") > F.col("__seq")
                # partition-scoped deletes: rows in other partitions
                # survive even on key match; an unscoped delete (NULL
                # __d_part) applies everywhere
                cond = cond & (F.col("__d_part").isNull()
                               | (F.col("__part")
                                  == F.col("__d_part")))
                for c in cols:
                    cond = cond & F.col(c).eqNullSafe(
                        F.col(f"__d_{c}"))
                net = net.join(F.broadcast(ddf), cond, "left_anti")
            net = net.drop("__seq", "__part")
        return net.drop("__fp", "__pos")

    def clone_table(self, target: str, source: str,
                    version: int | None = None) -> int:
        """SHALLOW CLONE (Delta-style): create ``target`` pointing at
        ``source``'s data files WITHOUT copying them — a zero-copy fork,
        optionally of a historical catalog ``version``. Copy-on-write
        makes divergence safe for free: DML on either table rewrites
        only into its OWN data directory, and VACUUM's referenced-file
        set is computed over every live table def, so shared files
        survive until no live table references them (refcount semantics
        without a refcount). Returns the number of shared files."""
        ns_s, tbl_s = self._split(source)
        if version is not None:
            sdef = self.catalog.describe_table(
                self.catalog.at_version(version), ns_s, tbl_s)
        else:
            with self._statement() as txn_src:
                sdef = self.catalog.describe_table(txn_src, ns_s, tbl_s)
        self._require_native(sdef, source, "SHALLOW CLONE")
        ns_t, tbl_t = self._split(target)
        with self._statement() as txn:
            self.catalog.create_table(txn, ns_t, tbl_t, TableDef(
                format=sdef.format, schema_json=sdef.schema_json,
                partition_by=list(sdef.partition_by),
                # the clone shares the source's FILES, so it must share the
                # logical->physical column mapping too — without it a clone
                # of a renamed table reads the renamed column as all-NULL
                column_mapping=dict(sdef.column_mapping),
                # shared files can also contain dropped-column bytes — the
                # clone inherits the tombstones or it would resurrect them
                retired_columns=list(sdef.retired_columns),
                # ...and the invariants/derivations: the clone's writes must
                # honor the same CHECK contract and keep generated columns
                # consistent with their sources
                constraints=dict(sdef.constraints),
                generated_columns=dict(sdef.generated_columns),
                # the clone shares bucketed FILES — inheriting the spec
                # keeps its reads bucketed and its writes layout-consistent
                bucket_by=dict(sdef.bucket_by),
                # governance policies come EXACTLY from the source's
                # CURRENT def (snapshot policy keys stripped first) — CLONE
                # ... VERSION AS OF of a pre-policy version must not mint
                # an ungoverned copy of governed data, and a since-dropped
                # policy must not resurrect on the clone
                properties={**{k: v for k, v in sdef.properties.items()
                               if not k.startswith("policy.")},
                            **{k: v for k, v in self._current_policies(
                                   ns_s, tbl_s, sdef).items()
                               if k.startswith("policy.")},
                            "cloned_from": f"{source}"
                            + (f"@v{version}" if version is not None else "")}))
            # same warehouse, same relative paths — both defs resolve them
            # against the shared root, so the clone is truly zero-copy
            files = [DataFile(path=f.path, num_rows=f.num_rows,
                              size_bytes=f.size_bytes, stats=dict(f.stats),
                              dir_files=f.dir_files)
                     for f in sdef.data_files]
            self.catalog.update_table_files(
                txn, ns_t, tbl_t, files, [], ActionType.TABLE_INSERT,
                {"added": [f.path for f in files], "cloned_from": source})
        return len(files)

    def restore_table(self, name: str, version: int) -> tuple[int, int]:
        """RESTORE TABLE ... TO VERSION AS OF n (Delta-style): reset the
        table's data-file list to its state at catalog ``version`` as a
        NEW commit (history is preserved — a restore is itself
        restorable). Errors if any required historical file has been
        garbage-collected by expire_versions/VACUUM. Returns
        (files_restored, files_removed)."""
        from olympia_spark.catalog.errors import (
            StorageFileOpenFailureError, TransactionValueError)
        ns, tbl = self._split(name)
        try:
            old = self.catalog.describe_table(
                self.catalog.at_version(version), ns, tbl)
        except (StorageFileOpenFailureError, TransactionValueError):
            raise ValueError(
                f"RESTORE {name}: catalog version {version} no longer "
                f"exists (expired by expire_versions)") from None
        self._require_native(old, name, "RESTORE")
        if self._object_store:
            # one paginated LIST of the data prefix instead of one HEAD
            # round-trip per historical file (10k files = 10k HEADs);
            # absolute paths (externally-registered/adopted files) live
            # on the local filesystem and are checked there
            live = set(self.catalog.storage.list(_DATA_DIR + "/"))
            missing = [f.path for f in old.data_files
                       if (not os.path.exists(f.path)
                           if os.path.isabs(f.path)
                           else f.path not in live)]
        else:
            missing = [f.path for f in old.data_files
                       if not self._data_exists(f.path)]
        if missing:
            raise ValueError(
                f"RESTORE {name} TO VERSION {version}: {len(missing)} "
                f"historical data file(s) no longer exist (expired by "
                f"VACUUM/expire_versions), e.g. {missing[0]}")
        with self._statement() as txn:
            cur = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(cur, name, "RESTORE")
            # restoring an MV would rewrite its rows UNDER the refresh
            # watermark — later refreshes would noop forever against stale
            # numbers; recompute via REFRESH ... FULL instead
            self._mv_guard(cur, name, "RESTORE")
            cur_paths = set(cur.file_paths())
            old_paths = {f.path for f in old.data_files}
            add = [f for f in old.data_files if f.path not in cur_paths]
            remove = sorted(cur_paths - old_paths)
            self.catalog.update_table_files(
                txn, ns, tbl, add, remove, ActionType.TABLE_UPDATE,
                {"added": [f.path for f in add], "removed": remove,
                 "expression": f"RESTORE VERSION {version}"})
        return (len(add), len(remove))

    def copy_into(self, name: str, *paths: str,
                  format: str = "parquet",
                  options: dict[str, str] | None = None
                  ) -> tuple[int, int, int]:
        """Idempotent bulk file ingest (the COPY INTO surface of
        Databricks/Snowflake lakehouses): load landing files into a
        native table, where each source file is ingested AT MOST ONCE —
        retries, overlapping globs, and re-runs of the same pipeline
        step are all safe. The loaded-file ledger lives in the table
        properties and commits in the SAME catalog CAS transaction as
        the data files (update_table_files extra_properties — the same
        marker mechanism that makes streaming micro-batches
        exactly-once), so a crash between "data written" and "ledger
        written" is impossible by construction.

        ``paths`` may contain globs. Returns
        (files_loaded, rows_loaded, files_skipped)."""
        import glob as _glob

        fmt = format.upper()
        if fmt not in ("PARQUET", "CSV", "JSON"):
            raise ValueError(f"COPY INTO: unsupported format {format}")
        found: list[str] = []
        for p in paths:
            hits = (sorted(_glob.glob(p))
                    if any(ch in p for ch in "*?[") else [p])
            found.extend(os.path.abspath(h) for h in hits)
        found = sorted(dict.fromkeys(found))     # dedup, stable order
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "COPY INTO")
            self._mv_guard(tdef, name, "COPY INTO")
            ledger = set(json.loads(
                tdef.properties.get("copy_into.loaded", "[]")))
            new = [p for p in found if p not in ledger]
            if not new:
                return (0, 0, len(found))
            schema = tdef.spark_schema()
            opts = dict(options or {})
            if fmt == "CSV":
                opts.setdefault("header", "true")
            reader = self.spark.read.schema(schema).options(**opts)
            df = (reader.parquet(*new) if fmt == "PARQUET"
                  else reader.csv(new) if fmt == "CSV" else reader.json(new))
            new_files = self._write_files(df, ns, tbl, tdef.partition_by,
                                          tdef=tdef)
            self.catalog.update_table_files(
                txn, ns, tbl, new_files, [], ActionType.TABLE_INSERT,
                {"added": [f.path for f in new_files], "copied_from": new},
                extra_properties={"copy_into.loaded": json.dumps(
                    sorted(ledger | set(new)))})
        return (len(new), sum(f.num_rows for f in new_files), len(found) - len(new))

    def export_iceberg_table(self, name: str, dest_dir: str) -> str:
        """Publish a native table's current snapshot as Iceberg v2
        metadata under ``dest_dir`` (data files referenced in place, no
        copy) — the outbound half of the adoption bridge: an Iceberg
        client (or :meth:`adopt_iceberg_table`) can read the table
        without this engine. Returns the metadata.json path."""
        from olympia_spark.catalog import iceberg as il

        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
        self._require_native(tdef, name, "export_iceberg_table")
        # TRANSFORM-partitioned tables (B83 hidden partitioning) export
        # faithfully: the synthesized column is an Iceberg partition
        # FIELD (spec entry with transform + source-id), not a schema
        # column — data files carry the SOURCE column, manifests carry
        # the per-file partition value, and bucket numbering is
        # murmur3-spec-identical to a native writer's (iceberg_hash).
        # IDENTITY-partitioned (hive-layout) tables export via the
        # spec's metadata-constant convention: the column STAYS in the
        # schema, the per-file value rides in the manifest's partition
        # tuple, and the data files legitimately omit the column —
        # "Columns used for identity partition values may be omitted
        # from data files"; readers (incl. adopt_iceberg_table) fill it
        # as a per-file constant. The values themselves are already
        # exact [v, v] footer stats (hive path segments, _footer_stats).
        tmap = {k.removeprefix("iceberg.transform."): v.split(":", 1)
                for k, v in tdef.properties.items()
                if k.startswith("iceberg.transform.")}
        tmap = {k: v for k, v in tmap.items() if k in tdef.partition_by}
        identity_parts = [c for c in tdef.partition_by if c not in tmap]
        if tdef.column_mapping:
            raise ValueError(
                "export_iceberg_table: this table has renamed columns "
                "(column mapping) — its files store the original "
                "physical names and carry no Iceberg field ids, so an "
                "external reader would resolve the renamed columns as "
                "NULL; materialize with CTAS first")
        if any(k.startswith("policy.") for k in tdef.properties):
            # fail-closed (B97): the export references RAW data files —
            # an external Iceberg reader is outside this engine's
            # enforcement perimeter and would see every hidden row and
            # unmasked value
            raise ValueError(
                "export_iceberg_table: this table has an active row "
                "filter or column mask — exporting would hand ungoverned "
                "raw files to external readers; DROP the policies or "
                "export a policy-applied CTAS copy instead")
        schema = tdef.spark_schema()
        pvals: dict[str, dict] | None = None
        ptypes = ptrans = psrc = None
        pcols = sorted(set(tmap) | set(identity_parts))
        if pcols:
            if any(n not in f.stats for n in pcols
                   for f in tdef.data_files):
                raise ValueError(
                    "export_iceberg_table: some data files predate the "
                    "current partition spec (no recorded partition "
                    "value) — run OPTIMIZE to rewrite them under the "
                    "current spec first")
            by_name = {f.name: f.dataType for f in schema.fields}
            ident_ok = (T.DateType, T.IntegerType, T.LongType,
                        T.StringType)
            bad = [c for c in identity_parts
                   if not isinstance(by_name[c], ident_ok)]
            if bad:
                raise ValueError(
                    "export_iceberg_table: identity partition "
                    f"column(s) {bad} are not int/long/string/date — "
                    "hive path segments don't round-trip other types "
                    "exactly; re-partition or CTAS first")
            # transform fields are partition-only synthetics and leave
            # the schema; identity columns are REAL schema columns and
            # stay (their per-file value rides in the manifest)
            schema = T.StructType(
                [f for f in schema.fields if f.name not in tmap])
            avro_of = {T.DateType(): "int", T.IntegerType(): "int",
                       T.LongType(): "long", T.StringType(): "string"}
            ptypes = {n: avro_of.get(by_name[n], "int") for n in pcols}
            ptrans = {n: t for n, (t, _s) in tmap.items()}
            psrc = {n: s for n, (_t, s) in tmap.items()}

            def conv(n: str, v):
                """Stats partition value → Iceberg manifest value
                (day transform stores epoch DAYS; string stats hold the
                UNESCAPED value since r9 — no decode needed here)."""
                if isinstance(v, str) and v == "__HIVE_DEFAULT_PARTITION__":
                    return None
                if isinstance(by_name[n], T.DateType):
                    import datetime as _dt
                    return (_dt.date.fromisoformat(str(v))
                            - _dt.date(1970, 1, 1)).days
                if isinstance(by_name[n], T.StringType):
                    return str(v)       # stats store UNESCAPED values
                return int(v)

            pvals = {self._data_uri(f.path):
                     {n: conv(n, f.stats[n][0]) for n in pcols}
                     for f in tdef.data_files}
        files = [DataFile(path=self._data_uri(f.path), num_rows=f.num_rows,
                          size_bytes=f.size_bytes)
                 for f in tdef.data_files]
        return il.export_iceberg_metadata(
            dest_dir, schema, files,
            partition_values=pvals, partition_avro_types=ptypes,
            partition_transforms=ptrans, partition_sources=psrc)

    def write_table(self, df: DataFrame, name: str,
                    mode: str = "append",
                    partition_by: list[str] | None = None) -> None:
        """§3.2 write path: executors write parquet under a fresh uuid dir,
        driver footers→stats, catalog CAS-commits the new file list.
        mode 'overwrite' removes all previous files (TABLE_UPDATE).
        ``partition_by`` applies on first write of a new table; appends to
        an existing table reuse its recorded partition spec."""
        with self._statement() as txn:
            self._write_table(txn, df, name, mode, partition_by)
        if mode != "overwrite":
            self._maybe_autocompact(*self._split(name))

    def _write_table(self, txn: Transaction, df: DataFrame, name: str,
                     mode: str,
                     partition_by: list[str] | None = None) -> None:
        """:meth:`write_table`'s work inside the statement's ``txn``."""
        ns, tbl = self._split(name)
        if not self.catalog.table_exists(txn, ns, tbl):
            self.catalog.create_table(txn, ns, tbl, TableDef(
                schema_json=df.schema.json(),
                partition_by=list(partition_by or [])))
        tdef0 = self.catalog.describe_table(txn, ns, tbl)
        self._require_native(tdef0, name, "write_table")
        self._mv_guard(tdef0, name, "write_table")
        new_files = self._write_files(df, ns, tbl, tdef0.partition_by,
                                      tdef=tdef0)
        tdef = self.catalog.describe_table(txn, ns, tbl)
        if mode == "overwrite":
            self.catalog.update_table_files(
                txn, ns, tbl, new_files, tdef.file_paths(),
                ActionType.TABLE_UPDATE,
                {"added": [f.path for f in new_files],
                 "removed": tdef.file_paths(), "expression": "true"})
        else:
            self.catalog.update_table_files(
                txn, ns, tbl, new_files, [], ActionType.TABLE_INSERT,
                {"added": [f.path for f in new_files]})

    def _maybe_autocompact(self, ns: str, tbl: str) -> None:
        """Post-commit auto-compaction (r8 VERDICT next-round #1): when
        a table accumulates more than ``auto.compact.threshold`` SMALL
        files (below the ``auto.compact.file_floor`` byte floor, default
        32 MiB; threshold default 32, 'off' disables), bin-pack ONLY
        those small files, era-locally, under a per-run byte budget —
        Delta/Iceberg-style optimizeWrite, NOT a whole-table rewrite.
        Large files are never touched, so the lifetime write
        amplification is O(small bytes), not O(table²): at 100 TB a
        daily-append table re-packs each day's tail once and its big
        compacted files never churn again. The decision probe uses a
        READ-ONLY snapshot (no abandoned writable txn on the early
        exits); the rewrite itself is its own versioned commit — time
        travel to pre-compaction versions keeps working. Runs only
        OUTSIDE explicit transactions and never fails the user's write:
        maintenance losing a CAS race to a concurrent writer is
        re-attempted on a later append, not surfaced as a write
        error."""
        if self.current_txn is not None:
            return
        try:
            probe = self.catalog.begin(read_only=True)
            tdef = self.catalog.describe_table(probe, ns, tbl)
            thr_raw = tdef.properties.get("auto.compact.threshold", "32")
            if str(thr_raw).lower() in ("off", "false", "0", "none"):
                return
            thr = int(thr_raw)
            floor = int(tdef.properties.get(
                "auto.compact.file_floor", str(32 << 20)))
            # count only PACKABLE small files (hive leaves holding ≥2)
            # — a table of many single-small-file partitions must not
            # re-run a no-op compaction txn on every append forever.
            # Bucketed tables pack whole write dirs (≥2 all-small dirs)
            # — same probe/packer agreement via _bucket_pack_dirs.
            if tdef.bucket_by:
                dirs = self._bucket_pack_dirs(tdef, floor)
                packable = (sum(len(g) for g in dirs.values())
                            if len(dirs) >= 2 else 0)
            else:
                small = [f for f in tdef.data_files
                         if not os.path.isabs(f.path)
                         and f.size_bytes < floor]
                packable = sum(
                    len(g) for g in
                    self._small_file_leaves(tdef, small).values()
                    if len(g) >= 2)
            if packable <= thr:
                return
            self.compact_small_files(f"{ns}.{tbl}")
        except Exception as e:  # pragma: no cover — best-effort lane
            import warnings
            warnings.warn(
                f"auto-compaction of {ns}.{tbl} skipped: {e}",
                RuntimeWarning, stacklevel=2)

    def _apply_generated(self, df: DataFrame, tdef: TableDef) -> DataFrame:
        """GENERATED ALWAYS AS: the engine owns these columns — every
        write recomputes them from their source expressions (an UPDATE
        to a source column can never leave a stale derived value, and
        an explicit mismatched insert is corrected rather than
        persisted), then realigns to the declared schema order over the
        columns PRESENT (schema-evolution writes may legitimately omit
        newly added plain columns — reads NULL-fill those).
        Partitioning by a generated column is the hidden-partitioning
        path: the value exists before the hive-layout writer sees it."""
        schema = tdef.spark_schema()
        for g, gexpr in tdef.generated_columns.items():
            df = df.withColumn(g, F.expr(gexpr).cast(schema[g].dataType))
        # presence is CASE-INSENSITIVE (Spark resolution is): a frame
        # carrying `ID` for schema column `id` must select it, not
        # silently drop it into read-side NULLs
        present = {c.lower() for c in df.columns}
        return df.select(*[f.name for f in schema.fields
                           if f.name.lower() in present])

    @staticmethod
    def _expr_refs(expr: str, column: str) -> bool:
        """Does a stored SQL expression reference ``column``? Matching is
        CASE-INSENSITIVE because Spark resolves identifiers that way —
        a guard that misses `V` vs `v` lets a drop/rename orphan the
        expression and brick every later write. Systematic
        keyword/literal collisions are excluded: words inside string
        literals, cast targets (``CAST(x AS DATE)``), and typed-literal
        prefixes (``DATE '2024-01-01'``) are not column references —
        without these exclusions a column named `date` could never be
        dropped from a table whose expressions cast anything to DATE."""
        # string literals become '~' (the typed-literal check below
        # still sees the quote), comments become whitespace
        e = "".join("'~'" if k == "literal" else " " if k == "comment"
                    else t for k, t in sqltext.scan(expr))
        for m in re.finditer(rf"\b{re.escape(column)}\b", e, re.I):
            if re.search(r"\bAS\s*$", e[:m.start()], re.I):
                continue                       # cast/alias target keyword
            if re.match(r"\s*'", e[m.end():]):
                continue                       # typed literal: DATE '...'
            if re.match(r"\s*\(", e[m.end():]):
                continue                       # function call: abs(...) —
                # a column named `abs` is not referenced by abs(x)
            return True
        return False

    @staticmethod
    def _new_data_dir(ns: str, tbl: str) -> str:
        """A fresh uuid-unique, warehouse-relative write dir."""
        return f"{_DATA_DIR}/{ns}/{tbl}/{uuid.uuid4()}"

    def _write_files(self, df: DataFrame, ns: str, tbl: str,
                     partition_by: list[str] | None = None,
                     tdef: TableDef | None = None,
                     generated_applied: bool = False,
                     rel_dir: str | None = None,
                     drop_empty: bool = False,
                     one_split: bool = False) -> list[DataFile]:
        """Write ``df`` as parquet into a fresh dir (``rel_dir`` when the
        caller must be able to discard it) and return the new files with
        their footer stats. ``drop_empty`` removes zero-row part files
        from the result and from disk — always done for bucketed
        layouts, whose dir-completeness counts must match the disk.
        ``one_split``: Spark would run ``df`` as one task, so the driver
        may gather its rows (:meth:`_write_local`)."""
        rel_dir = rel_dir or self._new_data_dir(ns, tbl)
        # direct lane: executors write straight to the object store
        # (s3a://); spool lane: write into the local read-cache dir,
        # then upload every part file below
        out_dir = self._scan_uri(rel_dir)
        if (tdef is not None and not generated_applied
                and getattr(tdef, "generated_columns", None)):
            df = self._apply_generated(df, tdef)
        if tdef is not None and getattr(tdef, "constraints", None):
            # CHECK enforcement at the single writer chokepoint — every
            # path (INSERT, COW rewrites, MERGE, COPY INTO, streaming)
            # funnels here. Zero extra jobs: the first written column is
            # wrapped so evaluating it (which the write must) raises on
            # the first violating row. SQL semantics: NULL passes.
            cond = " AND ".join(
                f"coalesce(({e}), true)" for e in tdef.constraints.values())
            names = ", ".join(sorted(tdef.constraints))
            c0 = df.columns[0]
            df = df.withColumn(c0, F.when(F.expr(cond), F.col(c0))
                               .otherwise(F.raise_error(F.lit(
                                   f"{_CHECK_MARKER}: CHECK constraint "
                                   f"violated on {ns}.{tbl} "
                                   f"(constraints: {names})"))))
        if tdef is not None and tdef.column_mapping:
            # files ALWAYS store physical names — a renamed column keeps
            # writing under its creation name so every file in the table
            # has one consistent in-file schema
            df = self._to_physical(df, tdef)
            partition_by = [self._phys(tdef, c)
                            for c in (partition_by or [])]
        bspec = dict(getattr(tdef, "bucket_by", None) or {})
        try:
            if bspec:
                self._write_bucketed(df, out_dir, bspec, tdef,
                                     partition_by)
            elif partition_by or not self._write_local(df, rel_dir,
                                                       one_split):
                if partition_by:
                    # distribute rows by partition value before the
                    # dynamic-partition write (guide §6 / Iceberg
                    # write.distribution-mode=hash): without it, each
                    # input task writes EVERY leaf dir it sees — one
                    # upstream split serializes a 150-leaf layout
                    # through one task (measured 3.5s of b83's 5.7s),
                    # and at scale M tasks × P leaves is the classic
                    # small-files explosion. REBALANCE is AQE-managed:
                    # small partition values coalesce into shared
                    # tasks, a skewed value splits across several —
                    # scale-adaptive with no fixed partition count.
                    df = df.hint("rebalance", *partition_by)
                writer = df.write.mode("error").options(**_NO_SUCCESS)
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.parquet(out_dir)
        except Exception as e:
            if _CHECK_MARKER in str(e):
                raise CheckConstraintError(
                    f"CHECK constraint violated writing to {ns}.{tbl}; "
                    f"constraints: "
                    f"{dict(tdef.constraints) if tdef else {}}") from e
            raise
        files = self._collect_stats(rel_dir)
        if bspec or drop_empty:
            # zero-row part files are dropped from TRACKING — delete them
            # from DISK too (before the spool upload), so no untracked
            # file is left for VACUUM. Bucketed layouts always do this:
            # dir_files is stamped over live files only, so tracked
            # count, dir_files and the on-disk count agree; a surviving
            # zero-row file would mark its dir permanently incomplete
            # and silently downgrade every later read (ADVICE r10)
            dead = [f for f in files if f.num_rows == 0]
            if dead:
                files = [f for f in files if f.num_rows > 0]
                if self.data_plane == "direct":
                    self.catalog.storage.delete_many(
                        [f.path for f in dead])
                else:
                    for f in dead:
                        try:
                            os.remove(self._abs(f.path))
                        except OSError:
                            pass
        if bspec:
            # dir-completeness bookkeeping for the bucketed read path:
            # record per leaf dir how many files this write put there
            by_dir: dict[str, int] = {}
            for f in files:
                d = self._dir_of(f.path)
                by_dir[d] = by_dir.get(d, 0) + 1
            for f in files:
                f.dir_files = by_dir[self._dir_of(f.path)]
        if self._object_store and self.data_plane != "direct":
            # spool lane only — the executors spooled into the read-local
            # cache dir (the reference's S3AtomicOutputStream pattern:
            # write local, upload on close); publish every part file to
            # the object store in parallel. The local copies stay — they
            # ARE the read cache, so read-your-writes costs zero GETs.
            # (The direct lane already wrote to the object store.)
            from concurrent.futures import ThreadPoolExecutor
            storage = self.catalog.storage
            with ThreadPoolExecutor(
                    max_workers=min(16, max(1, len(files)))) as pool:
                list(pool.map(
                    lambda f: storage.put_from_file(f.path,
                                                    self._abs(f.path)),
                    files))
        return files

    def _write_local(self, df: DataFrame, rel_dir: str,
                     one_split: bool = False) -> str | None:
        """Driver lane: write ``df`` into ``rel_dir`` from the driver and
        return the lane taken, or None to leave the write to Spark.

        - ``"local"``: the rows are already on the driver (``df``
          optimizes to a LocalRelation); one Arrow conversion in the
          driver JVM replaces the Spark job.
        - ``"collected"``: ``one_split``, so Spark would write one file
          from one task; one ``toArrow`` job gathers its rows instead.

        pyarrow then writes the files Spark's write of the same frame
        would make (:mod:`driver_write`), with no ``_temporary`` renames
        and no forked ``chmod``s; the caller collects their stats and
        publishes them as it does for Spark's. Only hive layouts and
        bucketing keep the Spark write. A CHECK violation raises here:
        the optimizer folds the check into the relation, and a gathering
        job evaluates it."""
        settings = self._driver_lane_settings
        if settings is None:
            return None
        int96_output, n_slices = settings
        int96 = driver_write.int96(df.schema, int96_output)
        if int96 is None:
            return None
        if one_split:
            table, n_slices, lane = driver_write.collect(df), 1, "collected"
        else:
            relation = driver_write.local_relation(df)
            if relation is None:
                return None
            table, lane = driver_write.to_arrow(self.spark, relation), "local"
        if self.data_plane != "direct":
            out = self._abs(rel_dir)
            os.makedirs(out)
            driver_write.write_slices(table, n_slices, int96,
                                      lambda name: os.path.join(out, name))
            return lane
        import io
        bufs: dict[str, io.BytesIO] = {}
        driver_write.write_slices(table, n_slices, int96,
                                  lambda name: bufs.setdefault(
                                      name, io.BytesIO()))
        storage = self.catalog.storage
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(16, len(bufs))) as pool:
            list(pool.map(lambda kv: storage.overwrite(
                f"{rel_dir}/{kv[0]}", kv[1].getvalue()), bufs.items()))
        return lane

    @property
    def _driver_lane_settings(self) -> tuple[bool, int] | None:
        """:func:`driver_write.settings` of the session, read once per
        engine like :attr:`_arrow_local`: a setting changed later shifts
        file layout, never the rows read back."""
        cached = getattr(self, "_driver_lane_cache", False)
        if cached is False:
            cached = self._driver_lane_cache = driver_write.settings(
                self.spark)
        return cached

    @staticmethod
    def _dir_of(path: str) -> str:
        """The WRITE-DIR of a tracked file — the grouping key of every
        bucketed-layout invariant (dir-completeness bookkeeping at
        write, the shadow read's soundness check, DML dir expansion,
        whole-dir compaction). One definition so the five call sites
        can never disagree on what a 'dir' is."""
        return path.rsplit("/", 1)[0]

    def _write_bucketed(self, df: DataFrame, out_dir: str, bspec: dict,
                        tdef: TableDef,
                        partition_by: list[str] | None) -> None:
        """Bucketed write lane (B55b): Spark's bucket layout exists only
        through the session catalog (``bucketBy`` requires
        ``saveAsTable``), so the write stages through a throwaway
        EXTERNAL table pointed at the engine-owned dir — dropping it
        afterwards keeps the files, whose NAMES carry the bucket id
        (Spark's bucket contract, how the read side regroups them).
        The pre-``repartition(n, cols)`` aligns task boundaries with
        bucket assignment — both are ``pmod(murmur3(cols), n)`` — so
        one write emits at most ``num_buckets`` files per hive leaf,
        not tasks × buckets."""
        n = int(bspec["num_buckets"])
        cols = [self._phys(tdef, c) for c in bspec["columns"]]
        tmp = f"olympia_bucket_stage_{uuid.uuid4().hex}"
        # pin autoBucketedScan OFF for the write job: when the INPUT is
        # itself a bucketed scan (compaction, COW rewrites), Spark first
        # elides the repartition (child partitioning already satisfies
        # it) and then DisableUnnecessaryBucketedScan un-buckets the
        # scan — leaving per-input-file tasks and a files×appends
        # output. With the rule off, the input stays 1-task-per-bucket
        # and the elided shuffle is exactly right: a zero-shuffle
        # per-bucket merge.
        abs_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        prev = self.spark.conf.get(abs_key)
        self.spark.conf.set(abs_key, "false")
        try:
            writer = (df.repartition(n, *[F.col(c) for c in cols])
                      .write.mode("error").options(**_NO_SUCCESS)
                      .bucketBy(n, cols[0], *cols[1:])
                      .sortBy(cols[0], *cols[1:])
                      .option("path", out_dir))
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            # fully qualified like the shadow table: a USE / USE CATALOG
            # issued between writes must not land the staging table (or
            # its DROP) in an unexpected namespace (ADVICE r10)
            writer.saveAsTable(f"spark_catalog.default.{tmp}")
        finally:
            self.spark.conf.set(abs_key, prev)
            self.spark.sql(
                f"DROP TABLE IF EXISTS spark_catalog.default.`{tmp}`")

    @staticmethod
    def _dir_era_id(d: str) -> str:
        """Stable id of a write dir inside its shadow table — the
        ``__olympia_era`` partition value. Content-derived (dir-name
        hash, NOT position in a sorted dir list) so the same dir maps
        to the same partition across reads/appends and registration
        can diff incrementally (r10 VERDICT #3)."""
        import hashlib
        return hashlib.md5(d.encode()).hexdigest()[:16]

    def _dir_file_count(self, d: str) -> int:
        """On-disk .parquet count of a write dir. Must equal the
        tracked ``dir_files`` before the dir is vouched into a shadow:
        a dir whose files were deleted (VACUUM of an expired snapshot)
        would otherwise silently read as empty buckets, where the
        plain tracked-path scan fails loudly (ADVICE r10)."""
        if self.data_plane == "direct" and not os.path.isabs(d):
            return sum(1 for k in self.catalog.storage.list(f"{d}/")
                       if k.endswith(".parquet"))
        try:
            return sum(1 for fn in os.listdir(self._abs(d))
                       if fn.endswith(".parquet"))
        except OSError:
            return 0

    def _bucketed_shadow(self, tdef: TableDef, rel_paths: list[str],
                         era: tuple[str, ...] = ()) -> DataFrame | None:
        """Re-register the tracked bucketed layout with the SESSION
        catalog so Catalyst plans bucket-local joins/aggs (zero
        exchange on this side). Each complete write dir becomes one
        partition of a shadow table (metadata-only — no data moves,
        no symlinks; Spark groups the selected files of ALL partitions
        by filename bucket id, so bucketing holds across appends).
        ``era`` is the table's hive layout (B55c): those columns become
        leading partition columns of the shadow — their values parsed
        from the dir path exactly once at registration — so partition
        predicates still PRUNE (PartitionFilters) while the scan keeps
        the bucket output partitioning.

        ONE shadow per (warehouse, table id, bucket spec, physical
        schema); partitions are keyed by dir-name hash and each read
        registers only dirs this session hasn't vouched yet — appends
        are O(new dirs), not a replay under a fresh name (r10 VERDICT
        #3). Shadows are NEVER dropped (earlier-returned DataFrames
        reference theirs lazily — review r10 finding #1, reproduced)
        and never shrink: a snapshot read FILTERS the shadow to its own
        dirs' era ids, so partitions of dropped/foreign file-sets are
        pruned out, not served.

        Returns None — caller downgrades to the plain scan — when any
        dir is INCOMPLETE (some of its files pruned/rewritten away:
        bucket-id inference would misread missing buckets as empty),
        when a new dir's ON-DISK file count disagrees with the tracked
        count (vacuumed snapshot — the plain scan fails loudly instead
        of silently serving empty partitions, ADVICE r10), or when a
        path/partition value can't be embedded in DDL safely (quote or
        backslash — refused rather than escaped, ADVICE r10). DML keeps
        dirs complete by expanding rewrites to whole dirs
        (:meth:`_expand_bucket_dirs`), so the downgrade is the
        documented exception, not the steady state."""
        import hashlib
        from urllib.parse import unquote
        by_file = {f.path: f for f in tdef.data_files}
        dirs: dict[str, list] = {}
        for p in rel_paths:
            f = by_file.get(p)
            if f is None or os.path.isabs(p) or "://" in p:
                # scheme URIs (file://, s3://) are non-engine-owned
                # estates (export_reference_catalog writes them) — the
                # plain scan is the contract there, same as absolute
                # paths (ADVICE r11: isabs() alone misses URIs)
                return None
            dirs.setdefault(self._dir_of(p), []).append(f)
        for group in dirs.values():
            want = group[0].dir_files
            if want <= 0 or len(group) != want \
                    or any(g.dir_files != want for g in group):
                return None
        phys = self._physical_schema(tdef)
        n = int(tdef.bucket_by["num_buckets"])
        cols = [self._phys(tdef, c) for c in tdef.bucket_by["columns"]]
        ordered = sorted(dirs)

        def unsafe(lit: str) -> bool:
            # refuse rather than escape: quoting rules differ across
            # ANSI / escapedStringLiterals session configs, and the
            # plain-scan fallback is always available and exact
            return "'" in lit or "\\" in lit

        # B55c: per-dir hive partition VALUES, parsed from the path with
        # ONE Hive-unescape (tracked rel paths carry no URI layer —
        # unlike _metadata.file_path in the plain-scan branch; unquote
        # leaves '+' alone, matching Hive's escapePathName)
        hive_vals: dict[str, list[str]] = {}
        for d in ordered:
            pairs = [seg.partition("=") for seg in d.split("/")
                     if "=" in seg and seg.split("=", 1)[0] in set(era)]
            if tuple(c for c, _eq, _v in pairs) != era:
                return None
            vals = []
            for _c, _eq, v in pairs:
                if v == "__HIVE_DEFAULT_PARTITION__":
                    return None        # NULL partition value — plain scan
                dec = unquote(v)
                if dec == "" or unsafe(dec):
                    return None
                vals.append(dec)
            hive_vals[d] = vals
        # key = warehouse + table id + bucket spec + layout era +
        # PHYSICAL SCHEMA (NOT the dir set): schema in the key means
        # ADD/DROP/RENAME COLUMN mints a fresh shadow instead of
        # re-serving stale columns (review r10 finding #2); the dir set
        # OUT of the key is what makes appends incremental.
        spark = self.spark
        app = spark.sparkContext.applicationId
        # applicationId IN the key: with a PERSISTENT metastore a
        # same-named shadow from a prior application would survive with
        # partition LOCATIONs pointing at that app's (vacuumed) spool
        # cache, and ADD IF NOT EXISTS never repairs an existing
        # partition's stale location (ADVICE r11) — a per-app name
        # makes prior-app leftovers unreachable instead of trusted
        key = hashlib.md5("|".join(
            [app, self._local_root, tdef.id, str(n), ",".join(cols),
             ",".join(era), phys.json()]).encode()).hexdigest()[:16]
        # ALWAYS catalog+database-qualified: the session's current
        # database (USE otherdb) OR current catalog (USE CATALOG other)
        # can change between registration and a later read — a
        # shorter-qualified name would resolve against the wrong place
        # while the completeness mark still vouches for it
        name = f"spark_catalog.default.olympia_bucketed_{key}"
        # entries keyed to a previous SparkContext are dead weight —
        # purge them (same convention as operators/_scratch.py), which
        # also bounds the map across session restarts in one process
        for m in [m for m in _SHADOW_DIRS if m[0] != app]:
            del _SHADOW_DIRS[m]
        for m in [m for m in _SHADOW_PROBE_CURSOR if m[0] != app]:
            del _SHADOW_PROBE_CURSOR[m]
        reg = _SHADOW_DIRS.setdefault((app, name), set())
        era_ids = {d: self._dir_era_id(d) for d in ordered}
        # only dirs this SESSION saw through registration are trusted
        # blind; everything else — fresh dirs, a half-failed earlier
        # registration, another Engine on the session — goes through
        # the same idempotent verify-and-ADD (review r10 pass-2 #1: a
        # partial shadow served as complete would silently drop whole
        # write dirs' rows)
        new = [d for d in ordered if era_ids[d] not in reg]
        if new:
            self._scan_uris(rel_paths)   # spool lane: materialize cache
            for d in new:
                if unsafe(self._scan_uri(d)) \
                        or self._dir_file_count(d) != dirs[d][0].dir_files:
                    return None
            if not spark.catalog.tableExists(name):
                col_ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in phys.fields)
                bcols = ", ".join(f"`{c}`" for c in cols)
                pcols = ", ".join([f"`{c}`" for c in era]
                                  + ["`__olympia_era`"])
                from olympia_spark.operators._scratch import scratch_dir
                loc = scratch_dir("olympia_bucket_shadow_")
                if unsafe(loc):
                    return None
                spark.sql(
                    f"CREATE TABLE {name} ({col_ddl}, "
                    f"`__olympia_era` STRING) USING PARQUET "
                    f"PARTITIONED BY ({pcols}) "
                    f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
                    f"INTO {n} BUCKETS LOCATION '{loc}'")
                # marks vouched for partitions of a table that no
                # longer existed — re-register this read's FULL dir set
                # against the fresh table
                reg.clear()
                new = list(ordered)

            def pspec(d: str) -> str:
                kv = [f"`{c}`='{v}'" for c, v in zip(era, hive_vals[d])]
                kv.append(f"`__olympia_era`='{era_ids[d]}'")
                return ", ".join(kv)

            # ONE batched, idempotent statement per chunk (not one
            # round trip per dir — a thousand-append table would replay
            # a thousand ALTERs); IF NOT EXISTS makes the repair path
            # and the fresh path the same statement
            for lo in range(0, len(new), 100):
                chunk = new[lo:lo + 100]
                parts = " ".join(
                    f"PARTITION ({pspec(d)}) "
                    f"LOCATION '{self._scan_uri(d)}'"
                    for d in chunk)
                spark.sql(f"ALTER TABLE {name} "
                          f"ADD IF NOT EXISTS {parts}")
            # drop any cached relation/file index so this statement —
            # and only future plans, never already-analyzed ones — sees
            # the widened partition set
            spark.catalog.refreshTable(name)
            reg.update(era_ids[d] for d in new)
        # FRESHNESS PROBE (r11 VERDICT wrong #2): session marks vouch
        # for dirs a DIFFERENT process's GC may since have vacuumed —
        # the bucketed read would serve those dirs as empty partitions
        # where the plain scan fails loudly. One on-disk file-count
        # check per statement, rotating through this read's dirs, costs
        # a single listdir and bounds staleness at len(dirs) statements;
        # a mismatch drops EVERY mark (the vacuum took whole snapshots,
        # not one dir) and downgrades this statement to the plain scan,
        # which surfaces the missing files the way every other failure
        # mode does.
        cur = _SHADOW_PROBE_CURSOR.get((app, name), 0)
        _SHADOW_PROBE_CURSOR[(app, name)] = cur + 1
        probe = ordered[cur % len(ordered)]
        if self._dir_file_count(probe) != dirs[probe][0].dir_files:
            reg.clear()
            return None
        # filter to THIS read's dirs: the shared shadow accretes
        # partitions across snapshots/appends, and the era-id predicate
        # (a partition filter — metadata-only pruning) selects exactly
        # the tracked file-set of this statement's TableDef
        df = spark.table(name).where(
            F.col("__olympia_era").isin(sorted(era_ids.values())))
        return df.select(*[F.col(f.name) for f in phys.fields])

    def _expand_bucket_dirs(self, tdef: TableDef,
                            matched: list[str]) -> list[str]:
        """Bucketed tables rewrite at WRITE-DIR granularity: rewriting a
        strict subset of a dir's files would leave it incomplete and
        downgrade every later read to the unbucketed scan. Expansion is
        semantically free (the COW transforms carry non-matching rows
        through unchanged) and bounded — one dir is one commit's output,
        at most ``num_buckets`` files per hive leaf."""
        if not tdef.bucket_by or not matched:
            return matched
        want = {self._dir_of(p) for p in matched}
        return [f.path for f in tdef.data_files
                if self._dir_of(f.path) in want]

    @staticmethod
    def _footer_stats(md, rel_dir: str, fname: str,
                      size_bytes: int) -> DataFile:
        """DataFile from one parquet footer's metadata. ``fname`` is the
        '/'-separated path relative to the write dir; hive partition
        segments (col=val) become exact [v, v] stats, so partition
        columns prune through the same mechanism as data min/max."""
        stats: dict = {}
        nan: set[str] = set()
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                s = col.statistics
                if s is None or not s.has_min_max:
                    continue
                cname = col.path_in_schema
                lt = s.logical_type
                if lt.type == "DECIMAL" and s.physical_type in ("INT32",
                                                                "INT64"):
                    # pyarrow cannot decode integer-backed decimal stats
                    # (Spark's layout up to precision 18): scale the raw
                    # unscaled integers
                    scale = -json.loads(lt.to_json())["scale"]
                    mn, mx = (decimal.Decimal(v).scaleb(scale)
                              for v in (s.min_raw, s.max_raw))
                else:
                    mn, mx = s.min, s.max
                if isinstance(mn, bytes):
                    continue          # skip binary stats (not orderable)
                if isinstance(mn, float) and (math.isnan(mn)
                                              or math.isnan(mx)):
                    nan.add(cname)    # Spark's NaN-bearing max: unusable
                elif cname in stats:
                    stats[cname] = [min(stats[cname][0], mn),
                                    max(stats[cname][1], mx)]
                else:
                    stats[cname] = [mn, mx]
        # merged as values (a decimal's '10.00' sorts below '9.50' as
        # text), stored as JSON scalars
        stats = {c: [v if isinstance(v, (int, float, str, bool)) else str(v)
                     for v in pair]
                 for c, pair in stats.items() if c not in nan}
        from urllib.parse import unquote
        for seg in fname.split("/")[:-1]:
            col, eq, val = seg.partition("=")
            if eq:
                # Hive-UNESCAPE before recording: stats must compare
                # like-for-like with predicate literals ('a:b', not the
                # dir form 'a%3Ab') — escaped stats wrongly pruned the
                # very files that match. '+' is never Hive-escaped.
                if val != "__HIVE_DEFAULT_PARTITION__":
                    val = unquote(val.replace("+", "%2B"))
                v: object = val
                try:
                    v = int(val)
                except ValueError:
                    try:
                        v = float(val)
                    except ValueError:
                        pass
                stats[col] = [v, v]
        return DataFile(path=f"{rel_dir}/{fname}", num_rows=md.num_rows,
                        size_bytes=size_bytes, stats=stats)

    def _collect_stats(self, rel_dir: str) -> list[DataFile]:
        """Per-file rows/bytes/min-max from parquet footers (driver-side,
        footer-only I/O, thread-pooled — a 10k-file write reads footers
        concurrently instead of serializing) — the stats that make DML
        file pruning work. Direct lane: list the write prefix on the
        object store and read each footer via ranged GETs (the driver
        never downloads data pages); local/spool: walk the local dir."""
        import pyarrow.parquet as pq
        if self.data_plane == "direct":
            return self._collect_stats_remote(rel_dir)
        abs_dir = self._abs(rel_dir)
        files = []
        for root, _dirs, names in os.walk(abs_dir):
            for fname in names:
                if fname.endswith(".parquet"):
                    files.append(os.path.join(root, fname))

        def one(fpath: str) -> DataFile:
            fname = os.path.relpath(fpath, abs_dir).replace(os.sep, "/")
            md = pq.ParquetFile(fpath).metadata
            return self._footer_stats(md, rel_dir, fname,
                                      os.path.getsize(fpath))

        if len(files) <= 1:
            return [one(f) for f in sorted(files)]
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(32, len(files))) as pool:
            return list(pool.map(one, sorted(files)))

    def _collect_stats_remote(self, rel_dir: str) -> list[DataFile]:
        """Direct-lane stats: one LIST of the write prefix, then one
        footer read per part file over a ranged-GET file object —
        ~KBs per file regardless of file size, thread-pooled."""
        import pyarrow.parquet as pq
        storage = self.catalog.storage
        keys = sorted(k for k in storage.list(f"{rel_dir}/")
                      if k.endswith(".parquet"))

        def one(key: str) -> DataFile:
            fname = key[len(rel_dir) + 1:]
            with storage.open_ranged(key) as fobj:
                size = fobj.size()
                md = pq.ParquetFile(fobj).metadata
            return self._footer_stats(md, rel_dir, fname, size)

        if len(keys) <= 1:
            return [one(k) for k in keys]
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(32, len(keys))) as pool:
            return list(pool.map(one, keys))

    # --- copy-on-write DML (B29/B30) ----------------------------------------

    def _candidate_files(self, tdef: TableDef, predicate: str) -> list[str]:
        """Stats-based file pruning: a file whose [min,max] range provably
        excludes every simple comparison in the predicate is skipped.
        Conservative — prunes ONLY when every comparison is provably
        top-level AND'ed: any OR / NOT / CASE in the predicate disables
        pruning entirely (treating an OR branch as a conjunct would prune
        files that DO contain matches — silent DML corruption)."""
        if re.search(r"\b(OR|NOT|CASE|SELECT)\b", predicate, re.I):
            # SELECT: a subquery predicate's INNER conjuncts would split
            # out as outer-table comparisons (`k IN (SELECT k FROM s
            # WHERE b = 2)` must not prune the target on b) — no pruning.
            return [f.path for f in tdef.data_files]
        # Split on the ANDs that are code (never one inside a literal:
        # 'x AND v = 3' is data, not a conjunct), except the AND a
        # BETWEEN takes, and keep ONLY conjuncts that are in their
        # entirety a simple `col op literal` comparison or a
        # `col BETWEEN literal AND literal` with exactly-parsed literals
        # ('' doubling, scientific notation, sign). Anything else — IS
        # NULL, function calls, a backslash-escaped or unrecognized
        # literal form — contributes no pruning: partially-parsed
        # literals ('O''Brien' read as 'O', 1e5 read as 1) would prune
        # files that DO contain matching rows.
        conjuncts, pos, between = [], 0, False
        for m in re.finditer(r"\b(?:AND|BETWEEN)\b",
                             sqltext.code_view(predicate), re.I):
            if m.group().upper() == "BETWEEN":
                between = True
            elif between:
                between = False         # the AND of BETWEEN lo AND hi
            else:
                conjuncts.append(predicate[pos:m.start()])
                pos = m.end()
        conjuncts.append(predicate[pos:])
        comparisons = []
        for conj in conjuncts:
            m = _SIMPLE_CMP_RE.match(conj)
            if m:
                comparisons.append(m.groups())
            elif m := _BETWEEN_RE.match(conj):
                col, lo, hi = m.groups()
                comparisons += [(col, ">=", lo), (col, "<=", hi)]
        types = {f.name: f.dataType for f in tdef.spark_schema().fields}
        out = []
        for f in tdef.data_files:
            keep = True
            for col, op, lit in comparisons:
                pcol = tdef.column_mapping.get(col, col)
                if pcol not in f.stats:
                    continue
                bounds = _pruning_bounds(types.get(col), f.stats[pcol], lit)
                if bounds is None:
                    continue
                mn, mx, val = bounds
                if op == "=" and not (mn <= val <= mx):
                    keep = False
                elif op in ("<", "<=") and mn > val:
                    keep = False
                elif op in (">", ">=") and mx < val:
                    keep = False
            if keep:
                out.append(f.path)
        return out

    @staticmethod
    def _require_native(tdef: TableDef, name: str, op: str) -> None:
        """Mutations emit parquet; refuse them on CSV/JSON external
        tables instead of silently mixing storage formats (ingest the
        data into a native table with CTAS / INSERT SELECT first)."""
        if tdef.format not in ("PARQUET",):
            raise ValueError(
                f"{op}: {name} is a read-only {tdef.format} external "
                f"table; copy it into a native table first "
                f"(CREATE TABLE ... AS SELECT)")

    def _touched_files(self, tdef: TableDef, predicate: str,
                       txn: Transaction,
                       name: str) -> tuple[list[str], int | None]:
        """The files a copy-on-write statement rewrites, and the exact
        number of rows matching ``predicate`` — or None when the count
        is left to the rewrite job (:meth:`_rewrite_files`).

        Single pass: when stats pruning, after bucket-dir expansion,
        leaves ONE file and the predicate is plain (no subquery) and
        deterministic, that file is the answer and no job runs here.
        Otherwise one job finds the files that hold matches and the
        per-file match counts (input_file_name groupBy — only names and
        counts reach the driver): a table whose file ranges overlap
        never rewrites a file without a match, and a nondeterministic
        predicate is counted once. The count is the EXACT number of
        matching rows, not the row count of the rewritten files, which
        bucket-dir expansion would inflate to whole commits (review r10
        #4)."""
        candidates = self._candidate_files(tdef, predicate)
        expanded = self._expand_bucket_dirs(tdef, candidates)
        if (len(expanded) == 1 and self._deterministic(predicate)
                and not re.search(r"\bSELECT\b", predicate, re.I)):
            return expanded, None
        if not candidates:
            return [], 0
        from urllib.parse import unquote
        # input_file_name() URI-encodes hive-escaped dirs a second time
        # (src=a%3Ab arrives as src=a%253Ab) — one unquote strips the
        # URI layer so suffix matching sees the on-disk form; python
        # unquote leaves '+' alone (not unquote_plus)
        per_file = (self._pred_matches(self._scan(tdef, candidates),
                                       predicate, txn, name)
                    .groupBy(F.input_file_name().alias("_f"))
                    .count().collect())
        matched_abs = [unquote(r["_f"]) for r in per_file]
        cand_abs = [self._scan_uri(p) for p in candidates]
        matched = [p for p, a in zip(candidates, cand_abs)
                   if any(m.endswith(a) or a.endswith(
                       m.removeprefix("file://")) for m in matched_abs)]
        if not matched:
            return [], 0
        return (self._expand_bucket_dirs(tdef, matched),
                sum(r["count"] for r in per_file))

    def _deterministic(self, expr: str) -> bool:
        """True when every function call in ``expr`` is on the
        deterministic whitelist the MV incremental lane uses. An unknown
        call (rand(), uuid(), a UDF) may give two evaluations of one row
        two answers."""
        calls = {t.lower() for t in re.findall(
            r"([A-Za-z_]\w*)\s*\(", sqltext.scrub(expr))}
        return calls <= self._MV_SAFE_WORDS

    def _rewrite_files(self, tdef: TableDef, ns: str, tbl: str,
                       files: list[str], n: int | None, predicate: str,
                       transform) -> tuple[list[DataFile], int]:
        """Write ``transform(scan of files)`` into a fresh dir and return
        the new non-empty files and the match count. With ``n`` None
        (single pass) the count is ``count_if(predicate)`` observed on
        the scan the write job already runs; an observed 0 means nothing
        matched, so the written dir is discarded and nothing is to be
        committed. When the write's plan holds no rows at all, the
        optimizer may drop the observed scan, and the count then takes
        a job of its own. A failed write (CHECK violation, executor
        error) is discarded too, leaving the disk as it was. A rewrite
        Spark would run as one task is written from the driver
        (:meth:`_one_split`)."""
        scan = self._scan(tdef, files)
        obs = None
        if n is None:
            from pyspark.sql import Observation
            obs = Observation()
            scan = scan.observe(obs, F.expr(f"count_if({predicate}) AS n"))
        rel_dir = self._new_data_dir(ns, tbl)
        try:
            new_files = self._write_files(
                transform(scan), ns, tbl, tdef.partition_by, tdef=tdef,
                rel_dir=rel_dir, drop_empty=True,
                one_split=self._one_split(tdef, files, predicate))
        except Exception:
            self._discard_write(rel_dir)
            raise
        if obs is not None:
            row = obs._jo.getRow()
            # an empty row: the optimizer dropped the observed scan from
            # the plan it ran (a DELETE filter folded to false, or AQE
            # replaced a shuffle stage with no output), so the count
            # never reached the driver — count the matches in a job
            n = (row.getLong(0) if row.length()
                 else self._scan(tdef, files).filter(predicate).count())
            if n == 0:
                self._discard_write(rel_dir)
                return [], 0
        return new_files, n

    def _one_split(self, tdef: TableDef, files: list[str],
                   predicate: str) -> bool:
        """Would Spark rewrite ``files`` in one task? It would for one
        file no larger than both ``spark.sql.files.openCostInBytes`` and
        ``spark.sql.files.maxPartitionBytes``: its scan packs such a file
        into one split whatever the parallelism. A subquery predicate
        plans a join whose shuffle spreads the rows over several tasks.
        The split size also bounds what the driver gathers."""
        if len(files) != 1 or re.search(r"\bSELECT\b", predicate, re.I):
            return False
        size = next(f.size_bytes for f in tdef.data_files
                    if f.path == files[0])
        conf = self.spark._jconf
        return 0 <= size <= min(conf.filesOpenCostInBytes(),
                                conf.filesMaxPartitionBytes())

    def _discard_write(self, rel_dir: str) -> None:
        """Delete a write dir no commit will reference, through the lane
        that wrote it: the object-store copies (direct lane: every
        object Spark wrote; spool lane: the uploaded part files) and the
        local dir (local lane: the data; spool lane: the cache copy).
        VACUUM and space accounting then never see it."""
        if self._object_store:
            storage = self.catalog.storage
            storage.delete_many(list(storage.list(f"{rel_dir}/")))
        if self.data_plane != "direct":
            shutil.rmtree(self._abs(rel_dir), ignore_errors=True)

    def _rewrite(self, name: str, predicate: str,
                 transform) -> int:
        """Shared copy-on-write core for DELETE/UPDATE:
        1. stats-prune candidate files (bucketed tables expand to whole
           write dirs) — :meth:`_touched_files`;
        2. if one file is left and the predicate is plain and
           deterministic, go straight to 3; otherwise one Spark job
           finds the files actually containing matches and the exact
           match count;
        3. rewrite those files via `transform(df)` — :meth:`_rewrite_files`.
           On the single pass the same job counts the matches
           (``count_if`` Observation); an observed 0 discards the
           written dir and commits nothing. Zero-row output files are
           dropped from tracking and from disk;
        4. CAS-commit added+removed file lists; return the match count.

        GOVERNANCE ASYMMETRY (deliberate — ADVICE r9 #3): predicates
        here evaluate against RAW scans, not the policy-filtered view.
        Reads are governed (row filters/masks at ``read_table``);
        write-side statements are NOT — ``DELETE WHERE true`` removes
        rows the active row filter hides from the same caller. This is
        the fail-SAFE direction for data integrity: filtering the COW
        rewrite through a row policy would make every DML statement
        silently DESTROY the hidden rows it rewrote around (they would
        be absent from the rewritten files). The same asymmetry is the
        lakehouse norm (Delta/Iceberg RLS governs readers; writers are
        trusted table owners). Deployments that need write-side
        enforcement should gate DML by privilege, not by policy —
        policies here are a read-projection mechanism, not an ACL."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "DELETE/UPDATE")
            self._mv_guard(tdef, name, "DELETE/UPDATE")
            schema = tdef.spark_schema()
            self._record_select(txn, ns, tbl,
                                [f.name for f in schema.fields], predicate)
            files, n = self._touched_files(tdef, predicate, txn, name)
            if files:
                new_files, n = self._rewrite_files(
                    tdef, ns, tbl, files, n, predicate,
                    lambda df: transform(df, txn))
            if n:
                action = (ActionType.TABLE_DELETE
                          if transform.__name__ == "_delete"
                          else ActionType.TABLE_UPDATE)
                self.catalog.update_table_files(
                    txn, ns, tbl, new_files, files, action,
                    {"added": [f.path for f in new_files], "removed": files,
                     "expression": predicate})
        return n

    def replace_where(self, name: str, df: DataFrame,
                      predicate: str) -> int:
        """Delta-style ``INSERT OVERWRITE ... REPLACE WHERE``: atomically
        replace exactly the rows matching ``predicate`` with ``df`` — one
        commit carries the copy-on-write rewrite of matched files (rows
        NOT matching are kept) plus the new data files. Every inserted
        row must itself satisfy the predicate (Delta's constraint): rows
        outside it would silently survive the next REPLACE WHERE of a
        different slice, so violations raise instead. File pruning
        applies: only stats-candidate files are scanned for matches."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "INSERT OVERWRITE REPLACE WHERE")
            self._mv_guard(tdef, name, "INSERT OVERWRITE REPLACE WHERE")
            schema = tdef.spark_schema()
            df = df.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                             for f in schema.fields])
            if tdef.generated_columns:
                # recompute BEFORE the predicate guard: the guard must see
                # the values that will actually be WRITTEN — a payload whose
                # explicit/NULL-filled generated values differ from their
                # recomputed ones would otherwise pass validation yet land
                # outside the replaced slice (or be falsely rejected)
                df = self._apply_generated(df, tdef)
            # Pin the source before validating: the validation count and the
            # data write are separate evaluations, so a non-deterministic
            # source (rand(), re-shuffling scan) could pass the check yet
            # write violating rows — the exact corruption the check exists to
            # prevent (same reason merge() materializes its source).
            from pyspark import StorageLevel
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            df.count()
            try:
                return self._replace_where_body(
                    txn, tdef, ns, tbl, df, predicate, name, schema)
            finally:
                df.unpersist()

    def _replace_where_body(self, txn, tdef, ns, tbl, df, predicate,
                            name, schema) -> int:
        def keep_complement(d: DataFrame) -> DataFrame:
            return self._pred_unmatched(d, predicate, txn, name)

        n_bad = keep_complement(df).count()
        if n_bad:
            raise ValueError(
                f"REPLACE WHERE: {n_bad} inserted row(s) do not satisfy "
                f"the predicate ({predicate}) — they would silently "
                f"survive a later replace of a different slice")
        self._record_select(txn, ns, tbl,
                            [f.name for f in schema.fields], predicate)
        files, n_replaced = self._touched_files(tdef, predicate, txn, name)
        new_files: list[DataFile] = []
        if files:
            new_files, n_replaced = self._rewrite_files(
                tdef, ns, tbl, files, n_replaced, predicate,
                keep_complement)
        removed = files if n_replaced else []
        # an empty/skewed source must not leave zero-row parquet files
        # tracked in table metadata
        ins_files = self._write_files(
            df, ns, tbl, tdef.partition_by, tdef=tdef,
            # replace_where already normalized the payload (the
            # predicate guard needed post-recompute values) — don't
            # recompute a second time
            generated_applied=bool(tdef.generated_columns),
            drop_empty=True)
        new_files += ins_files
        self.catalog.update_table_files(
            txn, ns, tbl, new_files, removed, ActionType.TABLE_UPDATE,
            {"added": [f.path for f in new_files], "removed": removed,
             "expression": f"REPLACE WHERE {predicate}"})
        return n_replaced + sum(f.num_rows for f in ins_files)

    def merge(self, name: str, source: DataFrame, on: str,
              target_alias: str = "t", source_alias: str = "s",
              matched_update: dict[str, str] | None = None,
              matched_delete: bool = False,
              not_matched_insert: dict[str, str] | None = None,
              matched_clauses: list | None = None,
              not_matched_clauses: list | None = None,
              not_matched_by_source_clauses: list | None = None,
              dedup_source_by: list[str] | None = None,
              dedup_source_order: str | None = None,
              extra_properties: dict | None = None,
              schema_evolution: bool = False) -> int:
        """MERGE INTO: copy-on-write upsert. Only files containing matched
        target rows are rewritten (the FIRST matched clause whose condition
        holds is applied per row, SQL clause-order semantics; rows hit by
        no clause carry through); not-matched source rows insert via the
        first not-matched clause whose condition holds; untouched files
        keep their entries. One TABLE_UPDATE commit carries the whole
        merge atomically.

        ``matched_clauses`` = ordered ``(condition|None, "update"|"delete",
        assignments|None)``; ``not_matched_clauses`` = ordered
        ``(condition|None, insert_map)``;
        ``not_matched_by_source_clauses`` (Delta ``WHEN NOT MATCHED BY
        SOURCE``) = ordered ``(condition|None, "update"|"delete",
        assignments|None)`` applied to TARGET rows with no source match —
        conditions/assignments may reference target columns only. By
        definition the clause inspects every target row, so its presence
        rewrites all files (no file pruning is possible: whether a row is
        unmatched is only known after the join). The legacy single-clause
        kwargs remain as sugar. ``on``/condition/expression strings
        reference ``target_alias``/``source_alias`` columns.

        A target row matched by more than one source row raises
        MergeCardinalityError IF any of those pairings selects a matched
        clause (SQL/Delta semantics: a row may only be identified for
        update/delete once; multi-matched rows no clause touches carry
        through exactly once). Because a clause-selected pairing always
        satisfies the file-pruning predicate, the outcome is independent
        of which parquet file a row happens to live in. The guard and the
        carry-through dedup share one window over a per-row id inside the
        rewrite job — a single extra exchange of the rewrite set, no
        second scan, and it can never drift from what is written.

        ``dedup_source_by`` opts into source-side deduplication instead of
        the cardinality error: source rows are reduced to one winner per
        key before the merge (``dedup_source_order`` — required — is an
        expression over source columns; the row with the HIGHEST value
        wins, ties broken by all remaining columns for determinism).
        """
        if dedup_source_by:
            if not dedup_source_order:
                raise ValueError(
                    "MERGE: dedup_source_by requires dedup_source_order — "
                    "an arbitrary per-key winner would make the merge "
                    "non-deterministic")
            tie = [F.col(c).desc_nulls_last() for c in source.columns
                   if c not in set(dedup_source_by)]
            w = (Window.partitionBy(*dedup_source_by)
                 .orderBy(F.expr(dedup_source_order).desc_nulls_last(), *tie))
            source = (source.withColumn("_sdrn", F.row_number().over(w))
                      .filter("_sdrn = 1").drop("_sdrn"))
        if matched_clauses is None:
            matched_clauses = []
            if matched_update:
                matched_clauses.append((None, "update", matched_update))
            if matched_delete and not matched_update:
                matched_clauses.append((None, "delete", None))
        if not_matched_clauses is None:
            not_matched_clauses = ([(None, not_matched_insert)]
                                   if not_matched_insert else [])

        def strip_tkey(k: str) -> str:
            # `UPDATE SET t.v = ...` targets column v — strip the target
            # qualifier from assignment/insert KEYS once, for validation,
            # the rewrite projection, and schema evolution alike
            if k.lower().startswith(target_alias.lower() + "."):
                return k.split(".", 1)[1]
            return k

        matched_clauses = [
            (c, kind, ({strip_tkey(k): v for k, v in a.items()}
                       if a else a))
            for c, kind, a in matched_clauses]
        not_matched_clauses = [
            (c, {strip_tkey(k): v for k, v in imap.items()})
            for c, imap in not_matched_clauses]
        if not_matched_by_source_clauses:
            not_matched_by_source_clauses = [
                (c, kind, ({strip_tkey(k): v for k, v in a.items()}
                           if a else a))
                for c, kind, a in not_matched_by_source_clauses]
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "MERGE")
            self._mv_guard(tdef, name, "MERGE")
            schema = tdef.spark_schema()
            evolved_names: list[str] = []
            if schema_evolution:
                # Delta autoMerge with explicit clauses: evolve EXACTLY the
                # assignment/insert TARGET names missing from the schema
                # (never every incidental source column — a stray staging
                # column would otherwise permanently enter the table, and
                # dropping it would burn the name via retired_columns).
                # Types come from analyzing the assignment expression
                # against the source. The TableDef mutates in-memory NOW
                # (the target scan must NULL-fill the new columns and
                # validation must accept them) but the ALTER action is
                # recorded only after the merge body succeeds — a failing
                # merge must not leave the column without the rows.
                existing = {f.name.lower() for f in schema.fields}

                def norm_key(k: str) -> str:
                    # keys are already target-alias-stripped; any REMAINING
                    # dotted name is a user error, never a new column to mint
                    if "." in k:
                        raise ValueError(
                            f"MERGE schema evolution: cannot evolve "
                            f"qualified column name {k!r}")
                    return k

                want: dict[str, str] = {}
                for _c, kind, assigns in list(matched_clauses or []) + list(
                        not_matched_by_source_clauses or []):
                    if kind == "update":
                        for k, v in (assigns or {}).items():
                            k = norm_key(k)
                            if k.lower() not in existing:
                                want.setdefault(k, v)
                for _c, imap in (not_matched_clauses or []):
                    for k, v in imap.items():
                        k = norm_key(k)
                        if k.lower() not in existing:
                            want.setdefault(k, v)
                if want:
                    self._check_new_column_names(tdef, list(want),
                                                 "MERGE schema evolution")
                    # type inference against an empty t⋈s probe, so matched
                    # assignments (s. and t. refs) AND by-source assignments
                    # (t.-only refs) both resolve; a subquery's references
                    # bind like the statement's
                    probe = (self._local_df([], schema)
                             .alias(target_alias)
                             .crossJoin(self._local_df(
                                 [], source.schema).alias(source_alias)))
                    with _StatementScope(self.spark) as scope:
                        for k, v in want.items():
                            try:
                                dt = probe.select(F.expr(self._resolve_expr(
                                    v, txn, scope))).schema[0].dataType
                            except Exception as e:
                                raise ValueError(
                                    f"MERGE schema evolution: cannot infer "
                                    f"the type of new column {k} from ({v})"
                                ) from e
                            schema = schema.add(T.StructField(k, dt, True))
                    tdef.schema_json = schema.json()
                    evolved_names = list(want)
            cols = [f.name for f in schema.fields]
            # SQL analysis rule: assignment / insert targets must be table
            # columns — a typo'd column would otherwise make the clause a
            # silent no-op (the merge still rewrites files and reports rows).
            by_src = not_matched_by_source_clauses or []
            # A by-source row has NO source columns (all-NULL side of the left
            # join): a source reference in its condition silently skips the
            # clause and in an assignment silently writes NULL — reject both
            # (Delta raises the same analysis error).
            for cond, _kind, assigns in by_src:
                for text in ([cond] if cond else []) +                     list((assigns or {}).values()):
                    if re.search(rf"\b{re.escape(source_alias)}\s*\.", text):
                        raise ValueError(
                            "MERGE: WHEN NOT MATCHED BY SOURCE conditions/"
                            "assignments may reference target columns only; "
                            f"found source reference in {text!r}")
            for _c, kind, assigns in list(matched_clauses) + by_src:
                if kind == "update":
                    unknown = set(assigns) - set(cols)
                    if unknown:
                        raise ValueError(
                            f"MERGE: UPDATE SET references non-existent "
                            f"column(s) {sorted(unknown)} of {name}")
            for _c, imap in not_matched_clauses:
                unknown = set(imap) - set(cols)
                if unknown:
                    raise ValueError(
                        f"MERGE: INSERT references non-existent column(s) "
                        f"{sorted(unknown)} of {name}")
            self._record_select(txn, ns, tbl, cols, on)
            all_paths = tdef.file_paths()
            # Materialize the source ONCE: the merge runs up to three jobs over
            # it (file-pruning semi join, rewrite join, not-matched anti join).
            # Without pinning, a non-deterministic source (rand() sampling,
            # now(), a re-shuffling scan) presents DIFFERENT rows to each job —
            # updating against one snapshot while inserting against another
            # (the reason Delta materializes merge sources). The persist IS the
            # pin: the FIRST consumer (the pruning semi-join) computes the
            # source plan exactly once into the cache and every later job
            # reads the blocks — the eager count() that used to pre-populate
            # the cache was one whole extra job per MERGE for nothing
            # (VERDICT r15 #5 / guide §1.4; single evaluation is pinned by
            # test_merge_source_materialized_once's accumulator either way).
            # try/finally releases the blocks (the round-2 cache-leak lesson).
            from pyspark import StorageLevel
            src = source.alias(source_alias).persist(
                StorageLevel.MEMORY_AND_DISK)
            try:
                # subqueries in ON, WHEN and SET/VALUES read the statement's
                # snapshot, like its source and target
                with _StatementScope(self.spark) as scope:
                    clauses = [[tuple(self._resolve_expr(x, txn, scope)
                                      for x in clause) for clause in family]
                               for family in (matched_clauses,
                                              not_matched_clauses, by_src)]
                    return self._merge_body(
                        txn, tdef, ns, tbl, src,
                        self._resolve_expr(on, txn, scope), target_alias,
                        source_alias, cols, schema, *clauses, extra_properties,
                        evolved_names)
            finally:
                src.unpersist()

    def _merge_body(self, txn, tdef, ns, tbl, src, on, target_alias,
                    source_alias, cols, schema, matched_clauses,
                    not_matched_clauses, by_src=(),
                    extra_properties: dict | None = None,
                    evolved_names: list[str] | None = None) -> int:
        all_paths = tdef.file_paths()
        by_src = list(by_src)
        rw_clauses = list(matched_clauses) + by_src
        n_matched_clauses = len(matched_clauses)
        n_changed = 0
        new_files: list[DataFile] = []
        removed: list[str] = []
        rewrite_out = None          # deferred single-write fast path
        matched_rows = 0
        if all_paths and rw_clauses:
            if by_src:
                # WHEN NOT MATCHED BY SOURCE inspects every target row by
                # definition (whether a row is unmatched is only known
                # after the join), so every file is a rewrite candidate;
                # by-source row counts are taken from the staged relation
                # below instead of the pruning semi-join.
                matched = list(all_paths)
            else:
                scan = (self._scan(tdef, all_paths)
                        .withColumn("_file", F.input_file_name()))
                # File pruning: when EVERY matched clause is conditional, a
                # file only needs rewriting if some row satisfies on AND any
                # clause condition — fold that into the semi-join predicate
                # so fully unaffected files are never rewritten.
                conds = [c for c, _k, _a in matched_clauses]
                prune_pred = on if any(c is None for c in conds) else \
                    f"({on}) AND ({' OR '.join(f'({c})' for c in conds)})"
                # one job: matched files AND matched-row count per file (the
                # semi join emits each matching target row once)
                per_file = (scan.alias(target_alias)
                            .join(src, F.expr(prune_pred), "left_semi")
                            .groupBy("_file").count().collect())
                # strip input_file_name's URI layer (hive-escaped dirs
                # arrive double-encoded — see _rewrite)
                from urllib.parse import unquote
                matched_abs = [unquote(r["_file"]) for r in per_file]
                n_changed += sum(r["count"] for r in per_file)
                cand_abs = [(p, self._scan_uri(p)) for p in all_paths]
                matched = self._expand_bucket_dirs(
                    tdef,
                    [p for p, uri in cand_abs
                     if any(m.endswith(uri) or
                            uri.endswith(m.removeprefix("file://"))
                            for m in matched_abs)])
            if matched:
                affected = (self._scan(tdef, matched)
                            .withColumn("_rid",
                                        F.monotonically_increasing_id())
                            .alias(target_alias))
                marker = f"_{source_alias}_matched"
                joined = affected.join(
                    src.withColumn(marker, F.lit(1)), F.expr(on), "left")
                is_matched = F.col(marker).isNotNull()
                n_src = F.sum(is_matched.cast("int")).over(
                    Window.partitionBy("_rid"))

                def act_chain():
                    # unmatched target rows route through the by-source
                    # chain (combined indices m..m+b-1, first hit wins);
                    # matched rows through the matched chain (0..m-1)
                    bs = F.lit(-1)
                    for j in range(len(by_src) - 1, -1, -1):
                        cond, _k, _a = by_src[j]
                        bs = F.when(F.expr(cond) if cond else F.lit(True),
                                    F.lit(n_matched_clauses + j)) \
                              .otherwise(bs)
                    a = F.when(~is_matched, bs)
                    for i, (cond, _kind, _a) in enumerate(matched_clauses):
                        a = a.when(F.expr(cond) if cond else F.lit(True),
                                   F.lit(i))
                    return a.otherwise(F.lit(-1))

                # Cardinality: raise only when a multi-matched pairing is
                # SELECTED by a clause (a multi-matched row no clause
                # touches is legal and carries through once — deduped via
                # _rn below). Assignment expressions are when()-guarded by
                # the clause index so they evaluate only on the rows their
                # clause selects (an error-raising expression must not fire
                # on rows routed elsewhere).
                guard = F.when((n_src > 1) & (act_chain() >= 0),
                               F.raise_error(F.concat(
                                   F.lit(f"{_CARDINALITY_MARKER}: "
                                         "target row matched by "),
                                   n_src.cast("string"),
                                   F.lit(" source rows"))))
                staged = joined.select(
                    F.col(f"{target_alias}._rid").alias("_rid"),
                    guard.otherwise(act_chain()).alias("_action"),
                    *[F.col(f"{target_alias}.{c}").alias(f"_t_{c}")
                      for c in cols],
                    *[F.when(act_chain() == i, F.expr(assigns[c]))
                      .cast(schema[c].dataType).alias(f"_u{i}_{c}")
                      for i, (_c, kind, assigns) in
                      enumerate(rw_clauses)
                      if kind == "update" for c in assigns])
                # one surviving row per target row: clause-selected rows
                # are unique already (else the guard raised); multi-matched
                # carry-through rows keep a single copy
                staged = (staged.withColumn(
                    "_rn", F.row_number().over(
                        Window.partitionBy("_rid")
                        .orderBy(F.col("_action").desc())))
                    .filter("_rn = 1"))
                persisted = None
                if by_src:
                    # count clause-touched rows (the pruning semi-join was
                    # skipped). Persist: the count and the parquet write
                    # would otherwise each execute the full join+window
                    # pipeline. Evaluating _action here also fires the
                    # cardinality guard — map it to the documented error.
                    from pyspark import StorageLevel
                    staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
                    persisted = staged
                try:
                    if by_src:
                        try:
                            n_changed += staged.filter(
                                "_action >= 0").count()
                        except Exception as e:
                            if _CARDINALITY_MARKER in str(e):
                                raise MergeCardinalityError(
                                    "MERGE: a target row is matched by "
                                    "more than one source row; deduplicate "
                                    "the source on the join key") from e
                            raise
                    del_idx = [i for i, (_c, kind, _a) in
                               enumerate(rw_clauses) if kind == "delete"]
                    if del_idx:
                        staged = staged.filter(
                            ~F.col("_action").isin(del_idx))
                    out_cols = []
                    for c in cols:
                        e = F.col(f"_t_{c}")
                        for i, (_cond, kind, assigns) in enumerate(
                                rw_clauses):
                            if kind == "update" and c in assigns:
                                e = F.when(F.col("_action") == i,
                                           F.col(f"_u{i}_{c}")).otherwise(e)
                        out_cols.append(e.alias(c))
                    rewrite_out = staged.select(*out_cols)
                    # Single-write fast path: a plain upsert (no DELETE
                    # clause, no BY SOURCE) writes the rewritten files
                    # and the inserted rows in ONE Spark job below —
                    # rewrites preserve the matched files' row counts,
                    # so the insert tally falls out of metadata
                    # arithmetic instead of a second write job.
                    matched_rows = sum(
                        f.num_rows for f in tdef.data_files
                        if f.path in set(matched))
                    combinable = (not by_src and not del_idx
                                  and bool(not_matched_clauses)
                                  and all(f.num_rows >= 0
                                          for f in tdef.data_files
                                          if f.path in set(matched)))
                    if not combinable:
                        try:
                            new_files += self._write_files(
                                rewrite_out, ns, tbl,
                                tdef.partition_by, tdef=tdef,
                                drop_empty=True)
                        except Exception as e:  # folded-in guard
                            if _CARDINALITY_MARKER in str(e):
                                raise MergeCardinalityError(
                                    "MERGE: a target row is matched by "
                                    "more than one source row; "
                                    "deduplicate the source on the join "
                                    "key") from e
                            raise
                        rewrite_out = None
                    removed += matched
                finally:
                    # unpersist the PERSISTED plan (staged gets reassigned
                    # to derived children above) on every exit path — a
                    # raised write would otherwise leak the block for the
                    # life of the session
                    if persisted is not None:
                        persisted.unpersist()
        if not_matched_clauses:
            target_full = self._scan(tdef, all_paths).alias(target_alias)
            anti = src.join(target_full, F.expr(on), "left_anti")
            iact = None
            for i, (cond, _imap) in enumerate(not_matched_clauses):
                c = F.expr(cond) if cond else F.lit(True)
                iact = F.when(c, F.lit(i)) if iact is None else \
                    iact.when(c, F.lit(i))
            anti = (anti.withColumn("_action", iact.otherwise(F.lit(-1)))
                    .filter(F.col("_action") >= 0))
            ins_cols = []
            for c in cols:
                e = F.lit(None).cast(schema[c].dataType)
                for i, (_cond, imap) in enumerate(not_matched_clauses):
                    if c in imap:
                        e = F.when(F.col("_action") == i,
                                   F.expr(imap[c]).cast(schema[c].dataType)
                                   ).otherwise(e)
                ins_cols.append(e.alias(c))
            ins_df = anti.select(*ins_cols)
            if rewrite_out is not None:
                # one job writes rewrites + inserts; rewrites preserve
                # the matched files' row counts (no deletes), so
                # inserted = written − matched_rows
                try:
                    files = self._write_files(
                        rewrite_out.unionByName(ins_df), ns, tbl,
                        tdef.partition_by, tdef=tdef, drop_empty=True)
                except Exception as e:       # folded-in guard
                    if _CARDINALITY_MARKER in str(e):
                        raise MergeCardinalityError(
                            "MERGE: a target row is matched by more "
                            "than one source row; deduplicate the "
                            "source on the join key") from e
                    raise
                rewrite_out = None
                n_changed += sum(f.num_rows for f in files) - matched_rows
                new_files += files
            else:
                ins_files = self._write_files(
                    ins_df, ns, tbl, tdef.partition_by, tdef=tdef,
                    drop_empty=True)
                n_changed += sum(f.num_rows for f in ins_files)
                new_files += ins_files
        if evolved_names:
            # the merge body succeeded — NOW record the schema evolution,
            # so the alter and the rows land in the one commit (a merge
            # failing above never publishes the columns without the rows)
            self.catalog.alter_table(
                txn, ns, tbl, tdef, ActionType.TABLE_ALTER_ADD_COLUMNS,
                {"column_names": evolved_names,
                 "merge_schema_evolution": True})
        if not new_files and not removed:
            return 0
        self.catalog.update_table_files(
            txn, ns, tbl, new_files, removed, ActionType.TABLE_UPDATE,
            {"added": [f.path for f in new_files], "removed": removed,
             "expression": f"MERGE ON {on}"},
            extra_properties=extra_properties)
        return n_changed

    _MERGE_MATCHED_RE = re.compile(
        r"\s*WHEN\s+MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
        r"(?:UPDATE\s+SET\s+(?P<sets>.+?)|(?P<dele>DELETE))\s*"
        r"(?=WHEN\s+(?:NOT\s+)?MATCHED|\Z)", re.I | re.S)
    _MERGE_NOT_MATCHED_RE = re.compile(
        r"\s*WHEN\s+NOT\s+MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
        r"INSERT\s*\((?P<cols>.+?)\)\s*VALUES\s*\((?P<vals>.+?)\)\s*"
        r"(?=WHEN\s+(?:NOT\s+)?MATCHED|\Z)", re.I | re.S)
    _MERGE_BY_SOURCE_RE = re.compile(
        r"\s*WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE"
        r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
        r"(?:UPDATE\s+SET\s+(?P<sets>.+?)|(?P<dele>DELETE))\s*"
        r"(?=WHEN\s+(?:NOT\s+)?MATCHED|\Z)", re.I | re.S)

    @staticmethod
    def _action_clause(m) -> tuple:
        """(cond, "update"|"delete", assignments) from an UPDATE SET /
        DELETE clause match — shared by the MATCHED and NOT MATCHED BY
        SOURCE families so assignment parsing can never diverge."""
        cond = m.group("cond")
        if m.group("dele"):
            return (cond.strip() if cond else None, "delete", None)
        assignments = {}
        for part in sqltext.split_top_level(m.group("sets")):
            col, _, expr = part.partition("=")
            assignments[col.strip()] = expr.strip()
        return (cond.strip() if cond else None, "update", assignments)

    @classmethod
    def _parse_merge_whens(cls, whens: str) -> tuple[list, list, list]:
        """Parse the WHEN-clause tail of a MERGE statement into ordered
        (matched_clauses, not_matched_clauses, by_source_clauses) for
        ``merge``. Every byte of the clause text must be consumed by a
        recognized clause — a WHEN variant none of the patterns cover
        raises instead of being silently dropped (which would run the
        merge with different semantics, e.g. insert-only)."""
        matched: list = []
        not_matched: list = []
        by_source: list = []
        pos, n = 0, len(whens)
        while pos < n and whens[pos:].strip():
            m = cls._MERGE_BY_SOURCE_RE.match(whens, pos)
            if m:
                by_source.append(cls._action_clause(m))
                pos = m.end()
                continue
            m = cls._MERGE_NOT_MATCHED_RE.match(whens, pos)
            if m:
                cond = m.group("cond")
                ins_cols = [c.strip() for c in m.group("cols").split(",")]
                ins_vals = sqltext.split_top_level(m.group("vals"))
                if len(ins_cols) != len(ins_vals):
                    raise ValueError(
                        "MERGE: INSERT column/value count mismatch")
                not_matched.append(
                    (cond.strip() if cond else None,
                     {c: v.strip() for c, v in zip(ins_cols, ins_vals)}))
                pos = m.end()
                continue
            m = cls._MERGE_MATCHED_RE.match(whens, pos)
            if m:
                matched.append(cls._action_clause(m))
                pos = m.end()
                continue
            raise ValueError(
                f"MERGE: unsupported WHEN clause at {whens[pos:pos + 80]!r}")
        return matched, not_matched, by_source

    def _pred_matches(self, df: DataFrame, predicate: str,
                      txn: Transaction,
                      target: str | None = None) -> DataFrame:
        """Rows of ``df`` matching a DML predicate. Plain predicates go
        through ``filter``; predicates containing a subquery (IN/EXISTS/
        scalar — Catalyst only admits them via the SQL path) bind the
        frame in a statement scope, resolve any ``ns.tbl`` references
        inside the subquery against the SAME transaction snapshot, and
        evaluate with ``spark.sql``. Standard DML semantics fall out: the
        subquery reads the pre-statement state of every table it names,
        including the target itself."""
        if not re.search(r"\bSELECT\b", predicate, re.I):
            return df.filter(predicate)
        with _StatementScope(self.spark) as scope:
            frame = scope.bind(df, "dml")
            # Alias the target frame with the name the scope gives the
            # target TABLE, so a correlated reference to `ns.tbl.col`
            # inside the subquery binds to the OUTER frame (nearest-alias
            # scoping), not to a second full-table scan.
            alias = (f" AS {scope.name('obj', *self._split(target))}"
                     if target else "")
            return self.spark.sql(self._resolve_sql(
                f"SELECT * FROM {frame}{alias} WHERE {predicate}", txn,
                scope))

    def _pred_unmatched(self, df: DataFrame, predicate: str,
                        txn: Transaction, target: str) -> DataFrame:
        """The rows of ``df`` a DELETE keeps: the complement of
        :meth:`_pred_matches` by bag semantics, NULL outcomes included."""
        if not re.search(r"\bSELECT\b", predicate, re.I):
            return df.filter(f"NOT ({predicate}) OR ({predicate}) IS NULL")
        return df.exceptAll(self._pred_matches(df, predicate, txn, target))

    def delete_from(self, name: str, predicate: str) -> int:
        """B29 — DELETE WHERE: rewrite affected files minus matching rows
        (TABLE_DELETE action, proto/actions.proto:89-92). Subquery
        predicates (`WHERE k IN (SELECT ...)`) evaluate through
        _pred_matches and subtract by bag semantics (exceptAll) — NULL /
        non-matching rows are kept, exactly the complement of the
        matched set."""
        def _delete(df: DataFrame, txn: Transaction) -> DataFrame:
            return self._pred_unmatched(df, predicate, txn, name)
        return self._rewrite(name, predicate, _delete)

    def update(self, name: str, assignments: dict[str, str],
               predicate: str = "true") -> int:
        """B30 — UPDATE SET: rewrite affected files applying assignments
        where the predicate holds (TABLE_UPDATE, proto/actions.proto:82-87).
        Subquery predicates split the frame into matched (assignments
        applied) and the exceptAll complement, then re-union — Catalyst
        admits predicate subqueries only in filters, never inside a CASE
        projection."""
        def _update(df: DataFrame, txn: Transaction) -> DataFrame:
            # ALL right-hand sides evaluate against the pre-update row
            # (SQL simultaneous-assignment semantics — `SET a = b, b = a`
            # swaps; chained withColumn would not); a subquery in one
            # reads the statement's snapshot
            with _StatementScope(self.spark) as scope:
                sets = self._resolve_expr(assignments, txn, scope)
                # one projection text; each inlined text ends in a
                # newline so a trailing line comment cannot swallow the
                # rest of the item
                q = sqltext.ident
                if re.search(r"\bSELECT\b", predicate, re.I):
                    matched = self._pred_matches(df, predicate, txn, name)
                    updated = matched.selectExpr(*[
                        f"({sets[c]}\n) AS {q(c)}" if c in sets else q(c)
                        for c in df.columns])
                    return df.exceptAll(matched).unionByName(updated)
                return df.selectExpr(*[
                    f"CASE WHEN ({predicate}\n) THEN ({sets[c]}\n) "
                    f"ELSE {q(c)} END AS {q(c)}" if c in sets else q(c)
                    for c in df.columns])
        return self._rewrite(name, predicate, _update)

    # --- schema evolution (A15) + maintenance --------------------------------

    def rename_column(self, name: str, old: str, new: str) -> None:
        """A15 companion — metadata-only column rename via Iceberg-style
        column mapping: the logical schema renames, every parquet file
        keeps the column's CREATION (physical) name, reads/writes/stats
        translate through ``TableDef.column_mapping``. Not a rewrite:
        zero bytes of data move, old versions keep the old name."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "ALTER TABLE RENAME COLUMN")
            self._mv_guard_schema(tdef, name, "ALTER TABLE RENAME COLUMN")
            schema = tdef.spark_schema()
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"no such column: {old}")
            # same case-INSENSITIVE guard as ALTER ADD COLUMNS / merge
            # evolution (Spark resolves case-insensitively, so `Value`
            # colliding with existing `value` — or a case variant of a
            # retired physical name — is the same hazard as an exact hit);
            # the column being renamed is excluded so a pure case-change
            # rename (v → V) stays legal
            self._check_new_column_names(tdef, [new],
                                         "ALTER TABLE RENAME COLUMN",
                                         exclude=old)
            for cname, cexpr in tdef.constraints.items():
                if self._expr_refs(cexpr, old):
                    raise ValueError(
                        f"cannot rename column {old}: referenced by CHECK "
                        f"constraint {cname} ({cexpr}); DROP CONSTRAINT first")
            if old in tdef.generated_columns:
                raise ValueError(
                    f"cannot rename generated column {old}; drop and "
                    f"re-declare it instead")
            for g, gexpr in tdef.generated_columns.items():
                if self._expr_refs(gexpr, old):
                    raise ValueError(
                        f"cannot rename column {old}: source of generated "
                        f"column {g} ({gexpr})")
            # governance policies (B97): expressions store the old name and
            # would brick every read after the rename — conservative refuse
            # (the mask ON the renamed column re-keys only if its expression
            # doesn't reference the column; self-referencing masks refuse)
            rf = tdef.properties.get("policy.row_filter", "")
            if rf and self._expr_refs(rf, old):
                raise ValueError(
                    f"cannot rename column {old}: referenced by the row "
                    f"filter ({rf}); DROP ROW FILTER first")
            for key, mexpr in list(tdef.properties.items()):
                if not key.startswith("policy.mask."):
                    continue
                mcol = key.removeprefix("policy.mask.")
                if self._expr_refs(mexpr, old):
                    raise ValueError(
                        f"cannot rename column {old}: referenced by the "
                        f"mask on {mcol} ({mexpr}); DROP MASK first")
                if mcol == old:
                    tdef.properties = {
                        **{k: v for k, v in tdef.properties.items()
                           if k != key},
                        f"policy.mask.{new}": mexpr}
            mapping = dict(tdef.column_mapping)
            # carry the ORIGINAL physical name through rename chains; renaming
            # BACK to the creation name drops the entry entirely (no identity
            # mapping lingering on the fast path)
            phys = mapping.pop(old, old)
            if phys != new:
                mapping[new] = phys
            tdef.column_mapping = mapping
            tdef.schema_json = T.StructType([
                T.StructField(new if f.name == old else f.name,
                              f.dataType, f.nullable, f.metadata)
                for f in schema.fields]).json()
            if old in tdef.partition_by:
                tdef.partition_by = [new if c == old else c
                                     for c in tdef.partition_by]
            if old in tdef.bucket_by.get("columns", []):
                # the layout keys on the PHYSICAL name (unchanged by a
                # rename) — re-key the logical spec, zero data movement
                tdef.bucket_by = {
                    **tdef.bucket_by,
                    "columns": [new if c == old else c
                                for c in tdef.bucket_by["columns"]]}
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER,
                                     {"rename_column": [old, new]})

    def _check_new_column_names(self, tdef: TableDef, names: list[str],
                                ctx: str,
                                exclude: str | None = None) -> None:
        """Shared guard for every path that introduces a column name
        (ALTER ADD COLUMNS, MERGE schema evolution, RENAME COLUMN):
        CASE-INSENSITIVE — Spark resolves parquet columns that way, so
        `SCORE` binding a retired physical `score`'s stale bytes is the
        same resurrection hazard as the exact name. ``exclude`` names
        the column being renamed so its own identity doesn't count as a
        collision."""
        schema = tdef.spark_schema()
        existing = {f.name.lower() for f in schema.fields
                    if f.name != exclude}
        physical = {self._phys(tdef, f.name).lower()
                    for f in schema.fields if f.name != exclude}
        retired = {c.lower() for c in tdef.retired_columns}
        seen: set[str] = set()
        for n in names:
            low = n.lower()
            if low in seen:
                # a case-variant duplicate WITHIN one batch ('Tag' +
                # 'tag') would commit two columns Spark cannot tell
                # apart — reject with the clean error, not a mid-write
                # AnalysisException
                raise ValueError(
                    f"{ctx}: duplicate new column name {n}")
            seen.add(low)
            if low in existing:
                raise ValueError(f"{ctx}: column {n} already exists")
            if low in physical:
                raise ValueError(
                    f"{ctx}: column name {n} is the physical "
                    f"(pre-rename) name of an existing column; pick "
                    f"another name")
            if low in retired:
                raise ValueError(
                    f"{ctx}: column name {n} belonged to a dropped "
                    f"column whose data may survive in existing files; "
                    f"pick another name")

    def add_columns(self, name: str, columns: T.StructType) -> None:
        """A15 add-columns (action type TABLE_ALTER_ADD_COLUMNS,
        proto/actions.proto:42-45). Existing parquet files simply lack the
        new columns; the explicit read schema fills them with NULLs —
        schema evolution without rewriting a byte (the 100 TB property)."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            # CSV applies the stored schema POSITIONALLY — evolving it would
            # silently shift every later scan's columns, so schema evolution
            # is part of the read-only contract for external formats
            self._require_native(tdef, name, "ALTER TABLE ADD COLUMNS")
            self._mv_guard_schema(tdef, name, "ALTER TABLE ADD COLUMNS")
            schema = tdef.spark_schema()
            self._check_new_column_names(
                tdef, [f.name for f in columns.fields], "ALTER TABLE")
            for f in columns.fields:
                schema = schema.add(f)
            tdef.schema_json = schema.json()
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER_ADD_COLUMNS,
                                     {"column_names": [f.name for f in
                                                       columns.fields]})

    @staticmethod
    def _split_generated_columns(cols: str) -> tuple[str, dict, dict]:
        """Split a CREATE TABLE column list into (plain DDL, generated
        map, constraints map): ``c DATE GENERATED ALWAYS AS (expr)``
        entries lose the GENERATED clause (the type stays in the
        schema) and contribute name -> expr; standard-SQL
        ``CONSTRAINT name CHECK (expr)`` list items become constraint
        entries — which also makes SHOW CREATE TABLE output round-trip
        through this parser. The split is parenthesis-aware so
        expressions containing commas survive."""
        parts = sqltext.split_top_level(cols)
        plain, gen, cons = [], {}, {}
        for p in parts:
            m = re.match(r"\s*CONSTRAINT\s+(\w+)\s+CHECK"
                         r"\s*\((.+)\)\s*$", p, re.I | re.S)
            if m:
                cons[m.group(1)] = m.group(2).strip()
                continue
            m = re.match(r"\s*(\w+)\s+(.+?)\s+GENERATED ALWAYS AS"
                         r"\s*\((.+)\)\s*$", p, re.I | re.S)
            if m:
                plain.append(f"{m.group(1)} {m.group(2)}")
                gen[m.group(1)] = m.group(3).strip()
            else:
                plain.append(p.strip())
        return ", ".join(plain), gen, cons

    @staticmethod
    def _expand_partition_transforms(
            partition_by: list[str], schema: T.StructType,
    ) -> tuple[list[str], list[T.StructField], dict[str, str]]:
        """Iceberg-style partition TRANSFORMS as first-class SQL sugar:
        ``PARTITIONED BY (days(ts), bucket(16, id), truncate(4, s))``
        desugars each transform into a hidden GENERATED column (computed
        at the writer chokepoint like any B79 generated column) and
        partitions on it — the Iceberg hidden-partitioning model
        (spec "Partition Transforms"; reference host stack reads these
        natively via Iceberg 1.8.1, spark/v3.5/build.gradle:38).

        Transform value semantics follow the Iceberg spec: years/months/
        hours count from the 1970 epoch, days is the human-readable
        DATE, truncate is floor-truncation (negative ints truncate
        DOWN, matching ``v - pmod(v, w)``), strings truncate by prefix.
        bucket() is FULL murmur3 spec parity (Appendix B): the value's
        single-value binary serialization hashed with murmur3_x86_32
        (olympia_spark.iceberg_hash — numpy-vectorized pandas UDFs),
        then ``(hash & Integer.MAX_VALUE) % N`` — bucket numbering is
        bit-identical to a native Iceberg writer's, so bucket-
        partitioned estates round-trip through adopt/export.

        Returns (rewritten partition column list, extra schema fields,
        generated-column map, iceberg transform map name →
        '<transform>:<source column>' — persisted as
        ``iceberg.transform.<name>`` table properties so EXPORT can
        publish a faithful partition spec)."""
        by_lower = {f.name.lower(): f for f in schema.fields}

        def src_field(src: str, kind: str) -> T.StructField:
            f = by_lower.get(src.lower())
            if f is None:
                raise ValueError(
                    f"partition transform {kind}({src}): column {src} "
                    f"not in the table schema")
            return f

        out: list[str] = []
        extra: list[T.StructField] = []
        gen: dict[str, str] = {}
        tspec: dict[str, str] = {}
        for p in partition_by:
            m = re.match(r"^\s*(years|months|days|hours|bucket|truncate)"
                         r"\s*\((.+)\)\s*$", p, re.I)
            if not m:
                out.append(p)
                continue
            kind = m.group(1).lower()
            args = [a.strip() for a in m.group(2).split(",")]
            if kind in ("years", "months", "days", "hours"):
                if len(args) != 1:
                    raise ValueError(f"{kind}() takes one column: {p}")
                src = args[0]
                src_field(src, kind)
                name = f"{src}_{kind[:-1]}"
                ice = kind[:-1]
                if kind == "years":
                    expr, typ = (f"year({src}) - 1970",
                                 T.IntegerType())
                elif kind == "months":
                    expr = (f"(year({src}) - 1970) * 12 "
                            f"+ month({src}) - 1")
                    typ = T.IntegerType()
                elif kind == "days":
                    expr, typ = f"cast({src} as date)", T.DateType()
                else:
                    expr = (f"cast(floor(unix_micros(cast({src} as "
                            f"timestamp)) / 3600000000.0) as int)")
                    typ = T.IntegerType()
            elif kind == "bucket":
                if len(args) != 2 or not args[0].isdigit():
                    raise ValueError(
                        f"bucket(N, col) expects a positive int width: "
                        f"{p}")
                n, src = int(args[0]), args[1]
                if n <= 0:
                    raise ValueError(f"bucket width must be > 0: {p}")
                f = src_field(src, kind)
                name = f"{src}_bucket"
                ice = f"bucket[{n}]"
                # Iceberg Appendix B single-value hashing: ints hash as
                # 8-byte little-endian longs, date as its epoch-day
                # count, timestamp as epoch micros, strings as UTF-8 —
                # then (hash & Integer.MAX_VALUE) % N. The session UDFs
                # are numpy-vectorized murmur3_x86_32
                # (olympia_spark.iceberg_hash, spec golden vectors in
                # tests/test_iceberg_hash.py: hash(34L) = 2017239379).
                if isinstance(f.dataType, (T.ByteType, T.ShortType,
                                           T.IntegerType, T.LongType)):
                    h = f"iceberg_hash_long(cast({src} as bigint))"
                elif isinstance(f.dataType, T.DateType):
                    h = (f"iceberg_hash_long(cast(unix_date({src}) "
                         f"as bigint))")
                elif isinstance(f.dataType, T.TimestampType):
                    h = f"iceberg_hash_long(unix_micros({src}))"
                elif isinstance(f.dataType, T.StringType):
                    h = f"iceberg_hash_str({src})"
                else:
                    raise ValueError(
                        f"bucket() supports integral/date/timestamp/"
                        f"string columns, got "
                        f"{f.dataType.simpleString()} for {src}")
                expr = f"cast(((({h}) & 2147483647) % {n}) as int)"
                typ = T.IntegerType()
            else:  # truncate(W, col)
                if len(args) != 2 or not args[0].isdigit():
                    raise ValueError(
                        f"truncate(W, col) expects a positive int "
                        f"width: {p}")
                w, src = int(args[0]), args[1]
                if w <= 0:
                    raise ValueError(f"truncate width must be > 0: {p}")
                f = src_field(src, kind)
                name = f"{src}_trunc"
                ice = f"truncate[{w}]"
                if isinstance(f.dataType, T.StringType):
                    expr, typ = (f"substring({src}, 1, {w})",
                                 T.StringType())
                elif isinstance(f.dataType, (T.ByteType, T.ShortType,
                                             T.IntegerType, T.LongType)):
                    expr, typ = (f"{src} - pmod({src}, {w})",
                                 f.dataType)
                else:
                    raise ValueError(
                        f"truncate() supports string/integral columns, "
                        f"got {f.dataType.simpleString()} for {src}")
            if name.lower() in by_lower:
                raise ValueError(
                    f"partition transform {p} would synthesize column "
                    f"{name}, which already exists in the schema — "
                    f"rename the existing column or partition on it "
                    f"directly")
            out.append(name)
            extra.append(T.StructField(name, typ))
            gen[name] = expr
            tspec[name] = f"{ice}:{src}"
            by_lower[name.lower()] = extra[-1]
        return out, extra, gen, tspec

    @staticmethod
    def _transform_field_name(spec: str) -> str | None:
        """The synthesized column name a transform spelling resolves to
        (``days(ts)`` → ``ts_day``), or None for a plain column."""
        m = re.match(r"^\s*(years|months|days|hours|bucket|truncate)"
                     r"\s*\((.+)\)\s*$", spec, re.I)
        if not m:
            return None
        kind = m.group(1).lower()
        src = [a.strip() for a in m.group(2).split(",")][-1]
        suffix = {"bucket": "bucket", "truncate": "trunc"}.get(
            kind, kind[:-1])
        return f"{src}_{suffix}"

    def add_partition_field(self, name: str, spec: str) -> None:
        """``ALTER TABLE ... ADD PARTITION FIELD <col | transform(col)>``
        — Iceberg partition-spec EVOLUTION (spec "Partition Evolution":
        specs are versioned, existing data files keep their layout, only
        new writes use the new spec). Metadata-only: zero bytes move.
        A transform spelling synthesizes its hidden generated column
        exactly like CREATE-time B83; existing files neither store nor
        hive-encode it, so the READ path derives it from the generation
        expression for pre-evolution write dirs (see ``_scan``) while
        new writes hive-partition by it and partition-prune."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "ADD PARTITION FIELD")
            # an MV's spec/schema derive from the stored query: a transform
            # spelling would inject a synthesized generated column the next
            # REFRESH's recompute cannot produce → AnalysisException on
            # every refresh until the MV is dropped (r13 review pass 2)
            self._mv_guard_schema(tdef, name, "ADD PARTITION FIELD")
            schema = tdef.spark_schema()
            # resolve the target name FIRST so a duplicate add reports
            # "already a partition field", not the schema-collision error —
            # CASE-INSENSITIVE like all schema resolution (a case-variant
            # duplicate would make partitionBy reject every later write)
            target = self._transform_field_name(spec) or spec.strip()
            if target.lower() in {p.lower() for p in tdef.partition_by}:
                raise ValueError(
                    f"{target} is already a partition field of {name}")
            is_transform = self._transform_field_name(spec) is not None
            by_lower = {f.name.lower(): f.name for f in schema.fields}
            if is_transform and target.lower() in by_lower:
                # RE-ADD after DROP PARTITION FIELD: the synthesized column
                # stayed in the schema as a generated column — reuse it
                # (values are already in-file or hive-encoded; no derive
                # marker needed). A plain column of that name is refused.
                col = by_lower[target.lower()]
                if col not in tdef.generated_columns:
                    raise ValueError(
                        f"partition transform {spec} would synthesize "
                        f"column {col}, which exists as a plain column — "
                        f"partition on it directly")
                extra = []
            else:
                cols, extra, gen, tsp = self._expand_partition_transforms(
                    [spec], schema)
                col = cols[0]
                if tsp:
                    tdef.properties = {
                        **tdef.properties,
                        **{f"iceberg.transform.{k}": v
                           for k, v in tsp.items()}}
            if extra:
                # synthesized column joins the schema through the same
                # collision guards as ALTER ADD COLUMNS (retired/physical
                # names included), and its generation expression must
                # ANALYZE against the schema NOW — days(bigint_col) caught
                # here, not as an AnalysisException bricking every later
                # read and write (CREATE-path probe parity)
                self._check_new_column_names(tdef, [col],
                                             "ADD PARTITION FIELD")
                probe = self._local_df([], schema)
                for gname, gexpr in gen.items():
                    try:
                        probe.select(F.expr(gexpr)).schema
                    except Exception as e:
                        raise ValueError(
                            f"partition transform {spec}: generated "
                            f"expression ({gexpr}) does not resolve "
                            f"against the table schema") from e
                for f in extra:
                    schema = schema.add(f)
                tdef.schema_json = schema.json()
                tdef.generated_columns = {**tdef.generated_columns, **gen}
                if tdef.data_files:
                    # pre-evolution files carry the column neither in-file
                    # nor hive-encoded — mark it for on-read derivation
                    cur = [c for c in tdef.properties.get(
                        "spec.derive_on_read", "").split(",") if c]
                    tdef.properties = {
                        **tdef.properties,
                        "spec.derive_on_read": ",".join([*cur, col])}
            elif (not is_transform
                  and col.lower() not in by_lower):
                raise ValueError(
                    f"partition field {col} is not in the table schema")
            elif not is_transform:
                col = by_lower[col.lower()]
            tdef.partition_by = [*tdef.partition_by, col]
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER,
                                     {"add_partition_field": [spec, col]})

    def drop_partition_field(self, name: str, spec: str) -> None:
        """``ALTER TABLE ... DROP PARTITION FIELD <col | transform(col)>``
        — removes the field from the spec for FUTURE writes; existing
        hive-encoded files keep their layout and still read (the scan
        reconstructs or derives the column per write dir). A
        transform-synthesized generated column stays in the schema as a
        regular generated column — the Iceberg void-transform
        analogue."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            # _require_native FIRST, matching every other DDL site (rename/
            # add/drop column, add partition field, add constraint) so error
            # precedence for non-native+MV-prop states is uniform (ADVICE r13)
            self._require_native(tdef, name, "DROP PARTITION FIELD")
            self._mv_guard_schema(tdef, name, "DROP PARTITION FIELD")
            want = (self._transform_field_name(spec) or spec.strip()).lower()
            match = [c for c in tdef.partition_by if c.lower() == want]
            if not match:
                raise ValueError(
                    f"{spec.strip()} is not a partition field of {name} "
                    f"(fields: {tdef.partition_by})")
            col = match[0]
            tdef.partition_by = [c for c in tdef.partition_by if c != col]
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER,
                                     {"drop_partition_field": [col]})

    def add_constraint(self, name: str, cname: str, expr: str) -> None:
        """``ALTER TABLE ... ADD CONSTRAINT <name> CHECK (<expr>)``
        (Delta-style table invariant, beyond-reference): validates the
        EXISTING rows first (one aggregation job — admitting a
        constraint the current data violates would make every later
        write fail spuriously), then records it on the TableDef; from
        that commit on, every write through the single writer chokepoint
        enforces it row-by-row inside the write job (no extra pass).
        SQL semantics: NULL/UNKNOWN passes, only FALSE violates."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "ADD CONSTRAINT")
            # a CHECK on an MV would fire INSIDE the refresh rewrite on
            # derived rows — refuse up front (r13 review pass 2)
            self._mv_guard_schema(tdef, name, "ADD CONSTRAINT")
            if cname in tdef.constraints:
                raise ValueError(f"constraint already exists: {cname}")
            scan = self._scan(tdef, tdef.file_paths())
            n_bad = scan.filter(
                F.expr(f"NOT coalesce(({expr}), true)")).count()
            if n_bad:
                raise CheckConstraintError(
                    f"cannot add CHECK constraint {cname}: {n_bad} existing "
                    f"row(s) of {name} violate ({expr})")
            tdef.constraints = {**tdef.constraints, cname: expr}
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER,
                                     {"add_constraint": [cname, expr]})

    def drop_constraint(self, name: str, cname: str) -> None:
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "DROP CONSTRAINT")
            if cname not in tdef.constraints:
                raise ValueError(f"no such constraint: {cname}")
            tdef.constraints = {k: v for k, v in tdef.constraints.items()
                                if k != cname}
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER,
                                     {"drop_constraint": [cname]})

    def drop_columns(self, name: str, column_names: list[str]) -> None:
        """A15 remove-columns: drop from the table schema; data files are
        untouched (column pruning never reads them again)."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "ALTER TABLE DROP COLUMNS")
            self._mv_guard_schema(tdef, name, "ALTER TABLE DROP COLUMNS")
            schema = tdef.spark_schema()
            missing = set(column_names) - {f.name for f in schema.fields}
            if missing:
                raise ValueError(f"no such columns: {sorted(missing)}")
            parts = [c for c in column_names if c in tdef.partition_by]
            if parts:
                # partition_by would point at a nonexistent column and every
                # later write's partitionBy would fail — the table bricks
                raise ValueError(
                    f"cannot drop partition column(s) {parts}")
            bcols = [c for c in column_names
                     if c in tdef.bucket_by.get("columns", [])]
            if bcols:
                # same brick: the bucketed writer hashes these columns
                raise ValueError(
                    f"cannot drop bucket column(s) {bcols}: the table is "
                    f"CLUSTERED BY them; recreate without the bucket spec "
                    f"(CTAS) first")
            for cname, expr in tdef.constraints.items():
                hit = [c for c in column_names if self._expr_refs(expr, c)]
                if hit:
                    raise ValueError(
                        f"cannot drop column(s) {hit}: referenced by CHECK "
                        f"constraint {cname} ({expr}); DROP CONSTRAINT first")
            for g, gexpr in tdef.generated_columns.items():
                hit = [c for c in column_names
                       if c != g and self._expr_refs(gexpr, c)]
                if hit:
                    raise ValueError(
                        f"cannot drop column(s) {hit}: source of generated "
                        f"column {g} ({gexpr}); drop {g} first")
            # governance policies (B97): dropping a column another policy's
            # expression references would brick every read; a column's OWN
            # mask simply leaves with it
            rf = tdef.properties.get("policy.row_filter", "")
            hit = [c for c in column_names if rf and self._expr_refs(rf, c)]
            if hit:
                raise ValueError(
                    f"cannot drop column(s) {hit}: referenced by the row "
                    f"filter ({rf}); DROP ROW FILTER first")
            for key, mexpr in list(tdef.properties.items()):
                if not key.startswith("policy.mask."):
                    continue
                mcol = key.removeprefix("policy.mask.")
                if mcol in column_names:
                    tdef.properties = {k: v for k, v in
                                       tdef.properties.items() if k != key}
                    continue
                hit = [c for c in column_names if self._expr_refs(mexpr, c)]
                if hit:
                    raise ValueError(
                        f"cannot drop column(s) {hit}: referenced by the "
                        f"mask on {mcol} ({mexpr}); DROP MASK first")
            # dropping a generated column removes its derivation with it
            tdef.generated_columns = {
                g: e for g, e in tdef.generated_columns.items()
                if g not in column_names}
            tdef.schema_json = T.StructType(
                [f for f in schema.fields if f.name not in column_names]).json()
            # purge the dropped columns' mapping entries — a stale
            # logical->physical entry would resurrect dropped data under a
            # later re-added column of the same name — and RETIRE their
            # physical names: live files still physically contain those
            # bytes, so re-admitting the name (mapped or not) would bind a
            # future column to the dropped column's old values
            retired = set(tdef.retired_columns)
            for c in column_names:
                phys = tdef.column_mapping.pop(c, c)
                if phys not in retired:
                    retired.add(phys)
                    tdef.retired_columns.append(phys)
            self.catalog.alter_table(txn, ns, tbl, tdef,
                                     ActionType.TABLE_ALTER_REMOVE_COLUMNS,
                                     {"column_names": list(column_names)})

    def compact_table(self, name: str, min_files: int = 2,
                      zorder_by: list[str] | None = None,
                      target_files: int | None = None) -> int:
        """Table maintenance (SURVEY §7 phase 6): rewrite the current file
        set into ~one file per shuffle partition and re-point the TableDef
        in one transaction — the Spark-native analogue of Iceberg
        rewrite_data_files. Data is bit-identical; old versions still
        reference the old files (time travel keeps working).

        ``zorder_by`` additionally CLUSTERS the rewrite on the interleaved
        bit pattern (Morton order) of up to 4 numeric columns, Delta
        ``OPTIMIZE ... ZORDER BY`` style: each column is quantile-binned
        into 16 ranks (equi-depth, so skew cannot collapse the curve),
        ranks interleave bit-by-bit into one z-value, and the rewrite is
        range-partitioned + sorted on it. Every output file then covers a
        small hypercube of the key space, so the per-file [min,max] stats
        (`_collect_stats`) become tight on EVERY z column at once and
        `_candidate_files` pruning works for predicates on any of them —
        the multi-dimensional data-skipping story single-column sort
        can't give. At 100 TB this is the difference between scanning a
        full table and a thin slab for the second/third filter column."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "OPTIMIZE")
            if zorder_by is not None and not 1 <= len(zorder_by) <= 4:
                raise ValueError("ZORDER BY takes 1-4 columns")
            if zorder_by and tdef.bucket_by:
                # contradictory layouts: the bucketed writer re-distributes
                # by the bucket hash, which would destroy the z-curve
                # clustering in the same write — refuse rather than silently
                # produce neither layout
                raise ValueError(
                    f"OPTIMIZE ... ZORDER BY: {ns}.{tbl} is CLUSTERED BY "
                    f"{tdef.bucket_by['columns']} — the bucket layout and a "
                    f"z-order rewrite are mutually exclusive; drop one")
            if target_files is not None and tdef.bucket_by:
                # the bucketed writer emits one file per bucket regardless —
                # honoring target_files is impossible, so refuse loudly
                # (review r10 #5) instead of silently ignoring the knob
                raise ValueError(
                    f"OPTIMIZE: {ns}.{tbl} is CLUSTERED BY — its file count "
                    f"is fixed at num_buckets="
                    f"{tdef.bucket_by['num_buckets']}; drop target_files")
            old_paths = tdef.file_paths()
            if not zorder_by and len(old_paths) < min_files:
                return 0
            df = self._scan(tdef, old_paths)
            total_bytes = sum(f.size_bytes for f in tdef.data_files
                              if f.size_bytes > 0)
            # ~128 MiB target files, at least 1
            n_out = int(target_files or max(1, total_bytes // (128 << 20)))
            if zorder_by:
                df = self._zorder(df, tdef, zorder_by)
                out_df = (df.repartitionByRange(n_out, F.col(_ZCOL))
                          .sortWithinPartitions(_ZCOL).drop(_ZCOL))
            elif tdef.bucket_by:
                out_df = df      # the bucketed writer distributes itself
            else:
                out_df = df.coalesce(n_out)
            new_files = self._write_files(out_df, ns, tbl, tdef.partition_by,
                                          tdef=tdef)
            self.catalog.update_table_files(
                txn, ns, tbl, new_files, old_paths, ActionType.TABLE_UPDATE,
                {"added": [f.path for f in new_files], "removed": old_paths,
                 "maintenance": ("zorder:" + ",".join(zorder_by)
                                 if zorder_by else "compaction")})
        return len(old_paths) - len(new_files)

    def _small_file_leaves(self, tdef: TableDef,
                           files: list) -> dict[tuple, list]:
        """Group files by hive LEAF — (layout era, partition VALUE
        tuple from the exact [v,v] stats). Packing happens within one
        leaf, so a table of many single-small-file partitions is a
        NO-OP, not a rewrite that re-emits the same small files and
        re-triggers forever. Shared by the packer and the append-time
        trigger probe so the two agree on what is packable."""
        schema_by_phys = {f.name
                          for f in self._physical_schema(tdef).fields}
        eras: dict[tuple, list] = {}
        for f in files:
            era = _hive_era(f.path, schema_by_phys)
            vals = tuple(str(f.stats.get(c, [None])[0]) for c in era)
            eras.setdefault((era, vals), []).append(f)
        return eras

    def compact_small_files(self, name: str,
                            floor_bytes: int | None = None,
                            budget_bytes: int | None = None) -> int:
        """Small-file bin-packing (r8 VERDICT #1 — the scale-safe
        auto-compaction): rewrite ONLY files below ``floor_bytes``
        (``auto.compact.file_floor`` property, default 32 MiB), grouped
        ERA-LOCALLY so hive partition values survive the rewrite, and
        capped at ``budget_bytes`` rewritten per run
        (``auto.compact.max_bytes``, default 2 GiB — the remainder waits
        for the next trigger). Large files are never rewritten; the
        whole-table path stays available as the explicit
        OPTIMIZE/compact_table command. One versioned commit; returns
        the net file-count reduction (0 = nothing worth packing)."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            self._require_native(tdef, name, "compact_small_files")
            floor = int(floor_bytes if floor_bytes is not None
                        else tdef.properties.get("auto.compact.file_floor",
                                                 str(32 << 20)))
            budget = int(budget_bytes if budget_bytes is not None
                         else tdef.properties.get("auto.compact.max_bytes",
                                                  str(2 << 30)))
            if tdef.bucket_by:
                return self._compact_bucketed(txn, ns, tbl, tdef, floor,
                                              budget)
            small = [f for f in tdef.data_files
                     if not os.path.isabs(f.path) and f.size_bytes < floor]
            # group FIRST, drop unpackable single-file leaves, THEN spend
            # the budget on whole leaves — budget consumed by unpackable
            # singles would make every run a no-op while the trigger keeps
            # firing (the exact loop the packable-count probe prevents)
            all_leaves = {k: g for k, g in
                          self._small_file_leaves(tdef, small).items()
                          if len(g) >= 2}
            eras: dict[tuple, list] = {}
            cum = 0
            for key, group in sorted(
                    all_leaves.items(),
                    key=lambda kv: (sum(f.size_bytes for f in kv[1]),
                                    kv[0])):
                g = sorted(group, key=lambda f: (f.size_bytes, f.path))
                take, tb = [], 0
                for f in g:
                    if len(take) >= 2 and cum + tb + f.size_bytes > budget:
                        break               # leaf partially packs this run
                    take.append(f)
                    tb += f.size_bytes
                if len(take) < 2:
                    if eras:
                        break               # budget exhausted
                    take = g[:2]            # progress guarantee: pack ≥2
                    tb = sum(f.size_bytes for f in take)
                eras[key] = take
                cum += tb
                if cum >= budget:
                    break
            inv = {p: l for l, p in tdef.column_mapping.items()}
            old_paths: list[str] = []
            new_files: list[DataFile] = []
            for (era, _vals), group in sorted(eras.items()):
                if len(group) < 2:     # nothing to pack in this hive leaf
                    continue
                paths = [f.path for f in group]
                df = self._scan(tdef, paths)
                n_out = max(1, sum(f.size_bytes for f in group) // (128 << 20))
                new_files += self._write_files(
                    df.coalesce(int(n_out)), ns, tbl,
                    [inv.get(c, c) for c in era], tdef=tdef)
                old_paths += paths
            if not old_paths:
                return 0
            self.catalog.update_table_files(
                txn, ns, tbl, new_files, old_paths, ActionType.TABLE_UPDATE,
                {"added": [f.path for f in new_files], "removed": old_paths,
                 "maintenance": "compact-small-files"})
        return len(old_paths) - len(new_files)

    def _bucket_pack_dirs(self, tdef: TableDef,
                          floor: int) -> dict[str, list]:
        """Packable units for a BUCKETED table: whole write dirs whose
        every file is small (mixed dirs are left alone — packing would
        rewrite the big files too). Shared by the packer and the
        append-time trigger probe so the two agree."""
        by_dir: dict[str, list] = {}
        for f in tdef.data_files:
            if not os.path.isabs(f.path):
                by_dir.setdefault(self._dir_of(f.path), []).append(f)
        return {d: g for d, g in by_dir.items()
                if all(f.size_bytes < floor for f in g)}

    def _compact_bucketed(self, txn, ns: str, tbl: str, tdef: TableDef,
                          floor: int, budget: int) -> int:
        """Bucketed-table small-file packing: the unit is a WHOLE write
        dir (all-or-none — a partial take would orphan the dir's bucket
        layout), merged dirs rewrite through the bucketed writer so the
        output is ONE complete dir of at most num_buckets files. This
        is also the per-bucket file-merge a bucketed table needs: k
        appends × n buckets collapse back to n files."""
        cand = self._bucket_pack_dirs(tdef, floor)
        take: list[str] = []
        cum = 0
        for d, g in sorted(cand.items(),
                           key=lambda kv: (sum(f.size_bytes
                                               for f in kv[1]), kv[0])):
            b = sum(f.size_bytes for f in g)
            if len(take) >= 2 and cum + b > budget:
                break
            take.append(d)
            cum += b
        if len(take) < 2:
            return 0
        paths = [f.path for f in tdef.data_files
                 if self._dir_of(f.path) in set(take)]
        df = self._scan(tdef, paths)
        new_files = self._write_files(df, ns, tbl, tdef.partition_by,
                                      tdef=tdef)
        self.catalog.update_table_files(
            txn, ns, tbl, new_files, paths, ActionType.TABLE_UPDATE,
            {"added": [f.path for f in new_files], "removed": paths,
             "maintenance": "compact-small-files"})
        return len(paths) - len(new_files)

    def _zorder(self, df: DataFrame, tdef: TableDef,
                zorder_by: list[str]) -> DataFrame:
        """Append the Morton z-value column: equi-depth 16-rank codes per
        column (quantile boundaries from ONE approxQuantile pass over the
        scan — driver receives 15 doubles per column, never rows), then
        bit interleave entirely in JVM expressions."""
        if not 1 <= len(zorder_by) <= 4:
            raise ValueError("ZORDER BY takes 1-4 columns")
        schema = tdef.spark_schema()
        numeric = {f.name for f in schema.fields
                   if isinstance(f.dataType, (
                       T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType, T.DecimalType,
                       T.DateType, T.TimestampType))}
        bad = [c for c in zorder_by if c not in numeric]
        if bad:
            raise ValueError(
                f"ZORDER BY supports numeric/date columns only, got: {bad}")
        probs = [i / 16 for i in range(1, 16)]
        k = len(zorder_by)
        # ONE approxQuantile job for every z column (the API takes a
        # column list) — per-column calls would scan the table k times
        proj = df.select(*[F.col(c).cast("double").alias(f"__zq_{i}")
                           for i, c in enumerate(zorder_by)])
        all_bounds = proj.approxQuantile(
            [f"__zq_{i}" for i in range(k)], probs, 0.001)
        codes = []
        for c, col_bounds in zip(zorder_by, all_bounds):
            # NaN/inf quantile boundaries (a NaN-bearing double column
            # puts NaN at the top ranks) would render as 'nanD'/'infD' —
            # invalid SQL literals — and carry no binning information
            # anyway; drop them before building the literal array
            bounds = sorted({b for b in col_bounds
                             if b is not None and math.isfinite(b)})
            if not bounds:
                codes.append(F.lit(0))
                continue
            lits = ", ".join(f"{b!r}D" for b in bounds)
            # rank = #boundaries <= value (0..15); NULLs rank first (0)
            codes.append(F.expr(
                f"aggregate(array({lits}), 0, (acc, b) -> "
                f"acc + IF(CAST({c} AS DOUBLE) >= b, 1, 0))"))
        z = F.lit(0)
        for j, code in enumerate(codes):
            for b in range(4):
                z = z + F.shiftleft(
                    F.shiftright(code, b).bitwiseAND(F.lit(1)), b * k + j)
        return df.withColumn(_ZCOL, z)


    # --- table statistics (ANALYZE / SHOW STATS) ----------------------------

    _STATS_PROP = "stats_json"

    def analyze_table(self, name: str,
                      columns: list[str] | None = None) -> dict:
        """``ANALYZE TABLE ... COMPUTE STATISTICS``: ONE aggregation job
        over the scan collects table row count plus per-column
        ndv / null count / numeric min-max, persisted on the TableDef as
        a catalog property (an ALTER commit — versioned, transactional,
        time-travels with the table like everything else). These are the
        table-level stats a cost-based planner feeds on (join sizing,
        broadcast decisions); the per-FILE min/max stats used for file
        pruning are collected at write time by `_collect_stats` and are
        unrelated. ndv is exact here for oracle-checkability; at 100 TB
        swap `countDistinct` for `approx_count_distinct` — the plan shape
        (partial aggregation, one tiny result row to the driver) is
        unchanged."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            schema = tdef.spark_schema()
            names = [f.name for f in schema.fields]
            if columns:
                missing = set(columns) - set(names)
                if missing:
                    raise ValueError(f"no such columns: {sorted(missing)}")
            else:
                columns = names
            numeric = {f.name for f in schema.fields
                       if isinstance(f.dataType, (
                           T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                           T.FloatType, T.DoubleType, T.DecimalType))}
            # MOR pointers: stats must describe the NET rows, not the raw
            # files (review r12 pass-2 — ANALYZE reported 15 where SELECT
            # correctly returns 12)
            df = self._mor_scan(tdef) or self._scan(tdef, tdef.file_paths())
            aggs = [F.count("*").alias("__n")]
            for c in columns:
                aggs.append(F.countDistinct(c).alias(f"{c}__ndv"))
                aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                            .cast("long").alias(f"{c}__nulls"))
                if c in numeric:
                    aggs.append(F.min(F.col(c).cast("double"))
                                .alias(f"{c}__min"))
                    aggs.append(F.max(F.col(c).cast("double"))
                                .alias(f"{c}__max"))
            row = df.agg(*aggs).first()     # one stats row — catalog metadata
            stats: dict = {"row_count": int(row["__n"]), "columns": {}}
            for c in columns:
                ent = {"n_distinct": int(row[f"{c}__ndv"]),
                       "n_nulls": int(row[f"{c}__nulls"] or 0)}
                if c in numeric:
                    ent["min"] = row[f"{c}__min"]
                    ent["max"] = row[f"{c}__max"]
                stats["columns"][c] = ent
            tdef.properties[self._STATS_PROP] = json.dumps(stats, sort_keys=True)
            self.catalog.alter_table(txn, ns, tbl, self._persistable(tdef))
        return stats

    @staticmethod
    def _persistable(tdef: TableDef) -> TableDef:
        """A def safe to COMMIT. HYDRATED pointer defs persist
        pointer-minimal: describe_table fills schema/files/stamps from
        the LIVE metadata at read time, and committing that hydration
        output verbatim (an ANALYZE or SET TBLPROPERTIES on a pointer)
        would defeat the 'not data_files and not schema_json' hydration
        guard — the pointer freezes at this snapshot and external
        compactions/new deletes are never seen again (review r12
        pass-2 reproduced it on ANALYZE; pass-3 found the same hole in
        SET TBLPROPERTIES). The strip keys on the transient
        ``iceberg.hydrated`` marker, NOT on the format+pointer shape:
        an ADOPTED def shares that shape but its persisted file list
        IS its snapshot pin — wiping it would silently convert the pin
        into a live pointer (review r12 pass-4). Native and adopted
        defs pass through untouched."""
        if tdef.properties.get("iceberg.hydrated"):
            import dataclasses
            return dataclasses.replace(
                tdef, schema_json="", data_files=[],
                properties={k: v for k, v in tdef.properties.items()
                            if k not in _HYDRATION_PROPS})
        return tdef

    def show_stats(self, name: str) -> DataFrame:
        """``SHOW STATS [FOR] ns.tbl`` — the recorded ANALYZE output as a
        relation (numeric min/max NULL for non-numeric columns)."""
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
        raw = tdef.properties.get(self._STATS_PROP)
        if raw is None:
            raise ValueError(
                f"no statistics recorded for {name}; run "
                f"ANALYZE TABLE {name} COMPUTE STATISTICS first")
        stats = json.loads(raw)
        rows = [(c, e["n_distinct"], e["n_nulls"],
                 e.get("min"), e.get("max"))
                for c, e in sorted(stats["columns"].items())]
        return self._local_df(
            rows, "column_name string, n_distinct long, n_nulls long, "
                  "min_num double, max_num double")

    def export_reference_catalog(self, dest_dir: str) -> str:
        """Publish this catalog's CURRENT version as a REFERENCE-format
        warehouse (every def file proto3 ``.binpb`` — what the Java
        reference's ``ObjectDefinitions.parseFrom`` reads): namespaces,
        tables and views re-created at ``dest_dir`` in one commit. The
        outbound half of the B112 interop lane (the inbound half reads
        a reference-written catalog in place).

        Data moves ZERO bytes: native tables' tracked files are
        referenced in place via authoritative absolute URIs
        (:meth:`_data_uri`); Iceberg-pointer tables stay POINTERS
        (id + metadata location — byte-minimal, exactly the reference's
        own TableDef shape) and re-hydrate at the destination.
        Bucketed tables keep their spec but read at the destination
        through the plain scan (the zero-Exchange shadow requires
        engine-owned relative dirs); values are identical."""
        import dataclasses
        probe = self.catalog.begin(read_only=True)
        src_def = self.catalog.catalog_def
        dest = Catalog.create(dest_dir, dataclasses.replace(
            src_def,
            # exported-snapshot roots and their retention stamps refer
            # to THIS warehouse's version files — meaningless at dest
            exported_snapshots={},
            properties={k: v for k, v in src_def.properties.items()
                        if not k.startswith("export.")},
        ), def_format="binpb")
        txn = dest.begin()
        for ns in self.catalog.show_namespaces(probe):
            dest.create_namespace(
                txn, ns,
                self.catalog.describe_namespace(probe, ns).properties)
            for tbl in self.catalog.show_tables(probe, ns):
                tdef = self.catalog.describe_table(probe, ns, tbl)
                if tdef.properties.get("iceberg.hydrated"):
                    # same persist rule as every ALTER surface
                    # (review r12 pass-4 deduped the inline copy):
                    # HYDRATED pointer defs export pointer-minimal —
                    # hydration-only properties describe the PROBE's
                    # snapshot, and a stale mor_deletes stamp at the
                    # destination would replay old files/deletes over
                    # a since-compacted estate (pass-2, reproduced).
                    copy = self._persistable(tdef)
                else:
                    # native AND adopted (snapshot-pinned) defs export
                    # WITH their file list — an adopted def's pin IS
                    # its content (pass-4: the format+pointer shape
                    # alone must not pointer-ize it) — with relative
                    # engine paths mapped to authoritative URIs
                    copy = dataclasses.replace(tdef, data_files=[
                        dataclasses.replace(
                            f, path=(f.path if os.path.isabs(f.path)
                                     or "://" in f.path
                                     else self._data_uri(f.path)))
                        for f in tdef.data_files])
                    self._export_mark_identity_fill(ns, tbl, tdef, copy)
                dest.create_table(txn, ns, tbl, copy)
            for view in self.catalog.show_views(probe, ns):
                dest.create_view(
                    txn, ns, view,
                    self.catalog.describe_view(probe, ns, view))
        dest.commit(txn)
        return dest_dir

    def _export_mark_identity_fill(self, ns: str, tbl: str,
                                   tdef: TableDef,
                                   copy: TableDef) -> None:
        """Hive-partitioned native tables exported by
        :meth:`export_reference_catalog` lose their path-derived
        partition values at the destination (absolute paths are
        layout-OPAQUE by design — a user dir that happens to look like
        col=val must never override in-file data), so the partition
        columns become Iceberg-style METADATA CONSTANTS: each file's
        value already rides in its exact ``[v, v]`` stats (hive path
        segments, :meth:`_footer_stats`) and the destination's scan
        coalesce-fills them per file (``iceberg.identity_fill`` — the
        spec's own convention for exactly this layout). Before r11 the
        exported table silently read those columns as NULL (review r11
        finding #1). REFUSES loudly when the stat typing cannot be
        faithful: non-scalar partition column types, spec-evolution
        derive markers, a missing per-file stat, or a STRING partition
        value that the stat parser coerced to a number ('0123' → 123 —
        re-deriving '123' would be silent wrong data)."""
        if not tdef.partition_by:
            return
        if tdef.properties.get("spec.derive_on_read"):
            raise ValueError(
                f"export_reference_catalog: {ns}.{tbl} carries "
                f"partition-spec-evolution derive markers; compact it "
                f"first (derive-on-read has no destination-side lane)")
        by_name = {f.name: f.dataType
                   for f in self._physical_schema(tdef).fields}
        pcols = [self._phys(tdef, c) for c in tdef.partition_by]
        ok_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                    T.FloatType, T.DoubleType, T.StringType, T.DateType)
        for c in pcols:
            if not isinstance(by_name.get(c), ok_types):
                raise ValueError(
                    f"export_reference_catalog: {ns}.{tbl} partition "
                    f"column {c} has type {by_name.get(c)} — per-file "
                    f"constants support int/float/string/date only")
        for f in tdef.data_files:
            for c in pcols:
                v = f.stats.get(c, [None])[0]
                if v == "__HIVE_DEFAULT_PARTITION__":
                    continue           # NULL partition — handled below
                if v is None:
                    raise ValueError(
                        f"export_reference_catalog: {ns}.{tbl} file "
                        f"{f.path} records no partition value for {c}")
                if isinstance(by_name[c], T.StringType) \
                        and not isinstance(v, str):
                    raise ValueError(
                        f"export_reference_catalog: {ns}.{tbl} string "
                        f"partition value {v!r} for {c} was stat-typed "
                        f"as a number; re-deriving it would corrupt "
                        f"leading zeros/format — not exportable")
        # NULL partition values (__HIVE_DEFAULT_PARTITION__ dirs): the
        # source scan maps the sentinel to NULL, so the exported file
        # simply carries NO constant for that column — the fill leaves
        # it NULL, matching source semantics. Leaving the sentinel in
        # would surface as a phantom string key (or crash the date/int
        # fill) at the destination (review r11 pass-2 #1). New dicts,
        # not in-place edits: replace() copies share the stats dict
        # with the probe snapshot.
        for f in copy.data_files:
            drop = [c for c in pcols if f.stats.get(c, [None])[0]
                    == "__HIVE_DEFAULT_PARTITION__"]
            if drop:
                f.stats = {k: v for k, v in f.stats.items()
                           if k not in drop}
        have = [c for c in copy.properties.get(
                    "iceberg.identity_fill", "").split(",") if c]
        copy.properties["iceberg.identity_fill"] = ",".join(
            sorted(set(have) | set(pcols)))

    def expire_versions(self, keep_last: int,
                        protect_exports: bool = True,
                        protect_tags: bool = True) -> list[str]:
        """Version-expiration maintenance: delete root files (and their
        exclusively-reachable node files) older than the newest
        ``keep_last`` versions, and advance ``vn/oldest``
        (docs/format.md "Oldest Version File"). Data files referenced by
        surviving versions are never touched.

        ``protect_exports`` (the retention policy docs/format.md
        "Snapshot Export" calls for): roots recorded in
        ``exported_snapshots`` stay live together with their reachable
        nodes — a MINIMAL/PARTIAL export references the SOURCE's files,
        so expiring its version would silently break the export. Pass
        False only when every export is known to be full (self-contained
        at its destination).

        Retention policy: with catalog property ``export.retention_millis``
        set, an export protects its version only for that long after the
        export was taken (creation times are recorded at export); past
        retention it expires like any other version — the txn_ttl-style
        bound that keeps "protect exports" from meaning "pin forever"."""
        import time as _time

        from olympia_spark.catalog import locations as loc
        latest = self.catalog.tree.find_latest_version()
        cutoff = latest - keep_last + 1
        if cutoff <= 0:
            return []
        keep_nodes: set[str] = set()
        protected_roots: set[str] = set()
        if protect_exports:
            props = self.catalog.catalog_def.properties
            retention = props.get("export.retention_millis")
            now = int(_time.time() * 1000)
            for ex_name, ex_root in \
                    self.catalog.catalog_def.exported_snapshots.items():
                created = int(
                    props.get(f"export.{ex_name}.created_at_millis", 0))
                if retention is not None and created \
                        and now > created + int(retention):
                    continue        # retention elapsed — version expirable
                protected_roots.add(ex_root)
        if protect_tags:
            # a tag is a promise that VERSION AS OF '<tag>' keeps working —
            # its root (and reachable nodes) stay live until the tag drops
            for _tag, tv in self.catalog.list_tags().items():
                protected_roots.add(loc.root_node_path(tv))
        for path in protected_roots:
            if self.catalog.storage.exists(path):
                root = self.catalog.tree.load_root(path)
                keep_nodes.update(
                    self.catalog.tree.reachable_node_paths(root))
        for v in range(cutoff, latest + 1):
            root = self.catalog.tree.load_root(loc.root_node_path(v))
            keep_nodes.update(self.catalog.tree.reachable_node_paths(root))
        # Collect the union of reachable nodes over ALL expired roots BEFORE
        # deleting anything: expired roots can share interior nodes, and a
        # delete-as-you-walk order would delete a shared node while a later
        # expired root still needs to walk through it (crashing mid-expiry
        # with vn/oldest never advanced).
        removed = []
        expired_roots: list[str] = []
        expired_nodes: set[str] = set()
        for v in range(cutoff):
            path = loc.root_node_path(v)
            if path in protected_roots or \
                    not self.catalog.storage.exists(path):
                continue
            root = self.catalog.tree.load_root(path)
            expired_nodes.update(
                p for p in self.catalog.tree.reachable_node_paths(root)
                if p != path)
            expired_roots.append(path)
        # interior nodes first, roots last (a crash mid-expiry leaves the
        # roots readable); each batch is one bulk DeleteObjects per 1000
        # keys on object stores instead of one round-trip per object
        doomed_nodes = sorted(expired_nodes - keep_nodes)
        self.catalog.storage.delete_many(doomed_nodes)
        removed.extend(doomed_nodes)
        self.catalog.storage.delete_many(expired_roots)
        removed.extend(expired_roots)
        self.catalog.storage.overwrite(loc.OLDEST_HINT_PATH,
                                       str(cutoff).encode())
        return removed

    def remove_orphan_files(self) -> list[str]:
        """GC maintenance: delete data files under the warehouse that no
        live catalog version references (left behind by failed writes or
        expired versions). Only files under data/ are considered — node
        and def files belong to the version-expiry path.

        Fails closed: every def a live root, a pinned root or a saved
        distributed transaction names is read before anything is
        deleted, and an error reading one raises. Skipping an unreadable
        def would turn a transient read error into the deletion of the
        live files it references."""
        from olympia_spark.catalog import locations as loc
        from olympia_spark.catalog.defs import read_def
        referenced: set[str] = set()

        def collect(root) -> None:
            for _k, def_path in self.catalog.tree.traverse(root):
                if not def_path.startswith(loc.TABLE_DEF_DIR):
                    continue
                tdef = read_def(self.catalog.storage.read(def_path),
                                def_path)
                if isinstance(tdef, TableDef):
                    referenced.update(tdef.file_paths())

        latest = self.catalog.tree.load_latest_root()
        for root in self.catalog.tree.list_roots(latest):
            collect(root)
        # exported snapshots pin their root even after expire_versions
        # truncates the previous_root chain — those roots are live but no
        # longer reachable from list_roots(latest), and the files they
        # reference (minimal/partial exports point at source data files)
        # must never be collected as orphans
        pinned = list(self.catalog.catalog_def.exported_snapshots.values())
        # tagged versions pin their root the same way (expire_versions
        # protect_tags) — a tag whose root survives chain truncation must
        # keep its data files out of the orphan set too
        pinned += [loc.root_node_path(v)
                   for v in self.catalog.list_tags().values()]
        for root_path in pinned:
            if self.catalog.storage.exists(root_path):
                collect(self.catalog.tree.load_root(root_path))
        # saved-but-uncommitted distributed transactions reference files
        # no version root knows about yet — they are NOT orphans.
        # Protection reads EVERY existing copy of each handle directly
        # (both def formats when a mixed-writer pair left duplicates):
        # resume-time ambiguity refusal must never route into this
        # catch-and-continue — that deleted a live transaction's files
        # (review r11 pass-3 #1). GC pins the UNION of the copies'
        # running roots; deciding which copy is current stays the
        # resume path's problem.
        from olympia_spark.catalog.tree import RootNode
        tree = self.catalog.tree
        for txn_id in self.catalog.list_dist_transactions():
            for dpath in self.catalog.dtxn_def_paths(txn_id):
                d = read_def(self.catalog.storage.read(dpath), dpath)
                running = RootNode(path=d.running_root_path)
                tree._parse(tree._read_table(d.running_root_path), running)
                collect(running)
        removed = []
        if self._object_store:
            # enumerate the data prefix via the object-store listing —
            # one paginated LIST, no local mirror required
            candidates = [p for p in
                          self.catalog.storage.list(_DATA_DIR + "/")
                          if p.endswith(".parquet")]
        else:
            candidates = []
            root_dir = os.path.join(self.catalog.storage.root, _DATA_DIR)
            for dirpath, _dirs, names in os.walk(root_dir):
                for fname in names:
                    full = os.path.join(dirpath, fname)
                    rel = os.path.relpath(full, self.catalog.storage.root)
                    if rel.endswith(".parquet"):
                        candidates.append(rel)
        orphans = [rel for rel in candidates if rel not in referenced]
        # one bulk delete per 1000 keys (S3 DeleteObjects) — a
        # million-orphan VACUUM costs ~1000 requests, not a million
        self.catalog.storage.delete_many(orphans)
        removed.extend(orphans)
        if orphans:
            # bucketed-shadow marks may vouch for dirs this GC just
            # emptied — drop them so the next bucketed read re-verifies
            # on-disk completeness (and downgrades to the loud plain
            # scan) instead of silently serving vacuumed dirs as empty
            # partitions (ADVICE r10)
            _SHADOW_DIRS.clear()
            _SHADOW_PROBE_CURSOR.clear()
        return removed

    # --- views --------------------------------------------------------------

    def create_view(self, name: str, sql_text: str,
                    replace: bool = False,
                    schema_binding: bool = False) -> None:
        ns, view = self._split(name)
        with self._statement() as txn:
            df = self._query(sql_text, txn)
            schema = df.schema
            # the Spark-native analogue of the reference's substrait payload
            # (proto/objects.proto:81-85): the ANALYZED Catalyst plan — a
            # resolved engine-level IR of the view query at creation time
            try:
                plan_ir = df._jdf.queryExecution().analyzed().toJSON()
            except Exception:       # classic-mode internals; never block DDL
                plan_ir = ""
            refs = sorted(self._referenced_tables(sql_text, txn))
            props: dict = {}
            sub = self._substrait_payload_for(sql_text, txn)
            if sub:
                # outbound interop: a simple single-table projection also
                # gets a GENUINE ReadRel payload (named-table + base
                # schema, catalog/substrait.py), so a binpb view def we
                # write is executable by the Java reference's
                # SubstraitUtil — not just carried. Complex views keep the
                # SQL-text/IR extension only (documented deviation).
                import base64 as _b64
                from olympia_spark.catalog.proto_io import _EXT_SUBSTRAIT
                props[_EXT_SUBSTRAIT] = _b64.b64encode(sub).decode()
            self.catalog.create_view(txn, ns, view, ViewDef(
                sql_text=sql_text, plan_ir_json=plan_ir,
                schema_json=schema.json(),
                default_namespace=ns,
                referenced_objects=[f"{n}.{t}" for n, t in refs],
                schema_binding=schema_binding,
                properties=props),
                replace=replace)

    def _substrait_payload_for(self, sql_text: str,
                               txn: Transaction) -> bytes | None:
        """ReadRel bytes when — and only when — the view is a plain
        ``SELECT *|col[, col…] FROM ns.tbl`` (no WHERE/JOIN/aggregate/
        alias/expression): exactly the named-table-scan subset the
        reference's payload format expresses. Anything richer returns
        None rather than approximating. Column names normalize to the
        TABLE schema's case — Spark resolved the SELECT
        case-insensitively, but the payload's base-schema names are
        matched case-SENSITIVELY at execution, here and by the Java
        reference (review r12 pass-2: the view's own output schema
        carries the query-case names, so it cannot be the source)."""
        import re
        m = re.match(
            r"\s*SELECT\s+(\*|[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s+"
            r"FROM\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*;?\s*$",
            sql_text, re.IGNORECASE)
        if not m:
            return None
        try:
            # describe, don't read: a full read_table would build the
            # whole governed scan (MOR delete-file I/O included) and
            # stamp a TABLE_SELECT conflict surface into the CREATE
            # VIEW transaction just to learn the schema (review r12
            # pass-3)
            tschema = self.catalog.describe_table(
                txn, m.group(2), m.group(3)).spark_schema()
        except Exception:      # view over a view / vanished table —
            return None        # SQL text stays authoritative
        from olympia_spark.catalog.substrait import encode_read_rel
        by_lower = {f.name.lower(): f for f in tschema.fields}
        if m.group(1).strip() == "*":
            fields = list(tschema.fields)
        else:
            fields = []
            for c in (x.strip() for x in m.group(1).split(",")):
                f = by_lower.get(c.lower())
                if f is None:          # not a plain table column
                    return None
                fields.append(f)
        return encode_read_rel(
            [m.group(2), m.group(3)],
            [f.name for f in fields],
            [f.dataType.simpleString() for f in fields])

    def read_view(self, name: str, txn: Transaction | None = None
                  ) -> DataFrame:
        """Run the view's stored query. With ``schema_binding`` (SQL
        WITH SCHEMA BINDING; the reference's substrait payload is
        schema-carrying, proto/objects.proto:79-85), the view keeps the
        schema recorded at creation: compatible drift in the underlying
        tables is cast back to the bound column types, and a structural
        change (renamed/added/dropped columns) is an error instead of
        silently changing the view's shape."""
        if txn is None:
            with self._statement() as txn:
                return self.read_view(name, txn)
        ns, view = self._split(name)
        vdef = self.catalog.describe_view(txn, ns, view)
        if not vdef.sql_text:
            # reference-authored view: no SQL-text extension, only the
            # substrait_read_rel payload (objects.proto:81-85) — decode
            # the named-table scan and execute it (B124; before r12 the
            # bytes were carried losslessly but not executable)
            df = self._exec_substrait_view(vdef, ns, view, txn)
        else:
            df = self._query(vdef.sql_text, txn)
        if vdef.schema_binding and vdef.schema_json:
            bound = T.StructType.fromJson(json.loads(vdef.schema_json))
            if [f.name for f in df.schema.fields] != \
                    [f.name for f in bound.fields]:
                raise ValueError(
                    f"view {ns}.{view} is schema-bound to columns "
                    f"{[f.name for f in bound.fields]} but its query now "
                    f"produces {df.columns}; recreate the view to rebind")
            for have, want in zip(df.schema.fields, bound.fields):
                if have.dataType != want.dataType and not _can_upcast(
                        have.dataType, want.dataType):
                    # a blanket cast would silently NULL non-convertible
                    # values — exactly the silent drift binding forbids
                    raise ValueError(
                        f"view {ns}.{view} is schema-bound: column "
                        f"{want.name} drifted from {want.dataType.simpleString()} "
                        f"to {have.dataType.simpleString()}, which is not "
                        f"losslessly castable; recreate the view to rebind")
            if df.schema != bound:
                df = df.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                                 for f in bound.fields])
        return df

    def _exec_substrait_view(self, vdef: ViewDef, ns: str, view: str,
                             txn: Transaction) -> DataFrame:
        """Execute a reference-written Substrait ReadRel view payload
        (SubstraitUtil.java:26-41 parses; the payload is a named-table
        scan + base schema — TestSubstraitUtil.java:31-39). The named
        table resolves through OUR catalog (same tree the view def
        lives in); base-schema column names project the scan. Payloads
        beyond that subset, or a view with neither SQL text nor a
        payload, refuse loudly — never a silently-wrong result."""
        from olympia_spark.catalog.proto_io import _EXT_SUBSTRAIT
        from olympia_spark.catalog.substrait import decode_read_rel
        sub_b64 = vdef.properties.get(_EXT_SUBSTRAIT, "")
        if not sub_b64:
            raise ValueError(
                f"view {ns}.{view} has neither SQL text nor a substrait "
                f"payload; nothing to execute")
        import base64
        rel = decode_read_rel(base64.b64decode(sub_b64))
        names = rel.table_names
        if len(names) == 1:
            tns = vdef.default_namespace or ns
            tname = names[0]
        else:
            # [ns, tbl] or [catalog, ns, tbl] — last two segments;
            # Substrait name paths are outermost-first
            tns, tname = names[-2], names[-1]
        df = self.read_table(f"{tns}.{tname}", txn)
        if rel.column_names:
            have = set(df.columns)
            missing = [c for c in rel.column_names if c not in have]
            if missing:
                raise ValueError(
                    f"view {ns}.{view}: substrait base schema names "
                    f"{missing} absent from {tns}.{tname} "
                    f"({sorted(have)}); recreate the view to rebind")
            df = df.select(*rel.column_names)
        return df

    # --- materialized views ---------------------------------------------------
    #
    # Beyond-reference: the reference catalog carries only plain views
    # (proto/objects.proto:79-85). An MV here is an ordinary engine
    # TABLE whose TableDef carries the stored query, its referenced
    # source tables, and the catalog version whose source state the
    # materialization reflects — so SELECT/DESCRIBE/time travel all
    # come for free, and REFRESH is a normal versioned commit.

    _MV_QUERY_PROP = "mv.query"
    _MV_HAVING_PROP = "mv.having_out"
    _MV_VERSION_PROP = "mv.refresh.version"
    _MV_REFS_PROP = "mv.refs"
    _MV_SOURCES_PROP = "mv.sources"
    _MV_VIEWS_PROP = "mv.view_hash"
    _MV_TZ_PROP = "mv.session_tz"

    def _session_tz(self) -> str:
        """The session timezone MV materializations are stamped with.
        No default argument: Spark 4 VALIDATES a supplied default as a
        timezone, so conf.get(key, "") throws INVALID_CONF_VALUE — the
        key itself is always resolvable on a live session (caught by
        the r13 driver-contract smoke)."""
        try:
            return self.spark.conf.get("spark.sql.session.timeZone")
        except Exception:  # pragma: no cover — conf plane unavailable
            return ""

    def _mv_expand_sources(self, refs, txn):
        """(tables, view_texts): referenced views expand TRANSITIVELY
        into the tables they read — a view is not a data object, so a
        probe describing it as a table would raise and force an
        eternal full-recompute loop (review r12 s2). view_texts maps
        each reached view to its definition text (SQL, or the
        substrait payload b64 for reference-authored views) so the
        probe can detect a redefined view."""
        from olympia_spark.catalog.proto_io import _EXT_SUBSTRAIT
        tables, view_texts, seen = set(), {}, set()
        stack = [(n, o) for n, o in refs]
        while stack:
            vns, obj = stack.pop()
            if (vns, obj) in seen:
                continue
            seen.add((vns, obj))
            if self.catalog.table_exists(txn, vns, obj):
                tables.add((vns, obj))
            elif self.catalog.view_exists(txn, vns, obj):
                vdef = self.catalog.describe_view(txn, vns, obj)
                view_texts[f"{vns}.{obj}"] = (
                    vdef.sql_text
                    or vdef.properties.get(_EXT_SUBSTRAIT, ""))
                stack.extend(self._split(r)
                             for r in vdef.referenced_objects)
        return tables, view_texts

    @staticmethod
    def _mv_view_hash(view_texts: dict) -> str:
        import hashlib
        return hashlib.md5(json.dumps(sorted(view_texts.items()))
                           .encode()).hexdigest()

    @staticmethod
    def _policy_props(props: dict) -> list[tuple[str, str]]:
        """THE definition of reader-policy state on a TableDef — the
        row filter and every column mask. The read path (_apply_policies)
        parses these same keys; the MV refresh probe compares them
        across versions (one definition site, review r12 s2 pass 2)."""
        return sorted((k, v) for k, v in props.items()
                      if k == "policy.row_filter"
                      or k.startswith("policy.mask."))

    @staticmethod
    def _mv_semantic_sig(td: TableDef):
        """Per-source semantic signature BEYOND the data-file list:
        policy props (row filter / masks) plus the pointer/MOR state an
        Iceberg pointer def hydrates — a re-registered pointer whose
        new snapshot adds ONLY merge-on-read delete files leaves the
        data-file list unchanged while rows were logically deleted, so
        a file-list-only probe reports 'noop' on a stale MV (ADVICE
        r12); changed identity-fill values or a repointed
        metadata_location likewise change what a scan returns with
        identical file paths. Any diff forces the always-correct full
        lane (logical deletes are retractions the incremental merge
        cannot represent)."""
        return (Engine._policy_props(td.properties),
                td.properties.get("iceberg.mor_deletes", ""),
                td.properties.get("iceberg.identity_fill", ""),
                td.metadata_location or "",
                # r13 review pass 3: a re-registered external source
                # over the SAME file paths with different reader
                # options (header flip) or a changed schema/format
                # yields different rows with an identical file list
                td.format,
                td.schema_json,
                # a source that is itself a HAVING MV: its visible
                # content depends on the predicate, so a redefinition
                # that swaps the predicate with an identical schema
                # must force the downstream full lane
                td.properties.get(Engine._MV_HAVING_PROP, ""),
                sorted((k, v) for k, v in td.properties.items()
                       if k.startswith("read.option.")))

    def create_materialized_view(self, name: str, sql_text: str,
                                 replace: bool = False) -> None:
        """CREATE MATERIALIZED VIEW name AS <query>: run the query once
        and persist the result as an engine table, stamped with the
        query text, its referenced catalog tables, and the catalog
        version every read in this statement saw (txn.base_version) —
        the watermark REFRESH increments from. The query resolves
        through the governed read path exactly like a view, so the
        materialization stores policy-filtered rows. Refused inside an
        explicit transaction: an uncommitted source write would be
        both READ by the materialization and REPLAYED by the next
        refresh (double-count)."""
        if self.current_txn is not None:
            raise ValueError(
                "CREATE MATERIALIZED VIEW cannot run inside an explicit "
                "transaction (the refresh watermark must be a committed "
                "catalog version)")
        ns, tbl = self._split(name)
        with self._statement() as txn:
            refs = sorted(self._referenced_tables(sql_text, txn))
            if (ns, tbl) in refs:
                raise ValueError(
                    f"materialized view {ns}.{tbl} cannot reference itself")
            tables, view_texts = self._mv_expand_sources(refs, txn)
            if (ns, tbl) in tables:
                # view-mediated self-reference: the query reads a VIEW that
                # reads this MV (only possible under OR REPLACE) — the MV's
                # own refresh rewrite would register as a source change and
                # full-recompute a self-compounding result forever
                # (review r12 s2 pass 2, reproduced)
                raise ValueError(
                    f"materialized view {ns}.{tbl} cannot reference itself "
                    f"(reached through a referenced view)")
            if not tables:
                raise ValueError(
                    "a materialized view must reference at least one "
                    "catalog table")
            # AVG decomposition (VERDICT r12 #3): if the query is
            # incrementally maintainable and carries AVG aggregates,
            # materialize hidden SUM/COUNT companion columns alongside —
            # see _mv_companions; the declared schema excludes them
            srcs = sorted(f"{n}.{t}" for n, t in tables)
            cplan = self._mv_plan(sql_text, srcs, txn)
            df = self._query(self._mv_augmented_sql(cplan) or sql_text, txn)
            rogue = [] if cplan else [f.name for f in df.schema.fields
                                      if f.name.startswith("__mv_")]
            if rogue:
                # the declared-schema strip below would silently DROP a
                # user column named __mv_* on non-incrementalizable queries
                # (_mv_plan refuses any __mv_ text, so with a plan every
                # such column is a companion — r13 review pass 3); refuse
                raise ValueError(
                    f"materialized view output column(s) {rogue}: the "
                    f"__mv_ name prefix is reserved for internal companion "
                    f"columns")
            declared = T.StructType([f for f in df.schema.fields
                                     if not f.name.startswith("__mv_")])
            if self.catalog.table_exists(txn, ns, tbl):
                if not replace:
                    raise ValueError(f"table {ns}.{tbl} already exists")
                old = self.catalog.describe_table(txn, ns, tbl)
                if not old.properties.get(self._MV_QUERY_PROP):
                    raise ValueError(
                        f"{ns}.{tbl} exists and is not a materialized view")
                self.catalog.drop_table(txn, ns, tbl)
            if cplan and cplan.having_out:
                # HAVING lane (VERDICT r14 #5): the augmented query above
                # ran WITHOUT the HAVING, so the files keep all groups; the
                # rewritten predicate persists as a def property the read
                # chokepoint applies. Validate it NOW against the computed
                # frame — a screen-passing but unanalyzable predicate must
                # fail the CREATE, not the first read.
                df.filter(F.expr(cplan.having_out))
            tdef = TableDef(
                schema_json=declared.json(),
                properties={
                    self._MV_QUERY_PROP: sql_text,
                    **self._mv_stamp(txn.base_version,
                                     [f"{n}.{t}" for n, t in refs], tables,
                                     view_texts, self._session_tz(), cplan),
                })
            self.catalog.create_table(txn, ns, tbl, tdef)
            files = self._write_files(df, ns, tbl, [], tdef=tdef)
            self.catalog.update_table_files(
                txn, ns, tbl, files, [], ActionType.TABLE_INSERT,
                {"added": [f.path for f in files]})

    def _mv_stamp(self, version: int, refs: list[str], tables: set,
                  view_texts: dict, tz: str,
                  plan: _MVPlan | None) -> dict[str, str]:
        """The dependency record CREATE and every refresh rewrite stamp
        on the MV: the watermark, the direct refs (re-expanded by every
        probe) and the session timezone the rows were computed under
        (zone-dependent functions must not merge rows of two zones,
        ADVICE r12 — the probe forces full on drift); the read-time
        HAVING predicate (in the same commit that writes all groups,
        also on a legacy HAVING MV's first recompute, or hidden groups
        would surface); and, unless the probe's expansion failed
        (``tables`` empty: the old values stay), the tables the
        expansion reached and a digest of every referenced view's
        definition (a view BODY change is invisible to file diffs)."""
        rec = {self._MV_VERSION_PROP: str(version),
               self._MV_REFS_PROP: json.dumps(refs),
               self._MV_TZ_PROP: tz}
        if plan and plan.having_out:
            rec[self._MV_HAVING_PROP] = plan.having_out
        if tables:
            rec[self._MV_SOURCES_PROP] = json.dumps(
                sorted(f"{n}.{t}" for n, t in tables))
            rec[self._MV_VIEWS_PROP] = self._mv_view_hash(view_texts)
        return rec

    def refresh_materialized_view(self, name: str,
                                  full: bool = False) -> DataFrame:
        """REFRESH MATERIALIZED VIEW — three lanes, cheapest first:

        * ``noop`` — no source's file list changed since the recorded
          version (metadata-only probe, COMMITS NOTHING — the
          watermark advances only when a refresh rewrites).
        * ``incremental`` — a shape `_mv_plan` accepts: a GROUP-BY
          aggregation over ONE source, over a UNION ALL of pure
          projection/filter branches over known sources, or over a
          JOIN chain of 2-4 sources (VERDICT r13 #1; an INNER chain
          takes any subset of moved sides, one telescoped term each,
          VERDICT r14 #3; a LEFT join only its preserved side);
          COUNT/SUM/MIN/MAX/AVG, with SUM/AVG decomposing into hidden
          SUM/COUNT companion columns and a hidden per-group row
          count. The delta since the recorded version is each source's
          change feed (O(changed files), never O(table)), aggregated
          through the SAME query shape with DELETES SIGNED −1
          (VERDICT r13 #2): SUM/COUNT/AVG subtract exactly and groups
          whose row count reaches zero vanish; deletes under MIN/MAX
          (a delete can un-extreme them) re-aggregate only the touched
          groups of a grouped single-source plan (VERDICT r14 #4). The
          merge rewrites only the aggregate-sized MV table. This is
          the 100 TB point — a dashboard aggregate over a daily-append
          fact refreshes by scanning one day's files.
        * ``full`` — everything else (deletes under any other MIN/MAX
          plan; a moved LEFT-join dim; non-incrementalizable queries;
          ``FULL`` requested; the recorded version's root no longer
          loadable): rerun the stored query and overwrite.

        The data rewrite and the new version stamp commit ATOMICALLY
        (one update_table_files CAS). Returns a one-row report
        ``(mode, delta_rows)``; delta_rows counts change-feed events
        consumed by the incremental lane (0 otherwise)."""
        if self.current_txn is not None:
            raise ValueError(
                "REFRESH MATERIALIZED VIEW cannot run inside an explicit "
                "transaction (uncommitted source writes would be read "
                "now and replayed by the next refresh)")
        ns, tbl = self._split(name)
        with self._statement() as txn:
            tdef = self.catalog.describe_table(txn, ns, tbl)
            q = tdef.properties.get(self._MV_QUERY_PROP)
            if not q:
                raise ValueError(f"{ns}.{tbl} is not a materialized view")
            last = int(tdef.properties[self._MV_VERSION_PROP])
            cur = txn.base_version
            sources = json.loads(
                tdef.properties.get(self._MV_SOURCES_PROP, "[]"))

            def report(mode: str, n: int) -> DataFrame:
                return self._local_df(
                    [(mode, n)], "mode string, delta_rows long")

            if cur <= last and not full:
                # degenerate guard only: the watermark is the version the
                # refresh READ (its own commit lands later), so after ANY
                # rewrite cur > last and the steady-state noop path is the
                # metadata probe below — O(sources) describes, commits
                # nothing (r13 review pass 4 corrected the earlier claim
                # that this branch short-circuits repeat refreshes). FULL
                # always recomputes — the user's override for every change
                # the probe cannot see.
                return report("noop", 0)

            # metadata-only change probe: per-source SIGNATURE diff — the
            # signature is (file list, policy props): a row-filter/mask
            # change alters what the stored query returns without touching
            # a single data file (review r12 s2 — the governance leak).
            # Referenced views re-expand and re-hash first: a redefined
            # view (or one re-pointed at different tables) is likewise
            # invisible to file diffs.
            # legacy MVs (persisted before mv.refs existed) fall back to
            # the table sources as the direct refs — their expansion is the
            # identity, so an unchanged legacy MV still noops; the rewrite
            # stamp below backfills all three props (review r12 s2 pass 2)
            refs_raw = json.loads(
                tdef.properties.get(self._MV_REFS_PROP, "null")) or sources
            stored_hash = tdef.properties.get(self._MV_VIEWS_PROP)
            cur_tz = self._session_tz()

            # files_changed → incremental candidate; force_full → the
            # change is NOT representable as a data delta (policy flip,
            # view redefinition, source-set drift, expired roots): the
            # stored rows were materialized under the OLD semantics, so
            # only a recompute is sound — an "empty delta" incremental
            # merge would silently keep them (review r12 s2)
            files_changed, force_full = [], False
            sig_now: dict[str, tuple] = {}
            tables_now, vtexts_now = set(), {}
            if tdef.properties.get(self._MV_TZ_PROP) != cur_tz:
                # session-timezone drift (or a legacy MV without the stamp):
                # _MV_SAFE_WORDS admits zone-dependent functions (to_date,
                # date_format, date_trunc on strings) — evaluating the delta
                # under the NEW zone and merging into stored rows computed
                # under the OLD one would mix semantics in one MV with no
                # probe signal (ADVICE r12); recompute whole under the
                # current zone and restamp
                force_full = True
            try:
                tables_now, vtexts_now = self._mv_expand_sources(
                    [self._split(r) for r in refs_raw], txn)
                if (sorted(f"{t[0]}.{t[1]}" for t in tables_now) != sorted(sources)
                        or (stored_hash is not None
                            and self._mv_view_hash(vtexts_now) != stored_hash)):
                    force_full = True
                else:
                    t_last = self.catalog.at_version(last)
                    for s in sources:
                        sns, stbl = self._split(s)
                        td0 = self.catalog.describe_table(t_last, sns, stbl)
                        td1 = self.catalog.describe_table(txn, sns, stbl)
                        sig_now[s] = self._mv_semantic_sig(td1)
                        if self._mv_semantic_sig(td0) != sig_now[s]:
                            force_full = True
                        # a TIME-DEPENDENT policy expression (a row filter
                        # with current_date(), say) invalidates stored rows
                        # between refreshes with an UNCHANGED signature and
                        # no retraction events (rows age out of untouched
                        # files) — only a recompute, which re-evaluates the
                        # policy now, is sound (r13 review pass 3). Screen
                        # with the same whitelist as the query: any
                        # unrecognized call/identifier forces full.
                        pcols = {f.name.lower()
                                 for f in td1.spark_schema().fields}
                        for _k, pexpr in self._policy_props(td1.properties):
                            if not self._mv_screen(pexpr, pcols, set()):
                                force_full = True
                        if sorted(td0.file_paths()) != sorted(td1.file_paths()):
                            files_changed.append(s)
            except Exception:
                # expired root / renamed source — the full lane re-derives
                force_full = True
            if (ns, tbl) in tables_now:
                # a referenced view was REPOINTED at this MV after creation
                # — a refresh would recompute the MV from its own previous
                # output and compound a wrong result forever (review r12 s2
                # pass 3, reproduced); refuse loudly, OUTSIDE the probe's
                # catch-and-downgrade
                raise ValueError(
                    f"materialized view {ns}.{tbl}: its dependency graph "
                    f"now reaches itself (a referenced view was redefined "
                    f"over the MV); repoint the view or drop and recreate "
                    f"the MV")
            if not files_changed and not force_full and not full:
                # COMMIT NOTHING: stamping the watermark here would itself
                # advance the catalog version, so every no-op refresh would
                # re-probe forever (and pile up metadata commits). THIS
                # probe — O(sources) metadata reads — IS the steady-state
                # noop path: the stamped watermark is the version the
                # refresh READ, so the MV's own commit keeps cur > last
                # forever and the cheap cur<=last guard above stays
                # degenerate (stamping the post-commit version instead
                # would SKIP any source commit that landed between the
                # read and the CAS — the data-loss case the concurrent-
                # append test pins).
                return report("noop", 0)
            cplan = self._mv_plan(q, sources, txn)
            plan = None if (full or force_full) else cplan
            changed = {s.lower() for s in files_changed}
            if plan is not None and plan.lane == "join":
                # INNER chains take ANY subset of changed sides (VERDICT
                # r14 #3): the joined relation is multilinear, so the
                # full delta telescopes into one term per changed slot —
                # see the expansion at the apply site below. LEFT joins
                # keep the one-sided rule: only the PRESERVED side may be
                # the delta (a dim-side append would need to RETRACT
                # previously NULL-padded rows, which no additive delta can
                # express), and the two-sided expansion's cross-term fold
                # is not NULL-padding-safe either.
                if plan.join["conds"][0][0] == "left" and (
                        changed != {plan.join["slots"][0][0].lower()}):
                    plan = None
            stored = None
            if plan is not None:
                # companions + the row count live OUTSIDE the declared
                # schema — read the MV's files RAW (engine-written plain
                # parquet, never mapped/bucketed/partitioned). A legacy MV
                # whose files predate the companion set (or the r14 row
                # count) lacks them → full recompute this once, which
                # writes them back via the augmented query
                comp_cols = [c for pair in self._mv_companions(plan)
                             for c in pair[:2]] + [self._MV_ROWCNT]
                if tdef.file_paths():
                    uris = tuple(self._scan_uris(tdef.file_paths()))
                    stored = self._parquet_read(
                        self._footer_schema(tdef.file_paths()[0]), uris)
                    if not set(comp_cols) <= set(stored.columns):
                        plan, stored = None, None
                else:  # empty materialization — trivially recompute whole
                    plan = None
            deltas: dict[str, DataFrame] = {}
            feed_counts: dict[str, int] = {}
            has_minmax = plan is not None and any(
                k in ("MIN", "MAX") for k, _i, _o in plan.aggs)
            minmax_scoped = False
            try:
                if plan is not None:
                    # persist: each changed source's feed is consumed by the
                    # retraction probe (MIN/MAX plans only), the count and
                    # the delta aggregation — O(changed files) rows, cached
                    # once, RELEASED in the finally below, which must also
                    # cover the probe itself: a probe count that throws
                    # (scan failure, expired files) would otherwise leak the
                    # persisted DataFrame for the session lifetime (ADVICE
                    # r12; localCheckpoint leaks likewise, r12 s2 pass 6).
                    # Feed cardinalities come from metadata when the diff
                    # is structurally one-sided and unfiltered
                    # (_feed_counts_meta — parquet footer counts, ZERO
                    # jobs); otherwise ONE aggregate per feed returns
                    # (event count, delete count) together — it
                    # materializes the persist and replaces both the old
                    # delete probe (filter(...).limit(1).count(), whose
                    # executeTake ramp ran several sequential mini-jobs
                    # against the not-yet-cached feed — measured 0.63s vs
                    # 0.13s for a plain count at sf0.1) and the later
                    # per-feed d.count() for the report (guide §1.4/§2.4:
                    # one pass, not three).
                    for s in sorted(set(files_changed)):
                        d = self.table_changes(s, last, cur).persist()
                        deltas[s] = d
                        fmeta = self._feed_counts_meta(s, last, cur)
                        if fmeta["n_inserts"] is not None:
                            feed_counts[s] = (fmeta["n_inserts"]
                                              + fmeta["n_deletes"])
                            n_del = fmeta["n_deletes"]
                        elif not has_minmax:
                            # the count is only needed for the REPORT (the
                            # delete probe below is MIN/MAX-only) — defer it
                            # to after the rewrite, whose single pass
                            # materializes the persisted feed; the deferred
                            # count then reads the cache as ONE job instead
                            # of evaluating the exceptAll pair separately
                            # as a 5-job AQE cascade (guide §1.4 — measured
                            # 1.18s on b151h's cascade parent at sf0.1; the
                            # cached count is ~0.05s)
                            feed_counts[s] = -1         # deferred sentinel
                            n_del = 0
                        else:
                            crow = d.agg(
                                F.count(F.lit(1)).alias("n"),
                                F.count(F.when(
                                    F.col("_change_type") == "delete", 1))
                                .alias("nd")).first()
                            feed_counts[s] = int(crow["n"])
                            n_del = int(crow["nd"])
                        if has_minmax and n_del:
                            # a delete can un-extreme MIN/MAX (no retraction
                            # state can restore the runner-up).
                            # SUM/COUNT/AVG plans keep the signed lane:
                            # deletes ride the SIGNED delta and subtract
                            # exactly (VERDICT r13 #2). Single-source
                            # GROUPED plans take the GROUP-SCOPED recompute
                            # instead of full (VERDICT r14 #4): only the
                            # touched groups re-aggregate from the source;
                            # join/union/global shapes still go full.
                            if plan.lane != "single" or not plan.group:
                                plan = None
                                break
                            minmax_scoped = True
                    if not deltas:
                        plan = None         # defensive: nothing to consume
                if plan is not None:
                    # concurrent-commit seal (r13 review pass 3): the change
                    # feeds are governed at the LATEST committed policies
                    # (_current_policies), baked into each feed's plan at
                    # table_changes() CONSTRUCTION time above — a
                    # policy/pointer commit that landed between this
                    # refresh's pinned read and that construction would
                    # merge new-semantics delta rows into old-semantics
                    # stored rows. Re-describe each source NOW (after
                    # construction); any signature drift downgrades to the
                    # full lane, whose recompute is internally consistent.
                    chk = self.catalog.begin(read_only=True)
                    for s in sources:
                        sns_c, stbl_c = self._split(s)
                        td_c = self.catalog.describe_table(chk, sns_c, stbl_c)
                        if self._mv_semantic_sig(td_c) != sig_now.get(s):
                            plan = None
                            break
                if plan is not None and minmax_scoped:
                    merged = self._mv_groupwise_recompute(
                        plan, deltas[sources[0]], stored, txn)
                    if merged is None:
                        plan = None         # too many keys / no literal form
                    else:
                        mode = "incremental"
                        n = sum(feed_counts.values())
                elif plan is not None:
                    if plan.lane == "join":
                        # telescoping expansion (VERDICT r14 #3): with
                        # T_post = T_pre ∪ ΔT per slot, the multilinear
                        # INNER chain expands EXACTLY as
                        #   ⋈ᵢ Tᵢ_post − ⋈ᵢ Tᵢ_pre =
                        #     Σᵢ (T₁_post ⋈ … ⋈ ΔTᵢ ⋈ … ⋈ Tₙ_pre)
                        # — one term per CHANGED slot i, sides BEFORE i
                        # read at the POST (current) version, sides AFTER
                        # i at the PRE (watermark) version; the ΔF ⋈ ΔD
                        # cross term folds into the post-side reads. Each
                        # term's signed aggregate merges sequentially —
                        # every intermediate is the consistent state with
                        # slots ≤ i updated. Unchanged slots read post
                        # (pre ≡ post for them); with ONE changed slot
                        # this degenerates to the r14 single-side lane.
                        # Policies are baked from the sealed describes, so
                        # every side read is deterministic under the seal.
                        slots = plan.join["slots"]
                        t_pre = self.catalog.at_version(last)
                        merged = stored
                        for i, (src_i, _alias) in enumerate(slots):
                            if src_i.lower() not in changed:
                                continue
                            others = {}
                            for jdx, (src_j, _aj) in enumerate(slots):
                                if jdx == i:
                                    continue
                                others[src_j] = (
                                    self.read_table(src_j, t_pre,
                                                    historical=True)
                                    if jdx > i
                                    and src_j.lower() in changed
                                    else self.read_table(src_j, txn))
                            term = self._mv_apply_query(
                                plan, {src_i: deltas[src_i]}, dim=others)
                            merged = self._mv_merge(merged, term, plan,
                                                    tdef.spark_schema())
                    else:
                        delta_agg = self._mv_apply_query(
                            plan, deltas if plan.lane == "union"
                            else deltas[sources[0]])
                        merged = self._mv_merge(stored, delta_agg, plan,
                                                tdef.spark_schema())
                    mode = "incremental"
                    n = sum(feed_counts.values())
                if plan is None:
                    # full recompute still goes through the AUGMENTED query
                    # when the shape is AVG-incrementalizable (cplan), so the
                    # rewrite restores the companions and the NEXT refresh
                    # can take the incremental lane again
                    aug = self._mv_augmented_sql(cplan)
                    merged = self._query(aug or q, txn)
                    schema = tdef.spark_schema()
                    merged = merged.select(
                        *[F.col(f.name).cast(f.dataType).alias(f.name)
                          for f in schema.fields],
                        *[F.col(c) for c in merged.columns
                          if c.startswith("__mv_")])
                    mode, n = "full", 0
                files = self._write_files(merged, ns, tbl, [], tdef=tdef)
                if mode == "incremental":
                    # resolve deferred feed counts (two-sided windows on
                    # non-MIN/MAX plans): the rewrite above materialized
                    # the persisted feeds, so these are cached single-job
                    # counts — must run before the finally unpersists
                    for s, c in list(feed_counts.items()):
                        if c < 0:
                            feed_counts[s] = deltas[s].count()
                    n = sum(feed_counts.values())
            finally:
                for d in deltas.values():
                    d.unpersist()
            # restamp the WHOLE dependency record, not just the watermark:
            # a force_full caused by a view redefinition or source drift
            # must store the NEW expansion, or every later refresh
            # re-detects the same drift and full-recomputes forever
            # (review r12 s2 pass 2, reproduced)
            extra = self._mv_stamp(cur, list(refs_raw), tables_now,
                                   vtexts_now, cur_tz, cplan)
            self.catalog.update_table_files(
                txn, ns, tbl, files, tdef.file_paths(), ActionType.TABLE_UPDATE,
                {"added": [f.path for f in files],
                 "removed": tdef.file_paths(),
                 "expression": f"mv refresh {mode}"},
                extra_properties=extra)
        return report(mode, n)

    def refresh_materialized_view_cascade(self, name: str,
                                          full: bool = False
                                          ) -> DataFrame:
        """``REFRESH MATERIALIZED VIEW … CASCADE``: refresh every
        UPSTREAM materialized view this MV transitively depends on,
        leaves first, before the target — a stacked-dashboard chain
        refreshes consistently in ONE verb, each upstream choosing its
        own lane (noop when unchanged, so an all-quiet cascade costs
        O(sources) metadata probes and commits nothing). The
        dependency graph is a DAG by construction (creation refuses
        self-reference through the transitively EXPANDED source set),
        and a visited set guards traversal regardless. ``FULL``
        applies to the TARGET only — forcing upstream rewrites would
        void their incremental lanes for no reason. Returns one row
        per refreshed view in cascade order: (view, mode, delta_rows);
        plain-table sources are skipped (they have nothing to
        refresh)."""
        order: list[str] = []
        seen: set[str] = set()

        def visit(nm: str) -> None:
            ns, tbl = self._split(nm)
            key = f"{ns}.{tbl}".lower()
            if key in seen:
                return
            seen.add(key)
            probe = self.catalog.begin(read_only=True)
            td = self.catalog.describe_table(probe, ns, tbl)
            if not td.properties.get(self._MV_QUERY_PROP):
                return                  # plain table — nothing to do
            for s in json.loads(
                    td.properties.get(self._MV_SOURCES_PROP, "[]")):
                visit(s)
            order.append(f"{ns}.{tbl}")

        visit(name)
        if not order:
            # not an MV — surface the standard error
            return self.refresh_materialized_view(name, full=full)
        rows = []
        for nm in order:
            rep = self.refresh_materialized_view(
                nm, full=full and nm == order[-1]).collect()[0]
            rows.append((nm, rep.mode, rep.delta_rows))
        return self._local_df(
            rows, "view string, mode string, delta_rows long")

    _MV_AGG_RE = re.compile(
        r"^(COUNT|SUM|MIN|MAX|AVG)\s*\((.+)\)\s+AS\s+(\w+)$", re.I | re.S)

    # hidden per-group row count (COUNT(*) under the MV's own WHERE/
    # GROUP BY), stored beside the companions: the retraction lane needs
    # it to tell a VANISHED group (every contributing row deleted → drop
    # the stored row) from a group whose aggregate merely reached zero
    _MV_ROWCNT = "__mv_rowcnt"

    @staticmethod
    def _mv_companions(plan: _MVPlan) -> list[tuple[str, str, str, str]]:
        """(sum_col, cnt_col, inner_expr, out_alias) per AVG **and SUM**
        aggregate: AVG is not self-maintainable but decomposes EXACTLY —
        store SUM(inner) and COUNT(inner) companions beside the avg
        column (inside the MV's parquet files, OUTSIDE the declared
        schema, so SELECT/DESCRIBE/time travel never see them — _scan
        projects the declared schema) and recombine merged_sum /
        merged_cnt at merge time (VERDICT r12 #3). SUM joined the
        companion set for the retraction lane (VERDICT r13 #2): under
        deletes, SUM must go back to NULL when the last NON-NULL input
        of a surviving group is deleted — subtraction alone says 0;
        only the non-null COUNT companion can tell the difference."""
        return [(f"__mv_sum__{out}", f"__mv_cnt__{out}", inner, out)
                for kind, inner, out in plan.aggs
                if kind in ("AVG", "SUM")]

    # cap on the touched-group set the MIN/MAX retraction lane will
    # inline as a literal predicate: beyond it the IN-list/OR chain
    # stops being a win over the full recompute (and stops pruning)
    _MV_SCOPED_KEYS_MAX = 1000

    @staticmethod
    def _mv_sql_literal(v) -> str | None:
        """Exact SQL literal for a collected group-key value, or None
        when no faithful rendering exists (→ full lane). Strings with
        backslashes refuse — Spark's default parser treats backslash
        as an escape, so a verbatim re-quote would change the value;
        floats round-trip through repr() (exact shortest decimal) cast
        to DOUBLE so the comparison never re-widens through Spark's
        default decimal literal typing."""
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            return f"CAST('{v!r}' AS DOUBLE)"
        if isinstance(v, str):
            if "\\" in v:
                return None
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, datetime.datetime):
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        if isinstance(v, datetime.date):
            return f"DATE '{v.isoformat()}'"
        if isinstance(v, decimal.Decimal):
            return f"CAST('{v}' AS DECIMAL(38,18))"
        return None

    @classmethod
    def _mv_key_predicate(cls, exprs: list[str], rows,
                          names: list[str]) -> str | None:
        """Literal membership predicate over the touched group keys —
        single non-null key column renders as ``expr IN (lit, …)``
        (stats/partition-prunable at the scan), the general case as an
        OR of per-tuple conjunctions with ``IS NULL`` arms for NULL
        group values. None → a value with no faithful literal."""
        if len(exprs) == 1:
            nm, e = names[0], exprs[0]
            vals, has_null = [], False
            for r in rows:
                v = r[nm]
                if v is None:
                    has_null = True
                    continue
                lit = cls._mv_sql_literal(v)
                if lit is None:
                    return None
                vals.append(lit)
            parts = []
            if vals:
                parts.append(f"({e}) IN ({', '.join(vals)})")
            if has_null:
                parts.append(f"({e}) IS NULL")
            return " OR ".join(parts)
        tuples = []
        for r in rows:
            conj = []
            for e, nm in zip(exprs, names):
                v = r[nm]
                if v is None:
                    conj.append(f"({e}) IS NULL")
                else:
                    lit = cls._mv_sql_literal(v)
                    if lit is None:
                        return None
                    conj.append(f"({e}) = {lit}")
            tuples.append("(" + " AND ".join(conj) + ")")
        return " OR ".join(tuples)

    def _mv_groupwise_recompute(self, plan: _MVPlan, feed: DataFrame,
                                stored: DataFrame, txn
                                ) -> DataFrame | None:
        """MIN/MAX retraction lane (VERDICT r14 #4): a delete can
        un-extreme MIN/MAX and no retraction state restores the
        runner-up — but only for the groups the window TOUCHED.
        Re-aggregate the source (through the augmented query, so
        companions regenerate) under ``group_key IN (touched keys)`` —
        a stats/partition-prunable scan, often O(matching files) — and
        splice the result over the stored rows of exactly those keys
        (broadcast null-safe anti-join; groups the recompute no longer
        emits vanish, exactly as a recompute would drop them). Returns
        the merged frame, or None → full lane (touched-key set larger
        than _MV_SCOPED_KEYS_MAX, or a key value with no faithful SQL
        literal)."""
        with _StatementScope(self.spark) as scope:
            sql = (f"SELECT DISTINCT {', '.join(plan.group_items)} "
                   f"FROM {scope.bind(feed.drop('_change_type'), 'feed')}")
            if plan.where:
                # a feed row failing the MV's WHERE never contributed —
                # its group needs no recompute
                sql += f" WHERE {plan.where}"
            aff = self.spark.sql(sql)
        aff_schema = aff.schema
        keys = aff.limit(self._MV_SCOPED_KEYS_MAX + 1).collect()
        if len(keys) > self._MV_SCOPED_KEYS_MAX:
            return None
        if not keys:
            return stored               # whole feed below the WHERE
        pred = self._mv_key_predicate(plan.key_exprs, keys, plan.group)
        if pred is None:
            return None
        rec = self._query(self._mv_augmented_sql(plan, extra_where=pred),
                          txn)
        aff_df = self._local_df(keys, aff_schema)
        cond = None
        for k in plan.group:
            c = stored[k].eqNullSafe(aff_df[k])
            cond = c if cond is None else cond & c
        kept = stored.join(F.broadcast(aff_df), cond, "left_anti")
        out = kept.unionByName(rec.select(*kept.columns))
        # cast to the STORED (canonical, create-minted) types so the
        # union's type coercion can never widen the files across
        # repeated scoped refreshes
        return out.select(*[
            F.col(c).cast(stored.schema[c].dataType).alias(c)
            for c in kept.columns])

    def _mv_augmented_sql(self, plan: _MVPlan | None,
                          extra_where: str | None = None) -> str | None:
        """The stored query re-emitted WITH the hidden companion select
        items (SUM/AVG sum+count pairs, plus the per-group row count —
        every incrementalizable plan carries the row count so the
        retraction lane can drop vanished groups), or None when the
        plan itself is None. Reconstruction is faithful:
        plan.select_raw is the verbatim (normalized) select list the
        parse accepted, so declared column order is preserved;
        companions append after it."""
        if not plan:
            return None
        items = [plan.select_raw]
        items += [f"SUM({inner}) AS {s}, COUNT({inner}) AS {c}"
                  for s, c, inner, _out in self._mv_companions(plan)]
        items.append(f"COUNT(*) AS {self._MV_ROWCNT}")
        sql = f"SELECT {', '.join(items)} FROM {plan.from_sql}"
        where = plan.where
        if extra_where:
            # group-scoped recompute (VERDICT r14 #4): restrict the
            # re-aggregation to the touched keys
            where = (f"({where}) AND ({extra_where})" if where
                     else extra_where)
        if where:
            sql += f" WHERE {where}"
        if plan.group:
            sql += f" GROUP BY {plan.group_sql}"
        return sql

    # identifier WHITELIST for the incremental lane: aggregate inners,
    # WHERE and GROUP BY may use source columns plus these deterministic
    # keywords/functions/type names ONLY. A blacklist of banned
    # functions cannot keep up with Spark's alias surface (curdate
    # slipped the first version — review r12 s2 pass 2, reproduced);
    # anything unrecognized downgrades to the always-correct full lane.
    _MV_SAFE_WORDS = frozenset("""
        count sum min max avg cast as and or not between in is null
        true false like rlike case when then else end coalesce nullif
        if ifnull nvl abs round floor ceil ceiling sign greatest least
        upper lower trim ltrim rtrim length char_length substring
        substr concat replace split_part lpad rpad year month day
        dayofmonth dayofweek hour minute second quarter weekofyear
        date_trunc trunc to_date to_timestamp date_format datediff
        date_add date_sub add_months last_day unix_date months_between
        decimal bigint int integer smallint tinyint double float real
        string varchar char boolean long timestamp date numeric
        interval days hours minutes seconds months years
    """.split())

    # the one structural word each lane's FROM shape may use: a HAVING
    # only over a single source; UNION and JOIN only as the FROM itself
    _MV_LANE_WORD = {"single": "having", "union": "union", "join": "join"}
    _MV_JOIN_REFUSED = frozenset({"right", "full", "cross", "semi", "anti",
                                  "natural", "lateral", "using"})

    @staticmethod
    def _mv_clauses(sql: str) -> dict[str, str | None] | None:
        """The clauses of a normalized ``SELECT … FROM …`` text, split
        at paren depth 0 on its code view: SELECT (the items), FROM,
        WHERE, GROUP BY and HAVING in that order, None for an absent
        one; or None when the text is no such query."""
        code = sqltext.code_view(sql)
        if not re.match(r"SELECT\s", code, re.I):
            return None
        cuts, pos = {"SELECT": 0}, 0
        for kw in ("FROM", "WHERE", "GROUP BY", "HAVING"):
            at = sqltext.find_kw(code, kw, pos)
            if at is not None:
                cuts[kw], pos = at, at + len(kw)
        if "FROM" not in cuts:
            return None
        out = dict.fromkeys(("SELECT", "FROM", "WHERE", "GROUP BY",
                             "HAVING"))
        ats = [*cuts.values(), len(sql)]
        for i, kw in enumerate(cuts):
            out[kw] = sql[ats[i] + len(kw):ats[i + 1]].strip()
        return out

    def _mv_plan(self, q: str, sources: list[str], txn) -> _MVPlan | None:
        """Parse the stored query into an incrementally-maintainable
        plan, or None (→ the always-correct full lane). The shape is
        ``SELECT <keys, aggregates> FROM <from> [WHERE …] [GROUP BY …]
        [HAVING …]`` with no window / DISTINCT / LIMIT / ORDER (word-
        boundary scan of the code — a false hit merely downgrades to
        full), and the FROM picks the lane: the one known source table
        (``single``), ``(branch UNION ALL branch …) [alias]``
        (``union``, `_mv_union_branches`) or a chain of 2-4 aliased
        sources (``join``, `_mv_join_chain`). Select items are GROUP BY
        keys (bare columns or aliased deterministic EXPRESSIONS
        re-emitted verbatim in the delta SQL — the ``date_trunc('day',
        ts)`` dashboard-bucket shape, VERDICT r14 #2) or
        COUNT/SUM/MIN/MAX/AVG aggregates with aliases, plus, over a
        single source only, a HAVING whose aggregate calls all match
        select items (VERDICT r14 #5 — stored rows keep ALL groups; the
        rewritten predicate applies as a read-time filter, see
        ``_mv_having_out``). These are the self-maintainable aggregates
        under APPEND-ONLY deltas (SUM/COUNT add; MIN/MAX are monotone
        under inserts; AVG decomposes exactly into SUM/COUNT companions
        — deletes ride the signed feed, or the group-scoped MIN/MAX
        recompute lane)."""
        norm = sqltext.normalize(q)
        if "__mv_" in norm.lower() or "\\" in norm or "`" in norm:
            # __mv_ is the companion-column namespace (a user item named
            # __mv_sum__x would collide with the hidden AVG companions);
            # escape forms and quoted identifiers stay on the full lane
            # (ADVICE r13): the screens were only ever proven over text
            # without them
            return None
        # keywords and clauses come from the CODE VIEW (literal contents
        # blanked, positions 1:1 with norm), so a literal holding
        # ' UNION ' or ' GROUP BY ' can neither refuse the query nor
        # mis-partition its clauses; each clause slices from norm, where
        # literals survive verbatim
        words = collections.Counter(
            w.lower() for w in re.findall(r"\w+", sqltext.code_view(norm)))
        clauses = self._mv_clauses(norm)
        if clauses is None \
                or words.keys() & {"over", "distinct", "limit", "order"}:
            return None
        items, from_sql, where, gb, having = clauses.values()
        from_code = sqltext.code_view(from_sql)
        lane = ("union" if from_code.startswith("(")
                else "join" if re.search(r"\bJOIN\b", from_code, re.I)
                else "single")
        if words.keys() & ({"join", "union", "having"}
                           - {self._MV_LANE_WORD[lane]}):
            return None
        branches, join, extra_body = (), None, []
        if lane == "single":
            if len(sources) != 1 or from_sql.lower() != sources[0].lower():
                return None
            from_sql = sources[0]
            ambient = self._mv_source_cols(from_sql, txn)
        elif lane == "union":
            parsed = self._mv_union_branches(from_sql, sources, txn)
            if parsed is None:
                return None
            branches, ambient, from_sql = parsed
        else:
            parsed = self._mv_join_chain(from_sql, sources, words, txn)
            if parsed is None:
                return None
            join, ambient, from_sql = parsed
            extra_body = [cond for _jt, cond in join["conds"]]
        if words["select"] != 1 + len(branches):
            return None     # one SELECT per branch and none elsewhere
        # qualified references (t.v / ns1.src.v) resolve at creation
        # because _resolve_sql pins the table behind an alias, but the
        # delta re-aggregation runs over a bound frame where they cannot
        # resolve — full lane, never a mid-refresh AnalysisException
        # (review r12 s2). The join lane re-binds every alias. A dotted
        # literal ('a.b') is data: the check reads the code view.
        if lane != "join" and re.search(
                r"\b[A-Za-z_]\w*\.[A-Za-z_]\w*", sqltext.code_view(
                    " ".join(filter(None, (items, where, *(
                        t for b in branches for t in b[1:])))))):
            return None
        gs = self._mv_group_select(items, gb, ambient,
                                   qualified=lane == "join")
        if gs is None:
            return None
        group, group_items, key_exprs, aggs = gs
        # identifier WHITELIST: every word token in the select items /
        # WHERE / GROUP BY / ON must be an ambient column, a safe
        # deterministic keyword/function/type, or one of the output
        # aliases. Time-/run-dependent expressions (current_date,
        # curdate, rand, uuid, …) are exactly the ones NOT here —
        # applying them to the delta only would freeze stored rows at
        # their old evaluation with no retraction, silently wrong
        # (review r12 s2 pass 2)
        aliases = ({out.lower() for _k, _i, out in aggs}
                   | {o.lower() for o in group})
        body = " ".join(filter(None, (items, *extra_body, where, gb)))
        if not self._mv_screen(body, ambient, aliases):
            return None
        having_out = None
        if having is not None:
            having_out = self._mv_having_out(having, aggs, aliases)
            if having_out is None:
                return None
        return _MVPlan(lane, group, group_items, key_exprs, gb, aggs,
                       where, items, from_sql, having_out, branches, join)

    @staticmethod
    def _mv_canon_expr(t: str) -> str:
        """Whitespace-collapsed lowercase form for matching a GROUP BY
        expression against a select item's expression. Lowercasing
        string-literal CONTENTS can only produce a FALSE match between
        two literals differing in case — and then the original query
        itself is invalid (its select item is not in its GROUP BY), so
        creation fails loudly at spark.sql; a canon mismatch merely
        downgrades to the full lane."""
        return re.sub(r"\s+", " ", t).strip().lower()

    def _mv_group_select(self, items_raw: str, gb: str | None,
                         ambient_cols: set[str], *,
                         qualified: bool = False):
        """Split the select list into GROUP-BY-key items and
        aggregates, matching every GROUP BY item to exactly one select
        item. Returns (group_out, group_items, key_exprs, aggs) as
        tuples, or None → full lane. A key item is a bare column
        (``grp`` — or ``a.col`` in the join lane, out name = last
        component; the expression is the item) or an aliased
        deterministic expression (``date_trunc('day', ts) AS day`` —
        the MV's key COLUMN stores the expression's VALUE under the
        alias, and the delta SQL re-emits the same expression, VERDICT
        r14 #2); the matching GROUP BY item is either the expression
        text (canon-equal) or the alias. A GROUP-BY-by-alias whose
        alias SHADOWS a name in ``ambient_cols`` refuses: Spark
        resolves a bare GROUP BY token as the COLUMN first, so
        ``… date_trunc('day', ts) AS ts … GROUP BY ts`` groups by the
        RAW column while the stored key holds the truncated value —
        several stored rows per key value, a silently multi-matching
        merge. Unaliased expression keys refuse too (the stored column
        needs a deterministic name)."""
        group_exprs = ([g.strip() for g in sqltext.split_top_level(gb)]
                       if gb else [])
        gcanon = [self._mv_canon_expr(g) for g in group_exprs]
        if len(gcanon) != len(set(gcanon)):
            # GROUP BY k, k is valid SQL but the merge would mint two
            # output columns both named k → AMBIGUOUS_REFERENCE at the
            # first refresh (r13 review pass 2) — full lane
            return None
        bare_pat = r"\w+(?:\.\w+)?" if qualified else r"\w+"
        # keys: (canon_expr, alias|None, item, out, expr)
        keys, aggs = [], []
        for item in sqltext.split_top_level(items_raw):
            item = item.strip()
            agg = self._mv_agg_item(item)
            if agg is not None:
                aggs.append(agg)
                continue
            if re.fullmatch(bare_pat, item):
                keys.append((self._mv_canon_expr(item), None, item,
                             item.split(".")[-1], item))
                continue
            am = re.fullmatch(r"(.+?)\s+AS\s+(\w+)", item, re.I | re.S)
            if am is None:
                return None
            expr, alias = am.group(1).strip(), am.group(2)
            keys.append((self._mv_canon_expr(expr), alias, item, alias,
                         expr))
        if not aggs:
            return None
        matched = []
        for gcan in gcanon:
            match = None
            for ki, (kcan, alias, _item, _out, _e) in enumerate(keys):
                if ki in matched:
                    continue
                if kcan == gcan:
                    match = ki
                    break
                if alias is not None and gcan == alias.lower():
                    if alias.lower() in ambient_cols:
                        return None     # column shadows the alias
                    match = ki
                    break
            if match is None:
                return None
            matched.append(match)
        if len(matched) != len(keys):
            # a non-aggregate select item no GROUP BY key claims —
            # valid SQL only when it is a function of the keys, which
            # the merge cannot re-derive; and every key must be ON the
            # stored side (review r12 s2)
            return None
        group_out, group_items, key_exprs = (
            tuple(keys[ki][c] for ki in matched) for c in (3, 2, 4))
        outs = ([o.lower() for o in group_out]
                + [out.lower() for _k, _i, out in aggs])
        if len(outs) != len(set(outs)):
            return None                 # merge needs unique out names
        return group_out, group_items, key_exprs, tuple(aggs)

    def _mv_having_out(self, having: str,
                       aggs: tuple[tuple[str, str, str], ...],
                       outs: set[str]) -> str | None:
        """Rewrite a HAVING clause into a predicate over the MV's
        OUTPUT columns, or None → full lane (VERDICT r14 #5). With the
        SUM/COUNT companions and the hidden row count, the stored table
        keeps the FULL group state, so HAVING applies POST-merge as a
        projection filter at the read chokepoint (_apply_policies, the
        standard MV trick) while groups below the threshold stay
        STORED — a later delta can push them across the boundary in
        either direction incrementally. Each aggregate CALL in the
        clause must canon-match a select item's aggregate (rewritten to
        its alias — the stored column holding exactly that value);
        everything else must screen against the group-key outputs and
        the safe-word whitelist."""
        agg_by_canon = {
            f"{kind.lower()}({self._mv_canon_expr(inner)})": out
            for kind, inner, out in aggs}
        code = sqltext.code_view(having)
        pat = re.compile(r"\b(count|sum|min|max|avg)\s*\(", re.I)
        res, pos = [], 0
        while True:
            m = pat.search(code, pos)
            if not m:
                res.append(having[pos:])
                break
            res.append(having[pos:m.start()])
            try:
                j = sqltext.match_paren(code, m.end() - 1) - 1
            except ValueError:
                return None
            canon = (m.group(1).lower() + "("
                     + self._mv_canon_expr(having[m.end():j]) + ")")
            alias = agg_by_canon.get(canon)
            if alias is None:
                # an aggregate the select list does not store — no
                # stored column to filter on (COUNT(*) included: only
                # a SELECTED count is part of the declared surface)
                return None
            res.append(alias)
            pos = j + 1
        rewritten = "".join(res).strip()
        if not self._mv_screen(rewritten, outs, set()):
            return None
        return rewritten

    @classmethod
    def _mv_agg_item(cls, item: str) -> tuple[str, str, str] | None:
        """Parse ONE select item as a single COUNT/SUM/MIN/MAX/AVG call
        with an alias, or None. The greedy inner group of _MV_AGG_RE
        also matches COMPOUND forms — 'MIN(a) + MIN(b) AS m' parses as
        kind=MIN with inner 'a) + MIN(b', and the merge would combine a
        compound expression with single-aggregate math (silently wrong:
        least() of sums-of-mins — r13 review pass 3, reproduced). A
        genuine single call's inner is paren-BALANCED and never dips
        negative, i.e. the call's '(' closes exactly at the ')' that
        ends the inner group — matched on the code view so parens inside
        string literals don't count."""
        am = cls._MV_AGG_RE.match(item)
        if not am:
            return None
        try:
            closes = sqltext.match_paren(sqltext.code_view(item),
                                         am.start(2) - 1)
        except ValueError:
            return None
        if closes != am.end(2) + 1:
            return None
        return (am.group(1).upper(), am.group(2).strip(), am.group(3))

    def _mv_source_cols(self, source: str, txn) -> set[str]:
        sns, stbl = self._split(source)
        return {f.name.lower() for f in
                self.catalog.describe_table(txn, sns, stbl)
                .spark_schema().fields}

    def _mv_screen(self, body: str, allowed_cols: set[str],
                   aliases: set[str],
                   banned_calls: frozenset = frozenset()) -> bool:
        """Identifier WHITELIST for incremental-lane bodies: every word
        token must be an allowed column, a safe deterministic keyword/
        function/type, or an output alias; every CALL token must be a
        safe word in its own right (a column named rand must not
        whitelist the function rand() — review r12 s2 pass 3) and not
        in banned_calls (union branches may not aggregate). Quoted
        identifiers, literals and comments scrub in the one lexer's
        pass (sqltext.scrub — sequential variants cross-paired, r12 s2
        passes 4-6); digit-led literals scrub before tokenizing."""
        scrubbed = sqltext.scrub(body)
        scrubbed = re.sub(r"\b\d[\w.]*", " ", scrubbed)
        calls = {t.lower() for t in
                 re.findall(r"([A-Za-z_]\w*)\s*\(", scrubbed)}
        if calls - self._MV_SAFE_WORDS or calls & banned_calls:
            return False
        idents = {t.lower() for t in
                  re.findall(r"[A-Za-z_]\w*", scrubbed)}
        return not (idents - self._MV_SAFE_WORDS - allowed_cols
                    - aliases)

    _MV_AGG_WORDS = frozenset({"count", "sum", "min", "max", "avg"})

    def _mv_union_branches(self, from_sql: str, sources: list[str], txn):
        """The union lane's FROM (VERDICT r12 #4): ``(branch UNION ALL
        branch …) [alias]`` where every branch is a pure
        projection/filter ``SELECT items FROM <source> [WHERE …]`` over
        one known source table — the channel-report shape (cf. b126).
        Each source's append delta maps through ITS branches only;
        unchanged sources contribute nothing; the group-key merge is
        the single-source one. Returns (branches, branch output names,
        FROM text), or None → full lane for aggregating branches,
        branches over views or mismatched branch output names.
        Comments cannot reach this parse: sqltext.normalize strips them
        BEFORE whitespace collapse (r13 review — a surviving '-- UNION
        ALL SELECT …' comment would otherwise parse as a PHANTOM branch
        here while the executed query treats it as a comment)."""
        code = sqltext.code_view(from_sql)
        try:                         # the FROM subquery's closing paren
            j = sqltext.match_paren(code, 0)
        except ValueError:
            return None
        inner, inner_code = from_sql[1:j - 1], code[1:j - 1]
        head = from_sql[j:].strip()
        if head and not re.fullmatch(r"(?:AS\s+)?\w+", head, re.I):
            return None              # only an optional derived-table alias
        # split the subquery into branches at UNION ALL (a nested one
        # comes with a nested SELECT, which _mv_plan's count refuses)
        if re.search(r"\bUNION\b(?!\s+ALL\b)", inner_code, re.I):
            return None              # bare UNION dedups — not append-safe
        cuts = [0, *(i for m in re.finditer(r"\bUNION\s+ALL\b",
                                            inner_code, re.I)
                     for i in m.span()), len(inner)]
        if len(cuts) == 2:
            return None
        src_by_low = {s.lower(): s for s in sources}
        cols_by_src: dict[str, set] = {}
        branches, out_names = [], None
        for b0, b1 in zip(cuts[::2], cuts[1::2]):
            bc = self._mv_clauses(inner[b0:b1].strip())
            if bc is None or bc["GROUP BY"] is not None:
                return None
            bitems, bfrom, bwhere = bc["SELECT"], bc["FROM"], bc["WHERE"]
            src = src_by_low.get(bfrom.lower())
            if src is None:
                return None
            names = []
            for item in sqltext.split_top_level(bitems):
                item = item.strip()
                am = re.fullmatch(r"(.+?)\s+AS\s+(\w+)", item,
                                  re.I | re.S)
                if am:
                    names.append(am.group(2))
                elif re.fullmatch(r"\w+", item):
                    names.append(item)
                else:
                    return None      # unaliased expression
            lowered = [n.lower() for n in names]
            if out_names is None:
                out_names = lowered
            elif lowered != out_names:
                # the delta may include only SOME branches, so the
                # outer query must resolve identically against any
                # subset — every branch must emit the same names
                return None
            body = " ".join(filter(None, (bitems, bwhere)))
            if src not in cols_by_src:   # one describe per SOURCE, not
                cols_by_src[src] = self._mv_source_cols(src, txn)  # branch
            if not self._mv_screen(body, cols_by_src[src],
                                   set(lowered),
                                   banned_calls=self._MV_AGG_WORDS):
                return None
            branches.append((src, bitems, bwhere))
        if {s.lower() for s, _i, _w in branches} != set(src_by_low):
            # a recorded source no branch reads (reached via a view,
            # say) would change without any branch consuming its delta
            return None
        return (tuple(branches), set(out_names),
                f"({inner.strip()}) olympia__mv_u")

    def _mv_join_chain(self, from_sql: str, sources: list[str],
                       words: collections.Counter, txn):
        """The join lane's FROM (VERDICT r13 #1): ``<t1> [AS] a
        [INNER|LEFT [OUTER]] JOIN <t2> [AS] b ON <cond> [JOIN <t3> [AS]
        c ON <cond> …]`` — a CHAIN over exactly the known sources (2-4
        tables; the dashboard star: fact JOIN dim1 JOIN dim2 GROUP BY
        dims' attrs), every table under an explicit simple alias (the
        delta re-execution swaps each table for a bound frame and
        re-binds the SAME alias, so every qualified reference resolves
        identically). LEFT only in the two-table form (a refresh
        takes only its preserved side as the delta). Any
        RIGHT/FULL/CROSS/SEMI/NATURAL/USING form, unaliased tables or a
        source column named like a structural keyword → None (the
        always-correct full lane). ``words`` counts the query's words
        (`_mv_plan`'s scan). Returns (join, ambient columns, FROM text)
        or None."""
        if not 2 <= len(sources) <= 4 \
                or words["join"] != len(sources) - 1 \
                or words.keys() & self._MV_JOIN_REFUSED:
            return None
        fb_code = sqltext.code_view(from_sql)
        th = re.match(r"(\S+)\s+(?:AS\s+)?(\w+)\s+", fb_code)
        if not th:
            return None
        jre = re.compile(
            r"\b(?:(INNER|LEFT(?:\s+OUTER)?)\s+)?JOIN\s+"
            r"(\S+)\s+(?:AS\s+)?(\w+)\s+ON\s", re.I)
        jms = list(jre.finditer(fb_code))
        if len(jms) != len(sources) - 1 or jms[0].start() != th.end():
            return None                 # stray text between chain links
        kw_block = {"join", "inner", "left", "outer", "on", "where",
                    "group", "as", "select", "from"}
        src_by_low = {s.lower(): s for s in sources}
        toks = [from_sql[th.start(1):th.end(1)]]
        aliases = [from_sql[th.start(2):th.end(2)]]
        conds, n_outer = [], 0
        for k, jm in enumerate(jms):
            jt = (jm.group(1) or "").upper()
            n_outer += jt.endswith("OUTER")
            toks.append(from_sql[jm.start(2):jm.end(2)])
            aliases.append(from_sql[jm.start(3):jm.end(3)])
            c_end = jms[k + 1].start() if k + 1 < len(jms) \
                else len(from_sql)
            cond = from_sql[jm.end():c_end].strip()
            if not cond:
                return None
            conds.append(("left" if jt.startswith("LEFT") else "inner",
                          cond))
        # LEFT only in the two-table form, and LEFT/OUTER tokens may
        # appear ONLY inside matched join-type slots — a stray one
        # elsewhere means the scan mis-attributed structure
        n_left = sum(1 for jt, _c in conds if jt == "left")
        if n_left and len(sources) != 2:
            return None
        if words["left"] != n_left or words["outer"] != n_outer:
            return None
        low_aliases = [a.lower() for a in aliases]
        if any(a in kw_block for a in low_aliases) \
                or len(set(low_aliases)) != len(low_aliases):
            return None                 # unaliased table or alias clash
        srcs = [src_by_low.get(t.lower()) for t in toks]
        if any(s is None for s in srcs) or len(set(srcs)) != len(srcs):
            return None
        cols = set(low_aliases)
        for s in srcs:
            cols |= self._mv_source_cols(s, txn)
        if cols & {"select", "from", "where", "group", "by", "on",
                   "join", "inner", "left", "outer"}:
            # a source column literally named like a structural keyword
            # (legal unquoted in Spark's non-ANSI parser) could sit
            # UNQUALIFIED inside the lazily-scanned ON region and
            # mis-split the clause partition — e.g. 'AND where = 1'
            # truncates ON at the identifier and the re-emitted delta
            # SQL fails at refresh time. Never silent-wrong (the
            # truncation leaves a dangling operator), but the correct
            # behavior is the full lane, not a mid-refresh crash.
            return None
        join = {"slots": tuple(zip(srcs, aliases)), "conds": tuple(conds)}
        return join, cols, self._mv_chain_sql(
            join, dict(zip(srcs, toks)).__getitem__)

    @staticmethod
    def _mv_chain_sql(join: dict, table) -> str:
        """A join plan's FROM chain with ``table(source)`` in each
        slot; aliases and ON conditions re-bind verbatim."""
        (src, alias), *rest = join["slots"]
        sql = f"{table(src)} {alias}"
        for (src, alias), (jt, cond) in zip(rest, join["conds"]):
            kw = "LEFT JOIN" if jt == "left" else "JOIN"
            sql += f" {kw} {table(src)} {alias} ON ({cond})"
        return sql

    @staticmethod
    def _mv_signed_row(kind: str, inner: str) -> str:
        """The PER-ROW contribution expression over a SIGNED change
        feed (``__mv_sign`` = +1 insert / -1 delete): summing these in
        `_mv_merge` reproduces the old delta-side signed aggregate
        exactly, per group — SUM and COUNT are exactly subtractable,
        so delete events ride the same combine as inserts with their
        sign flipped (VERDICT r13 #2); an insert-only delta
        degenerates to the plain aggregate (all signs +1). MIN/MAX
        emit the plain inner value: the refresh driver forces the
        full/group-scoped lane whenever a delta carries deletes and
        the plan has MIN/MAX (a delete can un-extreme them), so by
        contract they only ever see insert-only rows."""
        kind = kind.upper()
        if kind == "COUNT":
            if inner.strip() == "*":
                return "CAST(__mv_sign AS BIGINT)"
            return (f"CAST(CASE WHEN ({inner}) IS NOT NULL "
                    f"THEN __mv_sign ELSE 0 END AS BIGINT)")
        if kind == "SUM":
            # CASE keeps the inner expression's type exactly (unary
            # minus is type-preserving); inner * sign would widen
            # decimals differently from the stored column
            return (f"CASE WHEN __mv_sign = 1 THEN ({inner}) "
                    f"ELSE -({inner}) END")
        return f"({inner})"             # MIN, MAX (insert-only lane)

    def _mv_apply_query(self, plan: _MVPlan, rows,
                        dim: tuple[str, DataFrame] | None = None
                        ) -> DataFrame:
        """Project the change-feed delta to per-row SIGNED CONTRIBUTION
        columns under the stored query's own shape — same WHERE, same
        key expressions, but NO aggregation: `_mv_merge`'s union +
        re-aggregate IS the combine, and feeding it raw contribution
        rows instead of a pre-aggregated delta removes the delta's own
        Exchange — the refresh shuffles ONCE on the group keys instead
        of twice (guide §2.4: two operations keyed the same way share
        one exchange; Spark's partial map-side aggregation means the
        merge exchange still carries O(groups per map partition) bytes,
        not O(feed)). Contribution semantics (`_mv_signed_row`):
        COUNT rides ±1 (0 for NULL inners), SUM companions
        carry sign-flipped inners CASE-wise (type-preserving), MIN/MAX
        carry the plain inner (insert-only by the refresh driver's
        contract), so SUM over the contributions equals the old signed
        aggregate per group, term by term. SUM/AVG declared outputs are
        omitted — the merge never read them (it recombines from the
        companions).
        ``rows``: a DataFrame (single-source lane) or a
        {source: DataFrame} map of per-source feeds (union lane — each
        changed source's delta flows through ITS branches only;
        branches over unchanged sources are simply absent, which is
        sound because every branch emits the same output names), every
        feed still carrying ``_change_type``. ``dim`` (join lane): a
        {source: DataFrame} map of every UNCHANGED side read whole at
        the refresh's pinned version — the delta joins them under the
        stored query's own aliases, exact for INNER chains because the
        joined relation is multilinear in each input."""
        with _StatementScope(self.spark) as scope:
            def _signed(src: str, df: DataFrame) -> str:
                return scope.bind(df.withColumn(
                    "__mv_sign",
                    F.when(F.col("_change_type") == "delete", F.lit(-1))
                    .otherwise(F.lit(1))).drop("_change_type"), "feed", src)

            if plan.lane == "union":
                legs = []
                for src, bitems, bwhere in plan.branches:
                    if src not in rows:
                        continue        # unchanged source: empty delta
                    leg = (f"SELECT {bitems}, __mv_sign "
                           f"FROM {_signed(src, rows[src])}")
                    if bwhere:
                        leg += f" WHERE {bwhere}"
                    legs.append(leg)
                frm = f"({' UNION ALL '.join(legs)}) olympia__mv_u"
            elif plan.lane == "join":
                (dsrc, feed), = rows.items()
                # rebuild the stored chain with each table swapped for
                # its bound frame — the signed feed in the changed slot,
                # the pinned-version reads (``dim``: {source: df})
                # everywhere else. LEFT reaches here only with the delta
                # on the PRESERVED (first) slot — the refresh gate
                # enforces it.
                def _slot_view(src: str) -> str:
                    if src.lower() == dsrc.lower():
                        return _signed(src, feed)
                    return scope.bind(dim[src], "dim", src)
                frm = self._mv_chain_sql(plan.join, _slot_view)
            else:
                frm = _signed("", rows)
            sel = list(plan.group_items)
            sel += [f"{self._mv_signed_row(kind, inner)} AS {out}"
                    for kind, inner, out in plan.aggs
                    if kind not in ("AVG", "SUM")]
            for s, c, inner, _out in self._mv_companions(plan):
                sel.append(f"{self._mv_signed_row('SUM', inner)} AS {s}")
                sel.append(f"{self._mv_signed_row('COUNT', inner)} AS {c}")
            sel.append(f"{self._mv_signed_row('COUNT', '*')} "
                       f"AS {self._MV_ROWCNT}")
            sql = f"SELECT {', '.join(sel)} FROM {frm}"
            if plan.where:
                sql += f" WHERE {plan.where}"
            return self.spark.sql(sql)

    @staticmethod
    def _mv_merge(old: DataFrame, delta: DataFrame, plan: _MVPlan,
                  schema: T.StructType) -> DataFrame:
        """Merge the delta into the stored aggregate: UNION the stored
        rows with the delta's per-row signed contributions
        (`_mv_apply_query`) and RE-AGGREGATE by the group keys — ONE
        exchange for the whole refresh, where the previous FULL OUTER
        join formulation paid two exchanges plus two sorts and the
        r15-interim union-of-aggregates still paid a second exchange
        for the delta's own pre-aggregation (guide §2.4: do fewer
        shuffles; operations keyed the same way share one exchange).

        The per-aggregate combine semantics map onto aggregate
        functions exactly: COUNT adds via SUM (contributions are
        SIGNED, so deletes arrive negative and subtract), SUM/AVG
        recombine from their merged sum/count companions (summed the
        same way), MIN via MIN / MAX via MAX (insert-only by the
        refresh driver's contract) — and SUM over per-row
        contributions equals SUM over their pre-aggregate, so feeding
        raw contribution rows changes no merged value. A group absent
        on one side contributes only its own rows to the union, and
        aggregates over those alone equal that side — the same 'skip
        the absent side' rule the join spelled out with when/isNull; a
        NULL stored value merged with a delta value likewise yields
        the delta value, because SQL aggregates skip NULLs ('no rows'
        and 'all-NULL inputs' combine identically). NULL group values
        group together (GROUP BY is null-safe, as eqNullSafe was).
        Groups whose merged row count reaches zero are dropped — the
        retraction analogue of never having grouped. Global aggregates
        (no GROUP BY) group on a constant key. Output casts back to
        the MV's recorded schema so repeated merges never widen
        types.

        r16 construction change (guide §5 — driver-side work): the
        merged frame is built as ONE ``spark.sql`` text over two temp
        views instead of the column-by-column DataFrame chain — the
        chain cost 737 py4j round-trips per merge (0.34–0.45s of pure
        driver latency per refresh, measured at sf0.01); the SQL text
        costs ~8 and produces the same plan (plans/r16/
        mv_merge_sqltext_{before,after}.txt differ only in expression
        ids). A construction failure is raised with the plan shape
        named — there is no second builder to fall back to."""
        try:
            return Engine._mv_merge_sql(old, delta, plan, schema)
        except Exception as e:
            keys = ", ".join(plan.group) or "none (global)"
            aggs = ", ".join(f"{k}({i}) AS {o}" for k, i, o in plan.aggs)
            raise RuntimeError(
                f"materialized view merge failed for a {plan.lane} plan with "
                f"group keys [{keys}] and aggregates [{aggs}]: {e}") from e

    @staticmethod
    def _mv_merge_sql(old: DataFrame, delta: DataFrame, plan: _MVPlan,
                      schema: T.StructType) -> DataFrame:
        """SQL-text construction of the merge, clause by clause: the
        delta leg casts to the STORED types (a subset-of-branches union
        delta skips the full union's type coercion, so a key emitted
        NARROWER by its lone branch — INT vs the stored STRING — would
        numeric-promote at the merge and collapse several stored groups,
        r13 review pass 4); the positional UNION ALL over identical
        select lists; the null-safe GROUP BY; SUM/AVG recombined from
        the merged companions, NULL when the merged count is 0 (which
        plain subtraction cannot say for SUM); grouped plans drop groups
        whose row count reached 0 while a global plan keeps its one row
        (COUNT 0 / SUM NULL, the recompute-on-empty result); the final
        casts to the MV's schema."""
        spark = old.sparkSession
        old_types = {f.name: f.dataType for f in old.schema.fields}

        q = sqltext.ident

        def t(dt: T.DataType) -> str:
            return dt.simpleString()

        grouped = bool(plan.group)
        keys = list(plan.group) or ["__mv_k"]
        companions = Engine._mv_companions(plan)
        comp_by_out = {out: (s, c) for s, c, _i, out in companions}
        rc = Engine._MV_ROWCNT
        shared = (list(plan.group)
                  + [out for k, _i, out in plan.aggs
                     if k not in ("AVG", "SUM")]
                  + [x for s, c, _i, _o in companions for x in (s, c)]
                  + [rc])
        # identical select lists on both legs — positional UNION ALL is
        # then exactly the old unionByName; the delta leg casts to the
        # STORED types (the r13 narrower-branch-key coercion rule)
        old_leg = [q(c) for c in shared]
        delta_leg = [(f"CAST({q(c)} AS {t(old_types[c])}) AS {q(c)}"
                      if c in old_types else q(c)) for c in shared]
        if not grouped:
            old_leg = ["1 AS `__mv_k`"] + old_leg
            delta_leg = ["1 AS `__mv_k`"] + delta_leg
        aggs_sql = []
        for kind, _i, out in plan.aggs:
            if kind in ("AVG", "SUM"):
                continue            # recombined from companions below
            if kind == "COUNT":
                aggs_sql.append(f"CAST(SUM({q(out)}) AS "
                                f"{t(old_types[out])}) AS {q(out)}")
            elif kind == "MIN":
                aggs_sql.append(f"MIN({q(out)}) AS {q(out)}")
            else:
                aggs_sql.append(f"MAX({q(out)}) AS {q(out)}")
        for s, c, _i, _o in companions:
            aggs_sql.append(f"CAST(SUM({q(s)}) AS {t(old_types[s])}) "
                            f"AS {q(s)}")
            aggs_sql.append(f"CAST(SUM({q(c)}) AS {t(old_types[c])}) "
                            f"AS {q(c)}")
        aggs_sql.append(f"CAST(SUM({q(rc)}) AS {t(old_types[rc])}) "
                        f"AS {q(rc)}")
        derive = [q(k) for k in plan.group]
        for kind, _i, out in plan.aggs:
            if kind in ("AVG", "SUM"):
                s, c = comp_by_out[out]
                e = f"{q(s)} / {q(c)}" if kind == "AVG" else q(s)
                derive.append(f"CASE WHEN {q(c)} > 0 THEN {e} END "
                              f"AS {q(out)}")
            else:
                derive.append(q(out))
        derive += [q(s) for s, _c, _i, _o in companions]
        derive += [q(c) for _s, c, _i, _o in companions]
        derive.append(q(rc))
        final = ([f"CAST({q(f.name)} AS {t(f.dataType)}) AS {q(f.name)}"
                  for f in schema.fields]
                 + [q(s) for s, _c, _i, _o in companions]
                 + [q(c) for _s, c, _i, _o in companions]
                 + [q(rc)])
        with _StatementScope(spark) as scope:
            return spark.sql(
                f"SELECT {', '.join(final)} FROM ("
                f"SELECT {', '.join(derive)} FROM ("
                f"SELECT {', '.join(q(k) for k in keys)}, "
                f"{', '.join(aggs_sql)} FROM ("
                f"SELECT {', '.join(old_leg)} FROM "
                f"{scope.bind(old, 'mv_old')} "
                f"UNION ALL "
                f"SELECT {', '.join(delta_leg)} FROM "
                f"{scope.bind(delta, 'mv_delta')}"
                f") olympia__mv_u GROUP BY "
                f"{', '.join(q(k) for k in keys)}"
                f") olympia__mv_g"
                + (f" WHERE {q(rc)} > 0" if grouped else "")
                + ") olympia__mv_m")

    @staticmethod
    def _mv_guard(tdef: TableDef, name: str, op: str) -> None:
        """Refuse direct DML against a materialized view — its rows
        DERIVE from the stored query; a direct write would be silently
        overwritten by the next refresh. REFRESH (which writes through
        the internal paths below this guard) is the only writer."""
        if tdef.properties.get("mv.query"):
            raise ValueError(
                f"{op}: {name} is a MATERIALIZED VIEW — its rows derive "
                f"from its stored query; use REFRESH MATERIALIZED VIEW "
                f"(or DROP it) instead of direct writes")

    @staticmethod
    def _mv_guard_schema(tdef: TableDef, name: str, op: str) -> None:
        """Refuse schema-altering DDL against a materialized view — its
        SCHEMA derives from the stored query; an added/dropped/renamed
        column desyncs the table from the query and only surfaces later
        as a confusing cast/AnalysisException at the next refresh
        (ADVICE r12). Recreate the MV with the desired query instead."""
        if tdef.properties.get("mv.query"):
            raise ValueError(
                f"{op}: {name} is a MATERIALIZED VIEW — its schema "
                f"derives from its stored query; CREATE OR REPLACE "
                f"MATERIALIZED VIEW with the desired query (or DROP it) "
                f"instead of altering columns")

    # --- driver-local frames --------------------------------------------------

    def _local_df(self, rows, schema) -> DataFrame:
        """Small driver-resident frames (statement reports, metadata
        listings, broadcast-side key maps) built as a TRUE
        LocalRelation via the Arrow conversion path: collect()/count()
        on the result is driver-only work instead of a
        defaultParallelism-task RDD job, and a broadcast build reads
        the rows in place with no extra collect job (guide §5 — the
        driver should do almost no data work, and these rows are
        ALREADY on the driver). EMPTY frames matter even more: the
        classic path's RDD backing has UNKNOWN cardinality, so
        Catalyst cannot fold it — a change feed's structurally-empty
        side (every pure append) then rides the whole refresh plan as
        a dead union leg. A zero-row SELECT is a true empty
        LocalRelation, which PropagateEmptyRelation erases from
        unions/joins at optimization time. Any conversion edge (exotic
        types, Arrow disabled) falls back to the classic verifier
        path, which is behaviorally identical, just RDD-backed.

        Small fully-hashable frames are MEMOIZED per engine (r16,
        guide §5): statement reports ('OK', refresh reports), empty
        scan sides and per-fileset fill maps recur constantly across a
        session's statements, and each construction is 3–5 py4j
        round-trips (~0.05–0.08s measured). A DataFrame is an immutable
        plan, so same rows + same schema → the same frame is safe to
        hand out again; the memo is content-keyed and bounded."""
        rows = list(rows)
        memo_key = None
        if len(rows) <= 64:
            try:
                memo_key = (tuple(map(tuple, rows)),
                            schema if isinstance(schema, str)
                            else schema.json())
                hash(memo_key)
            except TypeError:
                memo_key = None           # unhashable cell — build fresh
        if memo_key is not None:
            memo = getattr(self, "_local_df_memo", None)
            if memo is None:
                memo = self._local_df_memo = {}
            hit = memo.get(memo_key)
            if hit is not None:
                return hit
            out = self._local_df_build(rows, schema)
            if len(memo) >= 256:          # bounded — recurring frames
                memo.clear()              # are few; churn just rebuilds
            memo[memo_key] = out
            return out
        return self._local_df_build(rows, schema)

    def _local_df_build(self, rows, schema) -> DataFrame:
        if not rows:
            try:
                sch = (T.StructType.fromDDL(schema)
                       if isinstance(schema, str) else schema)
                items = ", ".join(
                    f"CAST(NULL AS {f.dataType.simpleString()}) AS "
                    f"`{f.name}`" for f in sch.fields)
                return self.spark.sql(f"SELECT {items} WHERE 1=0")
            except Exception:
                pass
        elif self._arrow_local:
            try:
                import pandas as pd
                sch = (T.StructType.fromDDL(schema)
                       if isinstance(schema, str) else schema)
                pdf = pd.DataFrame(rows,
                                   columns=[f.name for f in sch.fields])
                return self.spark.createDataFrame(pdf, sch)
            except Exception:
                pass
        return self.spark.createDataFrame(rows, schema)

    @property
    def _arrow_local(self) -> bool:
        """Arrow-backed createDataFrame(pandas) is what yields the
        LocalRelation; without it the pandas detour adds nothing."""
        cached = getattr(self, "_arrow_local_cache", None)
        if cached is None:
            cached = (self.spark.conf.get(
                "spark.sql.execution.arrow.pyspark.enabled",
                "false").lower() == "true")
            self._arrow_local_cache = cached
        return cached

    # --- identifier resolution ----------------------------------------------

    @staticmethod
    def _split(name: str) -> tuple[str, str]:
        parts = name.replace("`", "").split(".")
        if len(parts) == 3:               # catalog.ns.table → drop catalog
            parts = parts[1:]
        if len(parts) != 2:
            raise ValueError(f"expected ns.table, got {name!r}")
        return parts[0], parts[1]

    # A catalog reference, matched on the ref view (no match starts in a
    # literal or comment; an `olympia.` catalog prefix is dropped): a
    # table in a saved distributed transaction, `sys.dtxns`, or `ns.obj`
    # with an optional `$files|$history|$partitions` suffix or `VERSION
    # AS OF n|'<tag>'` / `TIMESTAMP AS OF '<ts>'` clause.
    _REF_RE = re.compile(
        r"(?:\bolympia\.)?(?:"
        r"\bsys\.dtxns\.dtxn_(?P<dtxn>[\w-]+)\.(?P<dns>\w+)\.(?P<dtbl>\w+)"
        r"|(?P<sys>\bsys\.dtxns\b)"
        r"|`?\b(?P<ns>\w+)\b`?\.`?\b(?P<obj>\w+)\b`?(?:"
        r"\$(?P<meta>files|history|partitions)"
        r"|\s+(?i:VERSION\s+AS\s+OF)\s+(?P<version>\d+)\b"
        r"|\s+(?P<asof>(?i:VERSION|TIMESTAMP))\s+(?i:AS\s+OF)\s+"
        r"'(?P<lit>[^']+)')?)")

    def _referenced_tables(self, sql: str, txn: Transaction):
        """Catalog tables/views whose `ns.name` the SQL references (the
        `ns.obj` matches :meth:`_resolve_sql` binds, never text inside a
        literal or comment) — each found by a point lookup."""
        refs = set()
        for m in self._REF_RE.finditer(sqltext.ref_view(sql)):
            ns, obj = m.group("ns"), m.group("obj")
            if ns and (self.catalog.table_exists(txn, ns, obj)
                       or self.catalog.view_exists(txn, ns, obj)):
                refs.add((ns, obj))
        return refs

    def _resolve_sql(self, sql: str, txn: Transaction,
                     scope: _StatementScope) -> str:
        """``sql`` with each catalog reference replaced by the name its
        frame is bound under in ``scope`` (SURVEY §3.1 rebuild flow).
        Plain `ns.obj` reads ``txn``; a view expands through its own
        resolved SQL; a `ns.obj` that is no table or view (an alias-
        qualified column) is left as written. Each is a point lookup
        (tree descent, A19): O(statement), not O(catalog)."""
        found: dict[tuple, str | None] = {}
        out, pos = [], 0
        for m in self._REF_RE.finditer(sqltext.ref_view(sql)):
            g = m.groupdict()
            plain = not (g["dtxn"] or g["sys"] or g["meta"]
                         or g["version"] or g["asof"])
            key = (("obj", g["ns"], g["obj"]) if plain
                   else (sql[m.start():m.end()],))
            if key not in found:
                df = self._ref_frame(g, sql[m.start("lit"):m.end("lit")],
                                     txn)
                found[key] = (None if df is None
                              else scope.bind(df, *key))
            if found[key]:
                out += [sql[pos:m.start()], found[key]]
                pos = m.end()
        return "".join(out) + sql[pos:]

    def _ref_frame(self, g: dict, lit: str,
                   txn: Transaction) -> DataFrame | None:
        """The frame of one :data:`_REF_RE` match (``lit``: its AS OF
        literal), or None for a `ns.obj` that is no table or view. Time
        travel reads the catalog's root chain (A27/A28): the whole
        catalog is versioned, not one table. A dtxn reference reads the
        saved transaction's tree (A36, reference docs/spark.md:110)."""
        if g["dtxn"]:
            return self.read_table(
                f"{g['dns']}.{g['dtbl']}",
                self.catalog.load_dist_transaction(g["dtxn"]),
                historical=True)
        if g["sys"]:
            return self._sys_dtxns_df()
        name = f"{g['ns']}.{g['obj']}"
        if g["meta"]:
            return {"files": self.table_files,
                    "history": self.table_history,
                    "partitions": self.table_partitions}[g["meta"]](name)
        if g["version"] or (g["asof"] or "").upper() == "VERSION":
            # a tag resolves to its pinned version, then time-travels
            # exactly as the numeric form does
            snap = self.catalog.at_version(
                int(g["version"]) if g["version"]
                else self.catalog.resolve_tag(lit))
        elif g["asof"]:
            import datetime as _dt
            parsed = _dt.datetime.fromisoformat(lit)
            if parsed.tzinfo is None:   # naive timestamps mean UTC;
                parsed = parsed.replace(tzinfo=_dt.timezone.utc)
            snap = self.catalog.before_timestamp(
                int(parsed.timestamp() * 1000))  # offsets honored
        elif self.catalog.table_exists(txn, g["ns"], g["obj"]):
            return self.read_table(name, txn)
        elif self.catalog.view_exists(txn, g["ns"], g["obj"]):
            return self.read_view(name, txn)
        else:
            return None
        return self.read_table(name, snap, historical=True)

    def _query(self, sql: str, txn: Transaction) -> DataFrame:
        """``sql`` analyzed over the catalog objects it names, read at
        ``txn``; the names they were bound under are gone on return."""
        with _StatementScope(self.spark) as scope:
            return self.spark.sql(self._resolve_sql(sql, txn, scope))

    def _resolve_expr(self, expr, txn: Transaction,
                      scope: _StatementScope):
        """A DML expression (UPDATE SET, MERGE ON/WHEN/SET), or a dict of
        them, with subqueries' references bound like a statement's.
        Without a subquery a dotted name can only be a column or a
        field, and the text (or None, or a clause's kind) is kept."""
        if isinstance(expr, dict):
            return {c: self._resolve_expr(e, txn, scope)
                    for c, e in expr.items()}
        if expr and re.search(r"\bSELECT\b", expr, re.I):
            return self._resolve_sql(expr, txn, scope)
        return expr

    # --- metadata virtual tables --------------------------------------------

    @staticmethod
    def _refuse_governed_metadata(tdef: TableDef, name: str,
                                  what: str) -> None:
        """Fail-closed metadata perimeter (same stance as the Iceberg
        export refusal, engine governance perimeter): per-file /
        per-partition listings carry paths, min/max stats and EXACT row
        counts — enough to reveal the existence and volume of rows a
        row filter hides, and stat boundaries of masked columns. A
        governed table therefore refuses them outright rather than
        serving a 'metadata-only' side channel."""
        if any(k.startswith("policy.") for k in tdef.properties):
            raise ValueError(
                f"{what}: {name} has an active row filter or column "
                f"mask — per-file/partition metadata (paths, stats, "
                f"exact row counts) would reveal the existence and "
                f"volume of policy-hidden rows; DROP the policies or "
                f"inspect a policy-applied CTAS copy instead")

    def table_files(self, name: str) -> DataFrame:
        """`ns.t$files` — the tracked file inventory with stats (the
        engine-side analogue of Iceberg's files metadata table).
        Refused on governed tables (fail-closed, like export)."""
        import json as _json
        ns, tbl = self._split(name)
        # ambient explicit txn or a READ-ONLY snapshot
        txn = self.current_txn or self.catalog.begin(read_only=True)
        tdef = self.catalog.describe_table(txn, ns, tbl)
        self._refuse_governed_metadata(tdef, f"{ns}.{tbl}", "$files")
        rows = [(f.path, f.num_rows, f.size_bytes, _json.dumps(f.stats))
                for f in tdef.data_files]
        return self._local_df(
            rows, "path string, num_rows long, size_bytes long, stats string")

    def table_history(self, name: str) -> DataFrame:
        """`ns.t$history` — catalog versions at which this table's def
        pointer changed (created/altered/written), newest first."""
        ns, tbl = self._split(name)
        key = self.catalog._tbl_key(ns, tbl)
        latest = self.catalog.tree.load_latest_root()
        rows = []
        prev_ptr = object()
        for root in reversed(list(self.catalog.tree.list_roots(latest))):
            ptr = self.catalog.tree.search(root, key)
            if ptr != prev_ptr and not (ptr is None and not rows):
                rows.append((root.version, root.created_at_millis,
                             ptr is not None))
            if ptr != prev_ptr:
                prev_ptr = ptr
        rows.reverse()
        return self._local_df(
            rows, "version long, made_at_millis long, exists boolean")

    def table_partitions(self, name: str) -> DataFrame:
        """`ns.t$partitions` — per-partition file/row totals from the
        tracked stats (no data scan). Refused on governed tables
        (fail-closed, like export)."""
        import json as _json
        ns, tbl = self._split(name)
        # ambient explicit txn or a READ-ONLY snapshot
        txn = self.current_txn or self.catalog.begin(read_only=True)
        tdef = self.catalog.describe_table(txn, ns, tbl)
        self._refuse_governed_metadata(tdef, f"{ns}.{tbl}", "$partitions")
        agg: dict[str, list[int]] = {}
        for f in tdef.data_files:
            part = _json.dumps({c: f.stats.get(c, [None])[0]
                                for c in tdef.partition_by})
            cur = agg.setdefault(part, [0, 0, 0])
            cur[0] += 1
            cur[1] += max(f.num_rows, 0)
            cur[2] += max(f.size_bytes, 0)
        rows = [(p, n, r, b) for p, (n, r, b) in sorted(agg.items())]
        return self._local_df(
            rows, "partition string, n_files long, num_rows long, "
                  "size_bytes long")

    # --- system namespace virtualization (A36) ------------------------------

    def _sys_dtxns_df(self) -> DataFrame:
        """`sys.dtxns` — the catalog itself as a queryable table
        (docs/iceberg.md:73-179)."""
        from olympia_spark.catalog.defs import read_def
        rows = []
        for txn_id in self.catalog.list_dist_transactions():
            # NON-raising read surface: an ambiguous (both-suffix)
            # handle must still show up here — observability is how the
            # user finds and fixes the duplicate; only RESUME refuses
            # (review r11 pass-3 #2). Own-format copy first.
            paths = self.catalog.dtxn_def_paths(txn_id)
            if not paths:
                continue
            d = read_def(self.catalog.storage.read(paths[0]), paths[0])
            rows.append((d.id, d.isolation_level, d.began_at_millis,
                         d.expire_at_millis, len(d.actions)))
        schema = ("txn_id string, isolation_level string, "
                  "began_at_millis long, expire_at_millis long, n_actions int")
        return self._local_df(rows, schema)

    def begin_dist(self) -> str:
        """Create a persisted distributed transaction; returns its id
        (reference: CREATE DATABASE sys.dtxns.dtxn_x, docs/spark.md:110-142)."""
        if self.current_txn is None:
            self.begin()
        self.catalog.save_dist_transaction(self.current_txn)
        return self.current_txn.id

    def resume_dist(self, txn_id: str) -> None:
        self.current_txn = self.catalog.load_dist_transaction(txn_id)

    # --- SQL front-end (A35) ------------------------------------------------

    def sql(self, statement: str) -> DataFrame:
        """Single entry point: txn gate → DDL/DML → delegate."""
        norm = sqltext.normalize(statement)
        spark = self.spark

        def ok(msg: str = "OK") -> DataFrame:
            return self._local_df([(msg,)], "result string")

        if _BEGIN_RE.match(norm):
            self.begin()
            return ok()
        if _COMMIT_RE.match(norm):
            self.commit()
            return ok()
        if _ROLLBACK_RE.match(norm):
            self.rollback()
            return ok()

        m = re.match(r"CREATE (?:NAMESPACE|DATABASE|SCHEMA)"
                     r"( IF NOT EXISTS)? (\S+)$", norm, re.I)
        if m:
            ns = m.group(2).replace("`", "")
            if ns == "sys":
                # A36: CREATE DATABASE sys = create the catalog itself
                # (docs/iceberg.md:73-179); the Engine constructor already
                # did, so this is idempotent success.
                return ok()
            with self._statement() as txn:
                if not (m.group(1) and self.catalog.namespace_exists(txn, ns)):
                    self.catalog.create_namespace(txn, ns)
            return ok()
        m = re.match(r"DROP (?:NAMESPACE|DATABASE|SCHEMA) (\S+?)"
                     r"( CASCADE| RESTRICT)?$", norm, re.I)
        if m:
            with self._statement() as txn:
                behavior = (DropNamespaceBehavior.CASCADE
                            if (m.group(2) or "").strip().upper() == "CASCADE"
                            else DropNamespaceBehavior.RESTRICT)
                self.catalog.drop_namespace(txn, m.group(1).replace("`", ""),
                                            behavior)
            return ok()
        if re.match(r"SHOW (?:NAMESPACES|DATABASES|SCHEMAS)$", norm, re.I):
            with self._statement() as txn:
                names = self.catalog.show_namespaces(txn)
            return self._local_df([(n,) for n in names],
                                         "namespace string")
        m = re.match(r"SHOW TABLES (?:IN|FROM) (\S+)$", norm, re.I)
        if m:
            ns = m.group(1).replace("`", "")
            if ns == "sys":
                return self._local_df([("dtxns",)], "table string")
            with self._statement() as txn:
                tables = self.catalog.show_tables(txn, ns)
            return self._local_df([(t,) for t in tables], "table string")
        m = re.match(r"SHOW VIEWS (?:IN|FROM) (\S+)$", norm, re.I)
        if m:
            with self._statement() as txn:
                views = self.catalog.show_views(
                    txn, m.group(1).replace("`", ""))
            return self._local_df([(v,) for v in views], "view string")
        m = re.match(r"DESCRIBE (?:NAMESPACE|DATABASE|SCHEMA) (\S+)$",
                     norm, re.I)
        if m:
            with self._statement() as txn:
                ndef = self.catalog.describe_namespace(
                    txn, m.group(1).replace("`", ""))
            rows = sorted(ndef.properties.items()) or [("", "")]
            return self._local_df(rows, "key string, value string")
        m = re.match(r"DESCRIBE HISTORY (\S+\.\S+)$", norm, re.I)
        if m:
            # Delta-style spelling for the $history metadata table
            return self.sql(f"SELECT * FROM {m.group(1)}$history")
        m = re.match(r"SHOW PARTITIONS (\S+\.\S+)$", norm, re.I)
        if m:
            # metadata-only (like DESCRIBE DETAIL): partition values
            # come from the hive PATH segments (url-decoded exactly
            # like the scan reconstructs them — stats values are
            # hive-escaped and int-coerced, which would show 'a%3Ab'
            # for 'a:b' and merge string partitions '0123'/'123'), so
            # the listing with per-partition file/row/byte counts never
            # opens a data file — at 100 TB the partition inventory a
            # maintenance planner walks must not cost a table scan.
            # Files predating the current spec (no hive segment) report
            # a NULL partition.
            from urllib.parse import unquote
            ns, tbl = self._split(m.group(1))
            with self._statement() as txn:
                tdef = self.catalog.describe_table(txn, ns, tbl)
            self._refuse_governed_metadata(tdef, f"{ns}.{tbl}",
                                           "SHOW PARTITIONS")
            if not tdef.partition_by:
                raise ValueError(
                    f"SHOW PARTITIONS: {ns}.{tbl} is not partitioned")
            pcols = [self._phys(tdef, c) for c in tdef.partition_by]

            def pval(path: str, col: str):
                seg = re.search("/" + re.escape(col) + "=([^/]+)/",
                                "/" + path)
                if seg is None:
                    return None
                raw = seg.group(1)
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    return None
                # Hive escapePathName leaves '+' unescaped (same
                # convention as the scan-side url_decode)
                return unquote(raw.replace("+", "%2B"))

            agg: dict[tuple, list[int]] = {}
            for f in tdef.data_files:
                key = tuple(pval(f.path, c) for c in pcols)
                cur = agg.setdefault(key, [0, 0, 0])
                cur[0] += 1
                cur[1] += f.num_rows
                cur[2] += f.size_bytes
            rows = [(*k, nf, nr, nb) for k, (nf, nr, nb) in
                    sorted(agg.items(),
                           key=lambda kv: tuple(
                               (x is None, x or "") for x in kv[0]))]
            schema = (", ".join(
                f"`{c}` string" for c in tdef.partition_by)
                + ", num_files long, num_rows long, size_bytes long")
            return self._local_df(rows, schema)
        m = re.match(r"DESCRIBE DETAIL (\S+\.\S+)$", norm, re.I)
        if m:
            # Delta-style one-row table inspection: physical layout facts
            # a maintenance job keys on (file count, bytes, rows from the
            # tracked stats — no data scan)
            ns, tbl = self._split(m.group(1))
            with self._statement() as txn:
                tdef = self.catalog.describe_table(txn, ns, tbl)
            return self._local_df(
                [(tdef.format, f"{_DATA_DIR}/{ns}/{tbl}",
                  len(tdef.data_files),
                  sum(f.size_bytes for f in tdef.data_files),
                  sum(f.num_rows for f in tdef.data_files),
                  ",".join(tdef.partition_by),
                  self.catalog.tree.find_latest_version())],
                "format string, location string, num_files long, "
                "size_bytes long, num_rows long, partition_by string, "
                "catalog_version long")
        m = re.match(r"DESCRIBE (?:TABLE )?(\S+\.\S+)$", norm, re.I)
        if m:
            ns, tbl = self._split(m.group(1))
            with self._statement() as txn:
                tdef = self.catalog.describe_table(txn, ns, tbl)
            fields = tdef.spark_schema().fields
            return self._local_df(
                [(f.name, f.dataType.simpleString()) for f in fields],
                "col_name string, data_type string")
        m = re.match(r"CREATE TABLE (\S+\.\S+) SHALLOW CLONE (\S+?\.\S+?)"
                     r"(?: VERSION AS OF (\d+))?$", norm, re.I)
        if m:
            n = self.clone_table(
                m.group(1), m.group(2),
                version=int(m.group(3)) if m.group(3) else None)
            return self._local_df([(n,)], "files_shared long")
        m = re.match(r"RESTORE TABLE (\S+\.\S+) TO VERSION AS OF (\d+)$",
                     norm, re.I)
        if m:
            add, rm = self.restore_table(m.group(1), int(m.group(2)))
            return self._local_df(
                [(add, rm)], "files_restored long, files_removed long")
        # The partition group is BALANCED-paren aware (one nesting level,
        # enough for transforms like bucket(16, id)): a greedy [\w, ()]+
        # could swallow a CTAS tail ending in ')' — e.g. `... PARTITIONED
        # BY (cat) AS SELECT count(x) FROM s GROUP BY (cat)` captured
        # `cat) AS SELECT ... (cat` and silently dropped the CTAS data.
        # The balanced form can never consume an unmatched ')'.
        m = re.match(r"CREATE( OR REPLACE)? TABLE( IF NOT EXISTS)? (\S+?)\s*"
                     r"(?:\((.+?)\))?"
                     r"\s*(?:PARTITIONED BY \(((?:[\w, ]|\([\w, ]*\))+)\))?"
                     r"\s*(?:CLUSTERED BY \(([\w, ]+)\) "
                     r"INTO (\d+) BUCKETS)?"
                     r"\s*(?:TBLPROPERTIES \((.+?)\))?"
                     r"\s*(?:AS (SELECT .+))?$",
                     norm, re.I | re.S)
        if m and re.match(r"CREATE( OR REPLACE)? TABLE", norm, re.I):
            (or_replace, if_not_exists, name, cols, part, clust_cols,
             clust_n, props_raw, ctas) = m.groups()
            ns, tbl = self._split(name)
            # paren-aware split: transform entries like bucket(16, id)
            # contain top-level-looking commas inside their parens
            partition_by = ([c.strip() for c in
                             sqltext.split_top_level(part)]
                            if part else [])
            properties = sqltext.key_values(props_raw or "")
            with self._statement() as txn:
                if if_not_exists and self.catalog.table_exists(txn, ns, tbl):
                    return ok()
                if or_replace and self.catalog.table_exists(txn, ns, tbl):
                    # one transaction: the drop and the recreate commit
                    # atomically (a reader never observes the gap)
                    self.catalog.drop_table(txn, ns, tbl)
                def bucket_spec(schema: T.StructType, pby: list) -> dict:
                    if not clust_cols:
                        return {}
                    return self._validate_bucket_spec(
                        {f.name for f in schema.fields}, pby,
                        [c.strip() for c in clust_cols.split(",")],
                        int(clust_n))

                if ctas:
                    df = self._query(ctas, txn)
                    partition_by, extra, tgen, tsp = \
                        self._expand_partition_transforms(partition_by,
                                                          df.schema)
                    schema = T.StructType(list(df.schema.fields) + extra)
                    tdef_new = TableDef(
                        schema_json=schema.json(),
                        partition_by=partition_by,
                        generated_columns=tgen,
                        bucket_by=bucket_spec(schema, partition_by),
                        properties={**properties,
                                    **{f"iceberg.transform.{k}": v
                                       for k, v in tsp.items()}})
                    self.catalog.create_table(txn, ns, tbl, tdef_new)
                    files = self._write_files(df, ns, tbl, partition_by,
                                              tdef=tdef_new)
                    self.catalog.update_table_files(
                        txn, ns, tbl, files, [], ActionType.TABLE_INSERT,
                        {"added": [f.path for f in files]})
                else:
                    plain, gen, cons = self._split_generated_columns(cols)
                    schema = T.StructType.fromDDL(plain)
                    for g in gen:
                        if g not in {f.name for f in schema.fields}:
                            raise ValueError(
                                f"generated column {g} missing from schema")
                    partition_by, extra, tgen, tsp = \
                        self._expand_partition_transforms(partition_by,
                                                          schema)
                    if extra:
                        dup = set(tgen) & set(gen)
                        if dup:
                            raise ValueError(
                                f"partition transform column(s) collide "
                                f"with declared generated columns: "
                                f"{sorted(dup)}")
                        schema = T.StructType(list(schema.fields) + extra)
                        gen = {**gen, **tgen}
                        properties = {**properties,
                                      **{f"iceberg.transform.{k}": v
                                         for k, v in tsp.items()}}
                    # constraint/generated expressions must ANALYZE against
                    # the declared schema NOW — a typo'd column name caught
                    # at DDL time, not as an AnalysisException bricking the
                    # first insert
                    probe = self._local_df([], schema)
                    for label, exprs in (("CHECK constraint", cons),
                                         ("generated column", gen)):
                        for ename, eexpr in exprs.items():
                            try:
                                probe.select(F.expr(eexpr)).schema
                            except Exception as e:
                                raise ValueError(
                                    f"{label} {ename}: expression "
                                    f"({eexpr}) does not resolve against "
                                    f"the table schema") from e
                    self.catalog.create_table(txn, ns, tbl, TableDef(
                        schema_json=schema.json(), partition_by=partition_by,
                        generated_columns=gen, constraints=cons,
                        bucket_by=bucket_spec(schema, partition_by),
                        properties=properties))
            return ok()
        m = re.match(r"CREATE( OR REPLACE)? TAG ([\w.-]+)"
                     r"(?: AS OF VERSION (\d+))?$", norm, re.I)
        if m:
            v = self.catalog.create_tag(
                m.group(2),
                version=int(m.group(3)) if m.group(3) else None,
                replace=bool(m.group(1)))
            return self._local_df([(v,)], "version long")
        m = re.match(r"DROP TAG ([\w.-]+)$", norm, re.I)
        if m:
            self.catalog.drop_tag(m.group(1))
            return ok()
        if re.match(r"SHOW TAGS$", norm, re.I):
            rows = sorted(self.catalog.list_tags().items()) or None
            return (self._local_df(rows, "tag string, version long")
                    if rows else self._local_df(
                        [], "tag string, version long"))
        m = re.match(r"SHOW CREATE TABLE (\S+\.\S+)$", norm, re.I)
        if m:
            ns, tbl = self._split(m.group(1))
            with self._statement() as txn:
                tdef = self.catalog.describe_table(txn, ns, tbl)
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                + (f" GENERATED ALWAYS AS "
                   f"({tdef.generated_columns[f.name]})"
                   if f.name in tdef.generated_columns else "")
                for f in tdef.spark_schema().fields)
            for cname, cexpr in sorted(tdef.constraints.items()):
                cols += f", CONSTRAINT {cname} CHECK ({cexpr})"
            ddl = f"CREATE TABLE {ns}.{tbl} ({cols})"
            if tdef.partition_by:
                ddl += f" PARTITIONED BY ({', '.join(tdef.partition_by)})"
            if tdef.bucket_by:
                ddl += (f" CLUSTERED BY "
                        f"({', '.join(tdef.bucket_by['columns'])}) "
                        f"INTO {tdef.bucket_by['num_buckets']} BUCKETS")
            props = {k: v for k, v in sorted(tdef.properties.items())
                     if k != self._STATS_PROP}
            if props:
                kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
                ddl += f" TBLPROPERTIES ({kv})"
            return self._local_df([(ddl,)], "createtab_stmt string")
        m = re.match(r"ANALYZE TABLE (\S+\.\S+) COMPUTE STATISTICS"
                     r"(?: FOR COLUMNS ([\w, ]+))?$", norm, re.I)
        if m:
            cols = ([c.strip() for c in m.group(2).split(",")]
                    if m.group(2) else None)
            stats = self.analyze_table(m.group(1), cols)
            return self._local_df(
                [(stats["row_count"], len(stats["columns"]))],
                "row_count long, n_columns long")
        m = re.match(r"SHOW STATS (?:FOR )?(\S+\.\S+)$", norm, re.I)
        if m:
            return self.show_stats(m.group(1))
        m = re.match(r"OPTIMIZE (?:TABLE )?(\S+\.\S+)"
                     r"(?: ZORDER BY \(([\w, ]+)\))?$", norm, re.I)
        if m:
            zcols = ([c.strip() for c in m.group(2).split(",")]
                     if m.group(2) else None)
            n = self.compact_table(m.group(1), zorder_by=zcols)
            return self._local_df([(n,)], "files_removed long")
        if re.match(r"VACUUM$", norm, re.I):
            removed = self.remove_orphan_files()
            return self._local_df([(len(removed),)],
                                         "orphans_removed long")
        m = re.match(r"COPY INTO (\S+\.\S+) FROM\s+(\([^)]+\)|'[^']+')"
                     r"(?:\s+FILEFORMAT\s*=\s*(\w+))?"
                     r"(?:\s+OPTIONS\s*\((.*?)\))?$", norm, re.I | re.S)
        if m:
            name, src, fmt, opts_raw = m.groups()
            src_paths = [sqltext.word(p) for p in sqltext.split_top_level(
                src[1:-1] if src.startswith("(") else src)]
            loaded, rows, skipped = self.copy_into(
                name, *src_paths, format=(fmt or "parquet"),
                options=sqltext.key_values(opts_raw or ""))
            return self._local_df(
                [(loaded, rows, skipped)],
                "files_loaded long, rows_loaded long, files_skipped long")
        m = re.match(r"TRUNCATE TABLE (\S+\.\S+)$", norm, re.I)
        if m:
            ns, tbl = self._split(m.group(1))
            with self._statement() as txn:
                tdef = self.catalog.describe_table(txn, ns, tbl)
                self._require_native(tdef, m.group(1), "TRUNCATE")
                self._mv_guard(tdef, m.group(1), "TRUNCATE")
                self.catalog.update_table_files(
                    txn, ns, tbl, [], tdef.file_paths(), ActionType.TABLE_DELETE,
                    {"added": [], "removed": tdef.file_paths(),
                     "expression": "true"})
            return ok()
        m = re.match(r"DROP TABLE( IF EXISTS)? (\S+\.\S+)$", norm, re.I)
        if m:
            ns, tbl = self._split(m.group(2))
            with self._statement() as txn:
                try:
                    self.catalog.drop_table(txn, ns, tbl)
                except ObjectNotFoundError:
                    if not m.group(1):
                        raise
            return ok()
        m = re.match(r"CREATE( OR REPLACE)? MATERIALIZED VIEW (\S+\.\S+) "
                     r"AS (.+)$", norm, re.I | re.S)
        if m:
            self.create_materialized_view(m.group(2), m.group(3),
                                          replace=bool(m.group(1)))
            return ok()
        m = re.match(r"REFRESH MATERIALIZED VIEW (\S+\.\S+)"
                     r"( FULL)?( CASCADE)?$", norm, re.I)
        if m:
            if m.group(3):
                return self.refresh_materialized_view_cascade(
                    m.group(1), full=bool(m.group(2)))
            return self.refresh_materialized_view(
                m.group(1), full=bool(m.group(2)))
        m = re.match(r"DROP MATERIALIZED VIEW (\S+\.\S+)$", norm, re.I)
        if m:
            ns, tbl = self._split(m.group(1))
            with self._statement() as txn:
                tdef = self.catalog.describe_table(txn, ns, tbl)
                if not tdef.properties.get(self._MV_QUERY_PROP):
                    raise ValueError(
                        f"{ns}.{tbl} is not a materialized view "
                        f"(use DROP TABLE)")
                self.catalog.drop_table(txn, ns, tbl)
            return ok()
        m = re.match(r"(?:CREATE( OR REPLACE)? (GLOBAL )?TEMP(?:ORARY)? VIEW"
                     r"|CACHE( LAZY)? (TABLE)) (\S+?)(?:\s*\(([^)]*)\))? AS "
                     r"(.+)$", norm, re.I | re.S)
        if m:
            # the user's own session view (CREATE TEMP VIEW, CACHE TABLE
            # ... AS) is the bound frame, pinned at creation: a SQL view
            # re-resolves its text on read, after the names are dropped
            replace, glob, lazy, cache, view, cols, query = m.groups()
            with self._statement() as txn:
                df = self._query(query, txn)
            if cols:
                df = df.toDF(*[c.strip().strip("`")
                               for c in sqltext.split_top_level(cols)])
            getattr(df, f"create{'OrReplace' if replace else ''}"
                        f"{'Global' if glob else ''}TempView")(view)
            if cache:
                spark.catalog.cacheTable(view)
                if not lazy:
                    spark.table(view).count()     # CACHE TABLE is eager
            return ok()
        m = re.match(r"CREATE( OR REPLACE)? VIEW (\S+\.\S+) AS (.+)$",
                     norm, re.I | re.S)
        if m:
            self.create_view(m.group(2), m.group(3),
                             replace=bool(m.group(1)))
            return ok()
        m = re.match(r"DROP VIEW (\S+\.\S+)$", norm, re.I)
        if m:
            ns, view = self._split(m.group(1))
            with self._statement() as txn:
                self.catalog.drop_view(txn, ns, view)
            return ok()
        m = re.match(r"INSERT (INTO|OVERWRITE)(?: TABLE)? (\S+?\.\S+?)"
                     r"\s*(\(.+|VALUES.+|SELECT.+|WITH.+|FROM.+"
                     r"|REPLACE\s+WHERE\s+.+)$",
                     norm, re.I | re.S)
        if m:
            kind, name, payload = m.groups()
            replace_pred = None
            mrw = re.match(r"REPLACE\s+WHERE\b", payload, re.I)
            if mrw:
                if kind.upper() != "OVERWRITE":
                    raise ValueError(
                        "REPLACE WHERE requires INSERT OVERWRITE")
                rest = payload[mrw.end():]
                # split predicate from payload at the first TOP-LEVEL
                # SELECT/VALUES/WITH (string- and paren-aware): a lazy
                # regex would cut inside `id IN (SELECT ...)` or inside a
                # string literal containing the word
                rest_code = sqltext.code_view(rest)
                cuts = [p for p in (sqltext.find_kw(rest_code, k) for k in
                                    ("SELECT", "VALUES", "WITH"))
                        if p is not None]
                if not cuts:
                    raise ValueError(
                        "REPLACE WHERE: no SELECT/VALUES payload found "
                        "after the predicate")
                cut = min(cuts)
                replace_pred, payload = rest[:cut].strip(), rest[cut:]
                if not replace_pred:
                    raise ValueError("REPLACE WHERE: empty predicate")
            mode = "overwrite" if kind.upper() == "OVERWRITE" else "append"
            ns, tbl = self._split(name)
            # VALUES has no source to read: unless REPLACE WHERE hands the
            # rows on, the write runs in this statement's transaction. A
            # query source is read in a transaction of its own.
            with self._statement() as txn:
                tdef_ins = self.catalog.describe_table(txn, ns, tbl)
                self._mv_guard(tdef_ins, name, "INSERT")
                schema = tdef_ins.spark_schema()
                col_list: list[str] | None = None
                if payload.startswith("("):
                    # explicit column list: INSERT INTO t (a, b) VALUES/SELECT
                    end = sqltext.match_paren(sqltext.code_view(payload), 0)
                    col_list = [c.strip().strip("`") for c in
                                sqltext.split_top_level(payload[1:end - 1])]
                    payload = payload[end:].strip()
                    unknown = set(col_list) - {f.name for f in schema.fields}
                    if unknown:
                        raise ValueError(
                            f"INSERT: column(s) {sorted(unknown)} do not "
                            f"exist in {name}")
                target_cols = col_list or [f.name for f in schema.fields]
                values = re.match(r"VALUES", payload, re.I)
                if values:
                    if col_list is None and tdef_ins.generated_columns:
                        # hidden-partitioning ergonomics: a bare VALUES
                        # insert may supply only the non-generated columns
                        # (the engine owns generated ones and recomputes
                        # them at the writer regardless) — the tuple arity
                        # decides which binding applies. EVERY tuple's arity
                        # is checked up front: binding by the first tuple
                        # alone would send a mixed-arity list downstream to
                        # a Spark error that never mentions this binding.
                        arities = []
                        code = sqltext.code_view(payload)
                        i0 = code.find("(")
                        while i0 != -1:
                            end = sqltext.match_paren(code, i0)
                            arities.append(len(sqltext.split_top_level(
                                payload[i0 + 1:end - 1])))
                            i0 = code.find("(", end)
                        plain_cols = [f.name for f in schema.fields
                                      if f.name not in
                                      tdef_ins.generated_columns]
                        if len(set(arities)) > 1:
                            raise ValueError(
                                f"INSERT VALUES: tuples have differing "
                                f"arities {sorted(set(arities))}; a bare "
                                f"VALUES insert into a table with generated "
                                f"columns binds either all {len(target_cols)}"
                                f" columns or the {len(plain_cols)} "
                                f"non-generated ones — every tuple must "
                                f"supply the same count")
                        arity = arities[0]
                        if (arity == len(plain_cols)
                                and arity != len(target_cols)):
                            target_cols = plain_cols
                else:
                    df = self._query(payload, txn)
                    if col_list is not None:
                        # explicit column list: positional mapping (SQL
                        # semantics). Without a list the query's own column
                        # names bind to the table's (order-insensitive).
                        if len(df.columns) != len(target_cols):
                            raise ValueError(
                                f"INSERT: query produces {len(df.columns)} "
                                f"column(s), target list has "
                                f"{len(target_cols)}")
                        df = df.toDF(*target_cols)
                if col_list is not None or values:
                    # align to the full table schema: listed columns cast to
                    # their declared types, unlisted columns fill with NULL
                    provided = set(target_cols)
                    q = sqltext.ident
                    items = [
                        f"CAST({q(f.name) if f.name in provided else 'NULL'}"
                        f" AS {sqltext.type_text(f.dataType)}) AS {q(f.name)}"
                        for f in schema.fields]
                    df = (spark.sql(f"SELECT {', '.join(items)} "
                                    f"FROM ({payload}) "
                                    f"AS v({', '.join(target_cols)})")
                          if values else df.selectExpr(*items))
                if values and replace_pred is None:
                    self._write_table(txn, df, name, mode)
            if values and replace_pred is None:
                if mode != "overwrite":
                    self._maybe_autocompact(ns, tbl)
                return ok()
            if replace_pred is not None:
                n = self.replace_where(name, df, replace_pred)
                return self._local_df(
                    [(n,)], "rows_affected long")
            self.write_table(df, name, mode=mode)
            return ok()
        m = re.match(
            r"MERGE(\s+WITH SCHEMA EVOLUTION)? INTO (\S+\.\S+)(?:\s+AS)?"
            r"\s+(\w+)\s+USING\s+(.+?)"
            r"(?:\s+AS)?\s+(\w+)\s+ON\s+(.+?)\s+(WHEN\s+.+)$",
            norm, re.I | re.S)
        if m:
            evolve, name, t_alias, src_text, s_alias, on, whens = m.groups()
            src_text = src_text.strip()
            with self._statement() as txn_src:
                if src_text.startswith("("):
                    src_df = self._query(src_text[1:-1], txn_src)
                else:
                    src_df = self._query(f"SELECT * FROM {src_text}", txn_src)
            matched_clauses, not_matched_clauses, by_source_clauses = \
                self._parse_merge_whens(whens)
            n = self.merge(name, src_df, on,
                           target_alias=t_alias, source_alias=s_alias,
                           matched_clauses=matched_clauses,
                           not_matched_clauses=not_matched_clauses,
                           not_matched_by_source_clauses=by_source_clauses,
                           schema_evolution=bool(evolve))
            return self._local_df([(n,)], "rows_affected long")
        m = re.match(r"DELETE FROM (\S+\.\S+)(?: WHERE (.+))?$",
                     norm, re.I | re.S)
        if m:
            n = self.delete_from(m.group(1), m.group(2) or "true")
            return self._local_df([(n,)], "rows_affected long")
        m = re.match(r"UPDATE (\S+\.\S+) SET (.+)$", norm, re.I | re.S)
        if m:
            name, sets = m.groups()
            # split at the first code WHERE at depth 0 — never one inside
            # a literal or a parenthesized subquery on the SET side
            at = sqltext.find_kw(sqltext.code_view(sets), "WHERE")
            pred = None
            if at is not None:
                sets, pred = sets[:at].strip(), sets[at + 5:].strip()
            assignments = {}
            for part in sqltext.split_top_level(sets):
                col, _, expr = part.partition("=")
                assignments[col.strip()] = expr.strip()
            n = self.update(name, assignments, pred or "true")
            return self._local_df([(n,)], "rows_affected long")

        m = re.match(r"ALTER TABLE (\S+\.\S+) SET ROW FILTER "
                     r"\((.+)\)$", norm, re.I | re.S)
        if m:
            self.set_row_filter(m.group(1), m.group(2))
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) DROP ROW FILTER$",
                     norm, re.I)
        if m:
            self.drop_row_filter(m.group(1))
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) ALTER COLUMN (\w+) "
                     r"SET MASK \((.+)\)$", norm, re.I | re.S)
        if m:
            self.set_column_mask(m.group(1), m.group(2), m.group(3))
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) ALTER COLUMN (\w+) "
                     r"DROP MASK$", norm, re.I)
        if m:
            self.drop_column_mask(m.group(1), m.group(2))
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) ADD CONSTRAINT (\w+) "
                     r"CHECK\s*\((.+)\)$", norm, re.I | re.S)
        if m:
            self.add_constraint(m.group(1), m.group(2), m.group(3))
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) DROP CONSTRAINT (\w+)$",
                     norm, re.I)
        if m:
            self.drop_constraint(m.group(1), m.group(2))
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) ADD PARTITION FIELD (.+)$",
                     norm, re.I)
        if m:
            self.add_partition_field(m.group(1), m.group(2).strip())
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) DROP PARTITION FIELD (.+)$",
                     norm, re.I)
        if m:
            self.drop_partition_field(m.group(1), m.group(2).strip())
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) ADD COLUMNS?\s*\((.+)\)$",
                     norm, re.I)
        if m:
            self.add_columns(m.group(1), T.StructType.fromDDL(m.group(2)))
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) DROP COLUMNS?\s*\(?([\w, ]+)\)?$",
                     norm, re.I)
        if m:
            self.drop_columns(m.group(1),
                              [c.strip() for c in m.group(2).split(",")])
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) RENAME COLUMN (\w+)"
                     r" TO (\w+)$", norm, re.I)
        if m:
            self.rename_column(m.group(1), m.group(2), m.group(3))
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) RENAME TO (\S+?)(?:\.(\S+))?$",
                     norm, re.I)
        if m:
            ns, tbl = self._split(m.group(1))
            new_ns, new_tbl = ((m.group(2), m.group(3)) if m.group(3)
                               else (ns, m.group(2)))
            with self._statement() as txn:
                self.catalog.rename_table(txn, ns, tbl, new_ns, new_tbl)
            return ok()
        m = re.match(r"ALTER TABLE (\S+\.\S+) SET (?:TBL)?PROPERTIES"
                     r"\s*\((.+)\)$", norm, re.I)
        if m:
            ns, tbl = self._split(m.group(1))
            with self._statement() as txn:
                tdef = self.catalog.describe_table(txn, ns, tbl)
                tdef.properties.update(sqltext.key_values(m.group(2)))
                # pointer defs persist pointer-minimal (review r12 pass-3:
                # committing the hydrated def froze the pointer)
                self.catalog.alter_table(txn, ns, tbl,
                                         self._persistable(tdef))
            return ok()
        m = re.match(r"ALTER (?:NAMESPACE|DATABASE|SCHEMA) "
                     r"sys\.dtxns\.dtxn_([\w-]+) SET (?:DB)?PROPERTIES\s*"
                     r"\(\s*'commit'\s*=\s*'true'\s*\)$", norm, re.I)
        if m:
            # A36: committing a distributed transaction through SQL
            # (reference OlympiaIcebergCatalog.java:140-256, docs/spark.md)
            dtxn = self.catalog.load_dist_transaction(m.group(1))
            self.catalog.commit(dtxn)
            return ok()
        m = re.match(r"ALTER (?:NAMESPACE|DATABASE|SCHEMA) (\S+) SET "
                     r"(?:DB)?PROPERTIES\s*\((.+)\)$", norm, re.I)
        if m:
            with self._statement() as txn:
                self.catalog.set_namespace_properties(
                    txn, m.group(1).replace("`", ""),
                    sqltext.key_values(m.group(2)))
            return ok()
        m = re.match(r"ALTER (?:NAMESPACE|DATABASE|SCHEMA) (\S+) UNSET "
                     r"(?:DB)?PROPERTIES\s*\((.+)\)$", norm, re.I)
        if m:
            with self._statement() as txn:
                self.catalog.unset_namespace_properties(
                    txn, m.group(1).replace("`", ""),
                    [sqltext.word(k)
                     for k in sqltext.split_top_level(m.group(2))])
            return ok()

        m = re.match(r"EXPLAIN(?: (EXTENDED|FORMATTED|COST|CODEGEN))?\s+(.+)$",
                     norm, re.I | re.S)
        if m:
            # EXPLAIN over the FULL engine query surface (views, time
            # travel, QUALIFY/EXCLUDE rewrites, sys tables) by recursing
            # through sql() for the inner query — restricted to read
            # queries: EXPLAIN DELETE would otherwise EXECUTE the DML
            if not re.match(r"(SELECT|WITH|VALUES|TABLE|FROM)\b",
                            m.group(2), re.I):
                raise ValueError(
                    "EXPLAIN supports read queries "
                    "(SELECT/WITH/VALUES/TABLE) only")
            # Spark admits DML BEHIND those prefixes too (multi-insert
            # `FROM t INSERT ...`, CTE-led `WITH c AS (...) INSERT`) —
            # recursing would EXECUTE it; refuse on a keyword scan over
            # the statement with backticked identifiers, literals and
            # comments removed (review r12 s2 passes 4+5). A BARE
            # alias/CTE named `update` etc. is still refused — the
            # conservative direction; quote it in backticks or run the
            # query directly.
            stripped = sqltext.scrub(m.group(2))
            if re.search(r"\b(INSERT|MERGE|DELETE|UPDATE)\b",
                         stripped, re.I):
                raise ValueError(
                    "EXPLAIN supports read queries only — the statement "
                    "contains a DML keyword (a bare identifier with a "
                    "DML name is refused conservatively; backtick-quote "
                    "it or run the query directly)")
            inner = self.sql(m.group(2))
            jmode = spark._jvm.org.apache.spark.sql.execution \
                .ExplainMode.fromString((m.group(1) or "simple").lower())
            return self._local_df(
                [(inner._jdf.queryExecution().explainString(jmode),)],
                "plan string")
        # pass-through: resolve catalog identifiers, delegate to Catalyst
        rewritten, hidden = _rewrite_qualify(
            _rewrite_tablesample_all(_rewrite_exclude(statement)))
        with self._statement() as txn:
            df = self._query(rewritten, txn)
        return df.drop(*hidden) if hidden else df
