"""SQL DML statements over engine tables.

Vanilla Spark SQL cannot mutate parquet-backed views, so
``Engine.sql("DELETE FROM t WHERE ...")`` would fail at the analyzer.
This module routes statements over engine tables through the engine's
real mutation paths. It has two front ends:

* **Standard DML is parsed by Spark's own parser.** A statement whose
  first keyword is DELETE, UPDATE, MERGE or INSERT goes to
  ``sessionState().sqlParser().parsePlan``; the returned
  ``DeleteFromTable`` / ``UpdateTable`` / ``MergeIntoTable`` /
  ``InsertIntoStatement`` plan is walked into engine calls. Its
  expressions become Columns directly (``_col``); where an engine API
  takes SQL text (deletion-vector predicates, the generated-column
  substitution) they are rendered by Spark (``.sql()``). A
  ``ParseException`` surfaces as a ValueError naming the broken rule.
  Nothing else is parsed, so a SELECT never pays for it.
* **Everything else keeps a small extension grammar** of anchored
  regexes below: the statements Spark's parser does not know (OPTIMIZE,
  APPLY CHANGES, VACUUM, CREATE VERSIONED TABLE, COPY INTO, REORG,
  CONVERT, RESTORE, DESCRIBE HISTORY/DETAIL), the engine-specific forms
  of CREATE [OR REPLACE] TABLE, ALTER TABLE, SHOW, DROP, ANALYZE,
  TRUNCATE and DESCRIBE, and the time-travel rewrite, which runs first
  for every statement.

The standard DML statements:

* ``DELETE FROM t [WHERE p]``            → row-exact rewrite of the kept
  slice (NOT key-based ``engine.delete`` — with non-unique keys a key
  anti-join deletes every row SHARING a doomed row's key; caught live
  against the TPC-H lineitem fixture, 600 predicate matches but 896 rows
  gone). Partitioned tables rewrite ONLY the partitions holding matched
  rows (``engine.replace_where``: literal-predicate partition pruning,
  emptied partitions tombstoned); unpartitioned fall back to
  ``engine.overwrite``; deletion-vector tables commit a sidecar
  (``engine.delete_where_dv``)
* ``UPDATE t SET c = e, ... [WHERE p]``  → row-exact rewrite with
  ``when(p, e).otherwise(c)`` per column, all SET expressions
  evaluated against the OLD row (standard SQL: ``SET a = b, b = a``
  swaps) — and ``SET c = NULL`` works, unlike a keyed coalesce-merge.
  Partition-scoped like DELETE when no SET column is a layout
  (partition/bucket) column; otherwise a full overwrite (rows may
  migrate partitions)
* ``INSERT INTO|OVERWRITE [TABLE] t [(cols)] SELECT ... | VALUES ...``
  → ``engine.insert`` / ``engine.overwrite`` (listed columns resolve
  case-insensitively, unlisted ones NULL-fill, values cast to the
  table's column types; without a list the mapping is positional with
  strict arity; OVERWRITE is one atomic full replacement)
* ``MERGE [WITH SCHEMA EVOLUTION] INTO t [AS a] USING src|(<select>)
  [AS s] ON <key equalities> WHEN [NOT] MATCHED [AND c] THEN DELETE |
  UPDATE SET * | UPDATE SET col = expr, ... | INSERT * | INSERT (cols)
  VALUES (exprs)``, plus ``WHEN NOT MATCHED BY SOURCE [AND c] THEN
  DELETE | UPDATE SET col = expr, ...`` → ``engine.merge`` (the ON
  conjunction supplies the merge keys; clauses of one kind apply in
  order, first match wins; explicit SET assignments update ONLY the
  listed columns; references qualified by the target's or the
  source's name or alias resolve to that side; BY SOURCE clauses act on
  target rows absent from the source)

The extension grammar:

* ``CREATE [OR REPLACE] [VERSIONED] TABLE t [PARTITIONED BY (cols)]
  [CLUSTER BY (cols)] AS SELECT ...`` → ``engine.create_table_as``
  (CLUSTER BY = clustered writes: every versioned write
  range-partitions + sorts on the key so zone maps stay tight from
  ingest).  OR REPLACE on an existing same-layout VERSIONED table is
  ONE 'rewrite' snapshot — the pre-replace state stays
  time-travelable, and constraints/expectations reset to the (empty)
  new definition, Delta's property-reset semantics; a layout or
  versioning change drops and recreates instead (the SELECT may
  reference the replaced table — it is pinned before the drop)
* ``APPLY CHANGES INTO t FROM src|(<select>) [KEYS (k, ...)] [APPLY AS
  DELETE WHEN c] [APPLY AS TRUNCATE WHEN c] [SEQUENCE BY col] [STORED
  AS SCD TYPE 1|2]`` → one CDC batch application through
  ``streaming.ingest.apply_changes_batch`` (TYPE 1: latest-per-key with
  cross-batch watermarks + tombstones) or ``apply_changes_scd2_batch``
  (TYPE 2: version-row history; target must be ``scd2_init``-shaped) —
  the DLT statement; ops come from the source's ``_op`` column unless
  APPLY AS clauses derive them (no ops at all = pure upsert feed)
* ``SHOW PARTITIONS t`` → partition rel-paths, METADATA-only
  (snapshot mapping keys / directory names — never a data scan)
* ``DROP TABLE [IF EXISTS] t``           → ``engine.drop_table``
* ``ANALYZE TABLE t [COMPUTE STATISTICS [FOR COLUMNS c, ...]]``
  → ``engine.analyze_table`` (stats persist in the manifest)
* ``VACUUM t [RETAIN n]``                → ``engine.vacuum`` (versioned)
* ``OPTIMIZE t [WHERE pred] [ZORDER BY (cols)]`` → ``engine.compact``
  (WHERE scopes compaction to the partitions holding matching rows —
  Delta's OPTIMIZE WHERE; untouched partitions never read/rewritten)
* ``TRUNCATE TABLE t`` → schema-preserving empty rewrite (versioned:
  one snapshot; pre-truncate state time-travels)
* ``COPY INTO t FROM 'path' [FILEFORMAT = parquet|csv|json]`` →
  by-name load with NULL-fill + implicit cast → ``engine.insert``
* ``ALTER TABLE t ADD CONSTRAINT c CHECK (expr)`` → ``engine.add_constraint``
* ``ALTER TABLE t DROP CONSTRAINT [IF EXISTS] c`` → ``engine.drop_constraint``
* ``ALTER TABLE t ADD|DROP|RENAME COLUMN`` → on VERSIONED parquet
  tables these are METADATA-ONLY (Delta column-mapping analog): one
  snapshot commit records the new schema + a rename/drop/add event, no
  data file moves at any size, and reads translate each write dir's era
  names forward (``engine.rename_column``/``drop_columns``/
  ``add_column``).  Unversioned tables rewrite through
  ``engine.overwrite`` (no snapshot to hang the event log on).  Both
  paths: layout (partition/bucket) columns refuse, upsert keys refuse
  except consistent renames, constraint/expectation/generated-referenced
  columns refuse
* ``SHOW TABLES`` → one row per engine table (name, format, versioned,
  partitioning, in-memory flag)
* ``DESCRIBE [TABLE] t`` → (col_name, data_type, comment) with
  partition/bucket/key columns flagged; non-engine names fall through
* ``DESCRIBE HISTORY t`` → one row per snapshot (version, operation,
  timestamp, n_partitions) — Delta's DESCRIBE HISTORY analog
* ``RESTORE [TABLE] t TO VERSION AS OF n | TO TIMESTAMP AS OF 'ts'``
  → ``engine.restore`` (timestamps resolve like time travel: the latest
  snapshot at or before the instant)
* time travel: any ``t [FOR] VERSION AS OF n`` / ``t [FOR] TIMESTAMP AS
  OF 'ts'`` reference to a VERSIONED engine table — in a bare SELECT or
  inside any DML's source subquery — is rewritten to a version-pinned
  temp view (``engine.table(name, version=...)``); TIMESTAMP resolves to
  the latest snapshot at or before the instant (Delta semantics)

Each returns a one-row ``(operation, table, n_affected)`` status frame;
versioned tables get one atomic 'rewrite'/'append' snapshot per
statement.  ``n_affected`` semantics per statement: DELETE/UPDATE report
predicate-matched target rows; INSERT and CREATE TABLE AS report rows
written; MERGE reports SOURCE row count — NOT Delta-style rows actually
inserted/updated/deleted (per-action splits would cost extra count jobs
over the merge join; callers needing them should diff
``engine.changes()`` across the statement's snapshot instead); ANALYZE
reports table rows, VACUUM removed version dirs, OPTIMIZE data files
before compaction.  Non-DML statements fall through to ``spark.sql`` untouched.
Table names resolve like everywhere else: the registered name
(``schema.table``) or its view key (``schema__table``).
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_lake_spark.exprs import (
    quoted_spans,
    referenced_columns,
    substitute_columns,
)
from polars_lake_spark.layout import BUCKET_COL as _BUCKET_COL

# the four standard DML verbs Spark's parser reads (_execute_parsed_dml);
# nothing else pays for a parse
_DML_VERB = re.compile(r"\s*(?:DELETE|UPDATE|MERGE|INSERT)\b", re.I)
_CTAS = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(VERSIONED\s+)?TABLE\s+([A-Za-z_][\w.]*)"
    r"(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?"
    r"(?:\s+CLUSTER\s+BY\s*\(([^)]*)\))?"
    r"\s+AS\s+(SELECT\b.+?)\s*;?\s*$",
    re.I | re.S,
)
_SHOW_PARTITIONS = re.compile(
    r"^\s*SHOW\s+PARTITIONS\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
_DROP = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*;?\s*$",
    re.I,
)
_APPLY_CHANGES = re.compile(
    r"^\s*APPLY\s+CHANGES\s+INTO\s+([A-Za-z_][\w.]*)"
    r"\s+FROM\s+(\(.*?\)|[A-Za-z_][\w.]*)"
    r"(?:\s+KEYS\s*\(([^)]*)\))?"
    r"(?:\s+APPLY\s+AS\s+DELETE\s+WHEN\s+(.+?))?"
    r"(?:\s+APPLY\s+AS\s+TRUNCATE\s+WHEN\s+(.+?))?"
    r"(?:\s+SEQUENCE\s+BY\s+([A-Za-z_]\w*))?"
    r"(?:\s+STORED\s+AS\s+SCD\s+TYPE\s+([12]))?"
    r"\s*;?\s*$",
    re.I | re.S,
)
_ANALYZE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+([A-Za-z_][\w.]*)"
    r"(?:\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+COLUMNS\s+(.+?))?)?\s*;?\s*$",
    re.I,
)
_VACUUM = re.compile(
    r"^\s*VACUUM\s+([A-Za-z_][\w.]*)(?:\s+RETAIN\s+(\d+))?"
    r"(?:\s+(DRY\s+RUN))?\s*;?\s*$",
    re.I,
)
_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+([A-Za-z_][\w.]*)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*$",
    re.I | re.S,
)
_TRUNCATE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
_COPY_INTO = re.compile(
    r"^\s*COPY\s+INTO\s+([A-Za-z_][\w.]*)\s+FROM\s+'([^']+)'"
    r"(?:\s+FILEFORMAT\s*=\s*([A-Za-z_]+))?(?:\s+(FORCE))?\s*;?\s*$",
    re.I,
)
_CREATE_TABLE = re.compile(
    r"^\s*CREATE\s+(VERSIONED\s+)?TABLE\s+([A-Za-z_][\w.]*)\s*"
    r"\((.+?)\)(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?"
    r"(?:\s+CLUSTER\s+BY\s*\(([^)]*)\))?"
    r"(?:\s+TBLPROPERTIES\s*\((.+)\))?\s*;?\s*$",
    re.I | re.S,
)
_TBLPROP_PAIR = re.compile(r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'")
# spec fields SHOW CREATE TABLE serializes into TBLPROPERTIES and the
# literal CREATE statement maps back to create_table kwargs — keeping
# SHOW CREATE TABLE a true round-trip
_CREATE_PROPS = frozenset(
    "keys bucket_by n_buckets deletion_vectors zone_maps compression "
    "format auto_optimize.dv_sidecars auto_optimize.write_dirs".split()
)
_SHOW_CREATE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
_REORG = re.compile(
    r"^\s*REORG\s+TABLE\s+([A-Za-z_][\w.]*)\s+APPLY\s*\(\s*PURGE\s*\)"
    r"\s*;?\s*$",
    re.I,
)
_CONVERT = re.compile(
    r"^\s*CONVERT\s+TO\s+VERSIONED\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
_ALTER_CLUSTER = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+CLUSTER\s+BY\s+"
    r"(?:\(([^)]*)\)|(NONE))\s*;?\s*$",
    re.I,
)
_SET_TBLPROPERTIES = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+SET\s+TBLPROPERTIES\s*"
    r"\(\s*'([\w.]+)'\s*=\s*'(\w+)'\s*\)\s*;?\s*$",
    re.I,
)
_ALTER_ADD_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+ADD\s+CONSTRAINT\s+"
    r"([A-Za-z_]\w*)\s+CHECK\s*\((.+)\)\s*;?\s*$",
    re.I | re.S,
)
_ALTER_DROP_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+DROP\s+CONSTRAINT\s+"
    r"(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$",
    re.I,
)
_ALTER_ADD_COLUMN = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+ADD\s+COLUMNS?\s+(.+?)\s*;?\s*$",
    re.I | re.S,
)
_ALTER_DROP_COLUMN = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+DROP\s+COLUMNS?\s+"
    r"(?:\(\s*(.+?)\s*\)|([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*))\s*;?\s*$",
    re.I,
)
_ALTER_COLUMN_TYPE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+ALTER\s+COLUMN\s+"
    r"([A-Za-z_]\w*)\s+TYPE\s+(.+?)\s*;?\s*$",
    re.I | re.S,
)
_ALTER_RENAME_COLUMN = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+RENAME\s+COLUMN\s+"
    r"([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.I,
)
_ALTER_RENAME_TABLE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+RENAME\s+TO\s+"
    r"([A-Za-z_][\w.]*)\s*;?\s*$",
    re.I,
)
_SHOW_TABLES = re.compile(r"^\s*SHOW\s+TABLES\s*;?\s*$", re.I)
_DESCRIBE_HISTORY = re.compile(
    r"^\s*DESC(?:RIBE)?\s+HISTORY\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
_DESCRIBE_DETAIL = re.compile(
    r"^\s*DESC(?:RIBE)?\s+DETAIL\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
_DESCRIBE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s*;?\s*$", re.I
)
_RESTORE = re.compile(
    r"^\s*RESTORE\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'([^']*)')\s*;?\s*$",
    re.I,
)
_TIMETRAVEL = re.compile(
    r"\b([A-Za-z_][\w.]*)\s+(?:FOR\s+)?(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(\d+|'[^']*')",
    re.I,
)


def _resolve(engine, name: str) -> str | None:
    if name in engine.specs:
        return name
    dotted = name.replace("__", ".")
    if dotted in engine.specs:
        return dotted
    return None


def _version_at_timestamp(engine, name: str, ts: str) -> int:
    """Latest snapshot version committed at or before ``ts`` (Delta's
    TIMESTAMP AS OF semantics). Naive timestamps are UTC — the engine
    pins spark.sql.session.timeZone to UTC (session.py)."""
    import datetime as dt

    d = dt.datetime.fromisoformat(ts)
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    # Compare at MICROSECOND resolution — ISO-8601 strings carry at most
    # microseconds, so a snapshot's sub-microsecond tail must not push it
    # past the very instant its own formatted timestamp names.
    target_us = int(d.timestamp() * 1_000_000)
    eligible = [
        h["version"]
        for h in engine._snapstore(name).history()
        if h["ts_ns"] // 1000 <= target_us
    ]
    if not eligible:
        raise ValueError(
            f"no snapshot of {name} at or before {ts!r}"
        )
    return max(eligible)


def _rewrite_time_travel(engine, query: str) -> tuple[str, dict]:
    """Rewrite every ``t [FOR] VERSION|TIMESTAMP AS OF x`` reference to a
    versioned engine table into a version-pinned temp view, so the AS OF
    syntax works anywhere a table reference can appear (bare SELECTs,
    INSERT/MERGE sources, CTAS bodies). References to unknown or
    unversioned tables are left untouched for spark.sql to reject, and
    matches INSIDE string literals are never rewritten (the literal's
    contents are data, not syntax — r6 review finding).  Returns the
    rewritten text plus ``{view_name: (table, version)}`` so the
    zone-map SELECT fast-path can prune against the PINNED version's
    sidecars (empty dict = nothing rewritten)."""
    views: dict[str, tuple[str, int]] = {}
    spans = None  # scanned only once a reference matches

    def repl(m):
        nonlocal spans
        if spans is None:
            spans = quoted_spans(query)
        if any(a <= m.start() <= b for a, b in spans):
            return m.group(0)
        name = _resolve(engine, m.group(1))
        if name is None or not engine.specs[name].versioned:
            return m.group(0)
        if m.group(2).upper() == "VERSION":
            version = int(m.group(3))
        else:
            version = _version_at_timestamp(engine, name, m.group(3).strip("'"))
        view = f"{name.replace('.', '__')}__asof_v{version}"
        engine.table(name, version=version).createOrReplaceTempView(view)
        views[view] = (name, version)
        return view

    return _TIMETRAVEL.sub(repl, query), views


def _plan_deterministic(df: DataFrame) -> bool:
    """True when every expression in the analyzed plan is deterministic.
    Used to decide whether DELETE/UPDATE must pin the predicate with a
    single materialization; on any introspection failure assume the
    worst (nondeterministic) — correctness over speed."""
    try:
        return bool(df._jdf.queryExecution().analyzed().deterministic())
    except Exception:
        return False


def _copy_source_files(path: str, fmt: str) -> list[str]:
    """Data files a COPY INTO load covers: the file itself, or a
    recursive walk of the directory skipping hidden/metadata entries
    (``_SUCCESS``, ``.crc``). Parquet loads only ``.parquet`` files;
    csv/json take every visible file (Spark's own directory-read rule)."""
    if os.path.isfile(path):
        return [path]
    out = []
    for cur, dirs, fs in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in fs:
            if f.startswith((".", "_")):
                continue
            if fmt == "parquet" and not f.endswith(".parquet"):
                continue
            out.append(os.path.join(cur, f))
    return sorted(out)


def _copy_file_digest(path: str) -> str:
    """A source file's load identity: path + size + mtime — an
    overwritten file (same path, new content) is a NEW load, a retried
    script re-listing the same files is not. 20 hex chars keeps the
    per-file log entry bounded."""
    st = os.stat(path)
    key = f"{os.path.abspath(path)}|{st.st_size}|{st.st_mtime_ns}"
    return hashlib.md5(key.encode()).hexdigest()[:20]


def _status(engine, op: str, table: str, n: int) -> DataFrame:
    return engine.spark.createDataFrame(
        [(op, table, n)], "operation string, table string, n_affected bigint"
    )


def _metadata_ddl_ok(engine, name: str) -> bool:
    """True when column DDL on ``name`` can be metadata-only (versioned
    parquet, not native-bucketed, not in-memory) — the Delta
    column-mapping tier; everything else keeps the rewrite path."""
    spec = engine.specs.get(name)
    return (
        spec is not None
        and name not in engine._mem
        and spec.versioned
        and spec.format == "parquet"
        and not spec.native_bucketing
    )


def _guard_layout_columns(
    spec, cols, verb: str, keys_ok: bool = False
) -> None:
    """Refuse column DDL that would break the table's physical layout or
    its recorded semantics: partition/bucket columns name directories and
    routing (old snapshots' paths would stop matching the spec), upsert
    keys define row identity (unless the operation renames them
    consistently), and CHECK constraints hold SQL text that would dangle.
    """
    layout = set(spec.partition_by) | set(spec.bucket_by)
    if spec.bucket_by:
        layout.add(_BUCKET_COL)  # the derived physical bucket column
    bad = sorted(c for c in cols if c in layout)
    if bad:
        raise ValueError(
            f"ALTER TABLE {spec.name}: cannot {verb} layout "
            f"(partition/bucket) columns {bad}"
        )
    if not keys_ok:
        badk = sorted(c for c in cols if c in spec.keys)
        if badk:
            raise ValueError(
                f"ALTER TABLE {spec.name}: cannot {verb} upsert key "
                f"columns {badk}"
            )
    for cname, expr in spec.constraints.items():
        # case-INSENSITIVE: Spark resolves constraint column references
        # case-insensitively, so 'CHECK (VAL >= 0)' guards column 'val' —
        # a case-sensitive scan would let the drop orphan the constraint
        # and brick every later write (r7 review finding)
        hit = sorted(
            c for c in cols if re.search(rf"\b{re.escape(c)}\b", expr, re.I)
        )
        if hit:
            raise ValueError(
                f"ALTER TABLE {spec.name}: columns {hit} are referenced "
                f"by constraint {cname!r} ({expr}); drop the constraint "
                "first"
            )


def _insert_frame(
    engine, name: str, stmt: str, cols: list[str], df: DataFrame
) -> DataFrame:
    """Resolve an INSERT source (a SELECT or VALUES frame, with the
    statement's column list — empty when none was given) against the
    target table's schema
    (shared by INSERT INTO and INSERT OVERWRITE): listed columns resolve
    case-insensitively with unknowns rejected, unlisted columns NULL-fill
    (a narrower append must not clobber the recorded schema), positional
    mapping requires exact arity, every column casts to the TABLE's type
    (or the written parquet would carry narrower physical types that
    later scans of the mixed directory reject), and the result is
    materialized ONCE so the reported count and the write agree even for
    a non-deterministic SELECT."""
    tschema = engine.table(name).schema
    canon = {f.name.lower(): f.name for f in tschema.fields}
    # IDENTITY columns are GENERATED ALWAYS: listing one is refused,
    # omitting one leaves it ABSENT (not NULL-filled) so engine.insert
    # assigns the next range
    ident = set(engine.specs[name].identity or {})
    if cols:
        unknown = [c for c in cols if c.lower() not in canon]
        if unknown:
            raise ValueError(f"{stmt} {name}: no columns {unknown}")
        listed_ident = [c for c in cols if canon[c.lower()] in ident]
        if listed_ident:
            raise ValueError(
                f"{stmt} {name}: identity columns {listed_ident} are "
                "GENERATED ALWAYS — omit them"
            )
        if len(cols) != len(df.columns):
            raise ValueError(
                f"{stmt} {name}: {len(cols)} listed columns but "
                f"the SELECT produces {len(df.columns)}"
            )
        listed = [canon[c.lower()] for c in cols]
        df = df.toDF(*listed)
        gen = engine.specs[name].generated
        # two passes: NULL-fill every omitted NON-generated column
        # FIRST, then compute omitted generated columns — a formula may
        # reference a source column that is itself omitted (evaluating
        # it before the fill would fail to resolve; after, it
        # NULL-propagates like any SQL expression)
        for f in tschema.fields:
            if f.name not in listed and f.name not in gen and f.name not in ident:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        for f in tschema.fields:
            if f.name not in listed and f.name in gen:
                # an OMITTED generated column computes from its formula
                # (Delta's rule) rather than NULL-filling — a NULL would
                # fail the auto `col <=> (expr)` CHECK
                df = df.withColumn(
                    f.name, F.expr(gen[f.name]).cast(f.dataType)
                )
    else:
        n_expected = len(tschema.fields) - len(ident)
        if len(df.columns) != n_expected:
            raise ValueError(
                f"{stmt} {name}: table has {n_expected} "
                f"assignable columns but the SELECT produces "
                f"{len(df.columns)}"
            )
        # Positional mapping follows the USER-DECLARED column order, not
        # read-back schema order: a hive scan returns partition columns
        # LAST, so mapping against tschema silently swapped values into
        # the wrong columns for any table whose partition column is not
        # declared last (ADVICE r8 high — CREATE TABLE pm2 (id, p, v)
        # PARTITIONED BY (p); INSERT VALUES (1,7,100) stored v=7,p=100).
        df = df.toDF(
            *[
                f.name
                for f in engine.specs[name].declared_order(tschema)
                if f.name not in ident
            ]
        )
    df = df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in tschema.fields
            if f.name not in ident
        ]
    )
    return df.localCheckpoint(eager=True)


def _seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    """A Scala ``Option``'s value, or None."""
    return o.get() if o.isDefined() else None


def _name_parts(node) -> tuple[str, ...]:
    """Name parts of an ``UnresolvedAttribute`` or ``UnresolvedRelation``."""
    if node.nodeName() == "UnresolvedAttribute":
        return tuple(_seq(node.nameParts()))
    return tuple(_seq(node.multipartIdentifier()))


def _col(engine, expr) -> Column:
    """A parsed expression as a Column — no re-render, so every shape
    Spark parses (lambdas included) evaluates exactly as parsed."""
    jvm = engine.spark._jvm
    return Column(jvm.org.apache.spark.sql.classic.ExpressionUtils.column(expr))


def _frame(engine, plan) -> DataFrame:
    """A parsed query (MERGE source, INSERT SELECT or VALUES) as a
    DataFrame on the engine's session."""
    jvm = engine.spark._jvm
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        engine.spark._jsparkSession, plan
    )
    return DataFrame(jdf, engine.spark)


def _conjuncts(expr) -> list:
    if expr.nodeName() == "And":
        return [c for k in _seq(expr.children()) for c in _conjuncts(k)]
    return [expr]


def _pred_sql(expr) -> str:
    """A predicate as Spark renders it (``.sql()``), top-level conjuncts
    AND-joined so zone-map pruning (``zonemaps.parse_conjuncts``) reads
    each one on its own."""
    return " AND ".join(c.sql() for c in _conjuncts(expr))


def _partition_only_predicate(expr, parts: list[str]) -> bool:
    """True when every column ``expr`` references is a partition column
    and it calls no function but BETWEEN — i.e. the delete is
    partition-aligned and a partition tombstone beats a deletion-vector
    sidecar. Anything else (an ordinary column, a function call, a
    subquery) conservatively returns False, keeping the row-level
    path."""
    allowed = {p.lower() for p in parts}

    def ok(node) -> bool:
        kind = node.nodeName()
        if kind == "UnresolvedAttribute":
            return _name_parts(node)[-1].lower() in allowed
        if kind == "UnresolvedFunction":
            if _seq(node.nameParts())[-1].lower() != "between":
                return False
        elif "Subquery" in kind or kind in ("Exists", "ListQuery"):
            return False
        return all(ok(k) for k in _seq(node.children()))

    return bool(parts) and ok(expr)


def _unalias(node) -> tuple[str | None, object]:
    """(alias, aliased plan) of a DML target or source; no alias → None."""
    if node.nodeName() == "SubqueryAlias":
        return node.alias(), node.child()
    return None, node


def _relation_name(node) -> str | None:
    """The table name a plan references, or None for a query."""
    if node.nodeName() != "UnresolvedRelation":
        return None
    return ".".join(_name_parts(node))


_MERGE_GRAMMAR = (
    "supported actions are WHEN MATCHED [AND c] THEN DELETE | UPDATE SET "
    "* | UPDATE SET col = expr, ...; WHEN NOT MATCHED [AND c] THEN "
    "INSERT * | INSERT (cols) VALUES (exprs); WHEN NOT MATCHED BY SOURCE "
    "[AND c] THEN DELETE | UPDATE SET col = expr, ... (no SET * there — "
    "there is no source row)"
)


def _parse_dml(engine, query: str):
    """Spark's own parse of a DML statement. A ParseException surfaces
    as a ValueError naming the rule the statement broke."""
    from pyspark.errors import ParseException

    try:
        return (
            engine.spark._jsparkSession.sessionState()
            .sqlParser()
            .parsePlan(query)
        )
    except ParseException as e:
        verb = query.split(None, 1)[0].upper()
        cond = e.getCondition() or ""
        if cond == "_LEGACY_ERROR_TEMP_0006":
            why = "INSERT column list and VALUES list differ in length"
        elif cond.startswith("NON_LAST_"):
            why = (
                "when multiple clauses of one WHEN kind are given, only "
                "the last may omit its AND condition"
            )
        elif verb == "MERGE":
            why = _MERGE_GRAMMAR
        else:
            why = "not a statement Spark SQL parses"
        msg = str(e).strip().splitlines()[0]
        raise ValueError(f"{verb}: {why} ({msg})") from None


def _execute_parsed_dml(engine, query: str) -> DataFrame | None:
    """DELETE / UPDATE / MERGE INTO / INSERT over an engine table, parsed
    by Spark's parser; None when the target is not an engine table (or
    the statement is a DML form the engine does not own)."""
    plan = _parse_dml(engine, query)
    kind = plan.nodeName()
    if kind == "MergeIntoTable":
        alias, target = _unalias(plan.targetTable())
    elif kind in ("DeleteFromTable", "UpdateTable", "InsertIntoStatement"):
        alias, target = _unalias(plan.table())
        if alias is not None:
            return None
        if kind == "InsertIntoStatement" and (
            plan.byName() or not plan.partitionSpec().isEmpty()
        ):
            return None
    else:
        return None
    raw = _relation_name(target)
    name = _resolve(engine, raw) if raw else None
    if name is None:
        return None
    if kind == "DeleteFromTable":
        cond = plan.condition()
        if cond.nodeName() == "Literal" and cond.sql() == "true":
            cond = None  # no WHERE: every row
        return _delete(engine, name, cond)
    if kind == "UpdateTable":
        return _update(
            engine, name, _seq(plan.assignments()), _opt(plan.condition())
        )
    if kind == "MergeIntoTable":
        return _merge(engine, name, plan, (name, raw, alias))
    overwrite = bool(plan.overwrite())
    df = _insert_frame(
        engine,
        name,
        "INSERT OVERWRITE" if overwrite else "INSERT INTO",
        _seq(plan.userSpecifiedCols()),
        _frame(engine, plan.query()),
    )
    n = df.count()
    if overwrite:
        # Atomic full replacement (engine.overwrite): versioned tables
        # publish one 'rewrite' snapshot; plain tables stage via
        # localCheckpoint so a self-referential SELECT reads the OLD
        # state. Same column-list/NULL-fill/cast semantics as INSERT.
        engine.overwrite(name, df)
        return _status(engine, "insert_overwrite", name, n)
    engine.insert(name, df)
    return _status(engine, "insert", name, n)


def _delete(engine, name: str, cond) -> DataFrame:
    """DELETE FROM t [WHERE cond]; ``cond`` None deletes every row."""
    if engine.specs[name].deletion_vectors:
        # Only genuinely ROW-level predicates pay the sidecar: a
        # DELETE with no predicate — or one touching only partition
        # columns — would materialize a (file,row_index) ref for
        # EVERY doomed row and make every later read anti-join the
        # full row set (ADVICE r8). Whole-table deletes take one
        # empty 'rewrite' commit (which also clears live DVs);
        # partition-only predicates fall through to the tombstone
        # path below (its commit carries live DVs forward — refs in
        # UNtouched partitions must survive).
        if cond is None:
            with engine._lock(name):
                t = engine.table(name)
                # live count from footers minus live DV refs — no
                # full scan under the lock (VERDICT r9); TRUNCATE
                # uses the same metadata path
                n = engine.meta_row_count(name)
                if n is None:
                    n = t.count()
                if n:
                    engine.overwrite(name, t.limit(0), allow_drop=False)
            return _status(engine, "delete", name, n)
        if not _partition_only_predicate(
            cond, engine.specs[name].physical_partitioning
        ):
            # merge-on-read: commit an O(deleted-rows) sidecar
            # instead of rewriting touched partitions (lock inside)
            n = engine.delete_where_dv(name, _pred_sql(cond))
            return _status(engine, "delete", name, n)
    # Whole statement inside the table lock: the count and the
    # rewrite must see the same table state vs concurrent writers
    # (TOCTOU — ADVICE r5); the lock is reentrant for overwrite().
    with engine._lock(name):
        t = engine.table(name)
        # WHERE p deletes rows where p is TRUE; NULL predicate keeps.
        pred = (
            F.coalesce(_col(engine, cond), F.lit(False))
            if cond is not None
            else F.lit(True)
        )
        doomed, kept = t.filter(pred), t.filter(~pred)
        if not _plan_deterministic(t.select(pred)):
            # Pin a nondeterministic predicate (e.g. rand()) once, so
            # n_affected and the rewrite agree (INSERT/MERGE's rule).
            marked = t.withColumn("__pl_pred", pred).localCheckpoint(
                eager=True
            )
            doomed = marked.filter(F.col("__pl_pred")).drop("__pl_pred")
            kept = marked.filter(~F.col("__pl_pred")).drop("__pl_pred")
        parts = engine.specs[name].physical_partitioning
        if parts:
            # Partition-scoped delete: ONE aggregation gives both the
            # matched-row count and the touched partitions, then
            # replace_where rewrites only those (emptied ones are
            # tombstoned) — never a full-table rewrite.
            grp = doomed.groupBy(*parts).agg(
                F.count(F.lit(1)).alias("__pl_n")
            ).collect()
            n = sum(r["__pl_n"] for r in grp)
            if n:
                engine.replace_where(
                    name,
                    kept,
                    touched=[{c: r[c] for c in parts} for r in grp],
                )
        else:
            n = doomed.count()
            if n:
                engine.overwrite(name, kept, allow_drop=False)
    return _status(engine, "delete", name, n)


def _update(engine, name: str, assignments: list, cond) -> DataFrame:
    """UPDATE t SET col = expr, ... [WHERE cond]."""
    with engine._lock(name):
        t = engine.table(name)
        sets = {}  # column -> parsed SET expression
        for a in assignments:
            key = _name_parts(a.key())
            if len(key) != 1:
                raise ValueError(
                    f"UPDATE {name}: cannot SET {a.key().sql()!r}; name "
                    "a column of the table"
                )
            if key[0] not in t.columns:
                raise ValueError(f"UPDATE {name}: no column {key[0]!r}")
            sets[key[0]] = a.value()
        exprs = {c: _col(engine, e) for c, e in sets.items()}
        spec = engine.specs[name]
        # Delta's generated-column rule for UPDATE: when a SET
        # touches a source column of a generated column (and the
        # generated column itself is not explicitly SET), the
        # generated column recomputes from its formula — otherwise
        # the auto `col <=> (expr)` CHECK would fail a legitimate
        # statement the user cannot express better.
        # SQL identifiers are case-insensitive: match and substitute
        # ignoring case, in ONE pass (sequential passes would rewrite
        # column references inside an earlier SET's already-
        # substituted expression), and QUOTE-AWARE: a SET column
        # whose name happens to appear inside a formula's string
        # literal (SET mm with date_format(d, 'yyyy-MM')) must
        # neither trigger a recompute nor corrupt the literal
        # (ADVICE r13 #2) — exprs.py skips quoted spans and
        # function-call identifiers.
        set_lower = {c.lower() for c in sets}
        subs = None
        for gcol, gexpr in (spec.generated or {}).items():
            if gcol.lower() in set_lower:
                continue
            if sets and referenced_columns(gexpr, candidates=set(sets)):
                # every SET expression sees PRE-update values (SQL
                # semantics), so the formula must be evaluated over
                # the NEW source values: substitute each SET column
                # reference in the (trusted, table-declared) formula
                # with its parenthesized SET expression
                if subs is None:
                    subs = {c.lower(): e.sql() for c, e in sets.items()}
                exprs[gcol] = F.expr(substitute_columns(gexpr, subs))
        parts = spec.physical_partitioning
        if spec.bucket_by and _BUCKET_COL in exprs:
            # the derived bucket column is recomputed from its source
            # columns on every write — a direct SET would be silently
            # ignored (full-overwrite path) or, worse, desync the
            # scoped path's touched-partition math (r7 review finding)
            raise ValueError(
                f"UPDATE {name}: {_BUCKET_COL!r} is derived from "
                f"{spec.bucket_by}; SET its source columns instead"
            )
        layout_cols = (
            set(spec.partition_by) | set(spec.bucket_by) | {_BUCKET_COL}
        )
        if spec.deletion_vectors and not (set(exprs) & layout_cols):
            # merge-on-read UPDATE: DV the matched rows + append the
            # updated ones in one atomic commit — O(matched rows),
            # no partition rewrite. Layout-column SETs fall through
            # to the rewrite path (rows migrate partitions).
            n = engine.update_where_dv(
                name, _pred_sql(cond) if cond is not None else "true", exprs
            )
            return _status(engine, "update", name, n)
        pred = (
            F.coalesce(_col(engine, cond), F.lit(False))
            if cond is not None
            else F.lit(True)
        )
        base, pred_col = t, pred
        if not _plan_deterministic(t.select(pred)):
            # Pin a nondeterministic predicate once: every SET
            # column's when() and the n_affected count must share ONE
            # evaluation, or updates tear across columns (ADVICE r5).
            base = t.withColumn("__pl_pred", pred).localCheckpoint(
                eager=True
            )
            pred_col = F.col("__pl_pred")
        assigns = {
            c: F.when(pred_col, e).otherwise(F.col(c))
            for c, e in exprs.items()
        }
        # ONE select: every SET expression sees the OLD row (SQL
        # semantics — sequential withColumn would leak earlier updates).
        updated = base.select(
            *[assigns.get(c, F.col(c)).alias(c) for c in t.columns]
        )
        if parts and not (set(assigns) & layout_cols):
            # Partition-scoped update: SET doesn't touch any layout
            # column, so no row migrates partitions — rewrite only
            # the partitions holding matched rows (one aggregation
            # for count + touched, same as DELETE). A SET on a
            # partition/bucket column falls through to the full
            # overwrite below (rows may move between partitions).
            grp = base.filter(pred_col).groupBy(*parts).agg(
                F.count(F.lit(1)).alias("__pl_n")
            ).collect()
            n = sum(r["__pl_n"] for r in grp)
            if n:
                engine.replace_where(
                    name,
                    updated,
                    touched=[{c: r[c] for c in parts} for r in grp],
                )
        else:
            n = base.filter(pred_col).count()
            if n:
                engine.overwrite(name, updated, allow_drop=False)
    return _status(engine, "update", name, n)


def _merge(engine, name: str, plan, target_names) -> DataFrame:
    """MERGE [WITH SCHEMA EVOLUTION] INTO t [AS a] USING src ON keys
    WHEN ... → ``engine.merge``. ``target_names`` are the spellings that
    qualify a target column: the engine name, the statement's name, its
    alias."""
    jvm = engine.spark._jvm
    to_seq = jvm.org.apache.spark.api.python.PythonUtils.toSeq
    attribute = jvm.org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    src_alias, src_plan = _unalias(plan.sourceTable())
    src_raw = _relation_name(src_plan)
    # merge_into evaluates conditions/assignments over the joined row
    # with internal aliases o (target) / n (source): requalify the
    # user's own alias / table names so the statement's natural
    # spelling (s.v < 0, tgt.v > 9) resolves. Later entries win.
    quals = {}
    for user, internal in (
        *((t, "o") for t in target_names), (src_raw, "n"), (src_alias, "n")
    ):
        if user:
            quals[tuple(p.lower() for p in user.split("."))] = internal

    def side(qualifier) -> str | None:
        return quals.get(tuple(p.lower() for p in qualifier))

    def requalify(expr):
        if expr.nodeName() == "UnresolvedAttribute":
            parts = _name_parts(expr)
            for k in range(len(parts) - 1, 0, -1):
                if q := side(parts[:k]):
                    return attribute(to_seq([q, *parts[k:]]))
            return expr
        kids = _seq(expr.children())
        new = [requalify(k) for k in kids]
        if all(a is b for a, b in zip(new, kids)):
            return expr
        return expr.withNewChildren(to_seq(new))

    def col(expr):
        return None if expr is None else _col(engine, requalify(expr))

    def assignments(action) -> dict:
        out = {}
        for a in _seq(action.assignments()):
            key = _name_parts(a.key())
            if len(key) > 1 and side(key[:-1]) == "o":
                key = key[-1:]
            if len(key) != 1:
                raise ValueError(
                    f"MERGE INTO {name}: cannot assign {a.key().sql()!r}; "
                    "name a column of the target"
                )
            out[key[0]] = col(a.value())
        return out

    # the supported subset maps 1:1 onto engine.merge's semantics: ON
    # must be a conjunction of bare column equalities (they become the
    # merge keys)
    keys = []
    for c in _conjuncts(plan.mergeCondition()):
        sides = [
            _name_parts(k)[-1]
            for k in _seq(c.children())
            if k.nodeName() == "UnresolvedAttribute"
        ]
        if c.nodeName() != "EqualTo" or len(sides) != 2 or sides[0] != sides[1]:
            raise ValueError(
                f"MERGE INTO {name}: ON supports only conjunctions of "
                f"same-name column equalities (got {c.sql()!r})"
            )
        keys.append(sides[0])
    # three ORDERED clause families, each first-match-wins (Delta); the
    # parser already refuses an unconditioned clause before the last of
    # its family and SET * on a BY SOURCE clause
    matched_clauses, not_matched_clauses, by_source_clauses = [], [], []
    for family, actions in (
        (matched_clauses, plan.matchedActions()),
        (by_source_clauses, plan.notMatchedBySourceActions()),
    ):
        for a in _seq(actions):
            kind = a.nodeName()
            family.append(
                {
                    "action": "delete" if kind == "DeleteAction" else "update",
                    "condition": col(_opt(a.condition())),
                    "set": assignments(a) if kind == "UpdateAction" else None,
                }
            )
    for a in _seq(plan.notMatchedActions()):
        not_matched_clauses.append(
            {
                "condition": col(_opt(a.condition())),
                "values": (
                    assignments(a) if a.nodeName() == "InsertAction" else None
                ),
            }
        )
    if src_raw is not None:
        rsrc = _resolve(engine, src_raw)
        # engine tables are registered under their VIEW key
        # (schema__table) — resolve like every other reference here
        src = engine.table(rsrc) if rsrc else engine.spark.table(src_raw)
    else:
        src = _frame(engine, src_plan)
    # n_affected and the merge join must see the same rows: pin ONLY
    # a non-deterministic source (same probe as the engine API,
    # engine._pin_if_nondeterministic). An unconditional eager
    # checkpoint here would materialize `MERGE INTO t USING (SELECT
    # ... FROM 100TB_table)` into executor storage (VERDICT r13
    # perf-weak); a deterministic plan re-evaluates identically for
    # the count and the join.
    src = engine._pin_if_nondeterministic(src)
    n = src.count()
    engine.merge(
        name,
        src,
        keys,
        matched_clauses=matched_clauses,
        not_matched_clauses=not_matched_clauses,
        by_source_clauses=by_source_clauses,
        evolve_schema=bool(plan.withSchemaEvolution()),
        # SQL / Delta UPDATE SET * is last-write-wins: a NULL in the
        # source DOES overwrite the target (the engine API's default
        # coalesce merge is the reference's upsert semantics, not
        # SQL's)
        null_clobbers=True,
    )
    return _status(engine, "merge", name, n)


def try_execute_dml(engine, query: str) -> DataFrame | None:
    """Execute ``query`` if it is a DML statement over a known engine
    table; return the status frame, or None for everything else."""
    # Time-travel references resolve FIRST so they work both in bare
    # SELECTs and inside DML source subqueries.
    query, tt = _rewrite_time_travel(engine, query)

    if _DML_VERB.match(query):
        res = _execute_parsed_dml(engine, query)
        if res is not None:
            return res

    m = _CTAS.match(query)
    if m:
        raw = m.group(3)
        replace = bool(m.group(1))
        existing = _resolve(engine, raw)
        if existing is not None and not replace:
            raise ValueError(f"CREATE TABLE {raw}: table already exists")
        kwargs = {}
        if m.group(2):
            kwargs["versioned"] = True
        if m.group(4):
            kwargs["partition_by"] = [
                c.strip() for c in m.group(4).split(",") if c.strip()
            ]
        if m.group(5):
            # CLUSTER BY (cols): clustered writes (zone-map tightness
            # from ingest) — requires VERSIONED
            kwargs["cluster_by"] = [
                c.strip() for c in m.group(5).split(",") if c.strip()
            ]
        if existing is not None:
            spec = engine.specs[existing]
            same_layout = (
                sorted(kwargs.get("partition_by", []))
                == sorted(spec.partition_by)
                and sorted(kwargs.get("cluster_by", []))
                == sorted(spec.cluster_by)
                and bool(kwargs.get("versioned")) == bool(spec.versioned)
            )
            # analyze the SELECT before ANY destructive/visible step —
            # a statement that doesn't even resolve must leave the table
            # byte-identical (ADVICE r12: failure atomicity)
            df = engine.sql(m.group(6))
            if spec.versioned and same_layout:
                # Delta's CREATE OR REPLACE on a same-layout versioned
                # table: ONE 'rewrite' snapshot — the pre-replace state
                # stays time-travelable. The new definition carries no
                # constraints/expectations, so existing ones reset
                # (Delta resets unspecified properties the same way) —
                # but the reset is suspended IN MEMORY first and only
                # persists after the overwrite commits: a failed replace
                # must not strip a surviving table of its rules.
                old_cons = dict(spec.constraints)
                old_exp = dict(spec.expectations)
                old_gen = dict(spec.generated)
                spec.constraints.clear()
                spec.expectations = {}
                # generated formulas reset with the rest of the
                # definition: keeping them (while their auto _gen_ CHECK
                # was just cleared) would re-derive columns of the OLD
                # definition — or crash when the new SELECT drops a
                # formula source column (r13 review)
                spec.generated = {}
                try:
                    engine.overwrite(existing, df)
                except BaseException:
                    spec.constraints.update(old_cons)
                    spec.expectations = old_exp
                    spec.generated = old_gen
                    raise
                # keys survive the replace only while they still exist
                # in the new definition — a spec advertising a dropped
                # key column would fail later merges confusingly
                # (ADVICE r12); deletion_vectors / zone_maps are layout
                # properties of the (unchanged) storage and carry over.
                newcols = {c.lower() for c in engine.table(existing).columns}
                if spec.keys and not all(
                    k.lower() in newcols for k in spec.keys
                ):
                    spec.keys = []
                # the replace IS a new declaration: positional INSERTs
                # must map against the SELECT's column order, not the
                # original CREATE's (r13 review — the staged-rename path
                # gets this via create_table)
                spec.declared_columns = list(df.columns)
                engine._write_manifest(spec)
                n = engine.table(existing).count()
                return _status(engine, "replace_table_as", existing, n)
            # layout/versioning changed: a fresh table under the name.
            # Stage the new table under a temp name FIRST, then swap via
            # one metadata rename — the statement may read the table it
            # replaces (CREATE OR REPLACE t AS SELECT ... FROM t), which
            # stays intact through the staging write, and any validation
            # or write failure leaves it untouched.  No localCheckpoint
            # pin: at 100 TB the staging write IS the materialization
            # (VERDICT r12 perf weak + ADVICE r12 atomicity).
            tmp = f"{raw}_replace_staging"
            if _resolve(engine, tmp) is not None:
                # could be crash residue from an interrupted replace OR a
                # user table that happens to carry the staging suffix —
                # never silently delete; make the operator decide
                raise ValueError(
                    f"CREATE OR REPLACE {raw}: staging table {tmp} "
                    "already exists (crash residue from an interrupted "
                    f"replace, or a name collision); DROP TABLE {tmp} "
                    "first"
                )
            try:
                engine.create_table(tmp, df, **kwargs)
            except BaseException:
                engine.drop_table(tmp, delete_files=True)
                raise
            engine.drop_table(existing, delete_files=True)
            engine.rename_table(tmp, raw)
            n = engine.table(raw).count()
            return _status(engine, "create_table_as", raw, n)
        engine.create_table_as(raw, m.group(6), **kwargs)
        n = engine.table(raw).count()
        return _status(engine, "create_table_as", raw, n)

    m = _CREATE_TABLE.match(query)
    if m:
        # Literal CREATE [VERSIONED] TABLE t (col type, ...) [PARTITIONED
        # BY (c)] — an EMPTY typed table through create_table (the other
        # statement a first-time user types before any data exists). The
        # column-defs text is a Spark DDL schema string, so types parse
        # exactly as Spark would (decimal scales, nested types, NOT NULL).
        raw = m.group(2)
        if _resolve(engine, raw) is not None:
            raise ValueError(f"CREATE TABLE {raw}: table already exists")
        empty = engine.spark.createDataFrame([], m.group(3))
        kwargs = {}
        if m.group(1):
            kwargs["versioned"] = True
        if m.group(4):
            kwargs["partition_by"] = [
                c.strip() for c in m.group(4).split(",") if c.strip()
            ]
        if m.group(5):
            kwargs["cluster_by"] = [
                c.strip() for c in m.group(5).split(",") if c.strip()
            ]
        if m.group(6):
            # TBLPROPERTIES pairs: the engine spec fields SHOW CREATE
            # TABLE emits (round-trip), plus 'constraint.<name>' entries
            constraints = {}
            for k, v in _TBLPROP_PAIR.findall(m.group(6)):
                k, v = k.replace("''", "'"), v.replace("''", "'")
                lk = k.lower()
                if lk.startswith("expectation."):
                    # 'expectation.<name>.<drop|track|quarantine>' = '<expr>'
                    body = k[len("expectation."):]
                    ename, _, action = body.rpartition(".")
                    if not ename or action.lower() not in (
                        "drop", "track", "quarantine",
                    ):
                        raise ValueError(
                            f"CREATE TABLE {raw}: expectation property "
                            f"{k!r} must be "
                            "'expectation.<name>.<drop|track|quarantine>'"
                        )
                    kwargs.setdefault("expectations", {})[ename] = {
                        "expr": v,
                        "action": action.lower(),
                    }
                elif lk.startswith("constraint."):
                    constraints[k[len("constraint."):]] = v
                elif lk.startswith("generated."):
                    kwargs.setdefault("generated", {})[
                        k[len("generated."):]
                    ] = v
                elif lk.startswith("identity."):
                    # 'identity.<col>' = '<start>,<step>' (both optional)
                    ps = [x.strip() for x in v.split(",")]
                    kwargs.setdefault("identity", {})[
                        k[len("identity."):]
                    ] = {
                        "start": int(ps[0]) if ps and ps[0] else 1,
                        "step": int(ps[1]) if len(ps) > 1 and ps[1] else 1,
                    }
                elif lk in ("keys", "bucket_by"):
                    kwargs[lk] = [c.strip() for c in v.split(",")]
                elif lk == "n_buckets":
                    kwargs[lk] = int(v)
                elif lk in ("deletion_vectors", "zone_maps"):
                    kwargs[lk] = v.lower() == "true"
                elif lk in ("compression", "format"):
                    kwargs[lk] = v
                elif lk in (
                    "auto_optimize.dv_sidecars",
                    "auto_optimize.write_dirs",
                ):
                    if not v.isdigit():
                        raise ValueError(
                            f"CREATE TABLE {raw}: {k!r} must be an "
                            "integer threshold"
                        )
                    kwargs.setdefault("_auto_optimize", {})[
                        lk.split(".", 1)[1]
                    ] = int(v)
                else:
                    raise ValueError(
                        f"CREATE TABLE {raw}: unsupported table property "
                        f"{k!r} (supported: {sorted(_CREATE_PROPS)} and "
                        "'constraint.<name>' / 'generated.<col>' / "
                        "'identity.<col>' / "
                        "'expectation.<name>.<action>')"
                    )
            if constraints:
                kwargs["constraints"] = constraints
        auto_opt = kwargs.pop("_auto_optimize", None)
        for c in kwargs.get("identity", {}):
            # the column is DECLARED in the defs (with its type) but
            # GENERATED ALWAYS: the engine assigns it as BIGINT
            have = {x.lower(): x for x in empty.columns}
            if c.lower() in have:
                f = empty.schema[have[c.lower()]]
                if f.dataType.simpleString() != "bigint":
                    raise ValueError(
                        f"CREATE TABLE {raw}: identity column {c!r} "
                        f"must be BIGINT (got {f.dataType.simpleString()})"
                    )
                empty = empty.drop(have[c.lower()])
        engine.create_table(raw, empty, **kwargs)
        if auto_opt:
            engine.set_auto_optimize(
                raw,
                dv_sidecars=auto_opt.get("dv_sidecars"),
                write_dirs=auto_opt.get("write_dirs"),
            )
        return _status(engine, "create_table", raw, 0)

    m = _SHOW_PARTITIONS.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None  # let spark.sql answer for catalog tables
        spec = engine.specs[name]
        parts = spec.physical_partitioning
        if not parts:
            raise ValueError(f"SHOW PARTITIONS {name}: not a partitioned table")
        # METADATA-only at 100 TB: versioned tables read the snapshot
        # mapping keys, on-disk tables walk directory names — never a
        # data scan. In-memory tables have no dirs; one count job.
        # Row counts ride along from the same metadata (footer sums
        # minus per-partition DV refs — engine.partition_counts).
        counts = engine.partition_counts(name)
        if counts is not None:
            rels = sorted(counts)
        elif spec.versioned:
            rels = sorted(
                p for p in engine._snapstore(name).load().mapping if p
            )
        elif name not in engine._mem and engine.root is not None:
            # same walk the snapshot layer uses — one naming authority
            from polars_lake_spark.snapshots import _partition_relpaths

            rels = [p for p in _partition_relpaths(engine._path(name)) if p]
        else:
            from polars_lake_spark.layout import hive_relpath as _hr

            by_rel = {
                _hr(parts, [r[c] for c in parts]): r["__n"]
                for r in engine.table(name)
                .groupBy(*parts)
                .agg(F.count(F.lit(1)).alias("__n"))
                .collect()
            }
            counts, rels = by_rel, sorted(by_rel)
        return engine.spark.createDataFrame(
            [
                (p, int(counts[p]) if counts is not None else None)
                for p in rels
            ],
            "partition string, rows bigint",
        )

    m = _DROP.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            # Not an engine table: fall through to spark.sql for BOTH
            # forms — IF EXISTS never errors there, and a same-named
            # Spark-catalog table must actually be dropped rather than
            # silently surviving a synthesized success frame (ADVICE r5).
            return None
        # delete_files=True: SQL DROP must be durable — without it the
        # manifest survives on disk and the table resurrects in the next
        # engine process (review finding)
        engine.drop_table(name, delete_files=True)
        return _status(engine, "drop_table", name, 1)

    m = _APPLY_CHANGES.match(query)
    if m:
        # APPLY CHANGES INTO t FROM src|(<select>) [KEYS (k, ...)]
        #   [APPLY AS DELETE WHEN c] [APPLY AS TRUNCATE WHEN c]
        #   [SEQUENCE BY col] [STORED AS SCD TYPE 1|2]
        # — the DLT statement for the engine's CDC apply tier
        # (streaming/ingest.py apply_changes_batch /
        # apply_changes_scd2_batch; the streaming form wraps the same
        # bodies in foreachBatch).  Ops come from the source's `_op`
        # column unless APPLY AS clauses derive them (DELETE wins when
        # both conditions hit); a source with neither is a pure upsert
        # feed.  KEYS is validated against the target's declared keys —
        # the batch functions merge on those, a mismatched list would
        # silently apply on different keys than the user wrote.
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        from polars_lake_spark.streaming.ingest import (
            apply_changes_batch,
            apply_changes_scd2_batch,
        )

        src_sql = m.group(2)
        if src_sql.startswith("("):
            src = engine.spark.sql(src_sql[1:-1])
        else:
            rsrc = _resolve(engine, src_sql)
            src = engine.table(rsrc) if rsrc else engine.spark.table(src_sql)
        spec = engine.specs[name]
        scd2 = m.group(7) == "2"
        biz_keys = list(spec.keys)
        if scd2 and biz_keys and biz_keys[-1] == "__start_seq":
            biz_keys = biz_keys[:-1]
        if m.group(3):
            listed = [c.strip() for c in m.group(3).split(",") if c.strip()]
            if sorted(c.lower() for c in listed) != sorted(
                c.lower() for c in biz_keys
            ):
                raise ValueError(
                    f"APPLY CHANGES INTO {name}: KEYS {listed} do not "
                    f"match the target's declared keys {biz_keys}"
                )
        seq = m.group(6)
        del_when, tr_when = m.group(4), m.group(5)
        op_col = "_op"
        if del_when or tr_when:
            op = F.lit("upsert")
            if tr_when:
                op = F.when(
                    F.coalesce(F.expr(tr_when), F.lit(False)), "truncate"
                ).otherwise(op)
            if del_when:
                op = F.when(
                    F.coalesce(F.expr(del_when), F.lit(False)), "delete"
                ).otherwise(op)
            op_col = "__apply_op"
            src = src.withColumn(op_col, op)
        elif "_op" not in src.columns:
            op_col = "__apply_op"
            src = src.withColumn(op_col, F.lit("upsert"))
        # n_affected and the apply must see the same rows: pin ONLY a
        # non-deterministic source (MERGE's rule — an unconditional
        # eager checkpoint would materialize an arbitrarily large
        # deterministic change feed into executor storage)
        src = engine._pin_if_nondeterministic(src)
        n = src.count()
        if scd2:
            if seq is None:
                raise ValueError(
                    "APPLY CHANGES ... STORED AS SCD TYPE 2 requires "
                    "SEQUENCE BY"
                )
            apply_changes_scd2_batch(engine, name, src, seq, op_col=op_col)
        else:
            apply_changes_batch(
                engine, name, src, op_col=op_col, sequence_by=seq
            )
        return _status(engine, "apply_changes", name, n)

    m = _ANALYZE.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        cols = (
            [c.strip() for c in m.group(2).split(",") if c.strip()]
            if m.group(2)
            else None
        )
        stats = engine.analyze_table(name, columns=cols)
        return _status(engine, "analyze", name, int(stats.get("rows", 0)))

    m = _VACUUM.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        keep = int(m.group(2)) if m.group(2) else 1
        dry = m.group(3) is not None
        res = engine.vacuum(name, keep_last=keep, dry_run=dry)
        return _status(
            engine,
            "vacuum_dry_run" if dry else "vacuum",
            name,
            len(res.get("removed_dirs", [])),
        )

    m = _OPTIMIZE.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        where = m.group(2).strip() if m.group(2) else None
        zcols = (
            [c.strip() for c in m.group(3).split(",") if c.strip()]
            if m.group(3)
            else None
        )
        # n_affected = data files the compaction actually replaced,
        # counted over its scope (WHERE-touched partitions only) from
        # metadata — compact() does the counting since it owns the scope.
        nfiles = engine.compact(name, zorder_by=zcols, where=where)
        return _status(engine, "optimize", name, nfiles)

    m = _TRUNCATE.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        with engine._lock(name):
            t = engine.table(name)
            # row count from parquet footers (driver-side metadata) —
            # a full count() job under the table lock otherwise
            n = engine.meta_row_count(name)
            if n is None:
                n = t.count()
            # schema-preserving empty rewrite; versioned tables commit
            # one snapshot, so the pre-truncate state time-travels
            engine.overwrite(name, t.limit(0), allow_drop=False)
        return _status(engine, "truncate", name, n)

    m = _COPY_INTO.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        path, fmt = m.group(2), (m.group(3) or "parquet").lower()
        force = m.group(4) is not None
        if fmt not in ("parquet", "csv", "json"):
            raise ValueError(f"COPY INTO {name}: unsupported FILEFORMAT {fmt!r}")
        spec = engine.specs[name]
        with engine._lock(name):
            # Exactly-once loads (Delta COPY INTO semantics): each source
            # file's identity (path+size+mtime digest) is checked against
            # the table's loaded-file log — a replayed loader script
            # re-loads NOTHING, a partially-new directory loads only the
            # new files, FORCE overrides. The log rides in the snapshot
            # commit for versioned tables (atomic with the data) and in
            # the manifest for plain ones.
            files = _copy_source_files(path, fmt)
            if not files:
                raise ValueError(f"COPY INTO {name}: no {fmt} files under {path!r}")
            digests = {_copy_file_digest(f): f for f in files}
            if not force:
                seen = engine.copy_loaded(name)
                digests = {d: f for d, f in digests.items() if d not in seen}
            if not digests:
                return _status(engine, "copy_into", name, 0)
            load = sorted(digests.values())
            reader = engine.spark.read
            if os.path.isdir(path):
                # hive-partitioned source dirs: explicit file lists still
                # parse k=v path segments into partition columns
                reader = reader.option("basePath", path)
            if fmt == "parquet":
                src = reader.parquet(*load)
            elif fmt == "csv":
                src = reader.option("header", "true").csv(load)
            else:
                src = reader.json(load)
            tschema = engine.table(name).schema
            canon = {f.name.lower(): f.name for f in tschema.fields}
            missing = [
                f.name for f in tschema.fields if f.name.lower() not in
                {c.lower() for c in src.columns}
            ]
            extra = [c for c in src.columns if c.lower() not in canon]
            if extra:
                raise ValueError(
                    f"COPY INTO {name}: source columns {extra} not in the table"
                )
            # by-NAME mapping (files carry their own column order), missing
            # table columns NULL-fill, everything casts to the table's
            # types.  IDENTITY columns stay ABSENT (engine.insert assigns
            # them) — and a source FILE carrying one refuses (ALWAYS).
            ident = set(engine.specs[name].identity or {})
            src_ident = [c for c in src.columns if canon.get(c.lower()) in ident]
            if src_ident:
                raise ValueError(
                    f"COPY INTO {name}: identity columns {src_ident} are "
                    "GENERATED ALWAYS — remove them from the source files"
                )
            df = src
            for c in list(src.columns):
                df = df.withColumnRenamed(c, canon[c.lower()])
            for f in tschema.fields:
                if f.name in missing and f.name not in ident:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            df = df.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in tschema.fields
                    if f.name not in ident
                ]
            )
            # file scans are deterministic, so the count and the insert
            # see the same rows without an eager pin of the whole batch
            df = engine._pin_if_nondeterministic(df)
            n = df.count()
            engine.insert(name, df, meta={"copy_files": digests})
            if not spec.versioned:
                # plain tables: log in the manifest, written AFTER the
                # data lands (crash between the two duplicates on replay
                # rather than losing the batch); same bounded horizon as
                # the snapshot-side log
                # pop-before-insert so a FORCE re-load moves its entry to
                # the END of the eviction order (LRU-by-load, ADVICE r8 —
                # matches the snapshot-side merge in _write_versioned)
                for k in digests:
                    spec.copy_files.pop(k, None)
                spec.copy_files.update(digests)
                if len(spec.copy_files) > engine.COPY_LOG_MAX:
                    spec.copy_files = dict(
                        list(spec.copy_files.items())[-engine.COPY_LOG_MAX:]
                    )
                if engine.root is not None and name not in engine._mem:
                    engine._write_manifest(spec)
        return _status(engine, "copy_into", name, n)

    m = _REORG.match(query)
    if m:
        # Delta's REORG TABLE ... APPLY (PURGE): materialize deletion
        # vectors into the data files — a full compaction rewrite from
        # the DV-applied read; its 'rewrite' commit clears the DV list.
        # (Difference from Delta noted: PURGE there rewrites only files
        # carrying DVs; here the whole table compacts, which also folds
        # small files — the rewrite is the point of the statement.)
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        nfiles = engine.compact(name)
        return _status(engine, "reorg", name, nfiles)

    m = _CONVERT.match(query)
    if m:
        # CONVERT TO DELTA analog: adopt a plain parquet table into the
        # snapshot layer by MOVING its files into write dir 1 (no data
        # rewrite — the only affordable migration at 100 TB).
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        engine.convert_to_versioned(name)
        return _status(engine, "convert_to_versioned", name, 0)

    m = _ALTER_CLUSTER.match(query)
    if m:
        # Liquid-clustering re-declaration: future writes cluster on the
        # new key; OPTIMIZE rewrites the existing files clustered.
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        cols = (
            []
            if m.group(3)
            else [c.strip() for c in m.group(2).split(",") if c.strip()]
        )
        engine.set_cluster_by(name, cols)
        return _status(engine, "alter_cluster_by", name, 0)

    m = _SET_TBLPROPERTIES.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None  # let spark.sql handle catalog tables
        prop, val = m.group(2).lower(), m.group(3).lower()
        if prop in ("auto_optimize.dv_sidecars", "auto_optimize.write_dirs"):
            spec = engine.specs[name]
            cur = dict(spec.auto_optimize or {})
            key = prop.split(".", 1)[1]
            if val in ("none", "null", "off"):
                cur.pop(key, None)
            elif val.isdigit():
                cur[key] = int(val)
            else:
                raise ValueError(
                    f"ALTER TABLE {name}: {prop} must be an integer "
                    "threshold or 'none'"
                )
            engine.set_auto_optimize(
                name,
                dv_sidecars=cur.get("dv_sidecars"),
                write_dirs=cur.get("write_dirs"),
            )
            return _status(
                engine, "set_tblproperties", name, cur.get(key, 0)
            )
        if prop not in ("deletion_vectors", "delta.enabledeletionvectors"):
            raise ValueError(
                f"ALTER TABLE {name}: unsupported table property {prop!r} "
                "(supported: 'deletion_vectors', "
                "'auto_optimize.dv_sidecars', 'auto_optimize.write_dirs')"
            )
        if val not in ("true", "false"):
            raise ValueError(f"ALTER TABLE {name}: {prop} must be true/false")
        enable = val == "true"
        spec = engine.specs[name]
        with engine._lock(name):
            if enable and not spec.versioned:
                raise ValueError(
                    f"ALTER TABLE {name}: deletion_vectors requires a "
                    "versioned table"
                )
            if not enable and spec.versioned:
                store = engine._snapstore(name)
                if store.versions() and (store.load().meta or {}).get("dv"):
                    raise ValueError(
                        f"ALTER TABLE {name}: live deletion vectors exist; "
                        "run OPTIMIZE (full compaction folds them in) "
                        "before disabling"
                    )
            spec.deletion_vectors = enable
            if engine.root is not None and name not in engine._mem:
                engine._write_manifest(spec)
        return _status(engine, "set_tblproperties", name, int(enable))

    m = _ALTER_ADD_CONSTRAINT.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        engine.add_constraint(name, m.group(2), m.group(3).strip())
        return _status(engine, "alter_add_constraint", name, 0)

    m = _ALTER_DROP_CONSTRAINT.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        cname = m.group(3)
        if not m.group(2) and cname not in engine.specs[name].constraints:
            raise ValueError(
                f"ALTER TABLE {name}: no constraint {cname!r} "
                "(use DROP CONSTRAINT IF EXISTS)"
            )
        engine.drop_constraint(name, cname)
        return _status(engine, "alter_drop_constraint", name, 0)

    m = _ALTER_ADD_COLUMN.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        body = m.group(2).strip()
        # Strip ONE wrapping paren pair only when it encloses the whole
        # body — "(c int)" unwraps, "c decimal(10,2)" must keep its
        # type's own parens (a blind \(...\)? regex chopped them off and
        # produced an unbalanced type string — r6 review finding).
        if body.startswith("("):
            depth = 0
            for i, ch in enumerate(body):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        if i == len(body) - 1:
                            body = body[1:-1].strip()
                        break
        cm = re.fullmatch(r"([A-Za-z_]\w*)\s+(.+)", body, re.S)
        if not cm:
            raise ValueError(
                f"ALTER TABLE {name}: cannot parse ADD COLUMN {body!r}"
            )
        col, coltype = cm.group(1), cm.group(2).strip()
        # A top-level comma in the captured type means a multi-column ADD
        # COLUMNS (a int, b int) — reject loudly rather than let the
        # second column be swallowed into the first's type string.
        # (Commas inside decimal(10,2) / map<string,int> are fine.)
        depth = 0
        for ch in coltype:
            if ch in "(<":
                depth += 1
            elif ch in ")>":
                depth -= 1
            elif ch == "," and depth == 0:
                raise ValueError(
                    f"ALTER TABLE {name}: one ADD COLUMN per statement "
                    f"(got {coltype!r})"
                )
        # Versioned parquet tables: METADATA-ONLY add (Delta
        # column-mapping analog, engine.add_column) — one snapshot
        # commit, no NULL-filled rewrite, n_affected 0 rows touched.
        if _metadata_ddl_ok(engine, name):
            engine.add_column(name, col, coltype)
            return _status(engine, "alter_add_column", name, 0)
        # Same read-count-overwrite TOCTOU discipline as DELETE/UPDATE:
        # the whole sequence holds the (reentrant) table lock, or a
        # concurrent insert between the read and the rewrite would be
        # silently dropped (r6 review finding).
        with engine._lock(name):
            t = engine.table(name)
            if col.lower() in {c.lower() for c in t.columns}:
                raise ValueError(f"ALTER TABLE {name}: column {col!r} exists")
            # NULL-filled rewrite: plain UNVERSIONED parquet cannot do
            # Delta's metadata-only add (old files would lack the column
            # and the mixed-directory scan drifts — no snapshot to hang
            # the event log on).
            n = t.count()
            engine.overwrite(
                name,
                t.withColumn(col, F.lit(None).cast(coltype)),
                allow_drop=False,
            )
        return _status(engine, "alter_add_column", name, n)

    m = _ALTER_DROP_COLUMN.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        cols = [
            c.strip() for c in (m.group(2) or m.group(3)).split(",") if c.strip()
        ]
        # Versioned parquet tables: METADATA-ONLY drop (engine.
        # drop_columns) — data files keep the bytes, reads prune per
        # write dir, a later same-name re-add reads NULL from old files.
        if _metadata_ddl_ok(engine, name):
            engine.drop_columns(name, cols)
            return _status(engine, "alter_drop_column", name, 0)
        spec = engine.specs[name]
        with engine._lock(name):
            t = engine.table(name)
            have = {c.lower(): c for c in t.columns}
            missing = [c for c in cols if c.lower() not in have]
            if missing:
                raise ValueError(
                    f"ALTER TABLE {name}: no columns {missing}"
                )
            doomed = {have[c.lower()] for c in cols}
            _guard_layout_columns(spec, doomed, "DROP COLUMN")
            if len(doomed) == len(t.columns):
                raise ValueError(
                    f"ALTER TABLE {name}: cannot drop every column"
                )
            n = t.count()
            # spec hygiene: dropped columns must leave bloom sizing and
            # persisted column stats too, or the manifest carries phantom
            # entries that mis-size a later re-added column's bloom
            # filter (r7 review finding). Rolled back on a failed write,
            # same discipline as RENAME.
            old_blooms = dict(spec.bloom_filter_cols)
            old_stats = spec.stats
            for c in doomed:
                spec.bloom_filter_cols.pop(c, None)
            if spec.stats and spec.stats.get("columns"):
                spec.stats = {
                    **spec.stats,
                    "columns": {
                        k: v
                        for k, v in spec.stats["columns"].items()
                        if k not in doomed
                    },
                }
            try:
                engine.overwrite(name, t.drop(*doomed), allow_drop=False)
            except Exception:
                spec.bloom_filter_cols = old_blooms
                spec.stats = old_stats
                raise
        return _status(engine, "alter_drop_column", name, n)

    m = _ALTER_COLUMN_TYPE.match(query)
    if m:
        # ALTER TABLE t ALTER COLUMN c TYPE <type> — order-preserving
        # WIDENINGS only (Delta type-widening analog).  Versioned
        # parquet: metadata-only (engine.alter_column_type — era files
        # and zone-map stats stay valid; reads conform the type up).
        # Unversioned: cast rewrite, same widening rule so semantics
        # don't depend on the storage tier.
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        col, newtype = m.group(2), m.group(3).strip()
        if _metadata_ddl_ok(engine, name):
            engine.alter_column_type(name, col, newtype)
            return _status(engine, "alter_column_type", name, 0)
        from polars_lake_spark.engine import Engine as _E

        with engine._lock(name):
            t = engine.table(name)
            have = {c.lower(): c for c in t.columns}
            if col.lower() not in have:
                raise ValueError(f"ALTER TABLE {name}: no column {col!r}")
            col = have[col.lower()]
            frm = t.schema[col].dataType.jsonValue()
            to = (
                engine.spark.createDataFrame([], f"`{col}` {newtype}")
                .schema.fields[0].dataType.jsonValue()
            )
            frm_s = frm if isinstance(frm, str) else None
            to_s = to if isinstance(to, str) else None
            if frm == to:
                return _status(engine, "alter_column_type", name, 0)
            if not (frm_s and to_s and _E._is_widening(frm_s, to_s)):
                raise ValueError(
                    f"ALTER TABLE {name}: {col!r} {frm} → {to} is not an "
                    "order-preserving widening; rewrite the table to "
                    "change types"
                )
            spec = engine.specs[name]
            if col in set(spec.partition_by) | set(spec.bucket_by):
                raise ValueError(
                    f"ALTER TABLE {name}: cannot widen layout "
                    f"(partition/bucket) column {col!r}"
                )
            n = t.count()
            engine.overwrite(
                name,
                t.withColumn(col, F.col(col).cast(newtype)),
                allow_drop=False,
            )
        return _status(engine, "alter_column_type", name, n)

    m = _ALTER_RENAME_TABLE.match(query)
    if m:
        # ALTER TABLE t RENAME TO u — one metadata move (engine.
        # rename_table): snapshots/zone maps/DVs travel with the dir,
        # O(1) at any size
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        engine.rename_table(name, m.group(2))
        return _status(engine, "rename_table", m.group(2), 0)

    m = _ALTER_RENAME_COLUMN.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        old_c, new_c = m.group(2), m.group(3)
        # Versioned parquet tables: METADATA-ONLY rename (engine.
        # rename_column) — one snapshot commit; old files keep era names,
        # reads and zone-map probes translate per write dir.
        if _metadata_ddl_ok(engine, name):
            engine.rename_column(name, old_c, new_c)
            return _status(engine, "alter_rename_column", name, 0)
        spec = engine.specs[name]
        with engine._lock(name):
            t = engine.table(name)
            have = {c.lower(): c for c in t.columns}
            if old_c.lower() not in have:
                raise ValueError(f"ALTER TABLE {name}: no column {old_c!r}")
            if new_c.lower() in have:
                raise ValueError(f"ALTER TABLE {name}: column {new_c!r} exists")
            old_c = have[old_c.lower()]
            _guard_layout_columns(spec, {old_c}, "RENAME COLUMN", keys_ok=True)
            n = t.count()
            # keys may rename with the column (row identity is unchanged);
            # layout columns may not (old snapshots' dir names would stop
            # matching the spec — guarded above). Bloom sizing renames
            # BEFORE the write (the written frame carries the new name);
            # if the write then fails, both spec edits roll back so the
            # manifest never drifts from the data.
            old_keys = list(spec.keys)
            old_blooms = dict(spec.bloom_filter_cols)
            old_stats = spec.stats
            old_declared = list(spec.declared_columns)
            spec.keys = [new_c if k == old_c else k for k in spec.keys]
            # declared order must follow the rename too, or the column
            # falls OUT of the declaration and declared_order() moves it
            # to the end — silently changing positional INSERT mapping.
            spec.declared_columns = [
                new_c if c.lower() == old_c.lower() else c
                for c in spec.declared_columns
            ]
            if old_c in spec.bloom_filter_cols:
                spec.bloom_filter_cols[new_c] = spec.bloom_filter_cols.pop(old_c)
            if spec.stats and old_c in (spec.stats.get("columns") or {}):
                cols_stats = dict(spec.stats["columns"])
                cols_stats[new_c] = cols_stats.pop(old_c)
                spec.stats = {**spec.stats, "columns": cols_stats}
            try:
                engine.overwrite(
                    name,
                    t.withColumnRenamed(old_c, new_c),
                    allow_drop=False,
                )
            except Exception:
                spec.keys, spec.bloom_filter_cols = old_keys, old_blooms
                spec.stats = old_stats
                spec.declared_columns = old_declared
                raise
        return _status(engine, "alter_rename_column", name, n)

    if _SHOW_TABLES.match(query):
        rows = [
            (
                n,
                s.format,
                bool(s.versioned),
                ",".join(s.partition_by),
                bool(n in engine._mem),
            )
            for n, s in sorted(engine.specs.items())
        ]
        return engine.spark.createDataFrame(
            rows,
            "tableName string, format string, versioned boolean, "
            "partitionedBy string, isTemporary boolean",
        )

    m = _DESCRIBE_HISTORY.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        rows = [
            (
                h["version"],
                h["op"],
                h["ts_ns"] // 1000,  # µs — Spark timestamps carry no ns
                h["n_partitions"],
            )
            for h in engine.history(name)
        ]
        return engine.spark.createDataFrame(
            rows,
            "version bigint, operation string, ts_us bigint, "
            "n_partitions bigint",
        ).selectExpr(
            "version",
            "operation",
            "timestamp_micros(ts_us) AS timestamp",
            "n_partitions",
        )

    m = _RESTORE.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        if m.group(2) is not None:
            version = int(m.group(2))
        else:
            # TIMESTAMP AS OF: latest snapshot at or before the instant
            # (the same resolution time travel uses)
            version = _version_at_timestamp(engine, name, m.group(3))
        engine.restore(name, version)
        return _status(engine, "restore", name, 0)

    m = _SHOW_CREATE.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None  # not an engine table — let spark.sql handle it
        spec = engine.specs[name]
        from polars_lake_spark.layout import BUCKET_COL

        # bucket_id is DERIVED on write (recomputed by _with_layout) —
        # emitting it would make the round-tripped CREATE declare it
        fields = [
            f
            for f in spec.declared_order(engine.table(name).schema)
            if not (spec.bucket_by and f.name == BUCKET_COL)
        ]
        cols = ",\n  ".join(
            f"{f.name} {f.dataType.simpleString().upper()}" for f in fields
        )
        head = "CREATE VERSIONED TABLE" if spec.versioned else "CREATE TABLE"
        stmt = f"{head} {name} (\n  {cols}\n)"
        if spec.partition_by:
            stmt += f"\nPARTITIONED BY ({', '.join(spec.partition_by)})"
        if spec.cluster_by:
            stmt += f"\nCLUSTER BY ({', '.join(spec.cluster_by)})"
        props: dict[str, str] = {}
        if spec.keys:
            props["keys"] = ",".join(spec.keys)
        if spec.bucket_by:
            props["bucket_by"] = ",".join(spec.bucket_by)
            props["n_buckets"] = str(spec.n_buckets)
        if spec.deletion_vectors:
            props["deletion_vectors"] = "true"
        if not spec.zone_maps:
            props["zone_maps"] = "false"
        if spec.compression != "snappy":
            props["compression"] = spec.compression
        if spec.format != "parquet":
            props["format"] = spec.format
        for gcol, gexpr in (spec.generated or {}).items():
            props[f"generated.{gcol}"] = gexpr
        for icol, d in (spec.identity or {}).items():
            props[f"identity.{icol}"] = f"{d['start']},{d['step']}"
        for cname, expr in (spec.constraints or {}).items():
            if cname.startswith("_gen_") and cname[5:] in (
                spec.generated or {}
            ):
                continue  # derived from generated.* — re-created on parse
            props[f"constraint.{cname}"] = expr
        for ename, e in (spec.expectations or {}).items():
            props[f"expectation.{ename}.{e['action']}"] = e["expr"]
        for k, v in sorted((spec.auto_optimize or {}).items()):
            props[f"auto_optimize.{k}"] = str(v)
        if props:
            pairs = ", ".join(
                f"'{k}'='{v.replace(chr(39), chr(39) * 2)}'"
                for k, v in props.items()
            )
            stmt += f"\nTBLPROPERTIES ({pairs})"
        return engine.spark.createDataFrame(
            [(stmt,)], "createtab_stmt string"
        )

    m = _DESCRIBE_DETAIL.match(query)
    if m:
        # Delta's DESCRIBE DETAIL: one row of physical-layout facts, all
        # from METADATA (fragmentation_report + the spec/snapshot) — no
        # scan. The numbers an operator reads before deciding on
        # OPTIMIZE / compact_dvs / CONVERT.
        name = _resolve(engine, m.group(1))
        if name is None:
            return None
        spec = engine.specs[name]
        fr = engine.fragmentation_report(name)
        return engine.spark.createDataFrame(
            [
                (
                    name,
                    spec.format,
                    spec.versioned,
                    fr["files"],
                    fr["bytes_total"],
                    fr["small_files"],
                    fr["write_dirs"],
                    fr["dv_sidecars"],
                    fr["dv_rows"],
                    ",".join(spec.partition_by) or None,
                    ",".join(spec.cluster_by) or None,
                    fr["recommend"],
                )
            ],
            "name string, format string, versioned boolean, num_files "
            "bigint, size_bytes bigint, small_files bigint, write_dirs "
            "bigint, dv_sidecars bigint, dv_rows bigint, partition_by "
            "string, cluster_by string, recommend string",
        )

    m = _DESCRIBE.match(query)
    if m:
        name = _resolve(engine, m.group(1))
        if name is None:
            return None  # not an engine table — let spark.sql describe it
        spec = engine.specs[name]
        marks = {}
        for c in spec.partition_by:
            marks[c] = "partition column"
        for c in spec.bucket_by:
            marks[c] = marks.get(c, "") or "bucket source column"
        for c in spec.cluster_by:
            marks[c] = marks.get(c, "") or "cluster column"
        for c in spec.keys:
            marks[c] = (marks.get(c, "") + " key").strip()
        rows = [
            (c, dt, marks.get(c))
            for c, dt in engine.table(name).dtypes
        ]
        return engine.spark.createDataFrame(
            rows, "col_name string, data_type string, comment string"
        )

    if tt:
        # a time-travel rewrite happened but no DML shape matched — a
        # plain pinned SELECT still deserves zone-map file skipping
        # against the PINNED version's sidecars (VERDICT r9); anything
        # the fast path bails on runs the rewritten text vanilla
        fast = engine._try_zonemap_select(query, asof=tt)
        if fast is not None:
            return fast
        return engine.spark.sql(query)
    return None
