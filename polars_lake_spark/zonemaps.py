"""File-level data skipping (zone maps): the Delta/Iceberg data-skipping
tier, built on public parquet footer metadata.

Partition pruning only covers the layout keys; at 100 TB most selective
predicates hit NON-layout columns (an orderkey point lookup, a price
range, a timestamp window), where every file of every surviving partition
must otherwise be opened.  Parquet footers already carry per-row-group
min/max/null statistics, so at COMMIT time we fold them into one
per-write-dir ``_zonemap.json`` sidecar (file → column → [lo, hi,
nulls]), and at SCAN time a driver-side metadata pass drops every file
whose recorded range cannot satisfy the predicate — before Spark plans a
single task.

Design:

* The sidecar lives INSIDE the immutable write dir, so it inherits every
  snapshot property for free: time travel reads the stats that describe
  exactly that version's files, vacuum deletes stats with their dir,
  clones carry them, and a reader can never see stats newer than its
  data.  (Leading-underscore files are invisible to Spark's directory
  scans.)
* Stats collection is footer-only — never a data scan.  Small write dirs
  read footers on the driver; past ``DISTRIBUTE_THRESHOLD`` files the
  footer reads fan out as one Spark job over the file list and only the
  O(files) stat rows return (the same shape Delta uses: stats computed
  at write, metadata-only thereafter).
* Pruning is CONSERVATIVE by construction: an unparseable predicate, an
  unrecognized conjunct, a column without stats, or a type the encoder
  doesn't know all keep the file.  The caller re-applies the full
  predicate as a residual filter, so correctness never depends on the
  pruning decision — only IO does.  (Parquet may truncate long string
  min/max to prefix bounds; those remain valid bounds, so prefix-range
  pruning stays sound.)

The reference engine has no file-level statistics at all — its manifest
records only partition/bucket columns (``/root/reference/src/
dataset.rs:337-358``); this module is beyond-reference scale surface.
"""

from __future__ import annotations

import datetime
import json
import os
import re
from decimal import Decimal

ZONEMAP = "_zonemap.json"
# Stat at most this many columns per table (Delta's dataSkippingNumIndexedCols
# default is 32): wide tables would otherwise bloat the sidecar and the
# driver-side prune loop for columns nobody filters on.
MAX_ZONE_COLS = 32
# Above this many files the footer reads run as one Spark job instead of a
# driver loop (each footer read is ~1 IO; a 1000-executor write can land
# tens of thousands of files).
DISTRIBUTE_THRESHOLD = 64


# --------------------------------------------------------------- encoding
def _encode(v):
    """JSON-safe typed encoding of a footer min/max value; None when the
    type is not order-comparable across the JSON round-trip (those
    columns simply don't prune)."""
    if isinstance(v, bool):
        return ["b", bool(v)]
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, float):
        # A NaN endpoint (parquet-mr orders NaN largest, so any file
        # containing NaN gets max=NaN) poisons every range comparison —
        # drop the column's stats for that file (always kept).
        if v != v:
            return None
        return ["f", v]
    if isinstance(v, str):
        return ["s", v]
    if isinstance(v, Decimal):
        return ["dec", str(v)]
    if isinstance(v, datetime.datetime):
        return ["t", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["d", v.isoformat()]
    return None


def _decode(e):
    t, v = e
    if t == "dec":
        return t, Decimal(v)
    if t == "t":
        return t, datetime.datetime.fromisoformat(v)
    if t == "d":
        return t, datetime.date.fromisoformat(v)
    return t, v


def _coerce(tag, decoded, lit):
    """Coerce a predicate literal into the stat value's domain for
    comparison; None when the literal can't live there (no pruning)."""
    try:
        if tag in ("i", "f"):
            if isinstance(lit, (int, float)) and not isinstance(lit, bool):
                return lit  # int/float inter-compare exactly in Python
            return None
        if tag == "s":
            return lit if isinstance(lit, str) else None
        if tag == "dec":
            if isinstance(lit, (int, float)) and not isinstance(lit, bool):
                return Decimal(str(lit))
            if isinstance(lit, str):
                return Decimal(lit)
            return None
        if tag == "d":
            if isinstance(lit, str):
                return datetime.date.fromisoformat(lit)
            return None
        if tag == "t":
            if isinstance(lit, str):
                return datetime.datetime.fromisoformat(lit)
            return None
        if tag == "b":
            return lit if isinstance(lit, bool) else None
    except (ValueError, ArithmeticError):
        return None
    return None


# ------------------------------------------------------------- collection
def _file_stats(path: str, max_cols: int = MAX_ZONE_COLS) -> dict:
    """One parquet file's zone-map entry from its FOOTER: row count plus,
    per top-level primitive column, [min, max, null_count] folded over
    row groups.  A column any row group lacks trustworthy (or decodable)
    min/max for is dropped for the whole file (absent stats never
    prune); the file's other columns keep theirs.

    Float/double stats are kept ONLY for parquet-mr-written files
    (``created_by``): parquet-mr propagates NaN into the recorded max
    (NaN orders largest), so a float entry that SURVIVES the
    NaN-endpoint drop below is provably from a NaN-free file.  A
    spec-compliant foreign writer instead IGNORES NaN when computing
    stats — a file [3.0, NaN] records min=max=3 — which is still sound
    for disjointness pruning (a NaN row can never satisfy the float
    shapes we prune on) but silently wrong for all-match certification
    and exact MIN/MAX, so foreign float stats are dropped outright
    (reachable via convert_to_versioned-adopted parquet; ADVICE r10)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    float_trust = (md.created_by or "").startswith("parquet-mr")
    cols: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for ci in range(md.num_columns):
            cm = rgm.column(ci)
            name = cm.path_in_schema
            if "." in name or name in bad:
                continue  # nested leaf — not a top-level column
            try:
                st = cm.statistics
                lo, hi = (
                    (_encode(st.min), _encode(st.max))
                    if st is not None and st.has_min_max
                    else (None, None)
                )
            except NotImplementedError:
                # Arrow cannot decode this type's stats (e.g. a small
                # DECIMAL stored as INT32): only this column goes
                # unindexed, the rest of the file keeps its ranges
                lo = hi = None
            if lo is None or hi is None:
                bad.add(name)
                cols.pop(name, None)
                continue
            if (lo[0] == "f" or hi[0] == "f") and not float_trust:
                bad.add(name)
                cols.pop(name, None)
                continue
            nulls = st.null_count if st.has_null_count else None
            cur = cols.get(name)
            if cur is None:
                cols[name] = [lo, hi, nulls]
            else:
                if _decode(lo)[1] < _decode(cur[0])[1]:
                    cur[0] = lo
                if _decode(hi)[1] > _decode(cur[1])[1]:
                    cur[1] = hi
                cur[2] = (
                    None if (cur[2] is None or nulls is None) else cur[2] + nulls
                )
    if len(cols) > max_cols:
        # Cap by SCHEMA POSITION (cols preserves first-seen footer order,
        # which is the file's schema order), matching Delta's
        # dataSkippingNumIndexedCols semantics — an alphabetic cap would
        # make prunability depend on column NAMES (ADVICE r9).
        import itertools

        cols = dict(itertools.islice(cols.items(), max_cols))
    return {"rows": md.num_rows, "cols": cols}


def _parquet_relpaths(write_dir: str) -> list[str]:
    out = []
    for cur, _dirs, files in os.walk(write_dir):
        for f in files:
            if f.endswith(".parquet"):
                out.append(
                    os.path.relpath(os.path.join(cur, f), write_dir).replace(
                        os.sep, "/"
                    )
                )
    return sorted(out)


def collect_zonemap(write_dir: str, spark=None) -> dict:
    """Zone map for every parquet file under ``write_dir`` —
    footer-metadata only.  Distributes the footer reads as one Spark job
    past DISTRIBUTE_THRESHOLD files; only the O(files) stat entries
    come back to the driver."""
    rels = _parquet_relpaths(write_dir)
    if spark is not None and len(rels) > DISTRIBUTE_THRESHOLD:
        sc = spark.sparkContext
        base = write_dir

        def _read(rel):
            return rel, _file_stats(os.path.join(base, rel))

        pairs = sc.parallelize(rels, max(1, len(rels) // 32)).map(_read).collect()
        files = dict(pairs)
    else:
        files = {rel: _file_stats(os.path.join(write_dir, rel)) for rel in rels}
    # Every 'f' entry in this sidecar is from a provably NaN-free file
    # (_file_stats drops foreign-writer float stats and NaN endpoints),
    # so exact-answer consumers (file_all_match's =/IN/BETWEEN/</<= and
    # minmax_meta's float extremes) may trust it.  Sidecars WITHOUT this
    # marker (pre-r11, hand-written) get the conservative float rules.
    return {"files": files, "fnanproof": True}


def write_zonemap(write_dir: str, zm: dict) -> None:
    tmp = os.path.join(write_dir, f".{ZONEMAP}.tmp{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump(zm, f)
    os.replace(tmp, os.path.join(write_dir, ZONEMAP))


def load_zonemap(write_dir: str) -> dict | None:
    path = os.path.join(write_dir, ZONEMAP)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


# ----------------------------------------------------------------- pruning
_OPS = ("<=", ">=", "!=", "<>", "=", "<", ">")
_IDENT = r"`?([A-Za-z_]\w*)`?"
_NUM = r"-?\d+(?:\.\d+)?(?:[eE]-?\d+)?"
# a number as written or as Spark renders it (``.sql()``), whose typed
# literals carry a suffix: 1.50BD, 10L, 2.5D
_TYPED_NUM = re.compile(rf"({_NUM})(?:BD|[LSYD])?", re.I)


def _literal(tok: str):
    """Parse one SQL literal token → (ok, value)."""
    tok = tok.strip()
    # a backslash escape (Spark's string syntax, and how .sql() renders
    # quotes, newlines and tabs) is not decoded here: such a literal
    # prunes nothing rather than prune on the wrong value
    m = re.fullmatch(r"'((?:[^'\\]|'')*)'", tok, re.S)
    if m:
        return True, m.group(1).replace("''", "'")
    m = re.fullmatch(r'"((?:[^"\\]|"")*)"', tok, re.S)
    if m:
        return True, m.group(1).replace('""', '"')
    m = _TYPED_NUM.fullmatch(tok)
    if m:
        num = m.group(1)
        return True, float(num) if re.search(r"[.eE]", num) else int(num)
    low = tok.lower()
    if low == "true":
        return True, True
    if low == "false":
        return True, False
    m = re.fullmatch(r"(?:DATE|TIMESTAMP)\s*'([^']*)'", tok, re.I)
    if m:
        return True, m.group(1)
    return False, None


def _split_top_and(pred: str) -> list[str]:
    """Split on top-level AND, quote/paren-aware, keeping BETWEEN's AND
    attached to its conjunct."""
    parts, buf, depth, q, i, n = [], [], 0, None, 0, len(pred)
    pending_between = False
    while i < n:
        ch = pred[i]
        if q:
            if ch == "\\":
                buf.append(pred[i : i + 2])
                i += 2
                continue
            if ch == q:
                q = None
            buf.append(ch)
            i += 1
            continue
        if ch in "'\"":
            q = ch
            buf.append(ch)
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0:
            m = re.match(r"\bBETWEEN\b", pred[i:], re.I)
            # the keyword needs a left operand; at a conjunct's start it
            # is the function form between(col, lo, hi)
            if (
                m
                and (i == 0 or not pred[i - 1].isalnum())
                and "".join(buf).strip()
            ):
                pending_between = True
            m = re.match(r"\bAND\b", pred[i:], re.I)
            if m and (i == 0 or not pred[i - 1].isalnum()):
                if pending_between:
                    pending_between = False
                else:
                    parts.append("".join(buf))
                    buf = []
                    i += 3
                    continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def parse_conjuncts(pred: str) -> list[tuple]:
    """Extract the prunable conjuncts of ``pred``.  Each is one of
    ``(col, op, lit)`` with op in =,!=,<,<=,>,>=; ``(col, 'in', [lits])``;
    ``(col, 'between', lo, hi)``; ``(col, 'isnull')``; ``(col,
    'notnull')``.  Conjuncts that don't match these shapes are simply
    dropped (they prune nothing; the residual filter still applies
    them).  An OR anywhere outside parens makes the whole predicate
    non-conjunctive → no pruning."""
    # Top-level OR makes the predicate non-conjunctive → no pruning.
    # String literals mask first (an OR inside quotes is data), then
    # paren groups collapse iteratively so only TOP-level ORs remain.
    s, q, i, out_chars = pred, None, 0, []
    while i < len(s):
        ch = s[i]
        if q:
            if ch == "\\":
                out_chars.append("  ")
                i += 2
                continue
            if ch == q:
                q = None
            out_chars.append(" ")
        elif ch in "'\"":
            q = ch
            out_chars.append(" ")
        else:
            out_chars.append(ch)
        i += 1
    s = "".join(out_chars)
    while re.search(r"\([^()]*\)", s):
        s = re.sub(r"\([^()]*\)", " ", s)
    if re.search(r"\bOR\b", s, re.I):
        return []
    out = []
    for part in _split_top_and(pred):
        part = part.strip()
        while part.startswith("(") and part.endswith(")"):
            inner = part[1:-1].strip()
            if not inner or inner.count("(") != inner.count(")"):
                break
            part = inner
        m = re.fullmatch(
            rf"{_IDENT}\s+IS\s+NOT\s+NULL", part, re.I
        )
        if m:
            out.append((m.group(1).lower(), "notnull"))
            continue
        m = re.fullmatch(rf"{_IDENT}\s+IS\s+NULL", part, re.I)
        if m:
            out.append((m.group(1).lower(), "isnull"))
            continue
        m = re.fullmatch(
            rf"{_IDENT}\s+BETWEEN\s+(\S+)\s+AND\s+(\S+)", part, re.I
        )
        if m:
            ok1, lo = _literal(m.group(2))
            ok2, hi = _literal(m.group(3))
            if ok1 and ok2:
                out.append((m.group(1).lower(), "between", lo, hi))
            continue
        # ... and BETWEEN as Spark renders it: between(col, lo, hi)
        m = re.fullmatch(
            rf"between\(\s*{_IDENT}\s*,(.+?),(.+)\)", part, re.I | re.S
        )
        if m:
            ok1, lo = _literal(m.group(2))
            ok2, hi = _literal(m.group(3))
            if ok1 and ok2:
                out.append((m.group(1).lower(), "between", lo, hi))
            continue
        m = re.fullmatch(rf"{_IDENT}\s+IN\s*\((.*)\)", part, re.I | re.S)
        if m:
            lits = []
            ok_all = True
            for tok in m.group(2).split(","):
                ok, v = _literal(tok)
                if not ok:
                    ok_all = False
                    break
                lits.append(v)
            if ok_all and lits:
                out.append((m.group(1).lower(), "in", lits))
            continue
        for op in _OPS:
            # col OP lit
            m = re.fullmatch(
                rf"{_IDENT}\s*{re.escape(op)}\s*(.+)", part, re.S
            )
            if m:
                ok, v = _literal(m.group(2))
                if ok:
                    out.append(
                        (m.group(1).lower(), "!=" if op == "<>" else op, v)
                    )
                break
            # lit OP col (flip)
            m = re.fullmatch(
                rf"(.+?)\s*{re.escape(op)}\s*{_IDENT}", part, re.S
            )
            if m:
                ok, v = _literal(m.group(1))
                if ok:
                    flip = {
                        "<": ">", ">": "<", "<=": ">=", ">=": "<=",
                        "=": "=", "!=": "!=", "<>": "!=",
                    }[op]
                    out.append((m.group(2).lower(), flip, v))
                break
    return out


def _range_may_match(lo, hi, op, lit) -> bool:
    if op == "=":
        return lo <= lit <= hi
    if op == "!=":
        return not (lo == hi == lit)
    if op == "<":
        return lo < lit
    if op == "<=":
        return lo <= lit
    if op == ">":
        return hi > lit
    if op == ">=":
        return hi >= lit
    raise AssertionError(op)


def file_survives(fstats: dict, conjuncts: list[tuple]) -> bool:
    """False only when the file's recorded ranges PROVE no row can
    satisfy every conjunct.  Missing stats for a column keep the file."""
    cols = {k.lower(): v for k, v in (fstats.get("cols") or {}).items()}
    rows = fstats.get("rows")
    for c in conjuncts:
        name, kind = c[0], c[1]
        ent = cols.get(name)
        if kind == "isnull":
            if ent is not None and ent[2] == 0:
                return False
            continue
        if kind == "notnull":
            if ent is not None and rows is not None and ent[2] == rows:
                return False
            continue
        if ent is None:
            continue
        (tlo, lo), (thi, hi) = _decode(ent[0]), _decode(ent[1])
        if tlo != thi:
            continue
        # Float/double NaN soundness: parquet min/max statistics ignore
        # NaN, but Spark orders NaN LARGER than every value and NaN=NaN.
        # A file [3, NaN] may carry min=max=3, yet its NaN row satisfies
        # "v > 100" and "v != 3" — so on float stats only the shapes a
        # NaN row can never satisfy may prune: =, IN, BETWEEN (both
        # sides bounded above), <, <=.  (isnull/notnull are unaffected —
        # NaN is not NULL and null_count still counts it as non-null.)
        if tlo == "f" and kind in (">", ">=", "!="):
            continue
        # any comparison that raises (e.g. tz-aware stats vs a naive
        # literal) conservatively keeps the file
        try:
            if kind == "between":
                a, b = _coerce(tlo, lo, c[2]), _coerce(tlo, lo, c[3])
                if a is None or b is None:
                    continue
                if hi < a or lo > b:
                    return False
                continue
            if kind == "in":
                vals = [_coerce(tlo, lo, v) for v in c[2]]
                if any(v is None for v in vals):
                    continue
                if not any(lo <= v <= hi for v in vals):
                    return False
                continue
            lit = _coerce(tlo, lo, c[2])
            if lit is None:
                continue
            if not _range_may_match(lo, hi, kind, lit):
                return False
        except TypeError:
            continue
    return True


def parse_conjuncts_exact(pred: str) -> list[tuple] | None:
    """``parse_conjuncts``, but only when EVERY top-level conjunct
    parsed.  Pruning can afford to drop unsupported conjuncts (the
    residual filter re-applies them); an ALL-MATCH certificate cannot —
    counting a file's rows as matching requires the whole predicate
    captured.  None = incomplete capture (caller must scan)."""
    conj = parse_conjuncts(pred)
    if not conj:
        return None
    parts = [p for p in _split_top_and(pred) if p.strip()]
    return conj if len(conj) == len(parts) else None


def file_all_match(
    fstats: dict, conjuncts: list[tuple], *, fnanproof: bool = False
) -> int | None:
    """The file's row count when its recorded stats PROVE every row
    satisfies every conjunct — the dual of :func:`file_survives`
    (range fully INSIDE the predicate instead of disjoint from it).
    None = undecided; the caller scans the file.

    Soundness notes, MIRROR-imaged from file_survives:

    * Truncated string min/max are OUTER bounds (recorded lo ≤ actual
      lo, recorded hi ≥ actual hi), so recorded-inside-predicate still
      implies actual-inside-predicate.
    * Value predicates are never satisfied by NULL rows, so any
      recorded nulls (or an unknown null count) defeats all-match.
    * Float stats: a spec-compliant writer IGNORES NaN when recording
      min/max, so a hidden NaN row may lurk above the recorded max.
      Spark orders NaN largest, so such a row ALWAYS satisfies >, >=,
      != and ALWAYS fails =, IN, BETWEEN, <, <= — the certifiable set
      is exactly the INVERSE of file_survives' prunable set.  Only a
      sidecar that PROVES its float stats NaN-free (``fnanproof=True``,
      stamped by collect_zonemap since r11) may certify the failing
      shapes too.
    """
    cols = {k.lower(): v for k, v in (fstats.get("cols") or {}).items()}
    rows = fstats.get("rows")
    if rows is None:
        return None
    if rows == 0:
        return 0
    for c in conjuncts:
        name, kind = c[0], c[1]
        ent = cols.get(name)
        if ent is None:
            return None
        nulls = ent[2]
        if kind == "notnull":
            if nulls == 0:
                continue
            return None
        if kind == "isnull":
            if nulls is not None and nulls == rows:
                continue
            return None
        if nulls != 0:  # unknown (None) or any nulls: not all rows match
            return None
        (tlo, lo), (thi, hi) = _decode(ent[0]), _decode(ent[1])
        if tlo != thi:
            return None
        if (
            tlo == "f"
            and not fnanproof
            and kind not in (">", ">=", "!=")
        ):
            return None
        try:
            if kind == "between":
                a, b = _coerce(tlo, lo, c[2]), _coerce(tlo, lo, c[3])
                if a is None or b is None:
                    return None
                if a <= lo and hi <= b:
                    continue
                return None
            if kind == "in":
                vals = [_coerce(tlo, lo, v) for v in c[2]]
                if any(v is None for v in vals):
                    return None
                if lo == hi and any(v == lo for v in vals):
                    continue
                return None
            lit = _coerce(tlo, lo, c[2])
            if lit is None:
                return None
            ok = {
                "=": lo == hi == lit,
                "!=": hi < lit or lo > lit,
                "<": hi < lit,
                "<=": hi <= lit,
                ">": lo > lit,
                ">=": lo >= lit,
            }[kind]
            if ok:
                continue
            return None
        except TypeError:
            return None
    return rows
