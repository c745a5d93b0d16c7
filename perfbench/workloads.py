"""The benchmark's workloads, their output checks and their metrics.

Each workload function takes a :class:`Ctx` and returns a dict with the
end-to-end metrics (``e2e``), the full report (``report``), the op
counts (``attempted``/``failed``) and, on a traced run, the per-layer
metrics (``layers``). The engine is driven only through its public
surface: ``Engine``, ``serving.SqlServer`` with ``serving.query``,
``sources.ipc``, ``streaming.ingest.apply_changes_batch`` and the
``queries`` registry.
"""

from __future__ import annotations

import gc
import os
import threading
import time
import types

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import tracing
from stats import median, tail, union_length

CLIENTS = min(4, os.cpu_count() or 1)
SETUPS = 3  # set-ups per run; setup_s reports their median
SERVE_ORDERS = 30_000  # ~120k lineitem rows served
SERVE_WARM_S = 3.0  # closed-loop warm-up before the window
CDC_ORDERS = 20_000
CDC_BATCH = 1_000  # change rows per CDC batch
CDC_FILE_ROWS = 2_500  # rows per data file of the CDC target
CDC_WARM = 2  # warm-up batches on the measured table
CDC_MIN_OPS = 3  # a window always measures at least this many batches
BATCH_ORDERS, BATCH_DOCS = 6_000, 300
BATCH_ENTRIES = {  # registry entry -> tables it reads
    "q1_pricing_summary": ("lineitem",),
    "dedup_minhash_lsh": ("documents",),
    "dedup_prefix_join": ("documents",),
    "dedup_clusters": ("documents",),
    "graph_pagerank": ("lineitem", "orders"),
    "bm25_retrieval": ("documents",),
}

now = time.perf_counter


class Ctx:
    def __init__(self, seed: int, seconds: float, traced: bool, work: str):
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.src = os.path.join(work, "src")
        self.root = os.path.join(work, "lake")
        self.spark = None
        self.session_s = 0.0

    def session(self):
        from polars_lake_spark import get_spark

        t0 = now()
        self.spark = get_spark(app_name="perfbench")
        self.session_s = now() - t0
        return self.spark

    def tables(self, n_orders: int, n_docs: int) -> dict[str, pa.Table]:
        tables = gen.make_tables(self.seed, n_orders, n_docs)
        gen.write_tables(tables, self.src)
        return tables


# ------------------------------------------------------------- helpers


class _Collected:
    """An Arrow result in the shape ``testing.compare`` reads."""

    def __init__(self, table: pa.Table):
        self.columns = table.column_names
        self._rows = list(zip(*(c.to_pylist() for c in table.columns)))

    def collect(self):
        return self._rows


class _Oracle:
    """A DuckDB connection that answers each distinct SQL once."""

    def __init__(self, con):
        self.con, self.memo = con, {}

    def sql(self, q: str):
        if q not in self.memo:
            self.memo[q] = self.con.sql(q).arrow()
        t = self.memo[q]
        return types.SimpleNamespace(arrow=lambda: t)


def _oracle(src: str, views: dict[str, str] | None = None) -> _Oracle:
    from polars_lake_spark.testing import duckdb_con

    con = duckdb_con(src)
    for name, base in (views or {}).items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM {base}")
    return _Oracle(con)


def _matches(table: pa.Table, oracle: _Oracle, sql: str) -> bool:
    from polars_lake_spark.testing import compare

    return compare(_Collected(table), oracle, sql)["ok"]


def _proc_mb(pid, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> dict:
    """Peak resident memory (VmHWM) of this process and of the driver
    JVM, and their sum."""
    py = _proc_mb("self", "VmHWM")
    jvm = _proc_mb(spark.sparkContext._gateway.proc.pid, "VmHWM")
    return {"total": py + jvm, "python": py, "jvm": jvm}


def retained_mb(spark) -> float:
    """Memory the engine keeps once garbage is gone: this process's
    resident set plus the driver JVM's heap and non-heap in use after a
    full GC. Unlike peak RSS it does not depend on when the JVM chose to
    grow its heap."""
    gc.collect()  # drop Python refs first, so the JVM may free their objects
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    # the context cleaner drops unreferenced RDD blocks (CDC checkpoints)
    # asynchronously after that GC; collect again once it has run
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return _proc_mb("self", "VmRSS") + used / 2**20


def _timing(xs_s: list[float]) -> dict:
    """Median and tail of a list of seconds, in ms, with the sample count."""
    ms = [x * 1000 for x in xs_s]
    t = tail(ms)
    return {
        "p50_ms": median(ms),
        "tail_ms": t[1] if t else None,
        "tail_pct": t[0] if t else None,
        "n": len(ms),
        "samples_ms": [round(x, 3) for x in ms],
    }


def storage_amp(eng, table: str) -> float:
    """Bytes under the table's directory over bytes of its live files."""
    live = eng.fragmentation_report(table)["bytes_total"]
    total = 0
    for d, _, files in os.walk(os.path.join(eng.root, table)):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / live if live else 0.0


def table_digest(t: pa.Table, columns: list[str]) -> tuple[int, int]:
    """(rows, order-independent hash) over ``columns``; timestamps compare
    as their microsecond value whatever their time zone tag."""
    cols = []
    for name in columns:
        c = t.column(name)
        if pa.types.is_timestamp(c.type):
            c = pc.cast(c, pa.int64())
        cols.append(c)
    df = pa.table(cols, names=columns).to_pandas()
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return len(df), int(h.sum(dtype="uint64"))


def _set_up(ctx, build, warm) -> dict:
    """Build the table SETUPS times (table ``i`` on call ``i``), then warm
    up the last one. setup_s is session start + median build + warm-up."""
    builds = []
    for i in range(SETUPS):
        t0 = now()
        build(i)
        builds.append(now() - t0)
    t0 = now()
    warm(SETUPS - 1)
    warm_s = now() - t0
    return {
        "setup_s": ctx.session_s + median(builds) + warm_s,
        "setup.session_s": ctx.session_s,
        "setup.build_s": median(builds),
        "setup.warmup_s": warm_s,
    }


def _windows(ctx, run_window, op_p50, first_is_cold=False):
    """One untraced window. On a traced run, then a window with the layer
    wrappers installed, sandwiched between untraced windows so that warm-up
    drift cancels: tracing overhead compares the traced window's op p50
    with the mean of its neighbours'. When the first window is cold (and
    so not comparable) an extra untraced window runs before the traced
    one. Returns (first, traced or None, tracer or None, [other windows])."""
    plain = run_window(None)
    if not ctx.traced:
        return plain, None, None, []
    others = [run_window(None)] if first_is_cold else []
    before = others[-1] if others else plain
    tracer = tracing.Tracer(ctx.spark)
    tracing.install_layers(tracer)
    try:
        traced = run_window(tracer)
    finally:
        tracer.uninstall()
        tracer.idle()
    others.append(run_window(None))
    base = (op_p50(before) + op_p50(others[-1])) / 2
    traced["overhead_pct"] = 100.0 * (op_p50(traced) / base - 1.0)
    return plain, traced, tracer, others


# ---------------------------------------------------------- serve_read


def serve_read(ctx: Ctx) -> dict:
    from polars_lake_spark import Engine
    from polars_lake_spark.serving import SqlServer

    ctx.tables(SERVE_ORDERS, 50)
    spark = ctx.session()
    eng = Engine(spark, ctx.root)
    srv = SqlServer(eng).start()
    host, port = srv.address
    try:
        src = spark.read.parquet(os.path.join(ctx.src, "lineitem.parquet"))

        def build(i):
            eng.create_table(
                f"lineitem_{i}",
                src,
                partition_by=["l_returnflag"],
                bucket_by=["l_orderkey"],
                n_buckets=8,
                keys=["l_orderkey", "l_linenumber"],
                versioned=True,
            )

        def warm(i):
            # the full closed loop, untimed, on its own read streams: the
            # JVM's compilers settle before the window opens
            ops = [gen.read_ops(ctx.seed, 1000 + c, 4000, SERVE_ORDERS, f"lineitem_{i}")
                   for c in range(CLIENTS)]
            for r in _read_window(host, port, ops, [0] * CLIENTS, SERVE_WARM_S):
                if r["error"]:
                    raise RuntimeError(f"warm-up read failed: {r['error']}")

        setup = _set_up(ctx, build, warm)
        table = f"lineitem_{SETUPS - 1}"
        streams = [gen.read_ops(ctx.seed, c, 4000, SERVE_ORDERS, table) for c in range(CLIENTS)]
        cursor = [0] * CLIENTS

        def run_window(tracer):
            return {"reads": _read_window(host, port, streams, cursor, ctx.seconds)}

        plain, traced, tracer, others = _windows(
            ctx, run_window, lambda w: median(r["t1"] - r["t0"] for r in w["reads"])
        )
        kept = retained_mb(spark)
        oracle = _oracle(ctx.src, {table: "lineitem"})
        reads = [r for w in (plain, traced, *others) if w for r in w["reads"]]
        failed = 0
        for r in reads:
            if r["error"] or not _matches(_unbucketed(r["table"]), oracle, r["sql"]):
                failed += 1
        out = _read_metrics(plain["reads"])
        amp = storage_amp(eng, table)
        rss = peak_rss_mb(spark)
        e2e = {
            "setup_s": setup["setup_s"],
            "throughput_per_s": out["read_qps"],
            "op_p50_ms": out["read"]["p50_ms"],
            "retained_mb": kept,
        }
        report = {**setup, **out, "storage_amp": amp, "peak_rss_mb": rss, "retained_mb": kept}
        res = {"e2e": e2e, "report": report, "attempted": len(reads), "failed": failed}
        if traced:
            tracing.assign_requests(tracer.spans, traced["reads"])
            ops = [
                {"id": r["id"], "t0": r["t0"], "t1": r["t1"], "rows": r["rows"]}
                for r in traced["reads"]
            ]
            res["layers"] = layer_metrics(
                tracing.SparkStatus(spark), tracer, ops, setup, traced["overhead_pct"], serving=True,
                live_files=eng.fragmentation_report(table)["files"],
            )
            res["spans"] = tracer.spans
        return res
    finally:
        srv.stop()


def _unbucketed(table: pa.Table) -> pa.Table:
    """A bucketed table's ``SELECT *`` carries the engine's ``bucket_id``
    layout column, which the source parquet (and so the oracle) lacks."""
    if "bucket_id" in table.column_names:
        return table.drop_columns(["bucket_id"])
    return table


def _read_window(host, port, streams, cursor, seconds) -> list[dict]:
    """Closed loop: each client sends its next read as soon as the last
    one is answered, until the window closes."""
    from polars_lake_spark.serving import query

    out: list[list[dict]] = [[] for _ in streams]
    start = now()
    deadline = start + seconds

    def client(c):
        ops = streams[c]
        while now() < deadline:
            i = cursor[c] % len(ops)
            cursor[c] += 1
            kind, sql = ops[i]
            rid = c * 1_000_000 + cursor[c]
            t0 = now()
            try:
                header, table = query(host, port, sql, qid=rid)
                err = header.get("error")
            except Exception as e:  # a broken reply is a failed read
                header, table, err = {}, None, f"{type(e).__name__}: {e}"
            out[c].append(
                {"id": rid, "client": c, "kind": kind, "sql": sql, "t0": t0,
                 "t1": now(), "error": err, "table": table,
                 "rows": header.get("rows") or 0, "start": start}
            )

    threads = [threading.Thread(target=client, args=(c,)) for c in range(len(streams))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=seconds + 120)
        if t.is_alive():
            raise RuntimeError("a reader did not finish within 120 s of the window")
    return [r for rs in out for r in rs]


def _read_metrics(reads: list[dict]) -> dict:
    out = {"read": _timing([r["t1"] - r["t0"] for r in reads])}
    for kind in gen.READ_KINDS:
        out[kind] = _timing([r["t1"] - r["t0"] for r in reads if r["kind"] == kind])
    # per client: reads answered over the time from window start to its
    # last answer, summed over clients
    qps = 0.0
    for c in {r["client"] for r in reads}:
        mine = [r for r in reads if r["client"] == c]
        qps += len(mine) / (max(r["t1"] for r in mine) - mine[0]["start"])
    out["read_qps"] = qps
    return out


# ---------------------------------------------------------- ingest_cdc


def ingest_cdc(ctx: Ctx) -> dict:
    from polars_lake_spark import Engine
    from polars_lake_spark.sources import ipc
    from polars_lake_spark.streaming import ingest

    tables = ctx.tables(CDC_ORDERS, 50)
    spark = ctx.session()
    # many files per table, as a lake table has, so key-range pruning and
    # partial rewrites have something to act on
    spark.conf.set("spark.sql.files.maxRecordsPerFile", str(CDC_FILE_ROWS))
    eng = Engine(spark, ctx.root)
    src = spark.read.parquet(os.path.join(ctx.src, "orders.parquet"))
    stream = gen.CdcStream(ctx.seed, CDC_ORDERS, CDC_BATCH)
    applied: list[pa.Table] = []

    def apply(table, batch, tracer=None):
        data = gen.ipc_bytes(batch)
        t0 = now()
        sp = tracer.start("op.cdc", op=True) if tracer else None
        try:
            df = ipc.dataframe_from_ipc(spark, data)
            ingest.apply_changes_batch(eng, table, df, op_col="_op", sequence_by="seq")
        finally:
            if sp:
                tracer.finish(sp)
        return t0, now(), sp

    def build(i):
        eng.create_table(
            f"orders_{i}", src, keys=["o_orderkey"], versioned=True, cluster_by=["o_orderkey"]
        )

    def warm(i):
        # the first batches on a table create its tombstone companion
        # and take cold code paths; the window starts after them
        for _ in range(CDC_WARM):
            batch = stream.next_batch()
            apply(f"orders_{i}", batch)
            applied.append(batch)

    setup = _set_up(ctx, build, warm)
    table = f"orders_{SETUPS - 1}"

    def run_window(tracer):
        ops = []
        deadline = now() + ctx.seconds
        while now() < deadline or len(ops) < CDC_MIN_OPS:
            batch = stream.next_batch()
            t0, t1, sp = apply(table, batch, tracer)
            applied.append(batch)
            ops.append({"id": len(applied), "t0": t0, "t1": t1, "rows": batch.num_rows,
                        "changes": batch.num_rows, "span": sp.id if sp else None})
        return {"ops": ops}

    def p50(w):
        return median(o["t1"] - o["t0"] for o in w["ops"])

    plain, traced, tracer, others = _windows(ctx, run_window, p50)
    kept = retained_mb(spark)
    ops = [o for w in (plain, traced, *others) if w for o in w["ops"]]
    final = eng.table(table).toArrow()
    expect = gen.replay_cdc(tables["orders"], applied)
    cols = expect.column_names
    ok = table_digest(final, cols) == table_digest(expect, cols)
    w = plain["ops"]
    rows = sum(o["rows"] for o in w)
    busy = sum(o["t1"] - o["t0"] for o in w)
    rss = peak_rss_mb(spark)
    e2e = {
        "setup_s": setup["setup_s"],
        "throughput_per_s": rows / busy,
        "op_p50_ms": p50(plain) * 1000,
        "retained_mb": kept,
    }
    report = {
        **setup,
        "write_rows_per_s": rows / busy,
        "write": _timing([o["t1"] - o["t0"] for o in w]),
        "final_rows": final.num_rows,
        "final_table_matches_replay": ok,
        "storage_amp": storage_amp(eng, table),
        "peak_rss_mb": rss,
        "retained_mb": kept,
    }
    res = {"e2e": e2e, "report": report, "attempted": len(ops),
           "failed": 0 if ok else len(ops)}
    if traced:
        _own_ops(tracer, traced["ops"])
        res["layers"] = layer_metrics(
            tracing.SparkStatus(spark), tracer, traced["ops"], setup, traced["overhead_pct"],
            live_files=eng.fragmentation_report(table)["files"],
        )
        res["spans"] = tracer.spans
    return res


def _own_ops(tracer, ops) -> None:
    """Give every span the id of the harness op that encloses it."""
    root = tracing.op_of(tracer.spans)
    by_span = {o["span"]: o["id"] for o in ops}
    for s in tracer.spans:
        s.req = by_span.get(root[s.id])


# ----------------------------------------------------------- batch_ops


def batch_ops(ctx: Ctx) -> dict:
    from polars_lake_spark.queries import all_queries

    tables = ctx.tables(BATCH_ORDERS, BATCH_DOCS)
    registry = all_queries()
    spark = ctx.session()
    rows_in = sum(
        tables[t].num_rows for deps in BATCH_ENTRIES.values() for t in deps
    )

    def run_pass(tracer=None, op_base=0):
        res = []
        for k, name in enumerate(BATCH_ENTRIES):
            sp = tracer.start(f"ops.{name}", op=True) if tracer else None
            t0 = now()
            df = registry[name].fn(spark, ctx.src)
            out = df.toArrow()
            t1 = now()
            if sp:
                sp.attrs["df"] = df
                tracer.finish(sp)
            spark.catalog.clearCache()
            res.append({"id": op_base + k, "entry": name, "t0": t0, "t1": t1,
                        "rows": out.num_rows, "table": out,
                        "span": sp.id if sp else None})
        return res

    setup = {
        "setup_s": ctx.session_s,
        "setup.session_s": ctx.session_s,
        "setup.build_s": 0.0,
        "setup.warmup_s": 0.0,
    }
    passes_run = []

    def run_window(tracer):
        # A batch job runs once per fresh session: the first window is
        # one pass straight after session start, which outlasts the
        # window; the traced run's later windows are warm passes.
        p = run_pass(tracer, op_base=len(passes_run) * len(BATCH_ENTRIES))
        passes_run.append(p)
        return {"passes": [p]}

    def p50(w):
        return median(p[-1]["t1"] - p[0]["t0"] for p in w["passes"])

    plain, traced, tracer, _ = _windows(ctx, run_window, p50, first_is_cold=True)
    kept = retained_mb(spark)
    oracle = _oracle(ctx.src)
    ops = [o for p in passes_run for o in p]
    failed = sum(
        not _matches(o["table"], oracle, registry[o["entry"]].oracle) for o in ops
    )
    pass_s = p50(plain)
    rss = peak_rss_mb(spark)
    e2e = {
        "setup_s": setup["setup_s"],
        "throughput_per_s": rows_in / pass_s,
        "op_p50_ms": pass_s * 1000,
        "retained_mb": kept,
    }
    report = {
        **setup,
        "batch_rows_per_s": rows_in / pass_s,
        "pass": _timing([p[-1]["t1"] - p[0]["t0"] for p in plain["passes"]]),
        "entries_s": {
            name: median(o["t1"] - o["t0"] for p in plain["passes"] for o in p if o["entry"] == name)
            for name in BATCH_ENTRIES
        },
        "peak_rss_mb": rss,
        "retained_mb": kept,
    }
    res = {"e2e": e2e, "report": report, "attempted": len(ops), "failed": failed}
    if traced:
        tops = [o for p in traced["passes"] for o in p]
        _own_ops(tracer, tops)
        res["layers"] = layer_metrics(
            tracing.SparkStatus(spark), tracer, tops, setup, traced["overhead_pct"]
        )
        res["spans"] = tracer.spans
        for name in BATCH_ENTRIES:
            res["layers"][f"ops.{name}_s"] = median(
                o["t1"] - o["t0"] for o in tops if o["entry"] == name
            )
    return res


WORKLOADS = {"serve_read": serve_read, "ingest_cdc": ingest_cdc, "batch_ops": batch_ops}


# ------------------------------------------------------ per-layer metrics


def _phases(df) -> dict[str, float]:
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def _path(names: set[str]) -> str:
    """Which ``Engine.sql`` dispatch path served a query, from the public
    functions the call reached."""
    if "engine.count_where" in names:
        return "count_where"
    if "engine.meta_row_count" in names:
        return "meta_count"
    if "zonemaps.file_survives" in names or "zonemaps.load" in names:
        return "zonemap_select"
    return "vanilla"


def _written(write_dirs: list[str]) -> tuple[int, int, int]:
    """(parquet files, bytes, rows) under the given write dirs."""
    files = nbytes = rows = 0
    for wd in write_dirs:
        for d, _, names in os.walk(wd):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(d, n)
                    files += 1
                    nbytes += os.path.getsize(p)
                    rows += pq.ParquetFile(p).metadata.num_rows
    return files, nbytes, rows


def layer_metrics(status, tracer, ops, setup, overhead_pct, serving=False, live_files=0) -> dict:
    """Per-layer metrics over the traced window's ops. Times and counts
    are means per op unless the name says otherwise; a layer the
    workload never reaches reads 0."""
    spans = [s for s in tracer.spans if s.req is not None]
    selfs = tracing.self_times(spans)
    n = max(len(ops), 1)
    by_op: dict[int, list] = {o["id"]: [] for o in ops}
    for s in spans:
        by_op.setdefault(s.req, []).append(s)

    def per_op(name, value=lambda s: s.dur * 1000):
        return sum(value(s) for s in spans if s.name == name) / n

    def count(name, pred=lambda s: True):
        return sum(1 for s in spans if s.name == name and pred(s))

    sp = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
          "sr": 0, "sw": 0, "in": 0}
    gaps, queue = [], []
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    paths = {"zonemap_select": 0, "count_where": 0, "meta_count": 0, "vanilla": 0}
    for o in ops:
        mine = by_op.get(o["id"], [])
        intervals = []
        for s in mine:
            if "group" in s.attrs:
                g = status.group(s.attrs["group"])
                for k in sp:
                    sp[k] += g[k]
                intervals += g["intervals"]
            if s.parent is None and "df" in s.attrs:
                for k, v in _phases(s.attrs["df"]).items():
                    if k in phases:
                        phases[k] += v
        e0, e1 = o["t0"] + tracer.epoch_offset, o["t1"] + tracer.epoch_offset
        gaps.append((e1 - e0 - union_length(intervals, e0, e1)) * 1000)
        if serving:
            roots = [s for s in mine if s.parent is None]
            queue.append((o["t1"] - o["t0"] - sum(s.dur for s in roots)) * 1000)
            for s in roots:
                if s.name == "engine.sql":
                    paths[_path({c.name for c in mine if c.start >= s.start and c.end <= s.end})] += 1
    examined = count("zonemaps.file_survives")
    kept = count("zonemaps.file_survives", lambda s: s.attrs.get("kept"))
    files_added, bytes_written, rows_written = _written(
        [s.attrs["write_dir"] for s in spans if s.name == "snapshots.commit"]
    )
    change_rows = sum(o.get("changes", 0) for o in ops)
    bytes_in = sum(s.attrs.get("bytes", 0) for s in spans if s.name == "ipc.decode")
    rows_out = sum(o["rows"] for o in ops)
    m = {
        "serving.queue_ms": median(queue) if queue else 0.0,
        "ipc.encode_ms": per_op("ipc.encode"),
        "ipc.bytes_out": per_op("ipc.encode", lambda s: s.attrs["bytes"]),
        "ipc.decode_ms": per_op("ipc.decode"),
        "ipc.bytes_in": bytes_in / n,
        "engine.sql_ms": per_op("engine.sql"),
        "dml.try_ms": per_op("dml.try"),
        **{f"engine.path.{k}": v for k, v in paths.items()},
        **{f"catalyst.{k}_ms": v / n for k, v in phases.items()},
        "snapshots.load_ms": per_op("snapshots.load"),
        "snapshots.loads_per_op": count("snapshots.load") / n,
        "snapshots.commit_ms": per_op("snapshots.commit"),
        "snapshots.commits": count("snapshots.commit") / n,
        "snapshots.live_files": live_files,
        "zonemaps.load_ms": per_op("zonemaps.load"),
        "zonemaps.files_examined": examined / n,
        "zonemaps.files_kept": kept / n,
        "zonemaps.kept_ratio": kept / examined if examined else 0.0,
        "zonemaps.collect_ms": per_op("zonemaps.collect"),
        "engine.upsert_self_ms": per_op("engine.upsert", lambda s: selfs[s.id] * 1000),
        "engine.delete_self_ms": per_op("engine.delete", lambda s: selfs[s.id] * 1000),
        "write.files_added": files_added / n,
        "write.bytes_written": bytes_written / n,
        "write.write_amp": bytes_written / bytes_in if bytes_in else 0.0,
        "write.rows_rewritten_per_change_row": rows_written / change_rows if change_rows else 0.0,
        "cdc.apply_self_ms": per_op("cdc.apply", lambda s: selfs[s.id] * 1000),
        **{f"ops.{e}_s": 0.0 for e in BATCH_ENTRIES},
        "spark.jobs_per_op": sp["jobs"] / n,
        "spark.stages_per_op": sp["stages"] / n,
        "spark.tasks_per_op": sp["tasks"] / n,
        "spark.executor_run_ms": sp["run_ms"] / n,
        "spark.executor_cpu_ms": sp["cpu_ms"] / n,
        "spark.shuffle_read_bytes": sp["sr"] / n,
        "spark.shuffle_write_bytes": sp["sw"] / n,
        "spark.input_records_per_row_returned": sp["in"] / rows_out if rows_out else 0.0,
        "spark.driver_gap_ms": median(gaps) if gaps else 0.0,
        "setup.session_s": setup["setup.session_s"],
        "setup.build_s": setup["setup.build_s"],
        "setup.warmup_s": setup["setup.warmup_s"],
        "trace.overhead_pct": overhead_pct,
        "trace.spans_per_op": len(spans) / n,
    }
    self_ms: dict[str, float] = {}
    for s in spans:
        self_ms[s.name] = self_ms.get(s.name, 0.0) + selfs[s.id] * 1000 / n
    m["_self_ms"] = dict(sorted(self_ms.items()))
    return m
