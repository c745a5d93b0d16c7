"""Seeded inputs: the source tables and every operation stream.

One ``seed`` drives everything here. Each stream draws from its own
``numpy`` generator keyed by ``(seed, stream id, ...)``, so the same seed
gives the same tables, the same read sequence per client and the same
CDC batches, down to identical Arrow IPC bytes.
Nothing in this module touches Spark or the engine.
"""

from __future__ import annotations

import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream ids: one per consumer of randomness
_TABLES, _READS, _CDC = 1, 2, 3

SHIP_EPOCH = np.datetime64("1995-01-01", "D")
SHIP_DAYS = 2500
COUNT_SPAN = 2000  # keys covered by one COUNT ... BETWEEN read
AGG_DAYS = 30  # width of one l_shipdate window
READ_KINDS = ("point", "count", "agg")
READ_MIX = (0.70, 0.15, 0.15)
GOLDEN = (5**0.5 - 1) / 2
ZIPF_S = 1.1

WORDS = (
    "a the data table row column key value batch stream merge vector filter "
    "scan sort hash join group agg query window part order line spark fast "
    "slow big small customer index file commit snapshot zone map write read"
).split()


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _ts(days) -> np.ndarray:
    return (SHIP_EPOCH + np.asarray(days).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _prices(rng, n) -> np.ndarray:
    """Two-decimal prices as exact cents / 100."""
    return rng.integers(90_000, 10_500_000, n) / 100.0


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; one in ten is a one-word edit of an earlier
    one, so the near-duplicate operators find real pairs."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        else:
            words = list(rng.choice(vocab, int(rng.integers(30, 80))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "de", "zh"])[rng.integers(0, 3, n)],
            "source": np.char.add("src", rng.integers(0, 8, n).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_tables(seed: int, n_orders: int, n_docs: int) -> dict[str, pa.Table]:
    """The ten registry tables (``sources.tables.TABLES``) with the test
    data's schemas; about four lineitems per order."""
    rng = _rng(seed, _TABLES)
    n_cust, n_supp, n_part = max(n_orders // 10, 10), 1000, 2000
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _prices(rng, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts(rng.integers(0, SHIP_DAYS, n)),
        }
    )
    orders = orders_rows(rng, np.arange(n_orders, dtype=np.int64), n_cust)
    t = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _prices(rng, n_cust) / 10,
                "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "MACHINERY"])[
                    rng.integers(0, 3, n_cust)
                ],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _prices(rng, n_supp) / 10,
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.array(["small ring", "large bolt", "steel pin"])[
                    rng.integers(0, 3, n_part)
                ],
                "p_brand": np.char.add("Brand#", rng.integers(1, 6, n_part).astype(str)),
                "p_type": np.array(["ECONOMY", "STANDARD", "PROMO"])[
                    rng.integers(0, 3, n_part)
                ],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": _prices(rng, n_part) / 100,
            }
        ),
        "orders": orders,
        "lineitem": lineitem,
        "events": pa.table(
            {
                "event_id": np.arange(1000, dtype=np.int64),
                "ts": np.datetime64("2024-01-01T00:00:00", "us")
                + np.sort(rng.integers(0, 86_400_000_000, 1000)).astype(
                    "timedelta64[us]"
                ),
                "user_id": rng.integers(0, 50, 1000),
                "event_type": np.array(["click", "view", "error"])[
                    rng.integers(0, 3, 1000)
                ],
                "value": rng.integers(0, 10_000, 1000) / 100.0,
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, 1000)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": pa.table(
            {
                "vec_id": np.arange(500, dtype=np.int64),
                "embedding": pa.array(
                    list(rng.standard_normal((500, 16)).astype(np.float32)),
                    type=pa.list_(pa.float32()),
                ),
                "label": rng.integers(0, 8, 500).astype(np.int32),
            }
        ),
    }
    return t


def orders_rows(rng, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, n_cust, n),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _prices(rng, n) * 4,
            "o_orderdate": _ts(rng.integers(0, SHIP_DAYS, n)),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"])[
                rng.integers(0, 4, n)
            ],
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def ipc_bytes(table: pa.Table) -> bytes:
    """Uncompressed Arrow IPC stream: identical tables give identical
    bytes."""
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


# ---------------------------------------------------------------- reads


def zipf_keys(rng, n: int, n_keys: int) -> np.ndarray:
    """``n`` keys in ``[0, n_keys)``; rank r has weight 1/r**ZIPF_S and
    ranks map to keys through a seeded permutation, so hot keys spread
    over buckets and files."""
    w = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    ranks = rng.choice(n_keys, size=n, p=w / w.sum())
    return rng.permutation(n_keys)[ranks]


def read_sql(kind: str, table: str, key: int, day: int) -> str:
    if kind == "point":
        return f"SELECT * FROM {table} WHERE l_orderkey = {key}"
    if kind == "count":
        return (
            f"SELECT COUNT(*) AS n FROM {table} "
            f"WHERE l_orderkey BETWEEN {key} AND {key + COUNT_SPAN}"
        )
    lo, hi = _ts([day, day + AGG_DAYS]).astype(str)
    return (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(l_quantity) AS qty, MAX(l_extendedprice) AS max_price "
        f"FROM {table} WHERE l_shipdate >= TIMESTAMP '{lo.replace('T', ' ')}' "
        f"AND l_shipdate < TIMESTAMP '{hi.replace('T', ' ')}' "
        "GROUP BY l_returnflag, l_linestatus"
    )


def read_ops(seed: int, client: int, n: int, n_orders: int, table: str):
    """Client ``client``'s first ``n`` reads as ``(kind, sql)``. Kinds come
    from a golden-ratio sequence with a seeded start, so every prefix holds
    close to the READ_MIX shares and a short window sees the mix; point and
    count keys follow a Zipf law."""
    rng = _rng(seed, _READS, client)
    x = (rng.random() + np.arange(n) * GOLDEN) % 1.0
    kinds = np.minimum(np.searchsorted(np.cumsum(READ_MIX), x, side="right"), len(READ_KINDS) - 1)
    keys = zipf_keys(rng, n, n_orders)
    days = rng.integers(0, SHIP_DAYS - AGG_DAYS, n)
    return [
        (READ_KINDS[k], read_sql(READ_KINDS[k], table, int(key), int(d)))
        for k, key, d in zip(kinds, keys, days)
    ]


# ------------------------------------------------------------------ CDC


class CdcStream:
    """Seeded CDC batches against the orders table: updates give live
    keys new non-key values, deletes drop live keys, inserts add new keys
    above the initial range. Each batch works inside one narrow key range (one of
    ``n_ranges``, picked Zipf-wise) and carries increasing ``seq``
    values. The stream tracks the live key set itself, so it never
    needs the engine and every op applies."""

    MIX = (0.80, 0.10, 0.10)  # update, delete, insert

    def __init__(self, seed: int, n_orders: int, batch_rows: int, n_ranges: int = 8):
        self.rng = _rng(seed, _CDC)
        self.n_cust = max(n_orders // 10, 10)
        self.batch_rows = batch_rows
        self.width = n_orders // n_ranges
        self.n_ranges = n_ranges
        self.live = np.ones(n_orders, dtype=bool)
        self.next_key = n_orders
        self.seq = 0

    def next_batch(self) -> pa.Table:
        rng = self.rng
        r = int(zipf_keys(rng, 1, self.n_ranges)[0])
        lo = r * self.width
        live = lo + np.flatnonzero(self.live[lo : lo + self.width])
        n_upd, n_del, _ = (np.array(self.MIX) * self.batch_rows).astype(int)
        n_ins = self.batch_rows - n_upd - n_del
        picked = rng.choice(live, size=min(n_upd + n_del, len(live)), replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        ins = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
        self.next_key += n_ins
        self.live[dele] = False
        keys = np.concatenate([upd, dele, ins]).astype(np.int64)
        t = orders_rows(rng, keys, self.n_cust)
        ops = ["update"] * len(upd) + ["delete"] * len(dele) + ["insert"] * len(ins)
        seqs = np.arange(self.seq, self.seq + len(keys), dtype=np.int64)
        self.seq += len(keys)
        return t.append_column("_op", pa.array(ops)).append_column(
            "seq", pa.array(seqs)
        )


def replay_cdc(base: pa.Table, batches: list[pa.Table]) -> pa.Table:
    """The orders table after ``batches``, replayed in plain Python
    (last write per key wins; deletes remove the key)."""
    rows = {r["o_orderkey"]: r for r in base.to_pylist()}
    for b in batches:
        for r in b.to_pylist():
            op = r.pop("_op")
            r.pop("seq")
            if op == "delete":
                rows.pop(r["o_orderkey"], None)
            else:
                rows[r["o_orderkey"]] = r
    return pa.Table.from_pylist(list(rows.values()), schema=base.schema)
