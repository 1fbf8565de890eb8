"""Seeded input generator for the benchmark.

Everything here runs before the timed part of a run and is cached under
the checkout's ``.perfbench/`` directory, so a second run with the same
seed reads the files instead of rebuilding them:

* ``base/`` -- a TPC-H-style star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables at sf0.1, with the same names
  and column types the engine's query registry reads. It is built from a
  fixed seed: the workloads' seeds choose what is done with it.
* ``x10/`` -- a x10 key-offset replica of ``base`` (copy ``k`` shifts every
  key by ``k`` times the key range), for the optional ``relational_x10``
  workload. Every file is written with 100k-row row groups, so scans
  split across the cores.
* ``<dir>/_ORACLE.json`` -- the fingerprint of each registry query's DuckDB
  oracle result over that directory, computed once per input
  (``checks.py``).
* ``tm/seed<N>/`` -- the ``table_maintenance`` op script and its change
  files for one workload seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Rows per key range at sf0.1; the x10 replica offsets copy k by k * N.
N_CUST, N_SUPP, N_PART, N_ORDERS, N_USERS, N_EVENTS = 15_000, 1_000, 20_000, 150_000, 1_500, 100_000
REPLICAS = 10
ROW_GROUP = 100_000
# Bump when the generated content changes, so stale caches are rebuilt.
FORMAT = 2

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us", tz=tz))


def _choice(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables() -> dict[str, pa.Table]:
    """The sf0.1 tables, deterministic (``BASE_SEED``)."""
    rng = np.random.default_rng(BASE_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(N_CUST, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUST),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUST),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPP, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPP),
    })
    adj, noun = "blue cold hot large new old red small".split(), "anvil bolt gear gizmo plate ring rod widget".split()
    out["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(N_PART) % 1000) / 10.0,
    })
    order_day = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORDERS),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    })
    # 1..7 lines per order, so (l_orderkey, l_linenumber) is a unique key.
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    n = len(okey)
    lnum = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PART, n),
        "l_suppkey": rng.integers(0, N_SUPP, n),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _ts(_EPOCH_1995 + (np.repeat(order_day, lines) + rng.integers(1, 122, n)) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / N_EVENTS, N_EVENTS)
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    out["documents"] = _documents(rng, 5_000)
    out["embeddings"] = _embeddings(rng, 2_000, 64, 10)
    return out


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)]) for k in rng.integers(10, 101, n)]
    # Near and exact duplicates, so the dedup operators have work to find.
    for i in rng.choice(n, n // 20, replace=False):
        src = texts[int(rng.integers(0, n))]
        texts[i] = src if rng.random() < 0.2 else src + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int, k: int) -> pa.Table:
    centers = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), pa.array(v.ravel()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": pa.array(label, pa.int32())})


# Key columns of the x10 replica and the key range each is offset by.
_OFFSETS = {
    "customer": {"c_custkey": N_CUST},
    "supplier": {"s_suppkey": N_SUPP},
    "part": {"p_partkey": N_PART},
    "orders": {"o_orderkey": N_ORDERS, "o_custkey": N_CUST},
    "lineitem": {"l_orderkey": N_ORDERS, "l_partkey": N_PART, "l_suppkey": N_SUPP},
    "events": {"event_id": N_EVENTS, "user_id": N_USERS},
}
_NAME_COLS = {"customer": ("c_name", "Customer#"), "supplier": ("s_name", "Supplier#")}


def replicate(name: str, table: pa.Table) -> pa.Table:
    """The x10 key-offset replica of one base table (unchanged when the
    table has no keys to offset)."""
    offsets = _OFFSETS.get(name)
    if not offsets:
        return table
    copies = []
    for k in range(REPLICAS):
        t = table
        for col, width in offsets.items():
            i = t.schema.get_field_index(col)
            t = t.set_column(i, col, pa.array(t[col].to_numpy() + k * width))
        if name in _NAME_COLS:
            col, prefix = _NAME_COLS[name]
            key = t[t.column_names[0]].to_numpy()
            t = t.set_column(t.schema.get_field_index(col), col, pa.array([f"{prefix}{x:09d}" for x in key]))
        copies.append(t)
    return pa.concat_tables(copies)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=ROW_GROUP)
    os.replace(tmp, path)


def digest_dir(path: str) -> str:
    """SHA-256 over the names and bytes of the files directly in ``path``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isfile(full):
            h.update(name.encode())
            with open(full, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()[:16]


def _done(path: str) -> dict | None:
    marker = os.path.join(path, "_DONE.json")
    if os.path.exists(marker):
        with open(marker) as f:
            info = json.load(f)
        if info.get("format") == FORMAT:
            return info
    return None


def _mark(path: str, info: dict) -> dict:
    info = {"format": FORMAT, **info}
    with open(os.path.join(path, "_DONE.json"), "w") as f:
        json.dump(info, f)
    return info


def ensure_tables(root: str, name: str) -> dict:
    """Build ``root/<name>/`` (``base`` or ``x10``) unless cached; returns
    its row counts, bytes and content digest."""
    path = os.path.join(root, name)
    info = _done(path)
    if info:
        return info
    shutil.rmtree(path, ignore_errors=True)  # with any stale oracle results
    os.makedirs(path)
    for table_name, table in base_tables().items():
        if name == "x10":
            table = replicate(table_name, table)
        _write(table, os.path.join(path, f"{table_name}.parquet"))
    return _mark(path, _sizes(path))


def _sizes(path: str) -> dict:
    rows = {n: pq.ParquetFile(os.path.join(path, f"{n}.parquet")).metadata.num_rows for n in TABLES}
    size = sum(os.path.getsize(os.path.join(path, f"{n}.parquet")) for n in TABLES)
    return {"rows": rows, "bytes": size, "digest": digest_dir(path)}


# -- table_maintenance op script ---------------------------------------------

# One round of the op script: the seed shuffles the order of these ops
# and draws every key range and row, so each round does the same kinds of
# work in the same amounts. Compaction and vacuum close every round.
TM_ROUND = ("upsert",) * 2 + ("cdc", "delete") + ("read_range",) * 6 + ("read_full",)
# Round 0 is the untimed warm-up: one op of each kind.
TM_WARMUP_ROUND = ("upsert", "cdc", "delete", "read_range", "read_full")
TM_ROUNDS = 20
TM_UPSERT_KEYS = 400  # orderkeys per upsert / cdc batch (~1,500 rows)
TM_DELETE_KEYS = 200
TM_READ_KEYS = 8_000


def _change_rows(rng, lo: int, n_keys: int, base_day: int) -> pa.Table:
    """New versions of lines 1..7 of orders [lo, lo + n_keys): some rows
    replace existing keys, others insert new ones. Keys are unique."""
    okey = np.repeat(np.arange(lo, lo + n_keys, dtype=np.int64), 7)
    lnum = np.tile(np.arange(1, 8, dtype=np.int32), n_keys)
    keep = rng.random(len(okey)) < 0.55
    okey, lnum = okey[keep], lnum[keep]
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PART, n),
        "l_suppkey": rng.integers(0, N_SUPP, n),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        # UTC-adjusted, so the change stream reads it as TIMESTAMP as-is.
        "l_shipdate": _ts(_EPOCH_1995 + (base_day + rng.integers(1, 122, n)) * _DAY_US, "UTC"),
    })


def ensure_tm(root: str, seed: int) -> dict:
    """Build the ``table_maintenance`` op script and change files for
    ``seed`` under ``root/tm/seed<seed>/`` unless cached."""
    path = os.path.join(root, "tm", f"seed{seed}")
    info = _done(path)
    if info:
        return info
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rng = np.random.default_rng([seed, 7])
    # Updates and deletes hit existing orders; the first upsert and the
    # first CDC batch of every round append orders past the end of the
    # table, which leaves small files for the round's compaction.
    next_new = N_ORDERS
    ops: list[dict] = []
    for rnd in range(TM_ROUNDS):
        appended = set()
        for kind in rng.permutation(TM_ROUND if rnd else TM_WARMUP_ROUND):
            op: dict = {"kind": str(kind), "round": rnd}
            if kind in ("upsert", "cdc"):
                if kind not in appended:
                    appended.add(kind)
                    lo, next_new = next_new, next_new + TM_UPSERT_KEYS
                else:
                    lo = int(rng.integers(0, N_ORDERS - TM_UPSERT_KEYS))
                op["file"] = f"{len(ops):04d}_{kind}.parquet"
                _write(_change_rows(rng, lo, TM_UPSERT_KEYS, int(rng.integers(0, 2404))), os.path.join(path, op["file"]))
                op["lo"], op["hi"] = lo, lo + TM_UPSERT_KEYS - 1
            elif kind == "delete":
                lo = int(rng.integers(0, N_ORDERS - TM_DELETE_KEYS))
                op["lo"], op["hi"] = lo, lo + TM_DELETE_KEYS - 1
            elif kind == "read_range":
                lo = int(rng.integers(0, next_new - TM_READ_KEYS))
                op["lo"], op["hi"] = lo, lo + TM_READ_KEYS - 1
            ops.append(op)
        ops.append({"kind": "compact", "round": rnd})
        ops.append({"kind": "vacuum", "round": rnd})
    with open(os.path.join(path, "script.json"), "w") as f:
        json.dump(ops, f)
    return _mark(path, {"ops": len(ops), "bytes": sum(
        os.path.getsize(os.path.join(path, n)) for n in os.listdir(path)
    ), "digest": digest_dir(path)})
