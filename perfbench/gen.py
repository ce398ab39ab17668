"""Seeded input generator for the benchmark, with its own check.

Writes the ten fixture tables the program reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names, types and value ranges of the repo's
TPC-H-ish test fixtures. The same seed gives byte-identical files.

``replicas=K`` writes K copies of every row. Each copy shifts the key
columns (``*key`` and ``*_id``) by its own offset, so a replicated table
keeps distinct primary keys and a non-zero ``bit_xor`` checksum: plain copies
would cancel pairwise and hide corruption. The seed permutes the replica
offsets and the row order of every table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]

#: primary key of every generated table (what the check asserts distinct)
PRIMARY_KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
    "documents": ["doc_id"], "embeddings": ["vec_id"],
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 9131 * _US_PER_DAY  # 1995-01-01
_EPOCH_2024 = 19723 * _US_PER_DAY  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """One copy of every table at scale factor ``sf`` (sf=1 ≈ TPC-H
    cardinalities: 1.5 M orders, 6 M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_vec = max(50, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    ok = np.arange(n_ord)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995
                           + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    # 1..7 lines per order: (l_orderkey, l_linenumber) is a true key
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995
                          + rng.integers(1, 2500, n_li) * _US_PER_DAY),
    })
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(VOCAB)
    lens = rng.integers(8, 100, n_doc)
    flat = words[rng.integers(0, len(words), int(lens.sum()))]
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(flat[at:at + n]))
        at += n
    # a few exact duplicates, as in the fixtures, so dedup has work to do
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], np.int64),
    })
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def _is_key(name: str) -> bool:
    return name.endswith(("key", "_id"))


def replicate(table: pa.Table, k: int, offsets: list[int]) -> pa.Table:
    """K copies of ``table``; copy r adds ``offsets[r]`` to every key column."""
    if k == 1:
        return table
    cols = {}
    for f in table.schema:
        col = table.column(f.name)
        if _is_key(f.name):
            base = col.to_numpy()
            parts = [base + np.asarray(o, dtype=base.dtype) for o in offsets]
            cols[f.name] = pa.array(np.concatenate(parts), f.type)
        else:
            cols[f.name] = pa.concat_arrays(
                [c for _ in range(k) for c in col.chunks])
    return pa.table(cols, schema=table.schema)


def generate(out_dir: str, seed: int, sf: float, replicas: int = 1,
             tables: list[str] | None = None) -> dict[str, int]:
    """Write the tables into ``out_dir``; returns {table: rows of one copy}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    base = base_tables(seed, sf)
    # one stride past the largest key of any table, so replicas never
    # collide and joins stay inside a replica; the seed decides which
    # replica gets which offset
    stride = 1 + max(int(pc.max(t.column(c)).as_py())
                     for t in base.values() for c in t.column_names
                     if _is_key(c))
    offsets = [int(r) * stride for r in rng.permutation(replicas)]
    rows = {}
    for name in tables or ALL_TABLES:
        t = base[name]
        rows[name] = t.num_rows
        t = replicate(t, replicas, offsets)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return rows


def check(con, out_dir: str, copy_rows: dict[str, int], replicas: int,
          checksum_sql) -> list[str]:
    """The generator's own check, on DuckDB connection ``con``: row counts
    are ``replicas`` × the single copy, primary keys are distinct and every
    table checksum is non-zero. ``checksum_sql(con, relation)`` renders the
    checksum query. Returns the list of problems (empty = ok)."""
    problems = []
    for name, rows in copy_rows.items():
        src = f"read_parquet('{os.path.join(out_dir, name + '.parquet')}')"
        n, = con.execute(f"SELECT count(*) FROM {src}").fetchone()
        if n != rows * replicas:
            problems.append(f"{name}: {n} rows, expected {rows * replicas}")
        key = ", ".join(PRIMARY_KEYS[name])
        d, = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT {key} FROM {src})"
        ).fetchone()
        if d != n:
            problems.append(f"{name}: {n - d} duplicate primary keys")
        cs, _ = con.execute(checksum_sql(con, src)).fetchone()
        if not cs:
            problems.append(f"{name}: checksum is {cs}")
    return problems

