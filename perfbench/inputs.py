"""Seeded input generation for the benchmark workloads.

Every input is a pure function of the workload seed. The program under test
only ever receives the files written here; nothing is read from outside the
benchmark's work directory.

- ``write_database`` writes the ten-table star schema with the column types
  of the project's fixtures (int32/int64 keys, 2-decimal doubles,
  microsecond timestamps, ``embeddings.embedding`` as list<float>);
  ``events.ts`` is stored as TIMESTAMP(NANOS), so loading it goes through
  ``io.load``'s nanosecond conversion as it does for such sources. ``scale=1`` gives the sf0.1 row
  counts; ``big_mult`` multiplies the big tables (lineitem, orders, events,
  documents) with shuffled row order and a seeded key offset, the way a
  real source mixes a few byte-bound tables with many tiny ones.
- the documents table comes from ``tools/gen_synth_docs.generate``;
  ``planted_pairs`` recovers its near-duplicate pairs by replaying its RNG.
- ``write_cdc`` writes the CDC base table and a sequence of change epochs.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
BIG_TABLES = ("lineitem", "orders", "events", "documents")
FIXED_TABLES = ("region", "nation")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _tools_module():
    """Import ``tools/gen_synth_docs`` from the checkout root (read only)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.append(tools)
    import gen_synth_docs

    return gen_synth_docs


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n_days, n):
    return (_EPOCH_1995 + rng.integers(0, n_days, n) * _DAY_US).astype("datetime64[us]")


def _rows(scale: float, big_mult: int) -> dict[str, int]:
    rows = {}
    for t, n in SF01_ROWS.items():
        if t in FIXED_TABLES:
            rows[t] = n
            continue
        n = max(4, int(round(n * scale)))
        rows[t] = n * big_mult if t in BIG_TABLES else n
    return rows


def _tables(seed: int, rows: dict[str, int], key_offset: int, plant_violations: bool):
    """Build every table except documents as pyarrow tables."""

    def rng_for(i):
        return np.random.default_rng([seed, i])

    n_c, n_s, n_p = rows["customer"], rows["supplier"], rows["part"]
    n_o, n_l, n_e = rows["orders"], rows["lineitem"], rows["events"]
    out = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    r = rng_for(1)
    ck = r.permutation(n_c)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_c),
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_c)],
        }
    )
    r = rng_for(2)
    sk = r.permutation(n_s)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_s),
        }
    )
    r = rng_for(3)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(r.permutation(n_p), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_p), r.integers(0, 8, n_p))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_p)],
            "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_p)],
            "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": _money(r, 900.0, 999.9, n_p),
        }
    )
    r = rng_for(4)
    orderkeys = key_offset + r.permutation(n_o)
    custkeys = r.integers(0, n_c, n_o)
    if plant_violations:
        # a seeded handful of orphaned FKs: customer keys that do not exist
        n_bad = int(r.integers(3, 10))
        custkeys[r.choice(n_o, n_bad, replace=False)] = n_c + r.integers(1, 1000, n_bad)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(orderkeys, pa.int64()),
            "o_custkey": pa.array(custkeys, pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_o)],
            "o_totalprice": _money(r, 1000.0, 500000.0, n_o),
            "o_orderdate": pa.array(_days(r, 2405, n_o), pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_o)],
        }
    )
    r = rng_for(5)
    qty = r.integers(1, 51, n_l).astype(np.float64)
    if plant_violations:
        # a seeded handful of CHECK (l_quantity >= 0) violations
        n_bad = int(r.integers(3, 10))
        qty[r.choice(n_l, n_bad, replace=False)] = -1.0
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(key_offset + r.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(r, 900.0, 105000.0, n_l),
            "l_discount": np.round(r.integers(0, 11, n_l) * 0.01, 2),
            "l_tax": np.round(r.integers(0, 9, n_l) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_l)],
            "l_shipdate": pa.array(_days(r, 2499, n_l) + np.timedelta64(1, "D"), pa.timestamp("us")),
        }
    )
    r = rng_for(6)
    ts_us = _EPOCH_2024 + r.integers(0, 30 * _DAY_US, n_e)
    n_users = max(15, rows["customer"] // 10)
    out["events"] = pa.table(
        {
            "event_id": pa.array(r.permutation(n_e), pa.int64()),
            # whole microseconds stored as TIMESTAMP(NANOS), so loading goes
            # through io.load's nanos-as-long conversion
            "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
            "user_id": pa.array(r.integers(0, n_users, n_e), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_e)],
            "value": np.round(r.exponential(50.0, n_e), 2),
            "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_e)],
        }
    )
    r = rng_for(7)
    n_v = rows["embeddings"]
    emb = r.normal(size=(n_v, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_v), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_v), pa.int32()),
        }
    )
    return out


def _shuffled_documents(path: str, seed: int, key_offset: int) -> None:
    """Re-key and re-order a generated documents file in place."""
    t = pq.read_table(path)
    rng = np.random.default_rng([seed, 8])
    order = rng.permutation(t.num_rows)
    t = t.take(pa.array(order))
    t = t.set_column(0, "doc_id", pa.array(t.column("doc_id").to_numpy() + key_offset, pa.int64()))
    pq.write_table(t, path, row_group_size=max(t.num_rows, 1_000_000))


def write_database(
    out_dir: str,
    seed: int,
    scale: float = 1.0,
    big_mult: int = 1,
    plant_violations: bool = False,
    n_docs: int | None = None,
) -> dict:
    """Write the ten fixture-shaped tables; return rows and bytes per table.
    ``n_docs`` overrides the documents table's scaled size."""
    os.makedirs(out_dir, exist_ok=True)
    rows = _rows(scale, big_mult)
    if n_docs is not None:
        rows["documents"] = n_docs
    key_offset = int(np.random.default_rng([seed, 9]).integers(0, 1000)) * 1000 if big_mult > 1 else 0
    for name, table in _tables(seed, rows, key_offset, plant_violations).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    _tools_module().generate(out_dir, rows["documents"], seed)
    if big_mult > 1:
        _shuffled_documents(os.path.join(out_dir, "documents.parquet"), seed, key_offset)
    return {
        t: {"rows": rows[t], "bytes": os.path.getsize(os.path.join(out_dir, f"{t}.parquet"))}
        for t in SF01_ROWS
    }


def planted_pairs(path: str, seed: int) -> list[tuple[int, int]]:
    """The (source, near-duplicate) doc_id pairs ``gen_synth_docs.generate``
    planted in the documents file at ``path``, recovered by replaying its
    RNG draw for draw. The replay is checked against the written texts, so a
    change to the tool's draw order fails loudly instead of silently
    corrupting recall."""
    g = _tools_module()
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    n_docs = len(texts)
    rng = np.random.default_rng(seed)
    scale = n_docs / g.FIXTURE_DOCS
    vocab_size = max(len(g.BASE_VOCAB), round(len(g.BASE_VOCAB) * scale ** (1 / 3)))
    lens = rng.integers(10, 101, size=n_docs)
    for n in lens:
        rng.integers(0, vocab_size, size=n)
    n_pairs = round(g.FIXTURE_DUP_PAIRS * scale)
    dup_targets = rng.choice(np.arange(1, n_docs), size=n_pairs, replace=False)
    pairs = []
    for i in sorted(int(x) for x in dup_targets):
        src = int(rng.integers(0, i))
        rng.integers(0, int(lens[src]))  # the replaced word position
        pairs.append((src, i))
    for a, b in pairs:
        wa, wb = texts[a].split(" "), texts[b].split(" ")
        if len(wa) != len(wb) or sum(x != y for x, y in zip(wa, wb)) > 1:
            raise RuntimeError(f"planted-pair replay drifted from the corpus at ({a}, {b})")
    return pairs


def write_cdc(out_dir: str, seed: int, n_rows: int, n_epochs: int, n_updates: int, n_inserts: int, n_deletes: int) -> dict:
    """Write the CDC source (``base.parquet``: key, price DECIMAL(18,2),
    ver) and ``n_epochs`` change epochs (``epoch-<e>/upserts.parquet`` and
    ``epoch-<e>/deletes.parquet``). Each epoch updates live keys, inserts
    new ones and deletes live keys, all with a higher ``ver``."""
    from decimal import Decimal

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 10])
    keys = rng.permutation(n_rows).astype(np.int64)
    cents = rng.integers(100_000, 50_000_000, n_rows)

    def table(k, c, ver):
        return pa.table(
            {
                "o_orderkey": pa.array(k, pa.int64()),
                "price": pa.array([Decimal(int(x)).scaleb(-2) for x in c], pa.decimal128(18, 2)),
                "ver": pa.array(np.full(len(k), ver), pa.int32()),
            }
        )

    pq.write_table(table(keys, cents, 1), os.path.join(out_dir, "base.parquet"))
    live = set(int(k) for k in keys)
    next_key = n_rows
    epochs = []
    for e in range(n_epochs):
        live_arr = np.fromiter(sorted(live), np.int64)
        picked = rng.choice(live_arr, n_updates + n_deletes, replace=False)
        upd, dels = picked[:n_updates], picked[n_updates:]
        ins = np.arange(next_key, next_key + n_inserts, dtype=np.int64)
        next_key += n_inserts
        up_keys = np.concatenate([upd, ins])
        d = os.path.join(out_dir, f"epoch-{e}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table(up_keys, rng.integers(100_000, 50_000_000, len(up_keys)), e + 2), os.path.join(d, "upserts.parquet"))
        pq.write_table(pa.table({"o_orderkey": pa.array(dels, pa.int64())}), os.path.join(d, "deletes.parquet"))
        live.update(int(k) for k in ins)
        live.difference_update(int(k) for k in dels)
        epochs.append(d)
    return {
        "rows": n_rows,
        "bytes": os.path.getsize(os.path.join(out_dir, "base.parquet")),
        "epochs": epochs,
    }
