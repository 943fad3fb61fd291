"""Seeded benchmark inputs.

Every workload reads tables generated here from the committed base
tables in ``data/base`` (a copy of the sf0.01 test data): a seeded row
subset of each entity table plus a key-offset copy of a seeded share of
it. The same seed always gives the same files. Keys stay unique
(``ivf_assign`` relies on it) and every foreign key stays valid, and the
files keep the base column types, so ``load_table`` and the DuckDB
oracles read them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "base")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: share of each entity table's rows kept by the seeded subset
KEEP = 0.85
#: share of the kept rows appended again under offset keys
COPY = 0.25
#: embeddings whose vec_id is below this are always kept (see make_inputs)
N_FIXED_VECS = 8


def _pick(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Sorted indices of ``round(n * share)`` rows drawn without replacement."""
    return np.sort(rng.choice(n, size=round(n * share), replace=False))


def _offset(table: pa.Table, cols: dict[str, int]) -> pa.Table:
    for col, off in cols.items():
        i = table.schema.get_field_index(col)
        shifted = pc.add(table.column(col), pa.scalar(off, table.schema.field(i).type))
        table = table.set_column(i, table.schema.field(i), shifted)
    return table


def _isin(table: pa.Table, col: str, keys: pa.Array) -> pa.Table:
    return table.filter(pc.is_in(table.column(col), value_set=keys))


def _chain(rng, base: dict, cust_at: int, order_at: int, cust_off: int, order_off: int):
    """One seeded customer/orders/lineitem replica, its keys moved up by
    ``cust_at``/``order_at``: subset the customers, keep their orders
    (then subset those) and the lines of kept orders; then re-key a
    share of the kept customers, with their orders and lines, by
    ``cust_off``/``order_off``."""
    cust = base["customer"].take(_pick(rng, base["customer"].num_rows, KEEP))
    orders = _isin(base["orders"], "o_custkey", cust.column("c_custkey"))
    orders = orders.take(_pick(rng, orders.num_rows, KEEP))
    lines = _isin(base["lineitem"], "l_orderkey", orders.column("o_orderkey"))
    cust_copy = cust.take(_pick(rng, cust.num_rows, COPY))
    orders_copy = _isin(orders, "o_custkey", cust_copy.column("c_custkey"))
    lines_copy = _isin(lines, "l_orderkey", orders_copy.column("o_orderkey"))
    c, o = cust_at + cust_off, order_at + order_off
    return (
        pa.concat_tables([_offset(cust, {"c_custkey": cust_at}),
                          _offset(cust_copy, {"c_custkey": c})]),
        pa.concat_tables([_offset(orders, {"o_orderkey": order_at, "o_custkey": cust_at}),
                          _offset(orders_copy, {"o_orderkey": o, "o_custkey": c})]),
        pa.concat_tables([_offset(lines, {"l_orderkey": order_at}),
                          _offset(lines_copy, {"l_orderkey": o})]),
    )


def make_inputs(out_dir: str, seed: int, scale: int = 1, base_dir: str = BASE_DIR) -> dict:
    """Write every table for ``seed`` into ``out_dir``; return the
    inputs' properties (rows per table, exact-duplicate document share,
    ``user_id`` spread). The customer/orders/lineitem chain is written
    ``scale`` times over, each replica about the size of the base."""
    rng = np.random.default_rng(seed)
    base = {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet")) for t in TABLES}
    out = {t: base[t] for t in ("region", "nation", "supplier", "part")}

    # customer -> orders -> lineitem, ``scale`` times over under
    # disjoint key ranges (see _chain)
    cust_off = pc.max(base["customer"].column("c_custkey")).as_py() + 1
    order_off = pc.max(base["orders"].column("o_orderkey")).as_py() + 1
    chains = [_chain(rng, base, 2 * r * cust_off, 2 * r * order_off, cust_off, order_off)
              for r in range(scale)]
    for i, t in enumerate(("customer", "orders", "lineitem")):
        out[t] = pa.concat_tables([c[i] for c in chains])

    # events: the copy re-keys users too, widening the user_id spread
    ev = base["events"].take(_pick(rng, base["events"].num_rows, KEEP))
    ev_copy = ev.take(_pick(rng, ev.num_rows, COPY))
    out["events"] = pa.concat_tables([
        ev,
        _offset(ev_copy, {
            "event_id": pc.max(base["events"].column("event_id")).as_py() + 1,
            "user_id": pc.max(base["events"].column("user_id")).as_py() + 1,
        }),
    ])

    # documents: the copy keeps the text under a new doc_id, so it adds
    # exact duplicates (the dedup queries' input property)
    docs = base["documents"].take(_pick(rng, base["documents"].num_rows, KEEP))
    docs_copy = docs.take(_pick(rng, docs.num_rows, COPY))
    out["documents"] = pa.concat_tables([
        docs,
        _offset(docs_copy, {"doc_id": pc.max(base["documents"].column("doc_id")).as_py() + 1}),
    ])

    # embeddings: subset only (a copied vector would tie every top-k).
    # vec_ids 0..7 always stay: 0 is the ANN probe vector, and the IVF
    # oracles take the centroids as ``vec_id < 8`` while the engine takes
    # the first 8 ids, which agree only when those ids exist
    emb = base["embeddings"]
    keep = _pick(rng, emb.num_rows - N_FIXED_VECS, KEEP) + N_FIXED_VECS
    out["embeddings"] = emb.take(np.concatenate([np.arange(N_FIXED_VECS), keep]))

    os.makedirs(out_dir, exist_ok=True)
    for t, table in out.items():
        pq.write_table(table, os.path.join(out_dir, f"{t}.parquet"))
    return properties(out)


def properties(tables: dict[str, pa.Table]) -> dict:
    texts = tables["documents"].column("text").to_pandas()
    users = tables["events"].column("user_id").to_pandas().value_counts()
    return {
        "rows": {t: tables[t].num_rows for t in TABLES},
        "exact_dup_doc_share": round(float(texts.duplicated(keep=False).mean()), 4),
        "user_id": {
            "distinct": int(users.size),
            "top_user_share": round(float(users.iloc[0] / users.sum()), 4),
            "events_per_user_p50": float(users.median()),
        },
    }
