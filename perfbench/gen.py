"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, size)``: numpy's PCG64 draws the
values and pyarrow writes one snappy parquet file per table, so the same seed
gives byte-identical files. The program under test only ever sees these files.

- ``star_tables``: the TPC-H-shaped star schema the exporter's graph view
  reads (region, nation, customer, supplier, part, orders, lineitem).
- ``mix_tables``: the star schema plus the ``events``, ``documents`` and
  ``embeddings`` tables the registry's queries read, with the same columns
  and value shapes as the reference data.
- ``make_graph``: a hub-skewed edge list of a few components whose k-core
  takes the same number of peel rounds for every seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per unit of scale factor, as in the TPC-H-shaped reference data.
STAR_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old"]
PART_NOUN = ["widget", "gear", "bolt", "ring", "rod", "plate", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01 00:00:00
DAY_US = 86_400 * 1_000_000
TS_US = pa.timestamp("us")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema as Arrow tables (see the module docstring)."""
    n = {t: max(1, int(r * sf)) for t, r in STAR_ROWS.items()}
    rng = _rng(seed, 1)
    base = {
        "cust_nation": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "cust_bal": _money(rng, -999.99, 9999.99, n["customer"]),
        "cust_seg": rng.integers(0, len(SEGMENTS), n["customer"]),
        "supp_nation": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "supp_bal": _money(rng, -999.99, 9999.99, n["supplier"]),
        "part_adj": rng.integers(0, len(PART_ADJ), n["part"]),
        "part_noun": rng.integers(0, len(PART_NOUN), n["part"]),
        "part_brand": rng.integers(1, 26, n["part"]),
        "part_type": rng.integers(0, len(PART_TYPES), n["part"]),
        "part_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "ord_cust": rng.integers(0, n["customer"], n["orders"]),
        "ord_status": rng.integers(0, 3, n["orders"]),
        "ord_price": _money(rng, 1000.0, 500000.0, n["orders"]),
        "ord_day": rng.integers(0, 2404, n["orders"]),
        "ord_prio": rng.integers(0, len(PRIORITIES), n["orders"]),
        "li_order": rng.integers(0, n["orders"], n["lineitem"]),
        "li_part": rng.integers(0, n["part"], n["lineitem"]),
        "li_supp": rng.integers(0, n["supplier"], n["lineitem"]),
        "li_line": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
        "li_qty": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
        "li_price": _money(rng, 900.0, 105000.0, n["lineitem"]),
        "li_disc": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "li_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "li_flag": rng.integers(0, 3, n["lineitem"]),
        "li_status": rng.integers(0, 2, n["lineitem"]),
        "li_day": rng.integers(1, 2500, n["lineitem"]),
    }
    ck = np.arange(n["customer"], dtype=np.int64)
    sk = np.arange(n["supplier"], dtype=np.int64)
    pk = np.arange(n["part"], dtype=np.int64)
    ok = np.arange(n["orders"], dtype=np.int64)
    tables = {
        "customer": pa.table({
            "c_custkey": ck, "c_name": _names("Customer", ck),
            "c_nationkey": base["cust_nation"], "c_acctbal": base["cust_bal"],
            "c_mktsegment": pa.array(np.asarray(SEGMENTS, dtype=object)[base["cust_seg"]]),
        }),
        "supplier": pa.table({
            "s_suppkey": sk, "s_name": _names("Supplier", sk),
            "s_nationkey": base["supp_nation"], "s_acctbal": base["supp_bal"],
        }),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(base["part_adj"].tolist(), base["part_noun"].tolist())]),
            "p_brand": pa.array([f"Brand#{b}" for b in base["part_brand"].tolist()]),
            "p_type": pa.array(np.asarray(PART_TYPES, dtype=object)[base["part_type"]]),
            "p_size": base["part_size"],
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": ok, "o_custkey": base["ord_cust"],
            "o_orderstatus": pa.array(np.asarray(["F", "O", "P"], dtype=object)[base["ord_status"]]),
            "o_totalprice": base["ord_price"],
            "o_orderdate": pa.array(EPOCH_1995_US + base["ord_day"] * DAY_US, TS_US),
            "o_orderpriority": pa.array(np.asarray(PRIORITIES, dtype=object)[base["ord_prio"]]),
        }),
        "lineitem": pa.table({
            "l_orderkey": base["li_order"], "l_partkey": base["li_part"], "l_suppkey": base["li_supp"],
            "l_linenumber": base["li_line"], "l_quantity": base["li_qty"],
            "l_extendedprice": base["li_price"], "l_discount": base["li_disc"],
            "l_tax": base["li_tax"],
            "l_returnflag": pa.array(np.asarray(["A", "N", "R"], dtype=object)[base["li_flag"]]),
            "l_linestatus": pa.array(np.asarray(["F", "O"], dtype=object)[base["li_status"]]),
            "l_shipdate": pa.array(EPOCH_1995_US + base["li_day"] * DAY_US, TS_US),
        }),
    }
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    """One parquet file per table; returns {table: {"rows", "bytes"}}."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name in sorted(tables):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path, compression="snappy")
        info[name] = {"rows": tables[name].num_rows, "bytes": os.path.getsize(path)}
    return info


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00
EVENT_DAYS = 30
USERS_PER_SF = 1_500
EVENTS_PER_SF = 1_000_000
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
         "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.44, 0.14, 0.14, 0.14]
DOCUMENTS, DOC_SOURCES, DOC_DUP_FRAC = 500, 20, 0.05
EMBEDDINGS, EMBEDDING_DIM, EMBEDDING_LABELS = 500, 64, 10


def mix_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema plus ``events``, ``documents`` and ``embeddings``.

    Events are time-ordered over ``EVENT_DAYS`` days from 2024-01-01 with
    ``USERS_PER_SF * sf`` users; documents are bags of ``WORDS`` with a
    language tag and ``DOC_DUP_FRAC`` near-duplicates (an earlier text plus
    `` dup``); embeddings are unit vectors scattered around one centre per
    label.
    """
    tables = star_tables(seed, sf)
    rng = _rng(seed, 3)
    n_ev = max(1, int(EVENTS_PER_SF * sf))
    ts = np.sort(rng.integers(0, EVENT_DAYS * DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EPOCH_2024_US + ts, TS_US),
        "user_id": rng.integers(0, max(1, int(USERS_PER_SF * sf)), n_ev),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n_ev)]),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]),
    })
    texts = []
    for i in range(DOCUMENTS):
        if i > 0 and rng.random() < DOC_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), DOCUMENTS, p=LANG_WEIGHTS)]),
        "source": pa.array([f"src{i % DOC_SOURCES}" for i in range(DOCUMENTS)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, EMBEDDING_LABELS, EMBEDDINGS).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (EMBEDDING_LABELS, EMBEDDING_DIM))
    vecs = 0.25 * centres[labels] + rng.normal(0.0, 1.0, (EMBEDDINGS, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.field("element", pa.float32()))),
        "label": labels,
    })
    return tables


GRAPH_COMPONENTS = 4
GRAPH_DEPTH = 2
GRAPH_EXTRA_PER_NODE = 1.5
GRAPH_TAIL = 2
GRAPH_MIN_DEGREE = 2


def make_graph(seed: int, n_nodes: int) -> dict:
    """Hub-skewed multigraph whose k-core peel depth does not depend on the seed.

    ``GRAPH_COMPONENTS`` components; each is a tree of ``GRAPH_DEPTH`` layers
    below its root (the component's smallest id). A node links to a parent
    in the layer above chosen in proportion to degree, so hubs attract more
    links. ``GRAPH_EXTRA_PER_NODE`` extra edges per node join nodes of the
    same or adjacent layers, again by degree, and close triangles around the
    hubs; they never bring a node nearer the root. Every layered node gets
    at least ``GRAPH_MIN_DEGREE`` distinct neighbours. A path of
    ``GRAPH_TAIL`` nodes hangs off the root, so the ``GRAPH_MIN_DEGREE``-core
    peels exactly the path, one node per round.
    One self-loop and a few parallel edges exercise the dedup rules.
    Returns plain Python lists.
    """
    rng = _rng(seed, 2)
    src, dst = [], []
    per = n_nodes // GRAPH_COMPONENTS
    weights = 2.0 ** np.arange(1, GRAPH_DEPTH + 1)
    sizes = np.maximum(1, np.round((per - 1 - GRAPH_TAIL) * weights / weights.sum())).astype(int)
    for c in range(GRAPH_COMPONENTS):
        nxt = c * per
        layers = [[nxt]]
        nxt += 1
        for size in sizes:
            layers.append(list(range(nxt, nxt + size)))
            nxt += size
        ends = [list(layer) for layer in layers]  # a node appears once per edge, plus once

        def link(a, la, b, lb):
            src.append(a)
            dst.append(b)
            ends[la].append(a)
            ends[lb].append(b)

        for lvl in range(1, len(layers)):
            for v in layers[lvl]:
                pool = ends[lvl - 1]
                link(v, lvl, pool[rng.integers(len(pool))], lvl - 1)
        n_layered = sum(len(layer) for layer in layers)
        for _ in range(int(n_layered * GRAPH_EXTRA_PER_NODE)):
            la = int(rng.integers(1, len(layers)))
            lb = min(len(layers) - 1, max(1, la + int(rng.integers(-1, 2))))
            a = layers[la][rng.integers(len(layers[la]))]
            pool = ends[lb]
            link(a, la, pool[rng.integers(len(pool))], lb)
        nbrs = {v: set() for layer in layers for v in layer}
        for a, b in zip(src, dst):
            if a != b and a in nbrs and b in nbrs:
                nbrs[a].add(b)
                nbrs[b].add(a)
        for lvl in range(1, len(layers)):
            pool = ends[lvl] + ends[lvl - 1]
            for v in layers[lvl]:
                while len(nbrs[v]) < GRAPH_MIN_DEGREE:
                    u = pool[rng.integers(len(pool))]
                    if u != v and u not in nbrs[v]:
                        link(v, lvl, u, lvl)
                        nbrs[v].add(u)
                        nbrs[u].add(v)
        prev = layers[0][0]
        for v in range(nxt, nxt + GRAPH_TAIL):
            src.append(v)
            dst.append(prev)
            prev = v
        src.append(nxt - 1)  # one self-loop per component
        dst.append(nxt - 1)
    src += src[:5]  # parallel edges
    dst += dst[:5]
    return {"src": src, "dst": dst}
