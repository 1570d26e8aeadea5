"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and derives its own random
stream from it, so the same seed always yields byte-identical files
and a different seed changes every drawn value.  The program under
test only ever sees what these functions write.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream tags: one independent random stream per generated input
_TPCH, _DOCS, _EMB, _EVENTS, _GRID, _OD, _KEYS, _GEOJSON, _UPDATES, _CHAIN, _CHUNKS = range(11)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tpch(out_dir: str, seed: int, sf: float) -> None:
    """TPC-H-shaped star schema plus the events table, at scale ``sf``
    (sf 0.1 = 600k lineitems).  Column names, types and value domains
    match what the catalog queries and their DuckDB oracles expect."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, _TPCH)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = pa.int32()
    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    }), f"{out_dir}/supplier.parquet")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li),
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), i32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, n_li, 900.0, 105_000.0),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days(r, n_li, "1995-01-02", "2001-11-04"),
    }), f"{out_dir}/lineitem.parquet")
    write_events(out_dir, seed, sf)


def write_events(out_dir: str, seed: int, sf: float) -> None:
    r = _rng(seed, _EVENTS)
    n, users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(start + r.integers(0, 30 * 86_400 * 10**6, n).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, users, n),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    }), f"{out_dir}/events.parquet")


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """``documents`` (bag-of-words texts, 5% of them a near-duplicate of
    an earlier one with " dup" appended) and ``embeddings`` (unit
    64-dim vectors with a class label)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, _DOCS)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))]))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")
    r = _rng(seed, _EMB)
    v = r.normal(size=(n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


def grid_edges(seed: int, rows: int, cols: int) -> list[tuple[int, int, float]]:
    """Directed 4-neighbour grid with both directions of every street
    and seeded integer-valued weights in [1, 9] (exact float sums)."""
    r = _rng(seed, _GRID)
    out = []
    for i in range(rows):
        for j in range(cols):
            n = i * cols + j
            for m in ((n + 1) if j + 1 < cols else None, (n + cols) if i + 1 < rows else None):
                if m is not None:
                    out.append((n, m, float(r.integers(1, 10))))
                    out.append((m, n, float(r.integers(1, 10))))
    return out


def chain_edges(seed: int, n: int, jump: int) -> list[tuple[int, int, float]]:
    """A long-diameter graph: ``i -> i+1`` and ``i -> i+jump`` with
    seeded integer-valued weights."""
    r = _rng(seed, _CHAIN)
    w1 = r.integers(1, 8, n - 1).astype(float)
    w2 = r.integers(5, 8, n - jump).astype(float)
    return [(i, i + 1, float(w1[i])) for i in range(n - 1)] + [
        (i, i + jump, float(w2[i])) for i in range(n - jump)]


def write_graph(out_dir: str, edges: list[tuple[int, int, float]], n_nodes: int) -> None:
    """``edges.parquet`` (``_u``, ``_v``, ``w``) and ``nodes.parquet``
    (``_n``), with node ids as strings."""
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({
        "_u": [str(u) for u, _, _ in edges],
        "_v": [str(v) for _, v, _ in edges],
        "w": [w for _, _, w in edges],
    }), f"{out_dir}/edges.parquet")
    _write(pa.table({"_n": [str(n) for n in range(n_nodes)]}), f"{out_dir}/nodes.parquet")


def od_pairs(seed: int, n_nodes: int, k: int, stream: int = 0) -> list[tuple[int, int]]:
    """``k`` seeded origin-destination pairs with distinct endpoints."""
    r = _rng(seed, _OD * 100 + stream)
    pairs: list[tuple[int, int]] = []
    while len(pairs) < k:
        s, t = (int(x) for x in r.integers(0, n_nodes, 2))
        if s != t:
            pairs.append((s, t))
    return pairs


def corner_pair(seed: int, rows: int, cols: int, stream: int = 0) -> tuple[int, int]:
    """A seeded corner of a ``rows`` x ``cols`` grid and the corner
    opposite it: the pair a route or an SSSP must cross the whole grid
    for, so its loop runs about as many rounds whatever the seed."""
    corners = [0, cols - 1, (rows - 1) * cols, rows * cols - 1]
    c = int(_rng(seed, _OD * 100 + stream).integers(0, 4))
    return corners[c], corners[3 - c]


def lookup_keys(
    seed: int, n_nodes: int, n: int, hot: int, every: int
) -> tuple[list[int], list[int]]:
    """A stream of ``n`` node indices and its hot set of ``hot`` seeded
    keys.  Each block of ``every`` keys holds exactly one hot key, at a
    seeded place, so any stretch of the stream has the same hot share;
    the rest is uniform over all ``n_nodes``."""
    r = _rng(seed, _KEYS)
    hot_keys = [int(k) for k in r.choice(n_nodes, hot, replace=False)]
    place = r.integers(0, every, -(-n // every))
    pick_hot = [i % every == place[i // every] for i in range(n)]
    stream = [hot_keys[r.integers(0, hot)] if h else int(r.integers(0, n_nodes))
              for h in pick_hot]
    return stream, hot_keys


class RoadGrid:
    """A seeded GeoJSON road grid.  Node ``i*cols+j`` sits at
    (LON0 + j*STEP, LAT0 + i*STEP); every street is one 2-point
    LineString with a seeded ``cost`` and ``fid``; ingest adds the
    reverse edge, so both directions carry the same cost."""

    LON0, LAT0, STEP = -122.3, 47.6, 0.001

    def __init__(self, seed: int, rows: int, cols: int):
        self.rows, self.cols = rows, cols
        r = _rng(seed, _GEOJSON)
        streets = []
        for i in range(rows):
            for j in range(cols):
                n = i * cols + j
                if j + 1 < cols:
                    streets.append((n, n + 1))
                if i + 1 < rows:
                    streets.append((n, n + cols))
        self.streets = streets
        self.cost = [float(c) for c in r.integers(1, 10, len(streets))]

    @property
    def n_nodes(self) -> int:
        return self.rows * self.cols

    def coord(self, n: int) -> tuple[float, float]:
        i, j = divmod(n, self.cols)
        return round(self.LON0 + j * self.STEP, 7), round(self.LAT0 + i * self.STEP, 7)

    def node_id(self, n: int) -> str:
        lon, lat = self.coord(n)
        return f"{lon}, {lat}"

    def write(self, path: str, idx: range | list[int] | None = None) -> int:
        """Write streets ``idx`` (all by default) as a FeatureCollection;
        returns the number of features."""
        idx = range(len(self.streets)) if idx is None else idx
        feats = []
        for k in idx:
            u, v = self.streets[k]
            feats.append({
                "type": "Feature",
                "geometry": {"type": "LineString",
                             "coordinates": [list(self.coord(u)), list(self.coord(v))]},
                "properties": {"fid": k, "cost": self.cost[k], "highway": "residential"},
            })
        with open(path, "w") as fh:
            json.dump({"type": "FeatureCollection", "features": feats}, fh)
        return len(feats)

    def directed(self) -> list[tuple[int, int, float]]:
        out = []
        for (u, v), c in zip(self.streets, self.cost):
            out += [(u, v, c), (v, u, c)]
        return out


def chunks(seed: int, n_streets: int, size: int, count: int) -> list[list[int]]:
    """``count`` disjoint seeded sets of ``size`` street indices."""
    order = _rng(seed, _CHUNKS).permutation(n_streets)
    return [sorted(int(i) for i in order[c * size:(c + 1) * size]) for c in range(count)]


def update_batch(seed: int, n_streets: int, k: int, cycle: int) -> list[tuple[int, float]]:
    """``k`` distinct street indices with a new cost each, for cycle
    ``cycle`` of the keyed-update op."""
    r = _rng(seed, _UPDATES * 1000 + cycle)
    idx = r.choice(n_streets, k, replace=False)
    return [(int(i), float(c)) for i, c in zip(idx, r.integers(10, 100, k))]
