"""The benchmark workloads: olap, route_loops and graph_store.

A workload builds its inputs from the seed and runs its untimed
warm-up (both outside the timed window), then hands the runner a list
of ops per cycle.  An op's ``run`` is what the runner times; its
``check`` runs after the timed window and returns ``None`` when the
result is right, or a reason.  Each op wraps its calls into repo
modules in tracer spans named after the module.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime
from typing import Any

import networkx as nx
import numpy as np

from perfbench import inputs
from perfbench.trace import Tracer


@dataclass
class Op:
    kind: str
    run: Callable[[Tracer], Any]
    check: Callable[[Any], str | None]
    work: float = 1.0  # units of work (rows written, updates applied)


# ---------------------------------------------------------------------
# result fingerprints, as the repo's DuckDB oracle gate computes them
# ---------------------------------------------------------------------

def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    return str(v)


def _by_name(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows]


def fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    lines = sorted("\x01".join(_norm(v) for v in r) for r in _by_name(cols, rows))
    return len(rows), hashlib.md5("\n".join(lines).encode()).hexdigest()


def _decimals(x: float) -> int:
    text = repr(x)
    return len(text.split(".")[1]) if "." in text and "e" not in text else 0


def _same_value(a, b) -> bool:
    """Equal, or two floats rounded to the same number of decimals that
    differ by at most one unit in that last place: a sum of doubles
    rounded after adding in a different order (Spark vs DuckDB) can
    land on either side of a rounding boundary."""
    if _norm(a) == _norm(b):
        return True
    if not (isinstance(a, float) and isinstance(b, float)):
        return False
    unit = 10.0 ** -max(_decimals(a), _decimals(b))
    # the slack covers binary representation error of the two decimals
    return abs(a - b) <= unit * 1.001 or abs(a - b) <= 1e-9 * max(1.0, abs(b))


def same_rows(cols: list[str], rows: list[tuple], want_cols: list[str], want: list[tuple]) -> bool:
    if len(rows) != len(want):
        return False
    if fingerprint(cols, rows) == fingerprint(want_cols, want):
        return True

    def key(r):  # non-float values first, so rows line up where floats differ
        return ([_norm(v) for v in r if not isinstance(v, float)],
                [v for v in r if isinstance(v, float)])

    got, exp = (sorted(_by_name(c, r), key=key) for c, r in ((cols, rows), (want_cols, want)))
    return all(len(x) == len(y) and all(_same_value(a, b) for a, b in zip(x, y))
               for x, y in zip(got, exp))


class Olap:
    """TPC-H-shaped joins and aggregates, a window query and
    sessionization, plus one text, one MinHash-LSH and one embedding-LSH
    near-duplicate query: Catalyst planning, shuffles and joins, with no
    iterative loop.  Every result is checked against the query's DuckDB
    oracle."""

    SF = 0.01
    DOCS, VECS = 500, 500
    PASSES = 3  # passes per cycle: every query is sampled this often
    # queries attributed to another layer than ``catalog``: the module
    # that implements them
    LAYER = {
        "t1_doc_stats": "functions.text",
        "d3_minhash_lsh_pairs": "operators.dedup",
        "d6b_embedding_neardup_lsh": "operators.similarity",
    }
    queries = [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "q18_large_volume", "q21_waiting_supplier", "j2_revenue_by_nation",
        "e3_sessionize", *LAYER,
    ]
    tables = "region nation customer supplier part orders lineitem events documents embeddings".split()

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        from entwiner_spark import catalog

        self.spark, self.seed, self.catalog = spark, seed, catalog
        self.data = os.path.join(work, "data")
        inputs.write_tpch(self.data, seed, self.SF)
        inputs.write_corpus(self.data, seed, self.DOCS, self.VECS)
        self._oracle: dict[str, tuple[list[str], list[tuple]]] = {}
        for op in self._pass(-1):  # untimed warm-up pass
            op.run(tracer)

    def layer_of(self, name: str) -> str:
        return self.LAYER.get(name, "catalog")

    def cycle(self, k: int) -> list[Op]:
        return [op for j in range(self.PASSES) for op in self._pass(self.PASSES * k + j)]

    def _pass(self, k: int) -> list[Op]:
        names = list(self.queries)
        random.Random(self.seed * 1009 + k).shuffle(names)
        return [Op(n, self._runner(n), self._checker(n)) for n in names]

    def _runner(self, name: str):
        fn = self.catalog.QUERIES[name]

        def run(tr: Tracer):
            with tr.span(self.layer_of(name), name) as sp:
                df = fn(self.spark, self.data)
                rows = df.collect()
                if sp is not None:
                    phases = df._jdf.queryExecution().tracker().phases()
                    sp.extra["plan_s"] = sum(
                        phases.apply(p).durationMs() / 1000.0
                        for p in ("analysis", "optimization", "planning")
                        if phases.contains(p)
                    )
            return df.columns, [tuple(r) for r in rows]

        return run

    def _checker(self, name: str):
        def check(res) -> str | None:
            if name not in self._oracle:
                import duckdb

                con = duckdb.connect()
                for t in self.tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
                cur = con.execute(self.catalog.ORACLES[name])
                self._oracle[name] = ([d[0] for d in cur.description], cur.fetchall())
                con.close()
            cols, rows = res
            want_cols, want = self._oracle[name]
            if sorted(cols) != sorted(want_cols):
                return f"columns {sorted(cols)} != oracle {sorted(want_cols)}"
            if same_rows(cols, rows, want_cols, want):
                return None
            return f"{len(rows)} rows {fingerprint(cols, rows)} != oracle {fingerprint(want_cols, want)}"

        return check


# ---------------------------------------------------------------------
# route_loops: the distributed loops, forced onto the Pregel path
# ---------------------------------------------------------------------

def _graph(spark, out_dir: str, edges: list[tuple[int, int, float]], n_nodes: int):
    """A SparkGraph over parquet files written from ``edges``."""
    from entwiner_spark.operators.graph import SparkGraph

    inputs.write_graph(out_dir, edges, n_nodes)
    return SparkGraph(spark.read.parquet(f"{out_dir}/nodes.parquet"),
                      spark.read.parquet(f"{out_dir}/edges.parquet"))


def _nx(edges: list[tuple[int, int, float]]) -> nx.DiGraph:
    g = nx.DiGraph()
    g.add_weighted_edges_from(edges)
    return g


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def _dist_check(got: dict[str, float], want: dict[int, float]) -> str | None:
    want_s = {str(k): v for k, v in want.items()}
    if set(got) != set(want_s):
        return f"reached {len(got)} nodes, expected {len(want_s)}"
    bad = [n for n, d in got.items() if not _close(d, want_s[n])]
    return f"{len(bad)} wrong distances, e.g. node {bad[0]}" if bad else None


class RouteLoops:
    """Bounded and unbounded SSSP, CH build, CH route and CH
    distance_matrix, all with ``strategy="pregel"``."""

    CHAIN_N, CHAIN_JUMP, CHAIN_HOPS = 5_000, 100, 3
    SSSP_GRID = (4, 4)
    CH_GRID = (3, 3)
    REPEATS = 2  # samples of each query op kind per cycle

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark, self.seed = spark, seed
        n = self.CHAIN_N
        self.chain = inputs.chain_edges(seed, n, self.CHAIN_JUMP)
        self.sssp_grid = inputs.grid_edges(seed, *self.SSSP_GRID)
        self.ch_grid = inputs.grid_edges(seed + 1, *self.CH_GRID)
        self.g_chain = _graph(spark, os.path.join(work, "chain"), self.chain, n)
        r, c = self.SSSP_GRID
        self.g_sssp = _graph(spark, os.path.join(work, "sssp_grid"), self.sssp_grid, r * c)
        r, c = self.CH_GRID
        self.g_ch = _graph(spark, os.path.join(work, "ch_grid"), self.ch_grid, r * c)
        self.nx_sssp, self.nx_ch = _nx(self.sssp_grid), _nx(self.ch_grid)
        self.ch = None
        # untimed warm-up: a two-round SSSP runs the Pregel loop code once,
        # so the timed window does not start in a cold JVM
        self._sssp(self.g_sssp, 0, 2)(tracer)

    def cycle(self, k: int) -> list[Op]:
        """One CH build, then REPEATS rounds of the four query ops on fresh
        seeded origins and OD pairs, so every query kind is sampled
        REPEATS times and the median op is not one op of whichever kind
        ranks in the middle."""
        ops = [Op("ch_build", self._build, lambda res: None if res > 0 else "empty hierarchy")]
        r, c = self.CH_GRID
        corners = [0, c - 1, (r - 1) * c, r * c - 1]
        for j in range(self.REPEATS * k, self.REPEATS * (k + 1)):
            (src_chain, _), = inputs.od_pairs(self.seed, self.CHAIN_N // 2, 1, stream=4 * j + 10)
            # corner origins: the loop crosses the whole grid on every seed
            src_grid, _ = inputs.corner_pair(self.seed, *self.SSSP_GRID, stream=4 * j + 11)
            s, t = inputs.corner_pair(self.seed, r, c, stream=4 * j + 12)
            # the matrix joins the route's diagonal to the other one, so its
            # searches, too, start at corners whatever the seed
            srcs, tgts = [s, t], [x for x in corners if x not in (s, t)]
            ops += [
                Op("sssp_bounded", self._sssp(self.g_chain, src_chain, self.CHAIN_HOPS),
                   lambda res, s=src_chain: _dist_check(res, self._bf_k(s))),
                Op("sssp_grid", self._sssp(self.g_sssp, src_grid, None),
                   lambda res, s=src_grid: _dist_check(
                       res, nx.single_source_dijkstra_path_length(self.nx_sssp, s))),
                Op("ch_route", self._route(s, t), self._route_check(s, t)),
                Op("ch_matrix", self._matrix(srcs, tgts), self._matrix_check(srcs, tgts)),
            ]
        return ops

    def _sssp(self, g, src: int, hops: int | None):
        def run(tr: Tracer):
            stats: dict = {}
            with tr.span("operators.graph", "SparkGraph.shortest_path_lengths") as sp:
                rows = g.shortest_path_lengths(
                    str(src), weight="w", max_iterations=hops, strategy="pregel", stats=stats
                ).collect()
                probes = stats.get("rounds") or [{}]
                rounds = int(probes[-1].get("it", 0))
                if sp is not None:
                    sp.extra["rounds"] = rounds
            return {r["_n"]: r["dist"] for r in rows if r["dist"] is not None and not math.isinf(r["dist"])}

        return run

    def _bf_k(self, src: int) -> dict[int, float]:
        """Bellman-Ford limited to CHAIN_HOPS edges (what a bounded
        weighted Pregel SSSP computes)."""
        e = np.array(self.chain)
        u, v, w = e[:, 0].astype(int), e[:, 1].astype(int), e[:, 2]
        dist = np.full(self.CHAIN_N, np.inf)
        dist[src] = 0.0
        for _ in range(self.CHAIN_HOPS):
            cand = dist[u] + w
            nxt = dist.copy()
            np.minimum.at(nxt, v, cand)
            dist = nxt
        return {i: float(d) for i, d in enumerate(dist) if np.isfinite(d)}

    def _build(self, tr: Tracer) -> int:
        from entwiner_spark.operators.ch import ContractionHierarchy

        with tr.span("operators.ch", "ContractionHierarchy.build"):
            self.ch = ContractionHierarchy.build(self.g_ch, weight="w", strategy="pregel")
        return int(self.ch.n_search_edges)

    def _route(self, s: int, t: int):
        def run(tr: Tracer):
            with tr.span("operators.ch", "ContractionHierarchy.route"):
                return self.ch.route(str(s), str(t), strategy="pregel")

        return run

    def _route_check(self, s: int, t: int):
        def check(res) -> str | None:
            want = nx.dijkstra_path_length(self.nx_ch, s, t)
            if res is None:
                return "no route"
            path, cost = res
            if not _close(cost, want):
                return f"cost {cost} != {want}"
            nodes = [int(p) for p in path]
            if nodes[0] != s or nodes[-1] != t:
                return "path endpoints"
            walked = sum(self.nx_ch[a][b]["weight"] for a, b in zip(nodes, nodes[1:]))
            return None if _close(walked, want) else f"path weight {walked} != {want}"

        return check

    def _matrix(self, srcs: list[int], tgts: list[int]):
        def run(tr: Tracer):
            with tr.span("operators.ch", "ContractionHierarchy.distance_matrix"):
                rows = self.ch.distance_matrix(
                    [str(s) for s in srcs], [str(t) for t in tgts], strategy="pregel"
                ).collect()
            return rows

        return run

    def _matrix_check(self, srcs: list[int], tgts: list[int]):
        def check(rows) -> str | None:
            got = {(str(r[0]), str(r[1])): r[2] for r in rows}
            for s in srcs:
                want = nx.single_source_dijkstra_path_length(self.nx_ch, s)
                for t in tgts:
                    d = got.get((str(s), str(t)))
                    if d is None or not _close(d, want[t]):
                        return f"matrix ({s},{t}) = {d}, expected {want[t]}"
            return None

        return check


# ---------------------------------------------------------------------
# graph_store: ingest, publish, keyed updates and point reads
# ---------------------------------------------------------------------

class GraphStore:
    """Point reads on the road-grid store published in set-up, beside
    writes that each publish to a new store of their own."""

    GRID = (105, 100)  # 10,500 nodes
    CHUNK = 1000  # streets per ingested GeoJSON chunk
    CHUNKS = 8
    UPDATES = 1000  # keyed edge updates per update op
    READS = 12  # read requests per cycle: the median op is a read
    WARM_READS = 3  # reads in the untimed warm-up
    HOT, HOT_EVERY = 4, 3  # one read in three looks up a hot key
    STREAM = 10_000  # lookup keys and OD pairs drawn per run
    RADIUS_M = 30.0  # below half a grid step: only incident edges qualify

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        import entwiner_spark as es

        self.es, self.spark, self.seed = es, spark, seed
        self.work = work
        self.grid = inputs.RoadGrid(seed, *self.GRID)
        os.makedirs(work, exist_ok=True)
        self.full_path = os.path.join(work, "roads.geojson")
        self.grid.write(self.full_path)
        n_streets = len(self.grid.streets)
        self.chunks = []
        for c, idx in enumerate(inputs.chunks(seed, n_streets, self.CHUNK, self.CHUNKS)):
            path = os.path.join(work, f"chunk{c}.geojson")
            self.chunks.append((path, self.grid.write(path, idx)))
        self.nx = _nx(self.grid.directed())
        self.keys, hot = inputs.lookup_keys(
            seed, self.grid.n_nodes, self.STREAM, self.HOT, self.HOT_EVERY)
        self.od = inputs.od_pairs(seed, self.grid.n_nodes, self.STREAM, stream=1)
        self._next_read = 0

        # untimed: publishing the base store warms the write path; one
        # update and a few reads warm the rest of what the window runs
        self.store = os.path.join(work, "store")
        edges = es.edges_from_geojson(spark, self.full_path)
        es.write_graph_tables(edges, es.nodes_from_edges(edges), self.store)
        self.edges, self.nodes = es.read_graph_tables(spark, self.store)
        self.graph = es.SparkGraph(self.nodes, self.edges)
        self.view = es.LazyDiGraphView(self.graph)
        warm = self.cycle(-1)  # write, update, reads
        for op in warm[1:2 + self.WARM_READS]:  # the first read fills the local twin's edge cache
            op.run(tracer)
        for h in hot:  # the hot set starts memoized
            dict(self.view[self.grid.node_id(h)])

    def cycle(self, k: int) -> list[Op]:
        path, n_feat = self.chunks[k % self.CHUNKS]
        reads = []
        for _ in range(self.READS):
            i = self._next_read
            self._next_read += 1
            reads.append(Op("read", self._read(i), self._read_check(i)))
        return [
            Op("write", self._write(path, k), self._write_check(2 * n_feat),
               work=2 * n_feat),
            Op("update", self._update(k), self._update_check(k),
               work=self.UPDATES),
        ] + reads

    def _write(self, path: str, k: int):
        es = self.es
        out = os.path.join(self.work, f"chunk_store{k + 1}")

        def run(tr: Tracer):
            # the ingest plan is lazy and runs inside the write, so the
            # write span nests in the ingest span
            with tr.span("sources.geojson", "edges_from_geojson"):
                edges = es.edges_from_geojson(self.spark, path)
                nodes = es.nodes_from_edges(edges)
                with tr.span("sources.parquet_store", "write_graph_tables"):
                    es.write_graph_tables(edges, nodes, out)
            return out

        return run

    def _write_check(self, n_edges: int):
        def check(out) -> str | None:
            edges, _ = self.es.read_graph_tables(self.spark, out)
            got = edges.count()
            return None if got == n_edges else f"read back {got} edges, wrote {n_edges}"

        return check

    def _update_batch(self, k: int) -> list[tuple[str, str, float]]:
        batch = inputs.update_batch(self.seed, len(self.grid.streets), self.UPDATES, k + 1)
        out = []
        for i, cost in batch:
            u, v = self.grid.streets[i]
            a, b = (u, v) if i % 2 else (v, u)  # one direction of the street
            out.append((self.grid.node_id(a), self.grid.node_id(b), cost))
        return out

    def _update(self, k: int):
        from entwiner_spark.operators.mutations import update_columns

        batch = self._update_batch(k)
        upd = self.spark.createDataFrame(batch, "_u string, _v string, cost double")
        out = os.path.join(self.work, f"updated{k + 1}")

        def run(tr: Tracer):
            # update_columns only plans the keyed join; it runs in the write
            with tr.span("operators.mutations", "update_columns"):
                merged = update_columns(self.edges, upd, ["_u", "_v"])
                with tr.span("sources.parquet_store", "write_graph_tables"):
                    self.es.write_graph_tables(merged, self.nodes, out)
            return out

        return run

    def _update_check(self, k: int):
        want = {(u, v): c for u, v, c in self._update_batch(k)}

        def check(out) -> str | None:
            from pyspark.sql import functions as F

            edges, _ = self.es.read_graph_tables(self.spark, out)
            total = edges.count()
            if total != 2 * len(self.grid.streets):
                return f"{total} edges after update"
            keys = self.spark.createDataFrame(list(want), "_u string, _v string")
            rows = edges.join(F.broadcast(keys), ["_u", "_v"]).select("_u", "_v", "cost").collect()
            got = {(r[0], r[1]): r[2] for r in rows}
            return None if got == want else f"{sum(got.get(x) != c for x, c in want.items())} updates missing"

        return check

    def _read(self, i: int):
        key = self.grid.node_id(self.keys[i])
        s, t = self.od[i]
        lon, lat = self.grid.coord(t)  # edges near the destination

        def run(tr: Tracer):
            with tr.span("nxview", "LazyDiGraphView.__getitem__"):
                adj = {v: d.get("cost") for v, d in self.view[key].items()}
            with tr.span("operators.graph", "SparkGraph.shortest_path"):
                route = self.graph.shortest_path(self.grid.node_id(s), self.grid.node_id(t), weight="cost")
            with tr.span("operators.spatial", "dwithin"):
                near = self.es.dwithin(self.edges, lon, lat, self.RADIUS_M).count()
            return adj, route, near

        return run

    def _read_check(self, i: int):
        key, (s, t) = self.keys[i], self.od[i]

        def check(res) -> str | None:
            adj, route, near = res
            want_adj = {self.grid.node_id(v): d["weight"] for v, d in self.nx[key].items()}
            if adj != want_adj:
                return f"adjacency of {key}: {len(adj)} entries, expected {len(want_adj)}"
            want = nx.dijkstra_path_length(self.nx, s, t)
            if route is None or not _close(route[1], want):
                return f"route {s}->{t}: {route and route[1]} != {want}"
            if near != 2 * self.nx.out_degree(t):
                return f"dwithin: {near} edges, expected {2 * self.nx.out_degree(t)}"
            return None

        return check


WORKLOADS = {"olap": Olap, "route_loops": RouteLoops, "graph_store": GraphStore}
