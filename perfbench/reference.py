"""Reference results computed without Spark, from the same inputs.

Each function takes plain Python rows (or parquet paths) and returns
what the program's operator must produce; the workloads compare every
result they time against these.
"""

from __future__ import annotations

import hashlib
import heapq
import math
from collections import defaultdict
from typing import Iterable

INF = 2147483647  # the program's "unreachable" distance (Java Integer.MAX_VALUE)


def dijkstra(edges: Iterable[tuple[str, str, int]], source: str) -> dict[str, int]:
    adj: dict[str, list[tuple[str, int]]] = defaultdict(list)
    dist: dict[str, int] = {}
    for s, d, w in edges:
        adj[s].append((d, w))
        dist[s] = INF
        dist[d] = INF
    dist[source] = 0
    heap = [(0, source)]
    while heap:
        du, u = heapq.heappop(heap)
        if du > dist[u]:
            continue
        for v, w in adj[u]:
            nd = du + w
            if nd < dist[v]:
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def _symmetric_adjacency(edges: list[tuple[str, str]]) -> dict[str, set[str]]:
    adj: dict[str, set[str]] = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    return adj


def harmonic(
    edges: list[tuple[str, str]], landmarks: int, radius: int, seed: int
) -> dict[str, tuple[float, int]]:
    """Landmark harmonic centrality on the symmetrized graph: landmarks
    are the first ``landmarks`` vertices by (md5("seed:id"), id); each
    vertex gets (round(sum 1/d over landmarks at 0 < d <= radius, 6),
    number of landmark balls of that radius it lies in)."""
    adj = _symmetric_adjacency(edges)
    order = sorted(adj, key=lambda v: (hashlib.md5(f"{seed}:{v}".encode()).hexdigest(), v))
    lms = order[:landmarks]
    total: dict[str, float] = defaultdict(float)
    balls: dict[str, int] = defaultdict(int)
    for lm in lms:
        seen = {lm}
        frontier = [lm]
        balls[lm] += 1
        for d in range(1, radius + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            for v in nxt:
                total[v] += 1.0 / d
                balls[v] += 1
            frontier = nxt
    return {v: (round(total[v], 6), balls[v]) for v in adj}


def link_prediction(
    edges: list[tuple[str, str]], max_degree: int, min_common: int, topk: int
) -> list[tuple[str, str, int, float, float]]:
    """Top-k (id_a, id_b, common, jaccard, adamic_adar) over the
    symmetrized graph, counting wedges only through centers of degree
    <= ``max_degree``; ordered by (adamic_adar desc, id_a, id_b)."""
    adj = _symmetric_adjacency(edges)
    common: dict[tuple[str, str], int] = defaultdict(int)
    aa: dict[tuple[str, str], float] = defaultdict(float)
    for w, nbrs in adj.items():
        deg = len(nbrs)
        if deg > max_degree:
            continue
        ordered = sorted(nbrs)
        for i, a in enumerate(ordered):
            for b in ordered[i + 1:]:
                common[(a, b)] += 1
                aa[(a, b)] += 1.0 / math.log(deg)
    rows = []
    for (a, b), c in common.items():
        if c >= min_common:
            jac = round(c / (len(adj[a]) + len(adj[b]) - c), 6)
            rows.append((a, b, c, jac, round(aa[(a, b)], 6)))
    rows.sort(key=lambda r: (-r[4], r[0], r[1]))
    return rows[:topk]


STAR_QUERY = """
SELECT n.n_name, SUM(l.l_price_cents * (100 - l.l_discount_pct)) AS revenue
FROM read_parquet('{lineitem}') l
JOIN read_parquet('{orders}') o ON l.l_orderkey = o.o_orderkey
JOIN read_parquet('{customer}') c ON o.o_custkey = c.c_custkey
JOIN read_parquet('{nation}') n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name
"""


def star_revenue(paths: dict[str, str]) -> list[tuple[str, int]]:
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(STAR_QUERY.format(**paths)).fetchall()
        return [(name, int(rev)) for name, rev in rows]
    finally:
        con.close()
