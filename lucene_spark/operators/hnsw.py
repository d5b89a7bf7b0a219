"""Sharded HNSW graph ANN — the Lucene95HnswVectorsFormat access path.

Reference semantics: ``core/util/hnsw/HnswGraphBuilder.java`` (sequential
per-segment insertion, diverse-neighbor selection, maxConn / 2·maxConn
fan-out), ``core/util/hnsw/HnswGraphSearcher.java`` (greedy upper-level
descent + base-level beam), ``Lucene95HnswVectorsFormat`` (one graph PER
SEGMENT, searched independently and merged — never one global graph).

Spark shape — shard == segment:

- **Build**: vectors are hashed into ``n_shards`` deterministic shards;
  each shard's graph builds sequentially inside ONE ``applyInPandas``
  task (exactly the reference's per-segment sequential build — HNSW
  insertion is inherently ordered), shards build in parallel. The output
  is a plain DataFrame ``(shard, level, vec_id, neighbors array<long>)``
  — parquet-persistable, so at 100 TB the graph builds once per segment
  and is reused across queries, like the .vex/.vem files.
- **Search**: the adjacency rows are CO-GROUPED with the vectors per
  shard (``cogroup.applyInPandas``) — every kernel reconstructs only ITS
  segment's graph, runs the greedy-descent + beam, and emits a
  shard-local top-k; one TakeOrdered merges shards. Nothing
  driver-resident but the single query row.

Determinism (no RNG anywhere): node levels derive from md5(vec_id) (the
reference draws from a seeded SplittableRandom — HnswGraphBuilder.java
``getRandomGraphLevel``); insertion order is vec_id order; every
similarity tie breaks on vec_id. Output cosine is computed as the same
float64 LEFT FOLD over array order as the DuckDB oracle's
``list_reduce`` chain, so gate scores are bit-identical.

Exactness contract: with ``ef_search >= shard size`` the beam visits the
entire reachable component, so results match brute force wherever the
graph is connected — the gate config is pinned exact-vs-brute by test
and by the DuckDB oracle; smaller ``ef_search`` is the approximate scale
path (recall-tested, like the reference's visitedLimit).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["build_hnsw_graph", "ann_hnsw_topk", "node_level"]

GRAPH_SCHEMA = "shard int, level int, vec_id long, neighbors array<long>"


def node_level(vec_id: int, m: int) -> int:
    """Deterministic HNSW level: md5(vec_id) → u ∈ (0,1) →
    floor(-ln(u) / ln(M)) (HnswGraphBuilder.getRandomGraphLevel's
    geometric draw with the hash replacing the seeded RNG)."""
    h = int.from_bytes(hashlib.md5(str(int(vec_id)).encode()).digest()[:8], "big")
    u = (h + 1) / float(1 << 64)  # in (0, 1]
    return int(-math.log(u) / math.log(m))


def _shard_col(id_col: str, n_shards: int):
    return F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_shards)).cast("int")


def _diverse_select(cand_idx, sim_q, xn, max_conn):
    """HnswGraphBuilder.findDiverseNeighbors: scan candidates best-first;
    candidate c joins iff sim(c, q) > sim(c, s) for every already-selected
    s (c is closer to the query than to any chosen neighbor). All pairwise
    dots come from ONE small matmul (w×w for beam width w ≤ ef), so the
    selection loop touches only precomputed rows."""
    cand = [int(c) for c in cand_idx]
    if not cand:
        return []
    pair = xn[cand] @ xn[cand].T
    sq = np.asarray([sim_q[c] for c in cand])
    # "closer to q than to EVERY selected" == "max sim to selected < sim
    # to q"; keep that max as a running column-max so each candidate is an
    # O(1) scalar test and each selection one vectorized np.maximum
    max_to_sel = np.full(len(cand), -np.inf)
    sel_pos: list[int] = []
    for p in range(len(cand)):
        if len(sel_pos) >= max_conn:
            break
        if not sel_pos or max_to_sel[p] < sq[p]:
            sel_pos.append(p)
            np.maximum(max_to_sel, pair[:, p], out=max_to_sel)
    return [cand[p] for p in sel_pos]


def _search_layer(q, eps, ef, adj_level, xn):
    """HnswGraphSearcher.searchLevel: best-first beam of width ``ef`` from
    entry points ``eps`` over one level's adjacency. Ties break on node
    index (== vec_id rank — callers sort by vec_id). Returns (idx, sims)
    with idx sorted best-first and sims a per-node float64 array.

    Vectorized: each frontier expansion computes ALL unvisited neighbors'
    similarities as one gather-matvec (``xn[ns] @ q``); frontier and beam
    are heaps instead of per-step list sorts. Control flow — including the
    beam bound being refreshed only at pop time and on overflow — matches
    the scalar original so graph shape and search order are unchanged."""
    import heapq

    n = xn.shape[0]
    eps = list(dict.fromkeys(int(e) for e in eps))
    sims = np.full(n, -np.inf)
    sims[eps] = xn[eps] @ q
    visited = np.zeros(n, dtype=bool)
    visited[eps] = True
    # frontier: max-heap on (sim, then smallest idx)
    cand = [(-sims[e], e) for e in eps]
    heapq.heapify(cand)
    # beam: min-heap with the WORST on top (lowest sim; tie = largest idx)
    beam = sorted(eps, key=lambda i: (-sims[i], i))[:ef]
    result = [(sims[i], -i) for i in beam]
    heapq.heapify(result)
    while cand:
        _, c = heapq.heappop(cand)
        worst = result[0][0] if result else -np.inf
        if sims[c] < worst and len(result) >= ef:
            break
        nbrs = adj_level.get(c)
        if not nbrs:
            continue
        ns = np.asarray(nbrs, dtype=np.intp)
        ns = ns[~visited[ns]]
        if not len(ns):
            continue
        visited[ns] = True
        s_arr = xn[ns] @ q
        sims[ns] = s_arr
        # python scalars: heap tuple comparisons on np.float64 are ~5x
        # slower than on float
        for v, s in zip(ns.tolist(), s_arr.tolist()):
            if len(result) < ef or s > worst:
                heapq.heappush(cand, (-s, v))
                heapq.heappush(result, (s, -v))
                if len(result) > ef:
                    heapq.heappop(result)
                    worst = result[0][0]
    out = [-ni for _, ni in result]
    out.sort(key=lambda i: (-sims[i], i))
    return out, sims


def _build_shard_graph(ids, x, m, ef_construction):
    """Sequential HNSW insertion over one shard (the per-segment build,
    HnswGraphBuilder.addGraphNode). Returns {level: {idx: [idx, ...]}}."""
    n = len(ids)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0  # zero vectors: sim 0 to everything
    xn = x / norms
    levels = [node_level(int(v), m) for v in ids]
    adj: dict[int, dict[int, list[int]]] = {}
    entry, entry_level = None, -1
    max_conn0 = 2 * m  # base level fan-out (HnswGraphBuilder: M * 2)
    for i in range(n):
        li = levels[i]
        for lev in range(li + 1):
            adj.setdefault(lev, {}).setdefault(i, [])
        if entry is None:
            entry, entry_level = i, li
            continue
        q = xn[i]
        eps = [entry]
        for lev in range(entry_level, li, -1):
            eps, _ = _search_layer(q, eps, 1, adj.get(lev, {}), xn)
        for lev in range(min(li, entry_level), -1, -1):
            cap = max_conn0 if lev == 0 else m
            w, sims = _search_layer(
                q, eps, ef_construction, adj.get(lev, {}), xn
            )
            sel = _diverse_select(w, sims, xn, m)
            level_adj = adj.setdefault(lev, {})
            level_adj[i] = list(sel)
            for s in sel:
                lst = level_adj.setdefault(s, [])
                lst.append(i)
                if len(lst) > cap:
                    # removeLeastDiverse: re-run the diversity rule over
                    # the overflowing list from s's own point of view
                    # (one batched matvec for the whole list)
                    sim_s = dict(zip(lst, xn[lst] @ xn[s]))
                    ranked = sorted(lst, key=lambda c: (-sim_s[c], c))
                    level_adj[s] = _diverse_select(ranked, sim_s, xn, cap)
            eps = w
        if li > entry_level:
            entry, entry_level = i, li
    return adj


def build_hnsw_graph(
    spark: SparkSession,
    vectors: DataFrame,
    m: int = 16,
    ef_construction: int = 64,
    n_shards: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build per-shard HNSW graphs in parallel; one sequential build per
    ``applyInPandas`` task (the reference's per-segment model). Returns
    ``(shard, level, vec_id, neighbors)`` — persist it to reuse across
    queries."""
    df = vectors.select(
        _shard_col(id_col, n_shards).alias("shard"),
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("emb"),
    )

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(np.int64)
        x = np.array(list(pdf["emb"]), dtype=np.float64)
        adj = _build_shard_graph(ids, x, m, ef_construction)
        rows = []
        for lev, nodes in adj.items():
            for idx, nbrs in nodes.items():
                rows.append(
                    (int(key[0]), int(lev), int(ids[idx]),
                     [int(ids[j]) for j in nbrs])
                )
        return pd.DataFrame(rows, columns=["shard", "level", "vec_id", "neighbors"])

    return df.groupBy("shard").applyInPandas(kernel, schema=GRAPH_SCHEMA)


def _fold_cos(xc: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine as the oracle computes it: float64 LEFT FOLD over array
    order for each of the three dot products (list_reduce's op sequence),
    then dot / (sqrt(na) * sqrt(nb)); zero norms → NaN (the SQL NULL)."""
    mrows, d = xc.shape
    dot = np.zeros(mrows)
    na = np.zeros(mrows)
    nb = 0.0
    for i in range(d):
        dot += xc[:, i] * q[i]
        na += xc[:, i] * xc[:, i]
        nb = nb + q[i] * q[i]
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / (np.sqrt(na) * np.sqrt(nb))


def ann_hnsw_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 16,
    ef_construction: int = 64,
    ef_search: int = 1 << 20,
    n_shards: int = 4,
    graph: "DataFrame | None" = None,
) -> DataFrame:
    """KNN over the embeddings table through the sharded HNSW graphs:
    per-shard greedy descent + base-level beam (HnswGraphSearcher), merge
    with one TakeOrdered — the TopKnnCollector-per-leaf + merge shape of
    KnnFloatVectorQuery. ``ef_search`` plays visitedLimit/topK's role;
    the default floods the shard (exact wherever connected)."""
    from .textops import embeddings

    e = embeddings(spark, sf_dir).select("vec_id", "embedding")
    if graph is None:
        graph = build_hnsw_graph(
            spark, e, m=m, ef_construction=ef_construction, n_shards=n_shards
        )
    vecs = e.select(
        _shard_col("vec_id", n_shards).alias("shard"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").alias("emb"),
    )
    qrow = e.filter(F.col("vec_id") == query_vec_id).collect()
    if not qrow:
        raise ValueError(f"query vector {query_vec_id} not found")
    qv = np.array(qrow[0]["embedding"], dtype=np.float64)
    qbc = spark.sparkContext.broadcast(qv)
    qid = int(query_vec_id)
    per_shard = max(int(k), 1)

    def kernel(key: tuple, vpdf: pd.DataFrame,
               gpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "vec_id": pd.Series(dtype=np.int64),
            "cos": pd.Series(dtype=np.float64),
        })
        if vpdf.empty:
            return empty
        vpdf = vpdf.sort_values("vec_id")
        ids = vpdf["vec_id"].to_numpy(np.int64)
        x = np.array(list(vpdf["emb"]), dtype=np.float64)
        idx_of = {int(v): j for j, v in enumerate(ids)}
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        xn = x / norms
        qn_norm = np.linalg.norm(qbc.value)
        qn = qbc.value / (qn_norm if qn_norm else 1.0)
        # reconstruct this segment's adjacency
        adj: dict[int, dict[int, list[int]]] = {}
        lvl_of: dict[int, int] = {}
        for lev, v, nbrs in zip(gpdf["level"], gpdf["vec_id"], gpdf["neighbors"]):
            j = idx_of[int(v)]
            adj.setdefault(int(lev), {})[j] = [idx_of[int(u)] for u in nbrs]
            lvl_of[j] = max(lvl_of.get(j, 0), int(lev))
        if not lvl_of:
            return empty
        top = max(lvl_of.values())
        entry = min(j for j, l in lvl_of.items() if l == top)
        eps = [entry]
        for lev in range(top, 0, -1):
            eps, _ = _search_layer(qn, eps, 1, adj.get(lev, {}), xn)
        beam, _ = _search_layer(
            qn, eps, min(int(ef_search), len(ids)), adj.get(0, {}), xn
        )
        cand = [j for j in beam if int(ids[j]) != qid]
        if not cand:
            return empty
        cos = _fold_cos(x[cand], qbc.value)
        out = pd.DataFrame({
            "vec_id": ids[cand].astype(np.int64),
            "cos": cos,
        }).dropna(subset=["cos"])
        out = out.sort_values(
            ["cos", "vec_id"], ascending=[False, True]
        ).head(per_shard)
        return out

    scored = (
        vecs.groupBy("shard")
        .cogroup(graph.groupBy("shard"))
        .applyInPandas(kernel, schema="vec_id long, cos double")
    )
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(int(k))
