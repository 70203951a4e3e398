"""Seeded inputs and references the engine did not compute.

Each ``check_*`` function takes an operation's collected output and
returns ``None`` when it matches the reference, or a one-line reason.
PageRank comes from the repository's pure-Python oracle
(``tests/oracles.py``, imported read-only), SCC from networkx, and the
corpus and orders edge sets from their generators.
"""

from __future__ import annotations

import importlib.util
import os
import re

import networkx as nx
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# TPC-H orders shape at scale factor 0.005: 750 customers, 7500 orders.
# At 1500/15000 two seeds in ten gave SCC 160 jobs instead of ~210, a
# spread across seeds wider than the run-to-run noise; at this size
# nine in twelve gave 208-210.
ORDERS_CUSTOMERS = 750
ORDERS_ROWS = 7500

_PATH_IDX = re.compile(r"mod_(\d+)\.[A-Za-z]+$")


def load_oracles():
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracles", os.path.join(ROOT, "tests", "oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ----------------------------------------------------------- corpus
def corpus_reference(vertices, n_files: int, seed: int):
    """(vertex ids, edge list in engine ids) for a generated corpus.

    The edges are the generator's closed form; only the names come from
    the engine, through the ``id`` and ``path`` columns of its vertex
    table (a pandas frame)."""
    from incubator_hugegraph_computer_spark.sources.repo_files import (
        expected_degrees_and_targets,
    )

    id_of_idx = {}
    for vid, path in zip(vertices["id"].tolist(), vertices["path"].tolist()):
        id_of_idx[int(_PATH_IDX.search(path).group(1))] = vid
    _, src, dst = expected_degrees_and_targets(np.arange(n_files), n_files, seed)
    pairs = {(int(s), int(d)) for s, d in zip(src, dst) if s != d}
    edges = sorted((id_of_idx[s], id_of_idx[d]) for s, d in pairs)
    return sorted(id_of_idx.values()), edges


def check_ingest(n_files: int, vertex_ids, ref_edges, got_edges) -> str | None:
    """``got_edges``: the engine's edge table as a pandas frame."""
    if len(vertex_ids) != n_files:
        return f"{len(vertex_ids)} vertices for {n_files} files"
    got = sorted(zip(got_edges["src"].tolist(), got_edges["dst"].tolist()))
    if got != ref_edges:
        return f"edge set differs: {len(got)} edges vs {len(ref_edges)} expected"
    return None


def pagerank_reference(vertex_ids, edges) -> np.ndarray:
    """The oracle's ranks, in the order of ``vertex_ids``."""
    index = {v: i for i, v in enumerate(vertex_ids)}
    return np.asarray(
        load_oracles().pagerank_hugegraph_oracle(len(vertex_ids), edges, index)
    )


def check_pagerank(want: np.ndarray, vertex_ids, rows) -> str | None:
    if len(rows) != len(vertex_ids):
        return f"{len(rows)} ranks for {len(vertex_ids)} vertices"
    index = {v: i for i, v in enumerate(vertex_ids)}
    got = np.zeros(len(vertex_ids))
    for r in rows:
        got[index[int(r["id"])]] = r["rank"]
    err = float(np.max(np.abs(got - want)))
    return None if err <= 1e-9 else f"max |rank - oracle| = {err:.3g}"


def _check_labels(want: dict, rows, col: str) -> str | None:
    got = {int(r["id"]): int(r[col]) for r in rows}
    if got == want:
        return None
    bad = sum(1 for v in want if got.get(v) != want[v])
    return f"{bad} of {len(want)} {col} values differ"


# ----------------------------------------------------------- orders
def orders_table(
    seed: int, customers: int = ORDERS_CUSTOMERS, rows: int = ORDERS_ROWS
) -> dict[str, np.ndarray]:
    """Seeded orders-shaped table: TPC-H's key rules (customers whose key
    is a multiple of 3 place no orders; order keys use 8 of every 32)."""
    rng = np.random.default_rng(seed)
    eligible = np.arange(1, customers + 1)
    eligible = eligible[eligible % 3 != 0]
    i = np.arange(rows)
    return {
        "o_orderkey": (i // 8) * 32 + i % 8 + 1,
        "o_custkey": rng.choice(eligible, rows),
    }


def orders_reference(orders: dict[str, np.ndarray]):
    """(vertex ids, edge list) by the ``sources/tpch_graph`` rule:
    DISTINCT (o_custkey, o_orderkey % 1024) with src != dst."""
    from incubator_hugegraph_computer_spark.sources.tpch_graph import DST_MOD

    pairs = {
        (int(c), int(o % DST_MOD))
        for c, o in zip(orders["o_custkey"], orders["o_orderkey"])
        if c != o % DST_MOD
    }
    edges = sorted(pairs)
    return sorted({v for e in edges for v in e}), edges


def check_graph(vertex_ids, ref_edges, got_vertices, got_edges) -> str | None:
    if sorted(int(r["id"]) for r in got_vertices) != vertex_ids:
        return "vertex set differs"
    if sorted((int(r["src"]), int(r["dst"])) for r in got_edges) != ref_edges:
        return "edge set differs"
    return None


def check_scc(vertex_ids, edges, rows) -> str | None:
    g = nx.DiGraph()
    g.add_nodes_from(vertex_ids)
    g.add_edges_from(edges)
    want = {}
    for comp in nx.strongly_connected_components(g):
        rep = min(comp)
        want.update(dict.fromkeys(comp, rep))
    return _check_labels(want, rows, "scc")
