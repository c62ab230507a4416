"""Seeded inputs and numpy references for the GAS benchmark."""

from __future__ import annotations

import numpy as np
import pandas as pd


def tpch_lineitem_keys(seed: int, rows: int = 600_000, orders: int = 150_000,
                       parts: int = 20_000) -> pd.DataFrame:
    """(l_orderkey, l_partkey) shaped like the sf0.1 lineitem table: both
    keys uniform over 150k orders and 20k parts. ``__spark_entry__._edges``
    takes both keys mod 4000, so every vertex of the derived link graph has
    in- and out-edges and PageRank keeps all of them changing for many
    supersteps (no vertex is a sink, so no rank mass leaks)."""
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, orders, size=rows, dtype=np.int64),
        "l_partkey": rng.integers(0, parts, size=rows, dtype=np.int64),
    })


def close(got: dict, want: dict, tol: float = 1e-6) -> bool:
    """Same ids, and every value within ``tol`` of ``want``'s."""
    ids = sorted(want)
    return got.keys() == want.keys() and bool(np.allclose(
        [got[i] for i in ids], [want[i] for i in ids], rtol=tol, atol=tol))


def min_label(src: np.ndarray, dst: np.ndarray, steps: int):
    """(ids, labels) after ``steps`` rounds of synchronous min-label
    propagation over both edge directions."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    lab = ids.copy()
    for _ in range(steps):
        new = lab.copy()
        np.minimum.at(new, d, lab[s])
        np.minimum.at(new, s, lab[d])
        lab = new
    return ids, lab


def ring_chord_edges(n: int, links: int) -> np.ndarray:
    """Sorted unique (src, dst) ordinal pairs of ``synthesize_repo_table``'s
    default link structure: v -> (v + k*k) % n for k in 1..links,
    self-loops dropped."""
    v = np.arange(n, dtype=np.int64)
    pairs = np.concatenate(
        [np.stack([v, (v + k * k) % n], axis=1) for k in range(1, links + 1)]
    )
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    return np.unique(pairs, axis=0)


def sorted_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    return np.unique(np.stack([src, dst], axis=1).astype(np.int64), axis=0)
