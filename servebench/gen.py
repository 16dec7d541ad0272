"""Deterministic inputs for the serving benchmark, and the oracles that
check the program's outputs against them.

The source tables have the shape of the repository's sf0.1 test tables
(same row counts, key ranges and schemas): ``lineitem`` (600,000 rows),
``documents`` (5,000) and ``embeddings`` (2,000 x 64). They are
functions of the constants below alone (the cached, seed-independent
part); workloads.py draws each run's ops from its seed. The map layer
is not built here: the program derives it from ``lineitem`` with
``sources.features.features_df`` and writes it with
``table_ops.write_feature_table`` (workloads.py), and ``LayerModel``
reads the oracle back from the parquet the program wrote.

Everything here is numpy/pyarrow only: no Spark, no tank_spark.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HASH_LEVEL = 13
LAYER_NAME = "io.marauder.tank"

# sf0.1 shapes: l_orderkey uniform in [0, 150000) and l_linenumber in
# 1..7, drawn independently, so about a quarter of the derived feature
# keys (8 * l_orderkey + l_linenumber) repeat, as in the test tables
LINEITEM_N = 600_000
ORDERS_N = 150_000
CORPUS_N = 5_000            # documents
VECTORS_N = 2_000           # embeddings
WORDS_PER_DOC = 54          # the test documents' mean length in words
VOCAB = 50_000              # wide, so no two generated documents collide
DIM = 64
BATCH_ID_BASE = 1 << 40     # crawl-batch ids never collide with base ids


def write_sources(out: str) -> None:
    """Write lineitem.parquet, documents.parquet and embeddings.parquet
    (one row group each, like the test tables) into ``out``."""
    os.makedirs(out)
    rng = np.random.default_rng(20200330)
    day0 = np.datetime64("1995-01-02", "D")
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, ORDERS_N, LINEITEM_N),
        "l_linenumber": rng.integers(1, 8, LINEITEM_N).astype(np.int32),
        "l_quantity": rng.integers(1, 51, LINEITEM_N).astype(np.float64),
        "l_shipdate": pa.array((day0 + rng.integers(0, 2498, LINEITEM_N))
                               .astype("datetime64[us]")),
    }), os.path.join(out, "lineitem.parquet"))
    texts, vecs = base_corpus()
    pq.write_table(pa.table({
        "doc_id": np.arange(CORPUS_N, dtype=np.int64), "text": texts,
        "n_chars": np.array([len(t) for t in texts], np.int64),
    }), os.path.join(out, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": np.arange(VECTORS_N, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }), os.path.join(out, "embeddings.parquet"))


# ------------------------------------------------------------- tiles


def tile_bbox(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) in degrees."""
    n = 1 << z

    def lat(t: float) -> float:
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * t / n))))

    return x / n * 360.0 - 180.0, lat(y + 1), (x + 1) / n * 360.0 - 180.0, lat(y)


def anchor_in(tx: int, ty: int, fx: float, fy: float) -> tuple[float, float]:
    """(lon, lat) at fractional position (fx, fy) inside zoom-13 tile
    (tx, ty)."""
    n = 1 << HASH_LEVEL
    lon = (tx + fx) / n * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * (ty + fy) / n))))
    return lon, lat


# ------------------------------------------------------------ layer oracle


class LayerModel:
    """The benchmark's model of the layer: the (key, tile_x, tile_y) of
    every row of the base layer the program wrote, read back with
    pyarrow, plus this run's writes. Keys can repeat (as in the source
    table); updates and deletes only target keys that occur once.
    Features ingested before their keys are known carry negative
    placeholder keys until a read reveals them (``learn``)."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        t = pq.read_table(table_dir, columns=["key", "tile_x", "tile_y"])
        self.key = t["key"].to_numpy()
        self.tx = t["tile_x"].to_numpy()
        self.ty = t["tile_y"].to_numpy()
        keys, n = np.unique(self.key, return_counts=True)
        self.unique = set(keys[n == 1].tolist())
        tiles, n = np.unique(self.tx.astype(np.int64) << 32 | self.ty, return_counts=True)
        self.count = {(int(t >> 32), int(t & 0xFFFFFFFF)): int(c)
                      for t, c in zip(tiles.tolist(), n.tolist())}
        self.deleted: set[int] = set()
        self.scores: dict[int, float] = {}
        self.added: dict[tuple[int, int], list[int]] = {}
        self._rows = None

    def tile_of(self, key: int) -> tuple[int, int]:
        i = int(np.flatnonzero(self.key == key)[0])
        return int(self.tx[i]), int(self.ty[i])

    def base_keys(self, z: int, x: int, y: int) -> np.ndarray:
        s = HASH_LEVEL - z
        return self.key[((self.tx >> s) == x) & ((self.ty >> s) == y)]

    def keys_in(self, z: int, x: int, y: int) -> Counter:
        """Key -> copies that the MVT of tile (z, x, y), z <= 13, must
        hold."""
        assert z <= HASH_LEVEL
        s = HASH_LEVEL - z
        out = Counter(k for k in self.base_keys(z, x, y).tolist()
                      if k not in self.deleted)
        for (tx, ty), ks in self.added.items():
            if tx >> s == x and ty >> s == y:
                out.update(ks)
        return out

    def update(self, key: int, score: float) -> None:
        self.scores[key] = score

    def remove(self, key: int) -> None:
        self.deleted.add(key)
        t = self.tile_of(key)
        self.count[t] -= 1

    def add(self, tile: tuple[int, int], key: int) -> None:
        self.added.setdefault(tile, []).append(key)
        self.count[tile] = self.count.get(tile, 0) + 1

    def learn(self, tile: tuple[int, int], got: Counter) -> None:
        """Swap the tile's placeholder keys for the unknown ids a
        correct read of it returned."""
        ks = self.added.get(tile, [])
        if not any(k < 0 for k in ks):
            return
        known = Counter({k: v for k, v in self.keys_in(HASH_LEVEL, *tile).items() if k >= 0})
        fresh = iter(sorted((got - known).elements()))
        self.added[tile] = [next(fresh) if k < 0 else k for k in ks]

    def heatmap_cells(self, z: int, x: int, y: int) -> dict[tuple[int, int], int]:
        """(cell_i, cell_j) -> count for every non-empty heatmap cell: an
        n x n degree-space grid (n=24 for z<=9 else 16), each cell's
        midpoint mapped to its zoom-13 tile, cell_j=0 at the south."""
        n = 24 if 1 <= z <= 9 else 16
        lon0, lat0, lon1, lat1 = tile_bbox(z, x, y)
        xd, yd = (lon1 - lon0) / n, (lat1 - lat0) / n
        z13 = 1 << HASH_LEVEL
        out = {}
        for i in range(n):
            lon = lon0 + (i + 0.5) * xd
            tx = min(max(int((lon + 180.0) / 360.0 * z13), 0), z13 - 1)
            for j in range(n):
                lat = lat0 + (j + 0.5) * yd
                r = math.radians(lat)
                ty = int((1.0 - math.asinh(math.tan(r)) / math.pi) / 2.0 * z13)
                c = self.count.get((tx, min(max(ty, 0), z13 - 1)), 0)
                if c:
                    out[(i, j)] = c
        return out

    def kernel_input(self, z: int, x: int, y: int):
        """The base layer's rows of tile (z, x, y), z <= 13, in the
        shape Tank.tile_mvt hands make_tile_kernel, as a pandas frame
        (for the no-Spark kernel replay)."""
        if self._rows is None:
            self._rows = pq.read_table(self.table_dir, columns=[
                "key", "geometry", "kind", "score", "cnt", "tag"])
        s = HASH_LEVEL - z
        mask = ((self.tx >> s) == x) & ((self.ty >> s) == y)
        pdf = self._rows.filter(pa.array(mask)).to_pandas()
        pdf.insert(0, "y", np.int32(y))
        pdf.insert(0, "x", np.int32(x))
        pdf.insert(0, "z", np.int32(z))
        return pdf


# ---------------------------------------------------------------- corpus


def random_words(rng: np.random.Generator, n: int) -> list[str]:
    return [f"w{i}" for i in rng.integers(0, VOCAB, n).tolist()]


def base_corpus() -> tuple[list[str], np.ndarray]:
    """(texts, vectors) of the base corpus; text i has doc_id i and
    vector i has vec_id i."""
    rng = np.random.default_rng(20200331)
    texts = [" ".join(random_words(rng, WORDS_PER_DOC)) for _ in range(CORPUS_N)]
    return texts, unit_vectors(rng, VECTORS_N)


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def top_lists(vecs: np.ndarray, centroids: np.ndarray, k: int) -> np.ndarray:
    """The ``k`` nearest centroid ids of each vector (squared-L2 argmin
    order, ties to the lower id) -- the routing rule of a frozen flat
    quantizer, computed in float64."""
    v = vecs.astype(np.float64)
    score = -2.0 * v @ centroids.T + (centroids * centroids).sum(axis=1)
    return np.argsort(score, axis=1, kind="stable")[:, :k]
