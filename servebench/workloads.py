"""The two workloads: their op lists (pure functions of seed and block
count), how each op calls tank_spark, how its output is checked, and
the per-layer figures a traced run reports for them."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np

from gen import (
    BATCH_ID_BASE, LAYER_NAME, VECTORS_N, WORDS_PER_DOC, LayerModel, anchor_in,
    base_corpus, random_words, top_lists, unit_vectors, write_sources,
)

COMPACT_EVERY = 4
EPOCHS_PER_BLOCK = 4        # per family: epoch 3 compacts, 1, 2 and 4 do not
WRITES = ("update", "delete", "ingest")


def file_stats(path: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file under ``path``."""
    out = {}
    for r, _d, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(r, f))
            out[os.path.join(r, f)] = (st.st_size, st.st_mtime_ns)
    return out


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Op:
    """One timed request: ``kind``, its arguments and, once run, its
    latency, check result and observations."""

    def __init__(self, kind: str, **args):
        self.kind, self.args = kind, args
        self.ms = self.t0 = self.t1 = 0.0
        self.ok = False
        self.outcome = ""
        self.facts: dict = {}       # observations for the per-layer figures

    def describe(self) -> str:
        return json.dumps([self.kind, self.args], sort_keys=True)


class Workload:
    """Shared shape: ``warmup`` and ``ops`` lists, ``prepare`` (per-run
    state in ``work``; cache entries built on first use), ``before``
    (untimed delivery of the op's input), ``execute`` (the timed call),
    ``check`` (-> ok, deterministic outcome string), ``samples`` (the
    latencies behind each end-to-end metric)."""

    def __init__(self) -> None:
        self.build_s = 0.0

    def cached(self, cache: str, name: str, build) -> str:
        """Path of cache entry ``name``, built once by ``build(tmp)``
        into a temporary path that is then renamed into place."""
        path = os.path.join(cache, name)
        if not os.path.exists(path):
            tmp = f"{path}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            t0 = time.perf_counter()
            build(tmp)
            try:
                os.rename(tmp, path)
            except OSError:  # a concurrent run built it first
                shutil.rmtree(tmp, ignore_errors=True)
            self.build_s += time.perf_counter() - t0
        return path

    def before(self, op: Op) -> None:
        pass


# ------------------------------------------------------------------ map_edit


class MapEdit(Workload):
    """Tile, heatmap and write requests against a fresh copy of the
    layer with the tile cache on. Each block has two hot tiles from
    non-adjacent zoom-10 regions: A (zoom 13, 8 of the 13 reads) and
    B (zoom 12). Three writes (update, delete, ingest) change features
    of the hot tiles; the next read of each tile must miss the cache
    and show the writes. Five heatmaps (A, B, A, B, A), which no cache
    serves, are spread over the block. The first block's A is read in
    the warm-up, so a block has 13 reads of which 3 miss (4 in later
    blocks): the read median sits among the hits and the tail among
    the misses.
    Writes are not warmed up (a warm-up write would add ~5 s to every
    run): the first write, the update, carries the cold start of the
    copy-on-write path. The op list is drawn in ``prepare``, once the
    layer is known, from the seed alone."""

    def __init__(self, seed: int, blocks: int):
        super().__init__()
        self.seed, self.blocks = seed, blocks
        self.warmup: list[Op] = []
        self.ops: list[Op] = []

    def _plan(self) -> None:
        rng = np.random.default_rng([self.seed, 7])
        m = self.model
        # the layer covers 8x8 zoom-10 tiles; regions two apart never
        # share an edge
        z10 = sorted({(x >> 3, y >> 3) for x, y in m.count})
        x0, y0 = z10[0]
        regions = [r for r in z10 if (r[0] - x0) % 2 == 0 and (r[1] - y0) % 2 == 0]
        picks = rng.permutation(len(regions))[: 2 * self.blocks].tolist()
        used: set[int] = set()

        def candidates(z, x, y):
            return sorted(k for k in m.base_keys(z, x, y).tolist()
                          if k in m.unique and k not in used)

        def z13_in(r, zoom_shift=3):
            """A zoom-(10 + zoom_shift) tile of region r with keys that
            occur once in the layer (the write targets)."""
            span = 1 << zoom_shift
            tiles = [((r[0] << zoom_shift) + dx, (r[1] << zoom_shift) + dy)
                     for dx in range(span) for dy in range(span)]
            tiles = [t for t in tiles if candidates(10 + zoom_shift, *t)]
            return tiles[int(rng.integers(len(tiles)))]

        def pick_key(z, t):
            keys = candidates(z, *t)
            k = keys[int(rng.integers(len(keys)))]
            used.add(k)
            return k

        def score():
            return float(rng.integers(1, 8000)) / 8

        for b in range(self.blocks):
            a = z13_in(regions[picks[2 * b]])
            bt = z13_in(regions[picks[1 + 2 * b]], zoom_shift=2)
            ra, rb = dict(z=13, x=a[0], y=a[1]), dict(z=12, x=bt[0], y=bt[1])
            rows, accepted = self._ingest_rows(b, a, rng)

            def read(r, hit, **kw):
                return Op("tile", **r, hit=hit, **kw)

            if b == 0:
                # the cold first tile, a cache hit and a heatmap, on A
                self.warmup = [Op("tile", **ra, hit=False),
                               Op("tile", **ra, hit=True),
                               Op("heatmap", **ra)]
            self.ops += [
                read(ra, b == 0), read(rb, False), read(ra, True),
                Op("heatmap", **ra),
                read(rb, True), Op("heatmap", **rb), read(ra, True),
                Op("update", key=pick_key(13, a), score=score()),
                Op("delete", key=pick_key(12, bt)),
                Op("ingest", tile=list(a), rows=rows, accepted=accepted,
                   rejected=len(rows) - accepted),
                read(ra, False, after="update"), read(rb, False),
                Op("heatmap", **ra),
                read(ra, True), read(rb, True),
                Op("heatmap", **rb),
                read(ra, True), read(ra, True), read(rb, True),
                Op("heatmap", **ra), read(ra, True),
            ]

    def _ingest_rows(self, block, tile, rng):
        """Ten NDJSON features at random points well inside zoom-13
        ``tile``; the last two carry an int attribute that cannot be
        coerced, so ingest must dead-letter them. Returns the rows and
        how many must be accepted."""
        rows = []
        for i in range(10):
            lon, lat = anchor_in(tile[0], tile[1], float(rng.uniform(0.2, 0.8)),
                                 float(rng.uniform(0.2, 0.8)))
            rows.append(json.dumps({
                "id": f"sb-{self.seed}-{block}-{i}", "lon": lon, "lat": lat,
                "kind": ("road", "building", "poi", "water")[i % 4],
                "score": str(float(rng.integers(800)) / 8),
                "cnt": "n/a" if i >= 8 else str(i), "tag": f"tag{i}"}))
        return rows, 8

    def prepare(self, spark, cache: str, work: str) -> None:
        from tank_spark.api import Tank
        from tank_spark.operators.table_ops import write_feature_table
        from tank_spark.sources.features import features_df

        src = self.cached(cache, "sources", write_sources)
        base = self.cached(cache, "layer", lambda tmp: write_feature_table(
            features_df(spark, src, materialized=False), tmp))
        self.table = os.path.join(work, "layer")
        shutil.copytree(base, self.table)
        self.model = LayerModel(base)
        self._plan()
        self.tank = Tank(spark, self.table, cache_dir=os.path.join(work, "tile-cache"))
        self.placeholders = 0
        self._observe_cache()

    def _observe_cache(self) -> None:
        """Record, per op, which cache probes hit and how many cover
        entries invalidation computed (a list append per call)."""
        from tank_spark.operators.tile_cache import TileCache

        get, cover = TileCache.get, TileCache.invalidate_cover
        self.hits: list[bool] = []
        self.covers: list[int] = []

        def observed_get(cache, *a, **kw):
            blob = get(cache, *a, **kw)
            self.hits.append(blob is not None)
            return blob

        def observed_cover(cache, tiles, roots):
            self.covers.append(len(tiles) + len(roots))
            return cover(cache, tiles, roots)

        TileCache.get, TileCache.invalidate_cover = observed_get, observed_cover

    def before(self, op: Op) -> None:
        self.hits.clear()
        self.covers.clear()
        if op.kind in WRITES:
            self.files = file_stats(self.table)

    def samples(self) -> dict[str, list[float]]:
        reads = [o.ms for o in self.ops if o.kind == "tile"]
        return {"main": reads, "main_tail": reads,
                "side": [o.ms for o in self.ops if o.kind == "heatmap"],
                "write": [o.ms for o in self.ops if o.kind in WRITES]}

    def execute(self, op: Op):
        t, a = self.tank, op.args
        if op.kind == "tile":
            return t.tile_mvt(a["z"], a["x"], a["y"])
        if op.kind == "heatmap":
            return t.heatmap(a["z"], a["x"], a["y"]).collect()
        if op.kind == "update":
            return t.update_feature(f"feat-{a['key']}", {"score": a["score"]})
        if op.kind == "delete":
            return t.delete_feature(f"feat-{a['key']}")
        return t.ingest_features(a["rows"])

    def check(self, op: Op, out) -> tuple[bool, str]:
        from tank_spark.geom import mvt

        a, m = op.args, self.model
        if op.kind == "tile":
            hit = self.hits[0] if self.hits else None
            feats = mvt.decode(out).get(LAYER_NAME, {"features": []})["features"]
            got = Counter(f["id"] for f in feats)
            want = m.keys_in(a["z"], a["x"], a["y"])
            known = Counter({k: n for k, n in want.items() if k >= 0})
            ok = (hit == a["hit"] and got.total() == want.total()
                  and not known - got)
            if ok and a["z"] == 13:
                m.learn((a["x"], a["y"]), got)
            if ok and a.get("after") == "update":
                k = self.updated
                ok = [f["props"].get("score") for f in feats if f["id"] == k] == [m.scores[k]]
            op.facts["blob_kb"] = len(out) / 1024.0
            return ok, f"{'hit' if hit else 'miss'}:{hashlib.md5(out).hexdigest()}"
        if op.kind == "heatmap":
            cells = {(int(r[0]), int(r[1])): int(r[2]) for r in out}
            ok = cells == m.heatmap_cells(a["z"], a["x"], a["y"])
            return ok, hashlib.md5(json.dumps(sorted(cells.items())).encode()).hexdigest()
        after = file_stats(self.table)
        op.facts["bytes_written"] = sum(
            st[0] for p, st in after.items() if self.files.get(p) != st)
        op.facts["cover"] = sum(self.covers)
        # ingest stamps each row with its ingest time, so table bytes
        # are a deterministic outcome only until the first ingest
        stamped = op.kind == "ingest" or self.placeholders
        size = "-" if stamped else sum(st[0] for st in after.values())
        if op.kind == "update":
            m.update(a["key"], a["score"])
            self.updated = a["key"]
            ok = out == 1
        elif op.kind == "delete":
            m.remove(a["key"])
            ok = out == 1
        else:
            for _ in range(a["accepted"]):
                self.placeholders += 1
                m.add(tuple(a["tile"]), -self.placeholders)
            ok = out == {"accepted": a["accepted"], "rejected": a["rejected"]}
        return ok, f"{json.dumps(out, sort_keys=True)}:{size}"

    # ---------------------------------------------------------------- trace

    def patch_layers(self, tracer) -> None:
        import tank_spark.api as api
        from tank_spark.operators import heatmap, table_ops, tile_cache

        for m in ("tile_mvt", "heatmap", "update_feature", "delete_feature",
                  "ingest_features"):
            tracer.patch(api.Tank, m, f"api.{m}")
        for f in ("read_feature_table", "update_by_uid", "delete_by_uid",
                  "delete_where"):
            tracer.patch(table_ops, f, f"table_ops.{f}")
        for m in ("get", "put", "invalidate_bboxes", "invalidate_cover"):
            tracer.patch(tile_cache.TileCache, m, f"tile_cache.{m}")
        tracer.patch(heatmap, "cell_grid", "heatmap.cell_grid")

    def layer_metrics(self, tracer, ops: list[Op]) -> dict[str, float]:
        from tank_spark.operators.mvt_tiles import make_tile_kernel

        ids = {o.facts["id"] for o in ops}

        def d(name):
            return tracer.durations(name, ids)

        serve = [o for o in ops if o.kind in ("tile", "heatmap")]
        tiles = [o for o in ops if o.kind == "tile"]
        writes = [o for o in ops if o.kind in WRITES]
        serve_ids = {o.facts["id"] for o in serve}
        reads = [(s, e) for n, s, e, _p, op in tracer.spans
                 if n == "table_ops.read_feature_table" and op in serve_ids]
        kern = make_tile_kernel(LAYER_NAME)

        def replay(z, x, y):
            pdf = self.model.kernel_input(z, x, y)
            t0 = time.perf_counter()
            blob = kern(pdf)["mvt"].iloc[0]
            return (time.perf_counter() - t0) * 1000.0, len(blob) / 1024.0

        high = [replay(o.args["z"], o.args["x"], o.args["y"])[0] for o in tiles]
        x10, y10 = min((x >> 3, y >> 3) for x, y in self.model.count)
        low = [replay(10, x10, y10), replay(9, x10 >> 1, y10 >> 1)]
        ingests = [o for o in ops if o.kind == "ingest"]
        acc = sum(o.args["accepted"] for o in ingests)
        base = acc + sum(o.args["rejected"] for o in ingests)
        return {
            "table_ops.read_calls_per_op": len(reads) / len(serve),
            "table_ops.read_ms_per_op": sum((e - s) * 1000.0 for s, e in reads) / len(serve),
            "table_ops.rewrite_ms": mean(d("table_ops.update_by_uid")
                                         + d("table_ops.delete_by_uid")),
            "table_ops.bytes_written_per_write": mean(
                o.facts.get("bytes_written", 0) for o in writes),
            "table_ops.layer_files": float(sum(
                f.endswith(".parquet") for _r, _d, fs in os.walk(self.table) for f in fs)),
            "mvt_tiles.kernel_ms_high_zoom": statistics.median(high),
            "mvt_tiles.kernel_ms_low_zoom": statistics.median(t for t, _kb in low),
            "mvt_tiles.blob_kb": mean(o.facts.get("blob_kb", 0.0) for o in tiles),
            "mvt_tiles.blob_kb_low_zoom": mean(kb for _t, kb in low),
            "heatmap.cell_grid_ms": mean(d("heatmap.cell_grid")),
            "tile_cache.get_ms": mean(d("tile_cache.get")),
            "tile_cache.put_ms": mean(d("tile_cache.put")),
            "tile_cache.invalidate_ms": mean(d("tile_cache.invalidate_bboxes")),
            "tile_cache.hit_ratio": mean(o.outcome.startswith("hit") for o in tiles),
            "tile_cache.hit_base": float(len(tiles)),
            "invalidation.cover_keys_per_write": mean(o.facts.get("cover", 0) for o in writes),
            "ingest.accepted_ratio": acc / base,
            "ingest.accepted_base": float(base),
        }


# -------------------------------------------------------------- corpus_crawl


class CorpusCrawl(Workload):
    """Crawl batches through the incremental text and semantic dedup
    streams. Ops alternate text / semantic; every fourth epoch of each
    family also compacts its index. A batch holds verbatim re-crawls of
    base documents and of this run's earlier new documents, near-dup
    edits of base documents, new documents, and in-batch copies of new
    documents, so every disposition count is known in advance."""

    N_RECRAWL, N_RECRAWL_NEW, N_NEAR, N_NEW, N_COPY = 8, 4, 8, 16, 4

    def __init__(self, seed: int, blocks: int):
        super().__init__()
        from tank_spark.llm.ivf_frozen import FROZEN_CENTROIDS

        self.cent = np.array([c for _i, c in FROZEN_CENTROIDS], np.float64)
        rng = np.random.default_rng([seed, 11])
        self.texts, self.vecs = base_corpus()
        # re-crawls and near-dups of base item i carry text i and vector i
        order = rng.permutation(VECTORS_N).tolist()
        pool: list[tuple[str, np.ndarray]] = []
        self.batches = [self._batch(e, rng, order, pool)
                        for e in range(1 + EPOCHS_PER_BLOCK * blocks)]
        self.warmup = [Op("text", epoch=0), Op("sem", epoch=0)]
        # the streams compact after epochs with (epoch + 1) % COMPACT_EVERY == 0
        self.ops = [Op(fam, epoch=e, compacts=(e + 1) % COMPACT_EVERY == 0)
                    for e in range(1, 1 + EPOCHS_PER_BLOCK * blocks)
                    for fam in ("text", "sem")]

    def _batch(self, e, rng, order, pool):
        texts, vecs = [], []
        for _ in range(self.N_RECRAWL):
            i = order.pop()
            texts.append(self.texts[i])
            vecs.append(self.vecs[i])
        for j in rng.permutation(len(pool))[: self.N_RECRAWL_NEW].tolist():
            texts.append(pool[j][0])
            vecs.append(pool[j][1])
        n_exact = len(texts)
        for _ in range(self.N_NEAR):
            i = order.pop()
            texts.append(self.texts[i].rsplit(" ", 1)[0] + f" e{e}x")
            vecs.append(self._near(self.vecs[i], rng))
        fresh = [(" ".join(random_words(rng, WORDS_PER_DOC)), unit_vectors(rng, 1)[0])
                 for _ in range(self.N_NEW)]
        copies = [fresh[j] for j in rng.permutation(self.N_NEW)[: self.N_COPY].tolist()]
        for t, v in fresh + copies:
            texts.append(t)
            vecs.append(v)
        pool.extend(fresh)
        return {
            "ids": np.arange(len(texts), dtype=np.int64) + BATCH_ID_BASE + e * 1000,
            "texts": texts, "vecs": vecs,
            "text": {"exact_dup_of_index": n_exact, "near_dup_of_index": self.N_NEAR,
                     "new_unique": self.N_NEW, "dup_in_batch": self.N_COPY},
            "sem": {"semantic_dup_of_index": n_exact + self.N_NEAR,
                    "new_unique": self.N_NEW, "dup_in_batch": self.N_COPY},
        }

    def _near(self, v, rng):
        """``v`` with one element bumped by 2^-4 (cosine ~0.998), at an
        element for which the copy still routes to v's own list, so its
        disposition is certain rather than likely."""
        own = top_lists(v[None, :], self.cent, 1)[0, 0]
        for j in rng.permutation(len(v)).tolist():
            w = v.copy()
            w[j] += 0.0625
            if own in top_lists(w[None, :], self.cent, 2)[0]:
                return w
        raise RuntimeError("no near-dup of this vector routes to its list")

    def prepare(self, spark, cache: str, work: str) -> None:
        from pyspark.sql import functions as F

        from tank_spark.streaming import dedup_stream as ds
        from tank_spark.streaming import semdedup_stream as ss

        src = self.cached(cache, "sources", write_sources)

        def table(name, *cols):
            return spark.read.parquet(os.path.join(src, f"{name}.parquet")).select(*cols)

        tidx = self.cached(cache, "text-index", lambda tmp: ds.write_dedup_index(
            table("documents", F.col("doc_id").alias("cid"), "text"), tmp))
        sidx = self.cached(cache, "sem-index", lambda tmp: ss.write_semdedup_index(
            spark, table("embeddings", F.col("vec_id").alias("vid"), "embedding"), tmp))
        self.spark = spark
        self.dirs = {}
        for fam, idx in (("text", tidx), ("sem", sidx)):
            d = {k: os.path.join(work, f"{fam}-{k}") for k in ("index", "drop", "out", "ck")}
            shutil.copytree(idx, d["index"])
            os.makedirs(d["drop"])
            d["seen"] = set()
            self.dirs[fam] = d

    def samples(self) -> dict[str, list[float]]:
        def ms(kind, compacts):
            return [o.ms for o in self.ops if o.kind == kind
                    and o.args["compacts"] in compacts]

        return {"main": ms("text", (False,)), "main_tail": ms("text", (False, True)),
                "side": ms("sem", (False,)),
                "write": ms("text", (True,)) + ms("sem", (True,))}

    def before(self, op: Op) -> None:
        """Drop the op's batch as the next file of its family's drop dir:
        the crawler delivered it before the request."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        bt, d = self.batches[op.args["epoch"]], self.dirs[op.kind]
        if op.kind == "text":
            tbl = pa.table({"cid": bt["ids"], "text": bt["texts"]})
        else:
            tbl = pa.table({"vid": bt["ids"], "embedding": pa.array(
                [v.tolist() for v in bt["vecs"]], pa.list_(pa.float32()))})
        pq.write_table(tbl, os.path.join(d["drop"], f"batch-{op.args['epoch']:05d}.parquet"))
        root = os.path.join(d["index"], "fp" if op.kind == "text" else "assign")
        op.facts["epochs"] = sum(n.startswith("epoch_id=") for n in os.listdir(root))
        d["files"] = file_stats(d["index"])

    def execute(self, op: Op):
        from tank_spark.streaming import dedup_stream as ds
        from tank_spark.streaming import semdedup_stream as ss

        d, s = self.dirs[op.kind], self.spark
        if op.kind == "text":
            q = ds.start_incremental_dedup_stream(
                s, ds.docs_file_stream(s, d["drop"]), d["index"], d["out"],
                d["ck"], trigger_once=True, compact_every=COMPACT_EVERY)
        else:
            q = ss.start_incremental_semdedup_stream(
                s, ss.vector_file_stream(s, d["drop"]), d["index"], d["out"],
                d["ck"], trigger_once=True, compact_every=COMPACT_EVERY)
        q.awaitTermination()
        return q.exception()

    def check(self, op: Op, out) -> tuple[bool, str]:
        import pyarrow.parquet as pq

        d = self.dirs[op.kind]
        fresh = sorted(f for f in os.listdir(d["out"])
                       if f.endswith(".parquet") and f not in d["seen"])
        d["seen"].update(fresh)
        counts: dict[str, int] = {}
        for f in fresh:
            t = pq.read_table(os.path.join(d["out"], f), columns=["disposition", "epoch_id"])
            for disp, ep in zip(t["disposition"].to_pylist(), t["epoch_id"].to_pylist()):
                if ep == op.args["epoch"]:
                    counts[disp] = counts.get(disp, 0) + 1
        after = file_stats(d["index"])
        size = sum(st[0] for st in after.values())
        op.facts["counts"] = counts
        op.facts["written"] = sum(st[0] for p, st in after.items() if d["files"].get(p) != st)
        ok = out is None and counts == self.batches[op.args["epoch"]][op.kind]
        return ok, f"{json.dumps(counts, sort_keys=True)}:{size}"

    # ---------------------------------------------------------------- trace

    def patch_layers(self, tracer) -> None:
        from tank_spark.streaming import dedup_stream as ds
        from tank_spark.streaming import semdedup_stream as ss

        # read_*_index lists the index and opens its footers; the scan
        # itself runs inside the probe, the eager checkpoint of the
        # plan disposition_*batch builds
        for f in ("read_dedup_index", "compact_dedup_index", "_write_index_epoch"):
            tracer.patch(ds, f, "dedup_stream." + f.lstrip("_"))
        tracer.patch_plan(ds, "disposition_batch", "dedup_stream.disposition_batch",
                          "dedup_stream.probe")
        for f in ("read_semdedup_index", "compact_semdedup_index", "_write_index_epoch"):
            tracer.patch(ss, f, "semdedup_stream." + f.lstrip("_"))
        tracer.patch_plan(ss, "disposition_vector_batch",
                          "semdedup_stream.disposition_vector_batch", "semdedup_stream.probe")
        tracer.patch(ss, "scored_relation", "semdedup_inc.scored_relation")

    def layer_metrics(self, tracer, ops: list[Op]) -> dict[str, float]:
        ids = {o.facts["id"] for o in ops}

        def d(name):
            return tracer.durations(name, ids)

        out = {"semdedup_inc.scored_relation_ms": mean(d("semdedup_inc.scored_relation"))}
        for fam, layer, idx, disp in (
                ("text", "dedup_stream", "dedup_index", "disposition_batch"),
                ("sem", "semdedup_stream", "semdedup_index", "disposition_vector_batch")):
            mine = [o for o in ops if o.kind == fam]
            docs = sum(len(self.batches[o.args["epoch"]]["ids"]) for o in mine)
            new = sum(o.facts.get("counts", {}).get("new_unique", 0) for o in mine)
            out.update({
                f"{layer}.read_index_ms": mean(d(f"{layer}.read_{idx}")),
                f"{layer}.disposition_build_ms": mean(d(f"{layer}.{disp}")),
                f"{layer}.probe_ms": mean(d(f"{layer}.probe")),
                f"{layer}.compact_ms": mean(d(f"{layer}.compact_{idx}")),
                f"{layer}.index.epochs": mean(o.facts["epochs"] for o in mine),
                f"{layer}.index.bytes_written_per_doc": sum(
                    o.facts.get("written", 0) for o in mine) / docs,
                f"{layer}.crawl.new_unique_ratio": new / docs,
                f"{layer}.crawl.new_unique_base": float(docs),
            })
        return out
