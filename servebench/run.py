"""Serving benchmark for tank_spark.

    python3 servebench/run.py --workload map_edit --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. One process drives one closed-loop
client (the next request goes out when the previous one returned)
against a fresh ``local[<cores>]`` Spark session. A run does a fixed
list of ops, a pure function of (workload, seed, seconds) and never of
how fast the ops go, and checks each op's output against the
benchmark's own oracle outside the op's timed latency. The last stdout
line is one JSON object: correct, attempted, failed, metrics.
``--trace 1`` runs the same ops with spans around tank_spark calls and
Spark's event log on, and reports the per-layer metrics instead.
METRICS.md lists every metric and why each workload exists.

All files go under ``.servebench/`` in the checkout: a cache of the
base layer and base indexes, keyed on the content of ``tank_spark/``
and of this directory, and one scratch dir per run, removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".servebench")

# nominal seconds of one block of ops (on 4 cores); --seconds sets the
# number of whole blocks, at least one
BLOCK_S = {"map_edit": 25.0, "corpus_crawl": 20.0}
# blocks the inputs have room for: map_edit takes two of the layer's 16
# zoom-10 regions per block, corpus_crawl 64 of the 2,000 base items
MAX_BLOCKS = {"map_edit": 8, "corpus_crawl": 30}

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "ops_per_s": "1/s",
              "main_ms_p50": "ms", "main_ms_tail": "ms", "side_ms_p50": "ms",
              "write_ms_p50": "ms"}

OP_KINDS = ("tile", "heatmap", "update", "delete", "ingest", "text", "sem")

PER_LAYER = {
    **{f"spark.{f}_per_op.{k}": u for k in OP_KINDS
       for f, u in (("jobs", "count"), ("tasks", "count"), ("exec_ms", "ms"),
                    ("driver_ms", "ms"))},
    "table_ops.read_calls_per_op": "count", "table_ops.read_ms_per_op": "ms",
    "table_ops.rewrite_ms": "ms", "table_ops.bytes_written_per_write": "bytes",
    "table_ops.layer_files": "count",
    "mvt_tiles.kernel_ms_high_zoom": "ms", "mvt_tiles.kernel_ms_low_zoom": "ms",
    "mvt_tiles.blob_kb": "KiB", "mvt_tiles.blob_kb_low_zoom": "KiB",
    "heatmap.cell_grid_ms": "ms",
    "tile_cache.get_ms": "ms", "tile_cache.put_ms": "ms",
    "tile_cache.invalidate_ms": "ms", "tile_cache.hit_ratio": "ratio",
    "tile_cache.hit_base": "count",
    "invalidation.cover_keys_per_write": "count",
    "ingest.accepted_ratio": "ratio", "ingest.accepted_base": "count",
    **{f"{layer}.{m}": u for layer in ("dedup_stream", "semdedup_stream")
       for m, u in (("read_index_ms", "ms"), ("disposition_build_ms", "ms"),
                    ("probe_ms", "ms"), ("compact_ms", "ms"), ("index.epochs", "count"),
                    ("index.bytes_written_per_doc", "bytes"),
                    ("crawl.new_unique_ratio", "ratio"),
                    ("crawl.new_unique_base", "count"))},
    "semdedup_inc.scored_relation_ms": "ms",
    **{f"self_ms_per_op.{layer}": "ms" for layer in (
        "bench", "api", "table_ops", "tile_cache", "heatmap", "dedup_stream",
        "semdedup_stream", "semdedup_inc")},
    "host.steal_pct": "%", "host.sys_pct": "%", "host.spin_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def tail(xs: list[float]) -> float:
    """Nearest-rank p90: an actual sample, so a tail over two clusters
    (cache hits and misses) never interpolates across the gap."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


# --------------------------------------------------------------- processes


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Session:
    """A fresh Spark session; ``close`` reaps its JVM and the JVM's
    Python workers whatever state the run ended in."""

    def __init__(self, work: str, event_dir: str | None):
        from pyspark.sql import SparkSession

        ncpu = len(os.sched_getaffinity(0))
        b = (SparkSession.builder.master(f"local[{ncpu}]")
             .appName("servebench")
             .config("spark.sql.shuffle.partitions", str(ncpu))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
        if event_dir:
            os.makedirs(event_dir)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.dir", "file://" + event_dir))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        """VmHWM summed over this process, the JVM and its workers."""
        pids = [os.getpid(), self.jvm.pid] + descendants(self.jvm.pid)
        return sum(vm_hwm_mb(p) for p in pids)

    def close(self) -> None:
        from pyspark import SparkContext

        tree = descendants(self.jvm.pid)
        try:
            self.spark.stop()
        except Exception as e:  # a signal can land mid-call; reap anyway
            log(f"spark.stop failed: {e!r}")
        finally:
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
                SparkContext._gateway = None
            self.jvm.terminate()
            try:
                self.jvm.wait(timeout=20)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
            deadline = time.time() + 20
            for pid in tree:
                while alive(pid) and time.time() < deadline:
                    time.sleep(0.05)
                if alive(pid):
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                    while alive(pid):
                        time.sleep(0.05)


def cache_key() -> str:
    """Hash of every Python source of tank_spark and of this benchmark
    (the generator, and the op lists the untraced records belong to)."""
    h = hashlib.sha256()
    for top in ("tank_spark", "servebench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


# -------------------------------------------------------------------- run


def run(args, work: str) -> dict:
    import bench  # the host gauges bench.py records: _cpu_ticks, _spin_ms

    from spans import Tracer, attribute_jobs, spark_jobs
    from workloads import CorpusCrawl, MapEdit

    cache = os.path.join(STATE, "cache", cache_key())
    os.makedirs(cache, exist_ok=True)
    wl = {"map_edit": MapEdit, "corpus_crawl": CorpusCrawl}[args.workload](
        args.seed, blocks(args))
    digest = hashlib.sha256()

    event_dir = os.path.join(work, "events") if args.trace else None
    tracer = Tracer() if args.trace else None
    session = None
    failed = 0
    try:
        t_setup = time.perf_counter()
        session = Session(work, event_dir)
        wl.prepare(session.spark, cache, work)
        all_ops = wl.warmup + wl.ops
        for o in all_ops:
            digest.update(o.describe().encode())
        if tracer:
            wl.patch_layers(tracer)

        def one(i: int, o) -> None:
            nonlocal failed
            o.facts["id"] = i
            wl.before(o)
            out, err = None, None
            if tracer:
                tracer.begin_op(i)
            o.t0 = time.time()
            t0 = time.perf_counter()
            try:
                out = (tracer.call(f"bench.{o.kind}", wl.execute, o) if tracer
                       else wl.execute(o))
            except Exception:
                err = traceback.format_exc()
            o.ms = (time.perf_counter() - t0) * 1000.0
            o.t1 = time.time()
            if err is None:
                try:
                    o.ok, o.outcome = wl.check(o, out)
                except Exception:
                    err = traceback.format_exc()
            if not o.ok:
                failed += 1
                log(f"op {i} {o.describe()[:200]} failed: {err or o.outcome}")
            digest.update(f"{i}:{o.ok}:{o.outcome}".encode())
            log(f"op {i} {o.kind} {o.ms:.0f} ms {o.outcome[:48]}")

        for i, o in enumerate(wl.warmup):
            one(i, o)
        setup_s = time.perf_counter() - t_setup - wl.build_s
        log(f"setup {setup_s:.1f}s (cache build {wl.build_s:.1f}s excluded)")

        ticks0, spin0 = bench._cpu_ticks(), bench._spin_ms()
        t_window = time.perf_counter()
        for i, o in enumerate(wl.ops, start=len(wl.warmup)):
            one(i, o)
        window_s = time.perf_counter() - t_window
        ticks1, spin1 = bench._cpu_ticks(), bench._spin_ms()
        host = {"host.steal_pct": bench._steal_pct(ticks0, ticks1),
                "host.sys_pct": bench._sys_pct(ticks0, ticks1),
                "host.spin_ratio": spin1 / spin0}
        peak = session.peak_rss_mb()
        if tracer:
            tracer.unpatch()
        session.close()
        session = None
    finally:
        if session is not None:
            session.close()
    log(f"digest {digest.hexdigest()} build_s {wl.build_s:.1f} "
        f"window_s {window_s:.1f} {json.dumps(host)}")

    samples = wl.samples()
    e2e = {
        "setup_s": setup_s, "peak_rss_mb": peak,
        "ops_per_s": len(wl.ops) / window_s,
        "main_ms_p50": statistics.median(samples["main"]),
        "main_ms_tail": tail(samples["main_tail"]),
        "side_ms_p50": statistics.median(samples["side"]),
        "write_ms_p50": statistics.median(samples["write"]),
    }
    record = os.path.join(cache, f"untraced-{args.workload}-{blocks(args)}.jsonl")
    if not args.trace:
        if failed == 0:
            with open(record, "a") as f:
                f.write(json.dumps(e2e) + "\n")
        metrics = e2e
    else:
        attribute_jobs(spark_jobs(event_dir), [o.__dict__ for o in wl.ops])
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        for k in OP_KINDS:
            mine = [o for o in wl.ops if o.kind == k]
            for f in ("jobs", "tasks", "exec_ms", "driver_ms"):
                metrics[f"spark.{f}_per_op.{k}"] = (
                    sum(getattr(o, f) for o in mine) / len(mine) if mine else 0.0)
        metrics.update(wl.layer_metrics(tracer, wl.ops))
        metrics.update(host)
        self_ms = tracer.self_ms({o.facts["id"] for o in wl.ops})
        for layer in ("bench", "api", "table_ops", "tile_cache", "heatmap",
                      "dedup_stream", "semdedup_stream", "semdedup_inc"):
            metrics[f"self_ms_per_op.{layer}"] = sum(
                v for n, v in self_ms.items() if n.startswith(layer + ".")) / len(wl.ops)
        # tracing overhead: this run's end-to-end figures against the
        # median of the untraced runs of the same op list in this checkout
        if os.path.exists(record):
            with open(record) as f:
                rows = [json.loads(line) for line in f]
            log(f"tracing overhead vs {len(rows)} untraced runs: " + json.dumps({
                k: round(100.0 * (v / statistics.median(r[k] for r in rows) - 1.0), 1)
                for k, v in e2e.items()}) + " (%)")
        else:
            log("tracing overhead: no untraced run of this op list in this "
                "checkout yet; run with --trace 0 first")
        tracer.dump(os.path.join(STATE, f"spans-{args.workload}-{args.seed}.jsonl"))
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def blocks(args) -> int:
    return max(1, int(args.seconds // BLOCK_S[args.workload]))


def main() -> int:
    ap = argparse.ArgumentParser(description="tank_spark serving benchmark")
    ap.add_argument("--workload", required=True, choices=tuple(BLOCK_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if blocks(args) > MAX_BLOCKS[args.workload]:
        ap.error(f"--seconds {args.seconds:g} asks for {blocks(args)} blocks of "
                 f"{args.workload}; at most {MAX_BLOCKS[args.workload]} fit its inputs")
    # SIGTERM unwinds through Session.close like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "tank_spark")):
        print("error: tank_spark/ not found next to servebench/; run from "
              "the root of a tank_spark checkout", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # JVMs and Python workers inherit these: their temp files stay in work
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
