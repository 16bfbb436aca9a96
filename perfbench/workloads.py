"""The two workloads, their correctness gates and the traced layer probes.

Both workloads are closed loops with one client. Each run starts its own
Spark session, generates its inputs from the seed, builds its index and
then measures; every correctness check runs outside the timed windows.

- ``query``: passes of Zipf query streams, each with a repeating hot set
  and a first-seen tail, through ``LocalSearcher.search`` on a freshly
  built index; a prefix of the first stream as one ``bm25_topk_wand_batch``
  call (traced runs also send it through ``bm25_topk_wand`` one query at a
  time).
- ``update``: reads beside writes. A host-burst delta update and a delete
  batch, each followed by a reopened ``LocalSearcher`` and search passes.
  Traced runs add a random-slice update, then the distributed paths on the
  delta index, ``compact_deltas`` and search passes once more.

Every search pass runs on a ``LocalSearcher`` that has served nothing yet,
so each pass does the same work whatever the host's speed; passes repeat
until the run's window has passed.

Traced runs also run the probes that split each layer's cost, and every
traced run measures every layer (see perfbench/README.md).
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import json
import math
import os
import sys
import threading
import time
import traceback
from typing import Callable, Dict, List

import numpy as np

from perfbench import inputs
from perfbench.spans import (
    NullTracer,
    Tracer,
    self_time_by_layer,
    top_level_coverage,
)

K = 10
QUERY_DOCS = 2000
UPDATE_DOCS = 1000
CORPUS_DOCS = 1000
N_SHARDS = 16
DOC_ID_MODE = "host_locality"
PASS_QUERIES = 2000
WAND_PREFIX = 4
SETUP_REPEATS = 5
QUERY_WINDOWS = 3
EXHAUSTIVE_SAMPLE = 1
TAIL_MIN_BEYOND = 10
SAMPLE_PAGES = 200
DECODE_TERMS = 300
LAYERS = ("session", "html", "text", "index.build", "index.codec",
          "index.store", "index.wand", "index.serve", "index.segments",
          "operators")


class OpFailed(Exception):
    pass


def median(xs: List[float]) -> float:
    return float(np.median(np.asarray(xs, dtype=np.float64)))


def tail(xs: List[float], pct: float = 99.0) -> float:
    """Nearest-rank ``pct`` percentile; requires at least
    ``TAIL_MIN_BEYOND`` samples above it."""
    n = len(xs)
    rank = math.ceil(pct / 100.0 * n)
    if n - rank < TAIL_MIN_BEYOND:
        raise ValueError(f"p{pct:g} of {n} samples has fewer than "
                         f"{TAIL_MIN_BEYOND} samples beyond it")
    return float(sorted(xs)[rank - 1])


def _read_statm_rss(pid) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
        return 0


def descendants(pid: int) -> List[int]:
    """Every live process below ``pid`` (the JVM and its Python workers)."""
    children: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory summed over the driver, the JVM and the Python
    workers, sampled every ``period`` seconds; the process tree is rescanned
    every fifth sample."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self, pids) -> None:
        tot = _read_statm_rss("self") + sum(_read_statm_rss(p) for p in pids)
        self.peak = max(self.peak, tot)

    def run(self) -> None:
        pids: List[int] = []
        tick = 0
        while not self._stop_evt.wait(self.period):
            if tick % 5 == 0:
                pids = descendants(os.getpid())
            tick += 1
            self.sample(pids)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample(descendants(os.getpid()))


def dir_bytes(path: str) -> int:
    """Bytes under ``path``, each inode once (updates hard-link untouched
    shards)."""
    seen, total = set(), 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def parquet_files(path: str) -> List[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def index_fingerprint(root: str) -> dict:
    """(n_docs, terms, postings, block rows) and on-disk bytes of a base
    index, read with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    rows = postings = 0
    for f in parquet_files(os.path.join(root, "postings")):
        t = pq.read_table(f, columns=["n"])
        rows += t.num_rows
        postings += int(np.asarray(t.column("n")).sum()) if t.num_rows else 0
    terms = sum(pq.ParquetFile(f).metadata.num_rows
                for f in parquet_files(os.path.join(root, "terms")))
    with open(os.path.join(root, "stats.json")) as f:
        n_docs = int(json.load(f)["n_docs"])
    size = {t: dir_bytes(os.path.join(root, t))
            for t in ("postings", "doclen", "terms", "termdf")}
    return {"n_docs": n_docs, "terms": terms, "postings": postings,
            "block_rows": rows, "bytes": size}


class Bench:
    """One run: the session, the tracer, operation counts, correctness
    failures and the metrics gathered so far."""

    def __init__(self, root: str, work: str, seed: int, seconds: float,
                 traced: bool, cores: int) -> None:
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cores = cores
        self.tracer = Tracer() if traced else NullTracer()
        self.t0 = time.perf_counter()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.check_failures: List[str] = []
        self.e2e: Dict[str, float] = {}
        self.layer: Dict[str, float] = {}
        self.setup_s: List[float] = []
        self.cold_start_s = 0.0
        self.restart_s: List[float] = []
        self.search_ms: List[float] = []
        self.n_passes = 0
        self.visible_s: List[float] = []
        self.build_visible_s = 0.0
        self.serve = ServeStats()
        self.rss = RssSampler()
        self.rss.start()

    # ---- operations and checks -------------------------------------------

    def op(self, fn: Callable, *a, **kw):
        """Run one user-visible operation, counting it and any failure. A
        failed search is skipped and the run goes on; any other failed
        operation ends the run with ``"correct": false`` (see run.py)."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(f"{getattr(fn, '__name__', fn)}: {e}") from e

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.check_failures.append(msg)

    def span(self, layer: str, name: str, req=None, spark: bool = False):
        return self.tracer.span(layer, name, req, spark)

    # ---- session ---------------------------------------------------------

    def start_session(self) -> float:
        from importpipeline_spark.session import get_spark

        with self.span("session", "get_spark"):
            t = time.perf_counter()
            self.spark = get_spark("perfbench", extra_conf={
                "spark.ui.showConsoleProgress": "false"})
            sec = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark.sparkContext)
        return sec

    def restart_session(self) -> float:
        with self.span("session", "stop"):
            self.tracer.bind(None)
            self.spark.stop()
        return self.start_session()

    def shutdown(self) -> None:
        """Stop the session, the JVM it launched and the Python workers, and
        wait until each process has ended."""
        tree = descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            self.tracer.bind(None)
            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw is not None else None
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            self.spark = None
        deadline = time.time() + 30
        for pid in tree:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                            break
                except FileNotFoundError:
                    break
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        if self.rss.is_alive():
            self.rss.stop()

    # ---- index helpers ---------------------------------------------------

    def build(self, pages, root: str, name: str = "write_index") -> float:
        from importpipeline_spark.index.store import write_index

        with self.span("index.store", name, spark=True):
            t = time.perf_counter()
            self.op(write_index, self.spark, pages, root, n_shards=N_SHARDS,
                    write_docs=True, doc_id_mode=DOC_ID_MODE)
            return time.perf_counter() - t

    def build_visible(self, pages, root: str) -> float:
        """One full build of ``pages`` at ``root``, timed until a
        ``LocalSearcher`` on it is open; → the build seconds. It is the
        session's first job with Python UDFs, so it also starts the Python
        workers and compiles the build path: what a fresh indexing job
        pays."""
        from importpipeline_spark.index.serve import LocalSearcher

        t = time.perf_counter()
        build_s = self.build(pages, root)
        with self.span("index.serve", "LocalSearcher"):
            LocalSearcher(root)
        self.build_visible_s = time.perf_counter() - t
        return build_s

    def open(self, root: str):
        """→ (seconds, PhysicalIndex, LocalSearcher)."""
        from importpipeline_spark.index.serve import LocalSearcher
        from importpipeline_spark.index.store import open_index

        t = time.perf_counter()
        with self.span("index.store", "open_index"):
            pidx = open_index(root)
        with self.span("index.serve", "LocalSearcher"):
            searcher = LocalSearcher(root)
        return time.perf_counter() - t, pidx, searcher

    def start_sessions(self) -> None:
        """The cold session start that launches the JVM, then
        ``SETUP_REPEATS`` stops and restarts of the session in that JVM. The
        restarts are the session half of the set-ups; they run before any
        job, so no later measurement pays a restarted session's cold Python
        workers."""
        self.cold_start_s = self.start_session()
        self.restart_s = [self.restart_session()
                          for _ in range(SETUP_REPEATS)]

    def open_repeats(self, root: str):
        """Open the index ``SETUP_REPEATS`` times; set-up i is session
        restart i plus index open i."""
        for start_s in self.restart_s:
            open_s, pidx, searcher = self.open(root)
            self.setup_s.append(start_s + open_s)
        self.layer["index.serve.open_s"] = median(
            [s - t for s, t in zip(self.setup_s, self.restart_s)])
        return pidx, searcher

    def search(self, searcher, q: inputs.Query, req: str, seen: set):
        """One timed ``LocalSearcher.search``; None when it failed."""
        with self.span("index.serve", "search", req=req):
            t = time.perf_counter()
            try:
                res = self.op(searcher.search, q.text, K)
            except OpFailed:
                return None
            ms = (time.perf_counter() - t) * 1e3
        self.search_ms.append(ms)
        self.serve.add(q, ms, q.text in seen, searcher.last_stats)
        seen.add(q.text)
        return res

    def search_pass(self, root: str, queries: List[inputs.Query], tag: str,
                    searcher=None) -> list:
        """``queries`` in order through a ``LocalSearcher`` on ``root`` that
        has served nothing yet: ``searcher``, or a new one. → the answers
        (None for a failed search)."""
        from importpipeline_spark.index.serve import LocalSearcher

        if searcher is None:
            with self.span("index.serve", "LocalSearcher", req=tag):
                searcher = LocalSearcher(root)
        self.n_passes += 1
        seen: set = set()
        with self.span("index.serve", f"pass:{tag}"):
            return [self.search(searcher, q, f"{tag}/{j}", seen)
                    for j, q in enumerate(queries)]

    def search_window(self, root: str, queries_of: Callable, tag: str,
                      seconds: float, searcher=None) -> List[list]:
        """Search passes for ``seconds`` (at least one pass); pass ``k``
        runs ``queries_of(k)``, the first on ``searcher`` if given. → each
        pass's answers."""
        t_end = time.perf_counter() + seconds
        out: List[list] = []
        while not out or time.perf_counter() < t_end:
            k = len(out)
            with self.span("bench", "query_stream"):
                queries = queries_of(k)
            out.append(self.search_pass(root, queries, f"{tag}/p{k}",
                                        searcher if k == 0 else None))
        return out

    def wand_prefix(self, pidx, searcher, queries: List[inputs.Query]):
        """The prefix as one ``bm25_topk_wand_batch`` call and, in traced
        runs, each query through ``bm25_topk_wand`` first; every answer must
        equal the local searcher's bit for bit."""
        from importpipeline_spark.index.wand import (
            bm25_topk_wand,
            bm25_topk_wand_batch,
        )

        def one(q):
            return [(r.doc_id, r.score) for r in
                    bm25_topk_wand(self.spark, pidx, q, k=K).collect()]

        def batch(qs):
            rows = bm25_topk_wand_batch(self.spark, pidx, qs, k=K).collect()
            by_q: Dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
                by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
            return by_q

        got = {}
        if self.traced:
            wand_ms, jobs, tasks = [], [], []
            for i, q in enumerate(queries):
                with self.span("index.wand", "bm25_topk_wand", req=f"w{i}",
                               spark=True) as sp:
                    t = time.perf_counter()
                    got[i] = self.op(one, q.text)
                    wand_ms.append((time.perf_counter() - t) * 1e3)
                jobs.append(len(sp["jobs"]))
                tasks.append(self.tracer.tasks_of(sp["jobs"]))
            self.layer["index.wand.p50_ms"] = median(wand_ms)
            self.layer["index.wand.jobs_per_query"] = median(jobs)
            self.layer["index.wand.tasks_per_query"] = median(tasks)
        qs = [(i, q.text) for i, q in enumerate(queries)]
        with self.span("index.wand", "bm25_topk_wand_batch", spark=True):
            t = time.perf_counter()
            by_q = self.op(batch, qs)
            self.layer["index.wand.batch_ms_per_query"] = (
                (time.perf_counter() - t) * 1e3 / len(queries))
        with self.span("bench", "check_wand"):
            for i, q in enumerate(queries):
                local = searcher.search(q.text, K)
                self.check(got.get(i, local) == local,
                           f"bm25_topk_wand != LocalSearcher for {q.text!r}")
                self.check(by_q.get(i, []) == local,
                           f"bm25_topk_wand_batch != LocalSearcher for "
                           f"{q.text!r}")

    # ---- results ---------------------------------------------------------

    def partial_metrics(self) -> Dict[str, dict]:
        """The metrics gathered before a run ended early, with units."""
        units = PER_LAYER_UNITS if self.traced else E2E_UNITS
        got = self.layer if self.traced else self.e2e
        return {k: {"value": v, "unit": units[k]} for k, v in got.items()
                if k in units}

    def finish(self) -> Dict[str, dict]:
        e = self.e2e
        e["setup_s"] = median(self.setup_s)
        e["search_p50_ms"] = median(self.search_ms)
        e["search_p99_ms"] = tail(self.search_ms, 99.0)
        e["visible_p50_s"] = median(self.visible_s)
        self.rss.stop()
        e["peak_rss_mb"] = self.rss.peak / 2**20
        print(f"perfbench: {len(self.search_ms)} searches in "
              f"{self.n_passes} passes, "
              f"{len(self.visible_s)} writes made visible, "
              f"{len(self.setup_s)} set-ups", file=sys.stderr)
        if not self.traced:
            return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e.items()}
        # the same end-to-end figures under tracing: their difference from
        # an untraced run of the seed is the tracing overhead
        print(f"perfbench: end-to-end under tracing {json.dumps(e)}",
              file=sys.stderr)
        lay = self.layer
        lay["session.start_s"] = self.cold_start_s
        lay["session.restart_s"] = median(self.restart_s)
        lay.update(self.serve.metrics())
        t1 = time.perf_counter()
        spans = self.tracer.spans
        cov = top_level_coverage(spans, self.t0, t1)
        lay["trace.top_level_coverage"] = cov
        self.check(cov >= 0.95, f"top-level spans cover {cov:.3f} < 0.95 "
                                f"of the run's wall time")
        by_layer = self_time_by_layer(spans)
        for name in LAYERS:
            lay[f"self_s.{name}"] = by_layer.get(name, 0.0)
        lay["self_s.bench"] = by_layer.get("bench", 0.0)
        self.tracer.dump(os.path.join(self.root, ".perfbench_work",
                                      f"spans-{os.getpid()}.jsonl"), self.t0)
        missing = [k for k in PER_LAYER_UNITS if k not in lay]
        self.check(not missing, f"per-layer metrics not measured: {missing}")
        return {k: {"value": lay[k], "unit": PER_LAYER_UNITS[k]}
                for k in PER_LAYER_UNITS if k in lay}


class ServeStats:
    """Per-query serve accounting: latency by query class and by whether
    this searcher saw the query before, plus block/posting decode totals
    from ``LocalSearcher.last_stats``."""

    def __init__(self) -> None:
        self.by_kind: Dict[str, List[float]] = {}
        self.first: List[float] = []
        self.repeat: List[float] = []
        self.blocks = [0, 0]
        self.postings = [0, 0]

    def add(self, q: inputs.Query, ms: float, repeat: bool, st: dict) -> None:
        self.by_kind.setdefault(q.kind, []).append(ms)
        (self.repeat if repeat else self.first).append(ms)
        self.blocks[0] += st["blocks_decoded"]
        self.blocks[1] += st["blocks_total"]
        self.postings[0] += st["postings_decoded"]
        self.postings[1] += st["postings_total"]

    def metrics(self) -> dict:
        out = {f"index.serve.search_ms.{k}_p50": median(v)
               for k, v in self.by_kind.items()}
        out["index.serve.first_seen_p50_ms"] = median(self.first)
        out["index.serve.repeat_p50_ms"] = median(self.repeat)
        out["index.serve.blocks_decoded_frac"] = (
            self.blocks[0] / max(1, self.blocks[1]))
        out["index.serve.postings_decoded_frac"] = (
            self.postings[0] / max(1, self.postings[1]))
        return out


E2E_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_posting": "B",
    "search_p50_ms": "ms",
    "search_p99_ms": "ms",
    "visible_p50_s": "s",
    "peak_rss_mb": "MB",
}

_PRETRAIN_STAGES = ("extract", "quality", "boilerplate", "exact_dedup",
                    "neardup_pairs", "neardup_components", "decontamination",
                    "budget_cut", "scrub_sample_write")

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.restart_s": "s",
    "html.extract_ms_per_doc": "ms",
    "text.tokenize_ms_per_doc": "ms",
    "index.build.fused_s": "s",
    "index.build.udf_overhead_frac": "fraction",
    "index.store.write_rest_s": "s",
    "index.store.block_rows": "count",
    "index.store.postings_per_block": "count",
    "index.store.postings_bytes": "B",
    "index.store.terms": "count",
    "index.codec.decode_mb_per_s": "MB/s",
    "index.serve.open_s": "s",
    "index.serve.search_ms.head_p50": "ms",
    "index.serve.search_ms.pair_p50": "ms",
    "index.serve.search_ms.three_p50": "ms",
    "index.serve.search_ms.rare_p50": "ms",
    "index.serve.first_seen_p50_ms": "ms",
    "index.serve.repeat_p50_ms": "ms",
    "index.serve.blocks_decoded_frac": "fraction",
    "index.serve.postings_decoded_frac": "fraction",
    "index.serve.rss_growth_mb": "MB",
    "index.store.terms_lookup_ms": "ms",
    "index.store.postings_scan_ms": "ms",
    "index.wand.p50_ms": "ms",
    "index.wand.batch_ms_per_query": "ms",
    "index.wand.jobs_per_query": "count",
    "index.wand.tasks_per_query": "count",
    "index.segments.update_host_s": "s",
    "index.segments.update_random_s": "s",
    "index.segments.delete_s": "s",
    "index.segments.compact_s": "s",
    "index.segments.bytes_written_per_input_byte": "ratio",
    "index.deltas.live_gens": "count",
    "index.store.space_amp": "ratio",
    **{f"operators.pretrain.sec_{s}": "s" for s in _PRETRAIN_STAGES},
    "operators.corpus_docs_per_s": "docs/s",
    "spark.jobs_per_build": "count",
    "spark.jobs_per_update": "count",
    "spark.jobs_per_delete": "count",
    "spark.jobs_per_compact": "count",
    "spark.jobs_per_pipeline": "count",
    "trace.top_level_coverage": "fraction",
    **{f"self_s.{name}": "s" for name in LAYERS},
    "self_s.bench": "s",
}


# ---- shared pieces ---------------------------------------------------------


def _pages(bench: Bench, n: int, name: str, profile: str = "web"):
    path = os.path.join(bench.work, name)
    with bench.span("bench", "write_pages"):
        inputs.write_pages(path, n, bench.seed, 2 * bench.cores, profile)
    return path


def _record_build(bench: Bench, root: str, build_s: float, tag: str) -> dict:
    fp = index_fingerprint(root)
    b = fp["bytes"]
    bench.e2e["build_docs_per_s"] = fp["n_docs"] / build_s
    bench.e2e["index_bytes_per_posting"] = sum(b.values()) / fp["postings"]
    bench.layer.update({
        "index.store.block_rows": fp["block_rows"],
        "index.store.postings_per_block": fp["postings"] / fp["block_rows"],
        "index.store.postings_bytes": b["postings"],
        "index.store.terms": fp["terms"],
    })
    _same_across_runs(bench, f"{tag}-build",
                      [fp["n_docs"], fp["terms"], fp["postings"],
                       fp["block_rows"]])
    return fp


def source_digest(root: str) -> str:
    """Digest of the engine's sources: ``importpipeline_spark`` and ``jobs``."""
    h = hashlib.sha256()
    for pkg in ("importpipeline_spark", "jobs"):
        for f in sorted(glob.glob(os.path.join(root, pkg, "**", "*.py"),
                                  recursive=True)):
            h.update(os.path.relpath(f, root).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _same_across_runs(bench: Bench, what: str, value: list) -> None:
    """The first run of a seed on this engine source in this checkout
    records ``value``; every later run of that seed on the same source must
    reproduce it exactly. A changed engine records its own entry."""
    path = os.path.join(bench.root, ".perfbench_work", "fingerprints.json")
    try:
        with open(path) as f:
            known = json.load(f)
    except FileNotFoundError:
        known = {}
    key = f"{what}/{bench.seed}/{source_digest(bench.root)}"
    if key in known:
        bench.check(known[key] == value, f"{what} of seed {bench.seed} "
                                         f"changed: {known[key]} -> {value}")
    else:
        known[key] = value
        with open(path, "w") as f:
            json.dump(known, f)


def _bump(pages, urls: List[str], hours: int):
    """The given pages re-crawled ``hours`` later: a newer warc_ts makes
    every row re-index."""
    from pyspark.sql import functions as F

    return pages.where(F.col("url").isin(urls)).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {hours} HOURS"))


def _doc_ids(root: str, urls: List[str]) -> set:
    """doc ids the index's docs table holds for ``urls``."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(root, "docs"), columns=["doc_id", "url"])
    want = set(urls)
    return {d for d, u in zip(t.column("doc_id").to_pylist(),
                              t.column("url").to_pylist()) if u in want}


# ---- query -----------------------------------------------------------------


def run_query(bench: Bench) -> None:
    bench.start_sessions()
    pages_path = _pages(bench, QUERY_DOCS, "pages")
    with bench.span("bench", "read_pages", spark=True):
        pages = bench.spark.read.parquet(pages_path)
    idx = os.path.join(bench.work, "index")
    build_s = bench.build_visible(pages, idx)
    bench.visible_s.append(bench.build_visible_s)
    with bench.span("bench", "fingerprint"):
        fp = _record_build(bench, idx, build_s, "query")
    pidx, searcher = bench.open_repeats(idx)

    # pass k is stream part k of the seed; the window is cut in three spread
    # over the run, so that a slow spell of a shared host hits one of them
    rss0 = _read_statm_rss("self")
    parts = itertools.count()

    def window(w: int) -> None:
        bench.search_window(
            idx, lambda k: inputs.query_stream(bench.seed, PASS_QUERIES,
                                               next(parts)),
            f"w{w}", bench.seconds / QUERY_WINDOWS)

    with bench.span("bench", "query_stream"):
        prefix = inputs.query_stream(bench.seed, PASS_QUERIES)[:WAND_PREFIX]
    window(0)
    bench.wand_prefix(pidx, searcher, prefix)
    window(1)
    with bench.span("bench", "check_query", spark=True):
        _check_exhaustive(bench, pages, searcher, prefix, fp)
    window(2)
    bench.layer["index.serve.rss_growth_mb"] = (
        (_read_statm_rss("self") - rss0) / 2**20)
    if bench.traced:
        _probe_build(bench, pages, pages_path, build_s, fp)
        _probe_store(bench, pidx, idx, prefix)
        _probe_update(bench, pages, pages_path, idx)
        _probe_corpus(bench)


def _check_exhaustive(bench, pages, searcher, prefix, fp) -> None:
    """A seeded sample of the prefix queries that have answers against
    ``bm25_topk_exhaustive`` over ``build_logical_index``: same doc ids in
    the same order; scores equal up to the SQL aggregation's summation order
    (rel 1e-9, as the repo's own oracle tests allow). The logical index must
    also count the same docs and postings as the physical one."""
    from importpipeline_spark.index.build import build_logical_index
    from importpipeline_spark.index.search import bm25_topk_exhaustive

    rng = np.random.default_rng([bench.seed, 0xE])
    answered = [q for q in prefix if searcher.search(q.text, K)] or prefix
    sample = [answered[int(j)] for j in
              rng.permutation(len(answered))[:EXHAUSTIVE_SAMPLE]]
    li = build_logical_index(pages, cache=True, doc_id_mode=DOC_ID_MODE)
    bench.check(li.stats["n_docs"] == fp["n_docs"],
                f"logical n_docs {li.stats['n_docs']} != {fp['n_docs']}")
    bench.check(li.tf.count() == fp["postings"], "logical posting count "
                                                 "differs from physical")
    for q in sample:
        ex = [(r.doc_id, r.score) for r in
              bm25_topk_exhaustive(bench.spark, li, q.text, k=K).collect()]
        local = searcher.search(q.text, K)
        same = ([d for d, _ in ex] == [d for d, _ in local] and all(
            math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
            for (_, a), (_, b) in zip(ex, local)))
        bench.check(same, f"exhaustive oracle != LocalSearcher for "
                          f"{q.text!r}")
    li.docs.unpersist()
    li.tf.unpersist()


# ---- update ----------------------------------------------------------------


def _search_state(bench, idx, part_of, state: str, searcher=None) -> list:
    """Search passes on one index state for half of ``--seconds`` (the
    untraced run has two states), pass k over ``part_of(k)``. → each
    pass's answers."""
    return bench.search_window(idx, part_of, state, bench.seconds / 2,
                               searcher)


def _update_round(bench, pages, pages_path, idx, part_of=None) -> dict:
    """The run's writes: host-burst update, random-slice update (traced
    runs only), delete batch. Each write is timed until a reopened
    LocalSearcher is ready; with ``part_of``, search passes run on every
    new state. Returns the per-layer numbers and the deleted doc ids."""
    from importpipeline_spark.index.segments import (
        delete_from_index,
        update_index,
    )
    from importpipeline_spark.index.serve import LocalSearcher

    urls, sizes = inputs.read_urls_and_sizes(pages_path)
    size_of = dict(zip(urls, sizes))
    sl = inputs.update_slices(urls, bench.seed, 0)
    with bench.span("bench", "deleted_ids"):
        doomed = _doc_ids(idx, sl.delete_urls)
    bench.check(len(doomed) == len(sl.delete_urls),
                f"{len(sl.delete_urls) - len(doomed)} delete urls not in the "
                f"index")
    out = {"deleted": doomed, "states": []}
    # the random-slice update runs in traced runs only: each write costs
    # 8-12 s of fixed job overhead here, and the run budget fits two
    writes = [("update_host", sl.host_urls, 1),
              ("update_random", sl.random_urls, 2),
              ("delete", sl.delete_urls, None)]
    if not bench.traced:
        del writes[1]
    for name, urls_w, hours in writes:
        before = dir_bytes(idx)
        req = name
        t = time.perf_counter()
        with bench.span("index.segments", name, req=req, spark=True) as sp:
            if hours is None:
                dels = bench.spark.createDataFrame(
                    [(u,) for u in urls_w], "url string")
                bench.op(delete_from_index, bench.spark, idx, dels,
                         run_id="d0", input_snapshot="d0",
                         compact_after=None)
            else:
                bench.op(update_index, bench.spark, idx,
                         _bump(pages, urls_w, hours),
                         run_id=f"{name}0", input_snapshot=f"{name}0",
                         compact_after=None)
        write_s = time.perf_counter() - t
        with bench.span("index.serve", "LocalSearcher", req=req):
            searcher = LocalSearcher(idx)
        bench.visible_s.append(time.perf_counter() - t)
        out[f"{name}_s"] = write_s
        if sp is not None:
            out[f"{name}_jobs"] = len(sp["jobs"])
        if hours is not None:
            out.setdefault("written", 0)
            out.setdefault("input", 0)
            out["written"] += dir_bytes(idx) - before
            out["input"] += sum(size_of[u] for u in urls_w)
        if part_of is not None:
            out["states"].append(_search_state(bench, idx, part_of, name,
                                            searcher))
    out["searcher"] = searcher
    return out


def _returned(runs: List[list]) -> set:
    """Every doc id any answer of any pass returned."""
    return {d for answers in runs for res in answers if res for d, _ in res}


def _round_layers(bench, r: dict) -> None:
    lay = bench.layer
    lay["index.segments.update_host_s"] = r["update_host_s"]
    lay["index.segments.update_random_s"] = r["update_random_s"]
    lay["index.segments.delete_s"] = r["delete_s"]
    lay["index.segments.bytes_written_per_input_byte"] = (
        r["written"] / r["input"])
    lay["spark.jobs_per_update"] = median(
        [r["update_host_jobs"], r["update_random_jobs"]])
    lay["spark.jobs_per_delete"] = r["delete_jobs"]


def _compact(bench, idx) -> float:
    from importpipeline_spark.index.segments import compact_deltas
    from importpipeline_spark.index.store import open_index

    with bench.span("index.segments", "deltas.delta_gens"):
        bench.layer["index.deltas.live_gens"] = len(
            open_index(idx).delta_gens())
    before = dir_bytes(idx)
    with bench.span("index.segments", "compact_deltas", spark=True) as sp:
        t = time.perf_counter()
        bench.op(compact_deltas, bench.spark, idx)
        sec = time.perf_counter() - t
    bench.layer["index.segments.compact_s"] = sec
    bench.layer["index.store.space_amp"] = before / dir_bytes(idx)
    if sp is not None:
        bench.layer["spark.jobs_per_compact"] = len(sp["jobs"])
    return sec


def run_update(bench: Bench) -> None:
    from importpipeline_spark.index.serve import LocalSearcher
    from importpipeline_spark.index.store import open_index

    bench.start_sessions()
    pages_path = _pages(bench, UPDATE_DOCS, "pages")
    parts: Dict[int, List[inputs.Query]] = {}

    def part_of(k: int) -> List[inputs.Query]:
        """Stream part k of the seed, the same on every index state."""
        if k not in parts:
            parts[k] = inputs.query_stream(bench.seed, PASS_QUERIES, k)
        return parts[k]

    with bench.span("bench", "read_pages", spark=True):
        pages = bench.spark.read.parquet(pages_path)
    idx = os.path.join(bench.work, "index")
    build_s = bench.build_visible(pages, idx)
    with bench.span("bench", "fingerprint"):
        fp = _record_build(bench, idx, build_s, "update")
    bench.open_repeats(idx)

    # one round; the search window is shared by the states after the host
    # update and after the delete batch, so the searches all see deltas
    rss0 = _read_statm_rss("self")
    r = _update_round(bench, pages, pages_path, idx, part_of)
    deleted = r["deleted"]
    with bench.span("bench", "check_deleted"):
        # the round's last state follows its delete batch
        hits = _returned(r["states"][-1]) & deleted
        bench.check(not hits, f"deleted docs returned: {sorted(hits)[:3]}")
    bench.layer["index.serve.rss_growth_mb"] = (
        (_read_statm_rss("self") - rss0) / 2**20)
    if not bench.traced:
        return
    # traced runs add the distributed paths on the delta index and the
    # compaction, each with its check: two more 3-5 s Spark calls than the
    # untraced run budget fits
    _round_layers(bench, r)
    searcher = r["searcher"]
    pre_compact = r["states"][-1]
    with bench.span("index.store", "open_index"):
        pidx = open_index(idx)
    bench.wand_prefix(pidx, searcher, part_of(0)[:WAND_PREFIX])
    _compact(bench, idx)
    with bench.span("index.serve", "LocalSearcher", req="compacted"):
        searcher = LocalSearcher(idx)
    post = _search_state(bench, idx, part_of, "compacted", searcher)
    with bench.span("bench", "check_compaction"):
        # pass k of either state ran stream part k
        bench.check(all(a == b for a, b in zip(pre_compact, post)),
                    "query answers changed across compact_deltas")
        hits = _returned(post) & deleted
        bench.check(not hits, "deleted docs returned after compaction")
    _probe_build(bench, pages, pages_path, build_s, fp)
    _probe_store(bench, open_index(idx), idx, part_of(0)[:WAND_PREFIX])
    _probe_corpus(bench)


# ---- traced-only layer probes ----------------------------------------------


def _probe_build(bench, pages, pages_path, build_s, fp) -> None:
    """Split the build: the extract and tokenize kernels on a seeded page
    sample in the driver (compute only), the fused extract+tokenize pass
    drained to a noop sink, and the rest of ``write_index``."""
    from importpipeline_spark.html.htmltext import html_to_text
    from importpipeline_spark.index.build import build_docs_and_tf
    from importpipeline_spark.text.tokenizer import tokenize_scalar

    with bench.span("bench", "page_sample"):
        sample = inputs.page_sample(pages_path, bench.seed, SAMPLE_PAGES)
        sample = [h.decode("utf-8", errors="replace") for h in sample]
    with bench.span("html", "html_to_text"):
        t = time.perf_counter()
        texts = [html_to_text(h) for h in sample]
        extract_ms = (time.perf_counter() - t) * 1e3 / len(sample)
    with bench.span("text", "tokenize_scalar"):
        t = time.perf_counter()
        for s in texts:
            tokenize_scalar(s)
        tok_ms = (time.perf_counter() - t) * 1e3 / len(sample)
    with bench.span("index.build", "build_docs_and_tf_noop", spark=True):
        t = time.perf_counter()
        build_docs_and_tf(pages, DOC_ID_MODE).write.format("noop").mode(
            "overwrite").save()
        fused_s = time.perf_counter() - t
    kernel_s = (extract_ms + tok_ms) / 1e3 * fp["n_docs"] / bench.cores
    lay = bench.layer
    lay["html.extract_ms_per_doc"] = extract_ms
    lay["text.tokenize_ms_per_doc"] = tok_ms
    lay["index.build.fused_s"] = fused_s
    lay["index.build.udf_overhead_frac"] = 1.0 - kernel_s / fused_s
    lay["index.store.write_rest_s"] = build_s - fused_s
    build_spans = [sp for sp in bench.tracer.spans
                   if sp["name"] == "write_index"]
    lay["spark.jobs_per_build"] = len(build_spans[-1]["jobs"])


def _probe_store(bench, pidx, idx, queries) -> None:
    """Dictionary lookup and pruned posting scan for the prefix queries as
    Spark jobs, and block decode throughput for a seeded term sample."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from importpipeline_spark.index.codec import decode_block
    from importpipeline_spark.index.search import analyze_query

    look, scan = [], []
    for i, q in enumerate(queries):
        terms = analyze_query(q.text)
        with bench.span("index.store", "terms_lookup", req=f"p{i}",
                        spark=True):
            t = time.perf_counter()
            pidx.terms_df(bench.spark).where(F.col("term").isin(terms)) \
                .collect()
            look.append((time.perf_counter() - t) * 1e3)
        with bench.span("index.store", "postings_scan", req=f"p{i}",
                        spark=True):
            t = time.perf_counter()
            pidx.postings_live_df(bench.spark).where(
                F.col("term").isin(terms)).count()
            scan.append((time.perf_counter() - t) * 1e3)
    bench.layer["index.store.terms_lookup_ms"] = median(look)
    bench.layer["index.store.postings_scan_ms"] = median(scan)

    with bench.span("bench", "decode_sample"):
        cols = ["term", "n", "min_doc", "docs_enc", "tfs_enc"]
        t = pq.read_table(os.path.join(idx, "postings"), columns=cols)
        terms = sorted(set(t.column("term").to_pylist()))
        rng = np.random.default_rng([bench.seed, 0xC0DEC])
        pick = set(rng.choice(terms, size=min(DECODE_TERMS, len(terms)),
                              replace=False).tolist())
        rows = [r for r in zip(*(t.column(c).to_pylist() for c in cols))
                if r[0] in pick]
    with bench.span("index.codec", "decode_block"):
        t0 = time.perf_counter()
        nbytes = 0
        for _, n, min_doc, docs_enc, tfs_enc in rows:
            decode_block(docs_enc, tfs_enc, min_doc, n)
            nbytes += len(docs_enc) + len(tfs_enc)
        sec = time.perf_counter() - t0
    bench.layer["index.codec.decode_mb_per_s"] = nbytes / 2**20 / sec


def _probe_update(bench, pages, pages_path, idx) -> None:
    """The update layers on the query workload's index: one round and a
    compaction, untimed by the end-to-end metrics."""
    visible = list(bench.visible_s)
    r = _update_round(bench, pages, pages_path, idx)
    bench.visible_s[:] = visible
    _round_layers(bench, r)
    _compact(bench, idx)


def _probe_corpus(bench) -> None:
    """``run_pipeline`` over a seeded corpus slice with planted phenomena;
    the per-stage seconds come from the pipeline's own report."""
    from jobs.pretrain_corpus_job import run_pipeline

    # the uniform profile: the web profile's topical bursts fail the
    # pipeline's repetition gate for ~95% of pages, which would leave the
    # dedup stages almost nothing to do
    path = _pages(bench, CORPUS_DOCS, "corpus_pages", "uniform")
    bench_path = os.path.join(bench.work, "corpus_evalset")
    with bench.span("bench", "corpus_input", spark=True):
        corpus = inputs.corpus_input(bench.spark, path, bench_path)
    with bench.span("operators", "run_pipeline", spark=True) as sp:
        t = time.perf_counter()
        report = bench.op(
            run_pipeline, bench.spark, corpus,
            os.path.join(bench.work, "corpus_out"),
            benchmark_path=bench_path,
            sample={"en": 0.5, "de": 0.25, "fr": 0.125},
            neardup_threshold=0.8, boilerplate_df_frac=0.08,
            token_budget=20_000)
        sec = time.perf_counter() - t
    print(f"perfbench: corpus report {json.dumps(report)}", file=sys.stderr)
    bench.check(report.get("quarantined") == 5,
                f"corpus quarantined {report.get('quarantined')} != 5")
    for s in _PRETRAIN_STAGES:
        bench.layer[f"operators.pretrain.sec_{s}"] = report[f"sec_{s}"]
    n_in = report["extracted"] + report["quarantined"]
    bench.layer["operators.corpus_docs_per_s"] = n_in / sec
    bench.layer["spark.jobs_per_pipeline"] = len(sp["jobs"])
    _same_across_runs(bench, "corpus-stage-counts",
                      [[k, v] for k, v in sorted(report.items())
                       if not k.startswith("sec_")])


WORKLOADS = {"query": run_query, "update": run_update}


def run_workload(bench: Bench, name: str) -> Dict[str, dict]:
    WORKLOADS[name](bench)
    return bench.finish()
