"""spark-crawl benchmark: one closed-loop client against a local[nproc]
Spark session.

    python3 perfbench/run.py --workload deep_crawl --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``deep_crawl``       start_crawl + run_crawl over a generated corpus in
                       bench.py's shape, then the three read APIs;
* ``operator_queries`` one pass of bench.py's 14 timed queries over
                       seeded tables.

The seed feeds ``CorpusParams.seed_tag`` (``v<seed>``) and the table
generator; the program sees only the generated inputs.  Every operation
is checked against an independent oracle (``OracleCrawler`` or the
DuckDB twin SQL of ``__spark_entry__.oracle_sql``), computed once per
seed outside timing and cached under ``.perfbench/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (Spark event log on, spans
attributed to stages).  The line before it is a human-readable report
with the run context (nproc, MemTotal, CPU steal) and, per workload, the
metrics under their workload names (``crawl_s``, ``query_suite_s``, ...).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor
from multiprocessing import get_context
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import spans as tr  # noqa: E402

NPROC = os.cpu_count() or 1
SHUFFLE_PARTITIONS = NPROC  # one task per core per stage

# deep_crawl: bench.py's corpus shape, scaled so one run (session, set-up,
# one crawl, checks) fits the benchmark's per-run time on a 4-core box.
# At depth 5 a 3,000-doc crawl saturates the corpus, so the work done
# (~4.1k URLs fetched, ~58k links) and the wave count (7) hardly depend
# on the seed.
CORPUS_SHAPE = dict(
    urls_per_host=8, links_per_span_max=10, spans_max=10,
    dead_link_pct=8, dup_pct=12, hot_pct=25,
)
SIZES = {
    "full": {"n_docs": 3000, "depth": 5, "scale": 0.005},
    "tiny": {"n_docs": 2000, "depth": 2, "scale": 0.001},
}
WARMUP_DEPTH = 1  # root wave: absorbs JIT and codegen of the wave plans
WARMUP_SCALE = 0.0005

# bench.py's BENCH_QUERIES, in its order, with the tables each one scans
BENCH_QUERIES = {
    "progress_counts": ("orders",),
    "stats_distinct_max": ("lineitem",),
    "anti_join_seen_set": ("customer", "orders"),
    "left_outer_progress": ("orders", "lineitem"),
    "first_writer_dedup": ("events",),
    "politeness_topk": ("lineitem",),
    "minhash_band_buckets": ("documents",),
    "token_count": ("documents",),
    "ann_cosine_topk": ("embeddings",),
    "simhash_near_dup": ("documents",),
    "ann_lsh_topk": ("embeddings",),
    "embedding_near_dup_lsh": ("embeddings",),
    "media_features_real": (),  # reads its own MEDIA_DEMO_DOCS corpus
    "jaccard_pairs": ("documents",),
}
QUERY_GROUPS = {
    "text_dedup": ("minhash_band_buckets", "simhash_near_dup", "jaccard_pairs"),
    "vector": ("ann_cosine_topk", "ann_lsh_topk", "embedding_near_dup_lsh"),
    "relational": (
        "progress_counts", "stats_distinct_max", "anti_join_seen_set",
        "left_outer_progress", "first_writer_dedup", "politeness_topk",
        "token_count",
    ),
}
N_WAVE_SLOTS = 8  # engine.wave_s.w0 .. w7

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "work_per_s": "1/s",
    "step_p50_s": "s",
}


def per_layer_units() -> dict[str, str]:
    u = {
        "setup.session_s": "s", "setup.corpus_s": "s",
        "setup.bucketed_save_s": "s", "setup.warmup_s": "s",
        "engine.start_crawl_s": "s", "engine.driver_gap_s": "s",
        "engine.stages_per_wave": "count", "engine.tasks_per_wave": "count",
        "engine.wave_max_s": "s",
    }
    u.update({f"engine.wave_s.w{k}": "s" for k in range(N_WAVE_SLOTS)})
    u.update({
        "engine.executor_cpu_s": "s", "engine.gc_s": "s",
        "engine.shuffle_write_mb": "MB", "engine.spill_mb": "MB",
        "engine.task_skew": "ratio",
        "engine.waves": "count", "engine.urls_fetched": "count",
        "engine.links_seen": "count", "engine.fresh_candidates": "count",
        "engine.fresh_ratio": "ratio", "engine.admit_ratio": "ratio",
        "engine.retries": "count", "engine.failed_urls": "count",
        "dedup.bloom_candidates": "count",
        "store.frontier_read_s": "s", "store.edges_read_s": "s",
        "store.delta_files": "count", "store.bytes_written_mb": "MB",
        "store.bytes_per_node": "B",
        "queries.crawl_progress_s": "s", "queries.crawl_stats_s": "s",
        "queries.graph_data_s": "s",
    })
    for q in BENCH_QUERIES:
        u.update({
            f"q.{q}_s": "s", f"q.{q}.tasks": "count", f"q.{q}.python_s": "s",
            f"q.{q}.shuffle_mb": "MB", f"q.{q}.task_skew": "ratio",
        })
    u.update({f"q.{g}_s": "s" for g in QUERY_GROUPS})
    u.update({
        "mem.peak_rss_mb": "MB",
        "span.run_crawl.self_s": "s", "span.query_suite.self_s": "s",
        "trace.job_s": "s", "trace.overhead_s": "s",
    })
    return u


# ---------------------------------------------------------------------------
# run context: box, memory, steal, resident memory
# ---------------------------------------------------------------------------

def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), (v[7] if len(v) > 7 else 0)


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python workers (the
    ``java`` process below this one and all its descendants), sampled
    from /proc every ``period`` seconds."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> float:
        children: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name, rest = stat.split(" (", 1)[1].rsplit(")", 1)
            comm[int(p)] = name
            children.setdefault(int(rest.split()[1]), []).append(int(p))
        jvm, stack = [], list(children.get(os.getpid(), []))
        while stack:  # the first java process on each path below us
            pid = stack.pop()
            if comm.get(pid) == "java":
                jvm.append(pid)
            else:
                stack.extend(children.get(pid, []))
        total, stack = 0, jvm
        while stack:
            pid = stack.pop()
            stack.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        return total / 2**20

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.peak_mb = max(self.peak_mb, self._sample())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# child processes: every one is stopped and waited for before exit
# ---------------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM's Python workers, multiprocessing's
    resource tracker) re-parent to this process instead of init, so that
    ``stop_descendants`` can find and reap every one of them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    """Live (non-zombie) processes below this one."""
    children: dict[int, list[int]] = {}
    zombie: set[int] = set()
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        children.setdefault(int(rest[1]), []).append(int(p))
        if rest[0] == "Z":
            zombie.add(int(p))
    out, stack = [], list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        if pid not in zombie:
            out.append(pid)
    return out


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark(b: "Bench | None") -> None:
    """Stop the Spark session and its JVM and wait for the JVM to exit
    (``SparkSession.stop`` leaves the JVM running until this process's
    exit closes its stdin)."""
    if b is not None and b.spark is not None:
        b.spark.stop()
        b.spark = None
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stop_descendants(grace: float = 15.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: SIGTERM, then SIGKILL after ``grace`` seconds."""
    if "multiprocessing.resource_tracker" in sys.modules:
        from multiprocessing import resource_tracker

        try:
            resource_tracker._resource_tracker._stop()
        except Exception:  # noqa: BLE001 — killed below instead
            pass
    deadline = time.time() + grace
    while True:
        reap()
        pids = descendants()
        if not pids:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# harness state shared by the workloads
# ---------------------------------------------------------------------------

def load_by_path(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path, cache: Path) -> None:
        self.args = args
        self.work = work
        self.cache = cache
        self.size = SIZES["tiny" if args.tiny else "full"]
        self.tracer = tr.Tracer()
        self.setup: dict[str, float] = {}
        self.t0 = time.time()
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.eventlog = work / "eventlog" if args.trace else None

    def op(self, what: str, ok: bool) -> None:
        """Count one checked operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def end_setup(self) -> None:
        """Set-up wall time: from the workload's start to here (phases
        may overlap, so this is not the sum of ``self.setup``)."""
        self.setup_s = time.time() - self.t0

    @contextmanager
    def untimed(self):
        """Harness work inside set-up (an oracle) that set-up time leaves
        out."""
        t0 = time.time()
        try:
            yield
        finally:
            self.t0 += time.time() - t0

    def timed_setup(self, key: str, fn):
        t0 = time.time()
        out = fn()
        self.setup[key] = self.setup.get(key, 0.0) + time.time() - t0
        return out

    def start_session(self):
        # executors' Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        )
        tmp = self.work / "tmp"
        from pyspark.sql import SparkSession

        driver_mem_gb = max(2, mem_total_mb() // 3 // 1024)
        b = (
            SparkSession.builder.master(f"local[{NPROC}]")
            .appName(f"perfbench-{self.args.workload}")
            .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
            .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", f"{driver_mem_gb}g")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .config("spark.local.dir", str(self.work / "local"))
            # keep the JVM's temp files in the checkout, and no hsperfdata
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        )
        if self.eventlog is not None:
            self.eventlog.mkdir(parents=True, exist_ok=True)
            b = b.config("spark.eventLog.enabled", "true").config(
                "spark.eventLog.dir", self.eventlog.as_uri()
            )
        self.driver_mem_gb = driver_mem_gb
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def cached(self, key: str, compute):
        """JSON-cached oracle output, computed once per key."""
        path = self.cache / f"{key}.json"
        if path.exists():
            return json.loads(path.read_text())
        value = compute()
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(value))
        tmp.replace(path)
        return value

    def loop(self, job) -> None:
        """Closed loop: run ``job(k)`` until --seconds have passed (at
        least once)."""
        t_end = time.time() + self.args.seconds
        k = 0
        while k == 0 or time.time() < t_end:
            job(k)
            k += 1


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# deep_crawl
# ---------------------------------------------------------------------------

def _alive_roots(corpus: dict[str, list[dict]], cfg):
    """Candidate seed URLs in bench.py's order: docs whose root admission
    (DNS + single fetch) succeeds, skipping docs without links, whose
    crawl is a single wave."""
    from web_crawler_spark.functions.urls import normalize_url_py
    from web_crawler_spark.sources.simulators import dns_py, fetch_outcome_py

    for did, spans in corpus.items():
        name, _ = normalize_url_py(did)
        if (
            any("://" in s["text"] for s in spans)
            and dns_py(name, cfg)[0]
            and fetch_outcome_py(did, True, 0, cfg)[0]
        ):
            yield did


def _pick_root(corpus: dict, cfg, depth: int) -> dict:
    """Oracle crawl from the first candidate root whose crawl has the
    workload's shape: more than one node, and depth + 2 waves (waves
    0..depth plus one retry wave).  About one root in five needs a second
    retry wave (a ~4 s wave on a 4-core box) and some roots never fetch
    in the crawl; either would make the seed change the work measured,
    not only the inputs."""
    for root in _alive_roots(corpus, cfg):
        oracle = _crawl_oracle(corpus, cfg, root, depth)
        if oracle["waves"] == depth + 2 and len(oracle["nodes"]) > 1:
            return oracle
    raise RuntimeError("no seed URL in the corpus gives the workload's crawl")


def _crawl_oracle(corpus: dict, cfg, seed_url: str, depth: int) -> dict:
    from web_crawler_spark.oracle import OracleCrawler

    res = OracleCrawler(corpus, cfg).crawl(seed_url, depth)
    stats = res.stats()
    return {
        "root": seed_url,
        "nodes": {k: [n.depth, n.status] for k, n in res.nodes.items()},
        "edges": sorted([s, d] for s, d, _ in res.edges),
        "waves": res.waves_run,
        "urls_fetched": sum(m["fetched"] for m in res.wave_metrics),
        "stats": stats,
        "derived_status": res.derived_status(),
    }


def _dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, parquet part files) under ``path``."""
    n_bytes = n_files = 0
    for p in path.rglob("*"):
        if p.is_file():
            n_bytes += p.stat().st_size
            n_files += p.name.startswith("part-")
    return n_bytes, n_files


def corpus_slice(params, indices: range) -> list[tuple[str, list[dict]]]:
    """Documents ``indices`` of the corpus (run in a worker process)."""
    sys.path.insert(0, str(ROOT))
    from web_crawler_spark.corpus import doc_id_for, doc_spans

    return [(doc_id_for(i, params), doc_spans(i, params)) for i in indices]


def _write_corpus(corpus: dict[str, list[dict]], path: Path) -> None:
    """The corpus as one parquet file in ``DOCUMENTS_SCHEMA``'s layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    path.mkdir(parents=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(list(corpus), pa.string()),
            "spans": pa.array(list(corpus.values()), pa.list_(span)),
        }),
        path / "part-00000.parquet",
    )


def deep_crawl(b: Bench) -> dict:
    from web_crawler_spark import queries as api
    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.corpus import CorpusParams
    from web_crawler_spark.engine import CrawlEngine
    from web_crawler_spark.sources.corpus_table import save_bucketed_corpus
    from web_crawler_spark.store import SnapshotStore

    n_docs, depth = b.size["n_docs"], b.size["depth"]
    params = CorpusParams(n_docs=n_docs, seed_tag=f"v{b.args.seed}", **CORPUS_SHAPE)
    corpus_path = b.work / "corpus"

    # the corpus is the program's driver-side generator (bit-identical to
    # generate_documents_df), run in worker processes while the JVM
    # starts; the same dict feeds the oracle
    n_proc = max(1, NPROC - 1)
    step = -(-n_docs // n_proc)
    slices = [range(lo, min(n_docs, lo + step)) for lo in range(0, n_docs, step)]
    t0 = time.time()
    with ProcessPoolExecutor(n_proc, mp_context=get_context("spawn")) as pool:
        futs = [pool.submit(corpus_slice, params, sl) for sl in slices]
        spark = b.timed_setup("session", b.start_session)
        corpus = dict(kv for f in futs for kv in f.result())
    _write_corpus(corpus, corpus_path)
    b.setup["corpus"] = time.time() - t0
    docs = b.timed_setup(
        "bucketed_save",
        lambda: save_bucketed_corpus(
            spark, spark.read.parquet(str(corpus_path)), "perfbench_corpus",
            n_buckets=SHUFFLE_PARTITIONS,
        ),
    )
    cfg = CrawlConfig(max_crawl_depth=max(5, depth))
    store = SnapshotStore(b.work / "store")
    eng = CrawlEngine(spark, store, docs, cfg, prepared=True)
    with b.untimed():
        oracle = b.cached(
            f"crawl-v{b.args.seed}-{n_docs}-{depth}",
            lambda: _pick_root(corpus, cfg, depth),
        )
    seed_url = oracle["root"]

    def warm():
        wid = eng.start_crawl(seed_url, WARMUP_DEPTH, crawl_id="warmup")
        eng.run_crawl(wid)

    b.timed_setup("warmup", warm)
    b.end_setup()
    o_nodes = {k: tuple(v) for k, v in oracle["nodes"].items()}
    o_edges = {tuple(e) for e in oracle["edges"]}
    o_stats = oracle["stats"]

    crawl_s, waves_s, work, read_s = [], [], [], []
    stats: dict = {}
    t = b.tracer

    def job(k: int) -> None:
        cid = f"job{k}"
        try:
            with t.span("crawl") as crawl_idx:
                with t.span("start_crawl") as sc_idx:
                    eng.start_crawl(seed_url, depth, crawl_id=cid)
                with t.span("run_crawl") as rc_idx:
                    eng.run_crawl(cid)
        except Exception:  # noqa: BLE001 — counted as a failed operation
            traceback.print_exc()
            b.op(f"crawl {cid}", False)
            return
        wall = t.spans[crawl_idx].wall
        crawl_s.append(wall)
        # wave spans: commit-to-commit, from the markers' ts (wave 0 is
        # committed inside start_crawl, the rest inside run_crawl)
        summaries = [store.wave_summary(cid, w) for w in store.committed_waves(cid)]
        prev = t.spans[sc_idx].start
        intervals = []
        for s in summaries:
            parent = sc_idx if s["wave"] == 0 else rc_idx
            if s["wave"] == 1:
                prev = t.spans[rc_idx].start
            t.add(f"wave{s['wave']}", prev, s["ts"], parent)
            intervals.append(s["ts"] - prev)
            prev = s["ts"]
        waves_s.append(intervals)
        fetched = sum(s["fetched"] for s in summaries)
        links = sum(s["candidates"] + s["dedup_dropped"] for s in summaries)
        work.append(fetched + links)
        stats.update(
            waves=len(summaries), urls_fetched=fetched, links_seen=links,
            fresh_candidates=sum(s["candidates"] for s in summaries),
            children=sum(s["children"] for s in summaries),
            retries=sum(s["parent_retries"] for s in summaries),
            failed_urls=sum(s["failed"] for s in summaries),
            bloom_candidates=sum(s.get("bloom_candidates", 0) for s in summaries),
            start_crawl_s=t.spans[sc_idx].wall,
            run_crawl_self_s=t.self_time(rc_idx),
        )

        # correctness of the crawl: frontier keys, per-node (depth,
        # status), edge set, wave count and URLs fetched vs the oracle
        try:
            fr = store.frontier(spark, cid).select("full_key", "depth", "status").collect()
            ed = store.edges(spark, cid).select("src", "dst").collect()
            ok = (
                {r.full_key: (r.depth, r.status) for r in fr} == o_nodes
                and len(fr) == len(o_nodes)
                and {(r.src, r.dst) for r in ed} == o_edges
                and len(ed) == len(o_edges)
                and len(summaries) == oracle["waves"]
                and fetched == oracle["urls_fetched"]
            )
        except Exception:  # noqa: BLE001 — counted as a failed operation
            traceback.print_exc()
            ok = False
        b.op(f"crawl {cid}", ok)
        stats["nodes"] = len(o_nodes)

        # the read APIs (the reference's GET endpoints) on the finished crawl
        t_read = 0.0
        for name, call, check in (
            ("crawl_progress", lambda: api.crawl_progress(spark, store, cid),
             lambda r: r["total_urls"] == o_stats["total"]
             and all(r[s.replace("-", "_")] == o_stats[s]
                     for s in ("pending", "in-progress", "completed", "failed", "cancelled"))
             and r["derived_status"] == oracle["derived_status"]),
            ("crawl_stats", lambda: api.crawl_stats(spark, store, cid),
             lambda r: r["total_urls"] == o_stats["total"]
             and r["distinct_domains"] == o_stats["distinct_domains"]
             and r["max_depth"] == o_stats["max_depth"]
             and r["completed"] == o_stats["completed"]
             and r["failed"] == o_stats["failed"]),
            ("graph_data", lambda: api.graph_data(spark, store, cid),
             lambda r: not r["truncated"]
             and len(r["nodes"]) == 1 + len(o_nodes)
             and {(e["source"], e["target"]) for e in r["edges"]} == o_edges),
        ):
            try:
                with t.span(name) as idx:
                    res = call()
                t_read += t.spans[idx].wall
                stats.setdefault(f"{name}_s", []).append(t.spans[idx].wall)
                ok = bool(check(res))
            except Exception:  # noqa: BLE001 — counted as a failed operation
                traceback.print_exc()
                ok = False
            b.op(f"{name} {cid}", ok)
        read_s.append(t_read)

        if b.args.trace:
            with t.span("store.frontier_read") as idx:
                store.frontier(spark, cid).count()
            stats.setdefault("frontier_read_s", []).append(t.spans[idx].wall)
            with t.span("store.edges_read") as idx:
                store.edges(spark, cid).count()
            stats.setdefault("edges_read_s", []).append(t.spans[idx].wall)
            n_bytes, n_files = _dir_stats(store.crawl_dir(cid))
            stats.update(store_bytes=n_bytes, delta_files=n_files)

    b.loop(job)
    all_waves = [w for ws in waves_s for w in ws]
    e2e = {
        "job_s": median(crawl_s),
        "work_per_s": median([w / s for w, s in zip(work, crawl_s)]),
        "step_p50_s": median(all_waves),
    }
    report = {
        "crawl_s": (e2e["job_s"], "s"),
        "links_per_s": (e2e["work_per_s"], "1/s"),
        "wave_p50_s": (e2e["step_p50_s"], "s"),
        "wave_max_s": (max(all_waves, default=0.0), "s"),
        "read_api_s": (median(read_s), "s"),
        "crawls": (len(crawl_s), "count"),
        "waves": (stats.get("waves", 0), "count"),
        "urls_fetched": (stats.get("urls_fetched", 0), "count"),
        "links_deduped": (stats.get("links_seen", 0), "count"),
        "nodes": (stats.get("nodes", 0), "count"),
    }
    return {"e2e": e2e, "report": report, "stats": stats,
            "samples": {"wave_s": waves_s}}


def crawl_layers(b: Bench, res: dict, by_span: dict) -> dict:
    t, st = b.tracer, res["stats"]
    m: dict[str, float] = {}
    crawls = [i for i, s in enumerate(t.spans) if s.name == "crawl"]
    waves = [i for c in crawls for i in tr.subtree(t, c) if t.spans[i].name.startswith("wave")]
    gap, n_stages, n_tasks = [], [], []
    for w in waves:
        sp = t.spans[w]
        stages = by_span[w]
        busy = tr.union_seconds(
            [(max(s.submit, sp.start), min(s.complete, sp.end)) for s in stages]
        )
        gap.append(sp.wall - busy)
        n_stages.append(len(stages))
        n_tasks.append(sum(s.tasks for s in stages))
    crawl_stages = [s for c in crawls for i in tr.subtree(t, c) for s in by_span[i]]
    per_crawl = max(1, len(crawls))
    m["engine.driver_gap_s"] = sum(gap) / per_crawl
    m["engine.stages_per_wave"] = median(n_stages)
    m["engine.tasks_per_wave"] = median(n_tasks)
    m["engine.start_crawl_s"] = st["start_crawl_s"]
    waves_s = res["samples"]["wave_s"]
    per_wave = list(zip(*[ws + [0.0] * N_WAVE_SLOTS for ws in waves_s]))
    for k in range(N_WAVE_SLOTS):
        m[f"engine.wave_s.w{k}"] = median(list(per_wave[k]))
    m["engine.wave_max_s"] = max((w for ws in waves_s for w in ws), default=0.0)
    m["engine.executor_cpu_s"] = sum(s.cpu_s for s in crawl_stages) / per_crawl
    m["engine.gc_s"] = sum(s.gc_s for s in crawl_stages) / per_crawl
    m["engine.shuffle_write_mb"] = sum(s.shuffle_write_mb for s in crawl_stages) / per_crawl
    m["engine.spill_mb"] = sum(s.spill_mb for s in crawl_stages) / per_crawl
    m["engine.task_skew"] = tr.task_skew(crawl_stages)
    m["engine.waves"] = st["waves"]
    m["engine.urls_fetched"] = st["urls_fetched"]
    m["engine.links_seen"] = st["links_seen"]
    m["engine.fresh_candidates"] = st["fresh_candidates"]
    m["engine.fresh_ratio"] = st["fresh_candidates"] / max(1, st["links_seen"])
    m["engine.admit_ratio"] = st["children"] / max(1, st["fresh_candidates"])
    m["engine.retries"] = st["retries"]
    m["engine.failed_urls"] = st["failed_urls"]
    m["dedup.bloom_candidates"] = st["bloom_candidates"]
    m["store.frontier_read_s"] = median(st["frontier_read_s"])
    m["store.edges_read_s"] = median(st["edges_read_s"])
    m["store.delta_files"] = st["delta_files"]
    m["store.bytes_written_mb"] = st["store_bytes"] / 1e6
    m["store.bytes_per_node"] = st["store_bytes"] / max(1, st["nodes"])
    for name in ("crawl_progress", "crawl_stats", "graph_data"):
        m[f"queries.{name}_s"] = median(st[f"{name}_s"])
    m["span.run_crawl.self_s"] = st["run_crawl_self_s"]
    return m


# ---------------------------------------------------------------------------
# operator_queries
# ---------------------------------------------------------------------------

def _query_oracle(table_dir: Path, canon) -> dict:
    import duckdb

    import __spark_entry__ as entry_mod

    oracles = entry_mod.oracle_sql()
    con = duckdb.connect(config={"threads": 1})
    try:
        for p in sorted(table_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        out = {}
        for name in BENCH_QUERIES:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            out[name] = {
                "cols": sorted(cols),
                "rows": [list(r) for r in canon(res.fetchall(), cols)],
            }
        return out
    finally:
        con.close()


def operator_queries(b: Bench) -> dict:
    import __spark_entry__ as entry_mod
    from tables import write_tables

    canon = load_by_path("check_entry", ROOT / "scripts" / "check_entry.py").canon
    table_dir = b.work / "tables"
    scale = b.size["scale"]
    rows = b.timed_setup("corpus", lambda: write_tables(table_dir, b.args.seed, scale))
    b.setup["bucketed_save"] = 0.0
    # the DuckDB oracle (one thread; outside every timed query) runs while
    # the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle_fut = pool.submit(
            b.cached, f"queries-{b.args.seed}-{scale}",
            lambda: _query_oracle(table_dir, canon),
        )
        spark = b.timed_setup("session", b.start_session)
        oracle = oracle_fut.result()
    qs = entry_mod.queries()
    sf = str(table_dir)

    def warm():
        # tiny tables give the same plans and Python operators, so one
        # pass over them absorbs JIT, codegen and Python-worker start-up;
        # it is latency-bound, so the queries run NPROC at a time
        warm_dir = str(b.work / "warmup_tables")
        write_tables(Path(warm_dir), b.args.seed, WARMUP_SCALE)
        with ThreadPoolExecutor(NPROC) as pool:
            for f in [pool.submit(lambda q: qs[q](spark, warm_dir).collect(), name)
                      for name in BENCH_QUERIES]:
                f.result()

    b.timed_setup("warmup", warm)
    b.end_setup()
    media_rows = entry_mod.MEDIA_DEMO_DOCS
    work_rows = sum(
        sum(rows[tb] for tb in tabs) if tabs else media_rows
        for tabs in BENCH_QUERIES.values()
    )
    t = b.tracer
    pass_s: list[float] = []
    q_s: dict[str, list[float]] = {q: [] for q in BENCH_QUERIES}
    suite_self: list[float] = []

    def job(k: int) -> None:
        results = {}
        with t.span("query_suite") as suite_idx:
            for name in BENCH_QUERIES:
                try:
                    with t.span(name) as idx:
                        df = qs[name](spark, sf)
                        results[name] = (df.columns, df.collect())
                    q_s[name].append(t.spans[idx].wall)
                except Exception:  # noqa: BLE001 — counted as a failed operation
                    traceback.print_exc()
                    results[name] = None
        pass_s.append(t.spans[suite_idx].wall)
        suite_self.append(t.self_time(suite_idx))
        for name, got in results.items():
            ok = got is not None
            if ok:
                cols, rows_ = got
                want = oracle[name]
                ok = (
                    sorted(cols) == want["cols"]
                    and [list(r) for r in canon([tuple(r) for r in rows_], cols)]
                    == want["rows"]
                )
            b.op(f"query {name} pass {k}", ok)

    b.loop(job)
    per_query = {q: median(v) for q, v in q_s.items()}
    e2e = {
        "job_s": median(pass_s),
        "work_per_s": median([work_rows / s for s in pass_s]),
        "step_p50_s": median(list(per_query.values())),
    }
    groups = {g: sum(per_query[q] for q in qs_) for g, qs_ in QUERY_GROUPS.items()}
    report = {
        "query_suite_s": (e2e["job_s"], "s"),
        "text_dedup_s": (groups["text_dedup"], "s"),
        "vector_s": (groups["vector"], "s"),
        "relational_s": (groups["relational"], "s"),
        "rows_per_s": (e2e["work_per_s"], "1/s"),
        "query_p50_s": (e2e["step_p50_s"], "s"),
        "passes": (len(pass_s), "count"),
        "input_rows": (work_rows, "count"),
    }
    return {"e2e": e2e, "report": report, "per_query": per_query,
            "groups": groups, "suite_self": suite_self, "samples": q_s}


def query_layers(b: Bench, res: dict, by_span: dict) -> dict:
    t = b.tracer
    m: dict[str, float] = {}
    for q in BENCH_QUERIES:
        idxs = [i for i, s in enumerate(t.spans) if s.name == q]
        stages = [s for i in idxs for s in by_span[i]]
        n = max(1, len(idxs))
        m[f"q.{q}_s"] = res["per_query"][q]
        m[f"q.{q}.tasks"] = sum(s.tasks for s in stages) / n
        m[f"q.{q}.python_s"] = sum(s.python_s for s in stages) / n
        m[f"q.{q}.shuffle_mb"] = sum(s.shuffle_write_mb for s in stages) / n
        m[f"q.{q}.task_skew"] = tr.task_skew(stages)
    for g, v in res["groups"].items():
        m[f"q.{g}_s"] = v
    m["span.query_suite.self_s"] = median(res["suite_self"])
    return m


WORKLOADS = {
    "deep_crawl": (deep_crawl, crawl_layers),
    "operator_queries": (operator_queries, query_layers),
}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def record_path(args: argparse.Namespace, records: Path) -> Path:
    return records / f"{args.workload}-{args.seed}-{int(args.tiny)}.json"


def untraced_job_s(args: argparse.Namespace, records: Path) -> float:
    """job_s of untraced runs at the same workload and size: the median of
    the records earlier untraced runs left (at any seed: the work done
    hardly depends on it), else that of a fresh untraced run at this seed."""
    recs = sorted(records.glob(f"{args.workload}-*-{int(args.tiny)}.json"))
    if not recs:
        cmd = [sys.executable, str(Path(__file__).resolve()),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        if args.tiny:
            cmd.append("--tiny")
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=600)
        recs = [record_path(args, records)]
    return median([json.loads(r.read_text())["job_s"] for r in recs])


def check_checkout() -> None:
    """The benchmark drives the program in its own checkout; refuse to
    run without it (or against some other installed copy)."""
    needed = [
        ROOT / "web_crawler_spark" / "__init__.py",
        ROOT / "__spark_entry__.py",
        ROOT / "scripts" / "analyze_eventlog.py",
        ROOT / "scripts" / "check_entry.py",
    ]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if missing:
        raise SystemExit(f"perfbench: program sources missing: {missing}")
    sys.path.insert(0, str(ROOT))
    import web_crawler_spark

    if Path(web_crawler_spark.__file__).resolve().parent != ROOT / "web_crawler_spark":
        raise SystemExit("perfbench: web_crawler_spark is not the checkout's copy")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs (2k-doc crawl, sf0.001 tables) for the self-test")
    args = ap.parse_args()
    check_checkout()

    state = ROOT / ".perfbench"
    cache, records = state / "cache", state / "records"
    for d in (cache, records):
        d.mkdir(parents=True, exist_ok=True)
    free_gb = shutil.disk_usage(state).free / 1e9
    if free_gb < 2.0:
        raise SystemExit(f"perfbench: {free_gb:.1f} GB free under {state}, need 2")
    untraced = untraced_job_s(args, records) if args.trace else None

    work = state / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Python's and pyspark's temp files (gateway handshake, worker pools)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    b = Bench(args, work, cache)
    run, layers = WORKLOADS[args.workload]
    jiffies0 = cpu_jiffies()
    try:
        with RssSampler() as rss:
            res = run(b)
            stop_spark(b)
        jiffies1 = cpu_jiffies()
        setup_s = b.setup_s
        e2e = dict(res["e2e"], setup_s=setup_s)
        metrics: dict[str, float]
        if args.trace:
            load_events = load_by_path(
                "analyze_eventlog", ROOT / "scripts" / "analyze_eventlog.py"
            ).load_events
            by_span = tr.attribute(b.tracer, tr.read_stages(load_events, b.eventlog))
            metrics = {f"setup.{k}_s": v for k, v in b.setup.items()}
            metrics.update(layers(b, res, by_span))
            metrics["mem.peak_rss_mb"] = rss.peak_mb
            metrics["trace.job_s"] = e2e["job_s"]
            metrics["trace.overhead_s"] = e2e["job_s"] - untraced
            units = per_layer_units()
        else:
            metrics = e2e
            units = END_TO_END_UNITS
            record_path(args, records).write_text(json.dumps({"job_s": e2e["job_s"]}))
        metrics = {k: metrics.get(k, 0.0) for k in units}
    finally:
        stop_spark(b)
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)

    d_all, d_steal = jiffies1[0] - jiffies0[0], jiffies1[1] - jiffies0[1]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "context": {
            "nproc": NPROC,
            "mem_total_mb": mem_total_mb(),
            "driver_memory_gb": b.driver_mem_gb,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "cpu_steal_pct": round(100.0 * d_steal / d_all, 3) if d_all else 0.0,
        },
        "metrics": {
            **{k: {"value": v, "unit": u} for k, (v, u) in res["report"].items()},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
            "failed_frac": {"value": b.failed / max(1, b.attempted), "unit": "ratio"},
        },
        "setup": b.setup,
        "samples_s": res["samples"],
        "failed_ops": b.errors,
    }
    if args.trace:
        report["spans"] = b.tracer.tree()
    print(json.dumps(report), flush=True)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    become_subreaper()
    # a SIGTERM unwinds through main's clean-up like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        sys.exit(main())
    finally:
        stop_descendants()
