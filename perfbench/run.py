"""Benchmark of the lucene_solr_spark search engine through its public
``SearchEngine`` facade, on ``local[nproc]`` from one driver process.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It prints a readable report and, as
its last line, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
wraps each layer's public functions, records spans, writes them to
``.perfbench/traces/`` and reports the per-layer metrics.

Both workloads are one client in a closed loop (each call waits for its
reply) and run every operation; they differ in what dominates:

* ``bulk_build`` indexes a fresh 160-document (about 1.6 MB) corpus with
  ``index_corpus`` inside the timed window, runs single ``search`` calls
  and three ``search_batch`` calls over distinct queries (no repeats, so no
  cache can help) and one append / delete / merge / refresh cycle. At
  this size the build's Spark jobs and the JVM's warm-up cost more than
  the per-term work of analysis, inversion and segment encoding.
* ``nrt_churn`` builds a 44-document base index of 11 segments during
  set-up. One client first issues single searches against it, a Zipf
  stream in which head queries repeat on the same searcher, so its
  query caches are hit. Then it runs append / delete / merge / refresh
  cycles (the first append pushes the default tiered policy into a
  10-way merge), and ends with three ``search_batch`` calls over the
  tombstoned index, which the kernel scores exhaustively. Per-call fixed
  costs, tombstones and merges dominate.

One cycle always runs; more run only while the window is shorter than
``--seconds``. Every commit replaces the searcher, so only searches made
before the first commit can hit a query cache.

End-to-end metrics:

* ``setup_s``: process start to the timed window: session, input
  generation, and the worker warm-up (bulk_build) or the base index
  (nrt_churn).
* ``build_mb_per_s``: content MB per second of the ``index_corpus`` call.
* ``batch_qps``: queries per second of a ``search_batch`` call, collected
  (median over three distinct query sets).
* ``index_bytes_ratio``: on-disk index bytes per content byte indexed,
  at the end of the window.
* ``query_p50_ms``: median ms per single ``search`` call.
* ``append_p50_s``: median s from ``append`` to a committed, searchable
  segment.
* ``nrt_docs_per_s``: docs appended per second of the whole
  append / delete / merge / refresh loop.

Correctness is checked after the window: results taken before any NRT
commit against ``oracle.engine.OracleIndex`` (top-10 ids and float32
score bits), a repeated query against the hits it first returned, that
no batch over the churned index returns a deleted doc, and that the
committed doc count matches. Failed or wrong operations count in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()

import numpy as np  # noqa: E402

from check import doc_count_mismatch, oracle_index, oracle_mismatch  # noqa: E402
from corpus import (  # noqa: E402
    CorpusGenerator,
    distinct_queries,
    repeated_share,
    zipf_stream,
)
from tracing import Tracer, cpu_sample, cpu_shares  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(OUT, "work")

# The JVM runs with the program's default JIT and GC. Only the heap is
# pinned, to fit a 15 GB host that also runs the Python workers, and the
# hsperfdata file, which the JVM would otherwise write to /tmp, is off.
JAVA_OPTS = "-XX:-UsePerfData"
DRIVER_MEMORY = "2g"

WORKLOADS = {
    "bulk_build": dict(
        base_docs=160, segment_size=64, build_in_setup=False, batch_queries=240,
        static_queries=6, static_pool=6,
    ),
    "nrt_churn": dict(
        # 11 base segments: the first append takes the index past the
        # default tiered policy's allowed count, so every run merges
        # 6 searches over a pool of 4 distinct ones: a 0.33 repeated share
        base_docs=44, segment_size=4, build_in_setup=True, batch_queries=40,
        static_queries=6, static_pool=4,
    ),
}
APPEND_DOCS = 16  # per NRT cycle
DELETES = 4  # per NRT cycle
MAX_CYCLES = 8  # at least one cycle runs; more while --seconds lasts
BATCHES = 3  # distinct query sets; batch_qps is their median
# single searches cycle through the query shapes, so that the few a run
# makes have the same mix on every seed
SINGLE_KINDS = ("term", "and", "phrase", "or", "prefix", "fuzzy")
ORACLE_SAMPLE = 8
K = 10


def pct(values: list[float], q: float) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def supported_pct(n: int) -> int:
    """Highest percentile with at least ten samples beyond it."""
    for p in (99, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def file_states(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(path: str) -> int:
    return sum(size for size, _ in file_states(path).values())


def bytes_written(before: dict, after: dict) -> int:
    return sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))


# ------------------------------------------------------------ environment


def pin_environment() -> None:
    """Workers must import the program; every scratch file lives under
    the checkout's ``.perfbench/work`` and is cleared per run."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def start_spark(cores: int):
    from lucene_solr_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"{JAVA_OPTS} -Djava.io.tmpdir={WORK}/tmp",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every process this
    run started (Python worker daemons are re-parented when the JVM
    exits, so they are listed before it goes)."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


WORKER_MODULES = (
    "pyarrow",
    "lucene_solr_spark.functions.analysis",
    "lucene_solr_spark.functions.fast_tokenizer",
    "lucene_solr_spark.operators.index_build",
    "lucene_solr_spark.operators.segments",
    "lucene_solr_spark.operators.merge_policy",
    "lucene_solr_spark.operators.topk",
)


def warm_workers(spark) -> None:
    """Start the Python workers and import the kernels' modules once,
    the per-session cost every user pays before the first call."""

    def warm(it):
        import importlib

        for m in WORKER_MODULES:
            importlib.import_module(m)
        time.sleep(0.25)  # hold the slot, so every core starts a worker
        yield from it

    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, numPartitions=cores).mapInPandas(warm, "id long").collect()


def corpus_df(spark, corpus, first: int = 0):
    import pandas as pd

    cols = corpus.keys(first)
    cols["content"] = corpus.contents
    return spark.createDataFrame(
        pd.DataFrame(cols), "repo string, path string, commit string, content string"
    )


# ------------------------------------------------------------ workload


class Run:
    """One workload run: the timed operations, their samples and the
    attempted / failed accounting."""

    def __init__(self, spark, args, tracer):
        self.spark, self.args, self.tr = spark, args, tracer
        self.p = p = WORKLOADS[args.workload]
        self.gen = gen = CorpusGenerator(args.seed)
        self.base = gen.docs(p["base_docs"], stream=0)
        pool = distinct_queries(self.base, args.seed, BATCHES * p["batch_queries"])
        n = p["batch_queries"]
        self.batches = [pool[i * n : (i + 1) * n] for i in range(BATCHES)]
        # single searches, all before any commit: the pool of distinct
        # queries, or a Zipf stream over it when the stream is longer
        n_pool, n_static = p["static_pool"], p["static_queries"]
        self.static = distinct_queries(self.base, args.seed, n_pool, kinds=SINGLE_KINDS)
        if n_static > n_pool:
            self.static = zipf_stream(self.static, n_static)
        self.issued: list[str] = []
        self.first_hits: dict[str, list] = {}
        self.rng = np.random.default_rng([args.seed, 4])
        self.base_path = os.path.join(WORK, "index")
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.eng = None
        self.s: dict[str, list[float]] = {
            k: [] for k in ("build", "batch", "query", "append", "write")
        }
        self.cpu: dict[str, dict] = {}
        self.static_hits: list[tuple[str, list]] = []
        self.batch_hits: dict[str, list] = {}
        self.deleted: set[int] = set()
        self.n_indexed = 0
        self.appended_docs = 0
        self.appended_bytes = 0
        self.write_bytes = {"append": 0, "merge": 0}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def op(self, name: str, fn, **attrs):
        """Run one operation, timing it; an exception counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.span(name, **attrs):
                out = fn()
        except Exception as e:  # keep the loop running, report the failure
            traceback.print_exc()
            self.fail(f"{name}: {type(e).__name__}: {e}")
            return None, time.perf_counter() - t0
        return out, time.perf_counter() - t0

    def phase_cpu(self, name: str, fn) -> None:
        a = cpu_sample()
        fn()
        self.cpu[name] = cpu_shares(a, cpu_sample())

    # --- operations
    def build(self) -> None:
        from lucene_solr_spark.api import SearchEngine

        self.tr.group = "build"
        df = corpus_df(self.spark, self.base)
        eng, dt = self.op(
            "api.index_corpus",
            lambda: SearchEngine.index_corpus(
                self.spark, df, self.base_path, segment_size=self.p["segment_size"]
            ),
        )
        if eng is None:
            raise RuntimeError("index_corpus failed; nothing to measure")
        self.eng = eng
        self.n_indexed = len(self.base.contents)
        self.s["build"].append(dt)

    def snapshot(self) -> dict | None:
        """Index file states, taken in traced runs only; the walk counts
        as tracing overhead."""
        if not self.tr.enabled:
            return None
        t0 = time.perf_counter()
        out = file_states(self.base_path)
        self.tr.overhead_s += time.perf_counter() - t0
        return out

    def search(self, q: str) -> None:
        """One single search, made before any commit; a repeat must
        return the hits it first returned."""
        self.tr.group = f"q{len(self.issued)}"
        first = q not in self.issued
        self.issued.append(q)
        hits, dt = self.op(
            "api.search",
            lambda: [(h.doc_id, h.score) for h in self.eng.search(q, k=K)],
            query=q,
            first=first,
        )
        if hits is not None:
            self.s["query"].append(dt)
            self.static_hits.append((q, hits))
            want = self.first_hits.setdefault(q, hits)
            if hits != want:
                self.fail(f"repeat of {q!r} returned {hits[:3]}... != first {want[:3]}...")

    def search_batch(self, batch: list[str]) -> None:
        self.tr.group = f"batch{len(self.s['batch'])}"

        def call():
            df = self.eng.search_batch({str(i): q for i, q in enumerate(batch)}, k=K)
            with self.tr.span("topk.exec_batch"):
                return df.collect()

        rows, dt = self.op("api.search_batch", call)
        if rows is None:
            return
        self.s["batch"].append(dt)
        by_q: dict[str, list] = {q: [] for q in batch}
        for r in rows:
            by_q[batch[int(r["query_id"])]].append((int(r["doc_id"]), float(r["score"])))
        for q, hits in by_q.items():
            hits.sort(key=lambda h: (-h[1], h[0]))
            if any(d in self.deleted for d, _ in hits):
                self.fail(f"batch {q!r} returned a deleted doc")
        self.batch_hits.update(by_q)

    def cycle(self, i: int) -> None:
        c = self.gen.docs(APPEND_DOCS, stream=1 + i)
        self.tr.group = f"a{i}"
        first = self.eng.index.manifest().get("next_doc_id", self.eng.index.doc_count)
        df = corpus_df(self.spark, c, first=first)
        before = self.snapshot()
        _, t_app = self.op("api.append", lambda: self.eng.append(df))
        if before is not None:
            self.write_bytes["append"] += bytes_written(before, self.snapshot())
        self.s["append"].append(t_app)
        self.n_indexed += len(c.contents)
        self.appended_docs += len(c.contents)
        self.appended_bytes += c.content_bytes
        live = sorted(set(range(first + len(c.contents))) - self.deleted)
        ids = [int(x) for x in self.rng.choice(live, DELETES, replace=False)]
        _, t_del = self.op("api.delete_ids", lambda: self.eng.delete_ids(ids))
        self.deleted.update(ids)
        before = self.snapshot()
        _, t_merge = self.op("api.merge", lambda: self.eng.merge())
        if before is not None:
            self.write_bytes["merge"] += bytes_written(before, self.snapshot())
        _, t_ref = self.op("api.refresh", lambda: self.eng.refresh())
        self.s["write"].append(t_app + t_del + t_merge + t_ref)
        self.attempted += 1
        bad = doc_count_mismatch(self.eng.index, self.n_indexed, len(self.deleted))
        if bad:
            self.fail(bad)

    # --- the workload
    def run(self) -> None:
        p = self.p
        if p["build_in_setup"]:
            self.phase_cpu("build", self.build)  # starts the workers too
        else:
            warm_workers(self.spark)
        self.t_window = time.perf_counter()
        self.setup_s = self.t_window - T_START
        cpu0 = cpu_sample()
        with self.tr.span("window"):
            if not p["build_in_setup"]:
                self.phase_cpu("build", self.build)

            def batches():
                for batch in self.batches:
                    self.search_batch(batch)

            def query():
                for q in self.static:
                    self.search(q)
                if not p["build_in_setup"]:
                    batches()

            def churn():
                i = 0
                while i == 0 or (
                    time.perf_counter() - self.t_window < self.args.seconds
                    and i < MAX_CYCLES
                ):
                    self.cycle(i)
                    i += 1
                if p["build_in_setup"]:
                    batches()

            # the batch runs on the fresh index on bulk_build and on the
            # tombstoned, merged index on nrt_churn
            self.phase_cpu("query", query)
            self.phase_cpu("churn", churn)
        self.window_s = time.perf_counter() - self.t_window
        self.cpu["window"] = cpu_shares(cpu0, cpu_sample())
        self.index_bytes = dir_bytes(self.base_path)

    def check(self) -> None:
        """Oracle comparison of results taken before any NRT commit: the
        static searches, and on bulk_build a sample of the batch."""
        sample = []
        if not self.p["build_in_setup"]:
            rng = np.random.default_rng([self.args.seed, 5])
            qs = sorted(self.batch_hits)
            pick = rng.choice(len(qs), min(ORACLE_SAMPLE, len(qs)), replace=False)
            sample = [(qs[i], self.batch_hits[qs[i]]) for i in pick]
        sample += self.static_hits
        oracle = oracle_index(self.base.contents, 0)
        for q, hits in sample:
            self.attempted += 1
            try:
                bad = oracle_mismatch(oracle, q, hits, K)
            except Exception as e:
                traceback.print_exc()
                bad = f"oracle {q!r}: {type(e).__name__}: {e}"
            if bad:
                self.fail(bad)

    # --- reporting
    def end_to_end(self) -> dict[str, tuple[float, str]]:
        s = self.s
        content_mb = self.base.content_bytes / 1e6
        return {
            "setup_s": (self.setup_s, "s"),
            "build_mb_per_s": (content_mb / s["build"][0], "MB/s"),
            "batch_qps": (self.p["batch_queries"] / statistics.median(s["batch"]), "1/s"),
            "index_bytes_ratio": (
                self.index_bytes / (self.base.content_bytes + self.appended_bytes),
                "B/B",
            ),
            "query_p50_ms": (1000 * statistics.median(s["query"]), "ms"),
            "append_p50_s": (statistics.median(s["append"]), "s"),
            "nrt_docs_per_s": (self.appended_docs / sum(s["write"]), "1/s"),
        }

    def describe(self) -> list[str]:
        q = self.s["query"]
        sp = supported_pct(len(q))
        lines = [
            f"workload {self.args.workload} seed {self.args.seed} trace {int(self.tr.enabled)}",
            f"corpus: {len(self.base.contents)} docs, {self.base.content_bytes / 1e6:.2f} MB, "
            f"{self.base.distinct_terms} distinct terms; {self.appended_docs} docs appended",
            f"queries: {len(self.batches)} batches of {self.p['batch_queries']} distinct; "
            f"{len(q)} single, {len(self.static)} of them before any commit, "
            f"repeated share of all issued {repeated_share(self.issued):.2f}; "
            f"p{sp} {1000 * pct(q, sp / 100):.1f} ms (n={len(q)}), "
            f"max {1000 * max(q):.1f} ms",
            "batch s: " + ", ".join(f"{t:.2f}" for t in self.s["batch"]),
            f"window {self.window_s:.1f} s, cpu busy {self.cpu['window']['busy_pct']:.0f}% "
            f"steal {self.cpu['window']['steal_pct']:.1f}%; appends n={len(self.s['append'])}; "
            f"error_rate {self.failed / max(1, self.attempted):.4f} "
            f"({self.failed}/{self.attempted})",
        ]
        lines += [f"error: {e}" for e in self.errors[:20]]
        return lines


# ------------------------------------------------------------ per-layer


def layer_metrics(run: Run, tr) -> dict[str, tuple[float, str]]:
    import pyarrow.parquet as pq

    from lucene_solr_spark.codecs.postings_codec import EncodedPostings, decode_postings
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize

    def med(xs, scale=1.0):
        return scale * statistics.median(xs) if xs else 0.0

    def in_group(spans, group):
        return [s for s in spans if s["group"] == group]

    m: dict[str, tuple[float, str]] = {}

    # analysis: driver-side tokenizer over the base corpus
    times, n_tok = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        tdoc, _, _ = batch_tokenize(run.base.contents)
        times.append(time.perf_counter() - t0)
        n_tok = len(tdoc)
    m["analysis.tokenize_mb_per_s"] = (run.base.content_bytes / 1e6 / min(times), "MB/s")
    m["analysis.tokens"] = (n_tok, "count")

    # index build and segments: the index_corpus call
    bi = in_group(tr.of("index_build.build_index"), "build")
    bs = in_group(tr.of("segments.build_segments"), "build")
    m["index_build.build_index_s"] = (sum(map(tr.dur, bi)), "s")
    m["index_build.jobs"] = (sum(s["jobs"] for s in bi), "count")
    m["index_build.tasks"] = (sum(s["tasks"] for s in bi), "count")
    m["segments.build_segments_s"] = (sum(map(tr.dur, bs)), "s")
    m["segments.jobs"] = (sum(s["jobs"] for s in bs), "count")
    m["segments.tasks"] = (sum(s["tasks"] for s in bs), "count")
    man = run.eng.index.manifest()
    postings = sum(s["n_postings"] for s in man["segments"])
    terms = pq.read_table(run.eng.index.term_stats_path, columns=["term"]).num_rows
    m["index_build.postings"] = (postings, "count")
    m["index_build.terms"] = (terms, "count")
    m["segments.bytes_on_disk"] = (run.index_bytes, "B")
    seg_bytes = dir_bytes(run.eng.index.segments_path)
    m["codec.bytes_per_posting"] = (seg_bytes / max(1, postings), "B")

    # codec: decode the longest block-encoded lists of the largest segment
    big = max(man["segments"], key=lambda s: s["n_postings"])["segment_id"]
    tbl = pq.read_table(f"{run.eng.index.segments_path}/segment_id={big}").to_pandas()
    tbl = tbl.nlargest(200, "df")

    def arr(v, dt):
        return np.empty(0, dt) if v is None else np.asarray(v, dt)

    encs = [
        EncodedPostings(
            df=int(r.df), ttf=int(r.ttf), doc_blob=bytes(r.doc_blob or b""),
            tf_blob=bytes(r.tf_blob or b""), tail_blob=bytes(r.tail_blob or b""),
            n_full_blocks=int(r.n_full_blocks),
            block_first=arr(r.block_first, np.int64), block_last=arr(r.block_last, np.int64),
            imp_freq=arr(r.imp_freq, np.int32), imp_norm=arr(r.imp_norm, np.int32),
            imp_off=arr(r.imp_off, np.int32), singleton_doc=int(r.singleton_doc),
            singleton_tf=int(r.singleton_tf),
        )
        for r in tbl.itertuples()
    ]
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        for e in encs:
            decode_postings(e)
        times.append(time.perf_counter() - t0)
    n_dec = sum(e.df for e in encs)
    m["codec.decode_mints_per_s"] = (n_dec / 1e6 / min(times) if encs else 0.0, "M/s")

    # plans and top-k
    m["plans.parse_us_p50"] = (med([tr.dur(s) for s in tr.of("plans.parse")], 1e6), "us")
    m["plans.rewrite_us_p50"] = (med([tr.dur(s) for s in tr.of("plans.rewrite")], 1e6), "us")
    searches = tr.of("api.search")
    plan = [
        tr.dur(s) for s in tr.of("topk.plan")
        if s["parent"] is not None and tr.spans[s["parent"]]["name"] == "api.search"
    ]
    m["topk.plan_ms_p50"] = (med(plan, 1e3), "ms")
    m["topk.exec_ms_p50"] = (med([tr.self_time(s) for s in searches], 1e3), "ms")
    m["topk.stats_ms_p50"] = (med([tr.dur(s) for s in tr.of("topk.stats")], 1e3), "ms")
    m["topk.jobs_per_query_first"] = (med([s["jobs"] for s in searches if s["first"]]), "count")
    m["topk.jobs_per_query_repeat"] = (
        med([s["jobs"] for s in searches if not s["first"]]), "count")
    m["topk.kernel_tasks"] = (med([s["kernel_tasks"] for s in searches]), "count")
    m["topk.batch_exec_s"] = (sum(tr.dur(s) for s in tr.of("topk.exec_batch")), "s")

    # api / nrt / deletes / merges
    m["api.refresh_ms_p50"] = (med([tr.dur(s) for s in tr.of("api.refresh")], 1e3), "ms")
    app = tr.of("nrt.append_batch")
    m["nrt.append_self_s_p50"] = (med([tr.self_time(s) for s in app]), "s")
    m["nrt.jobs_per_append"] = (med([s["jobs"] for s in app]), "count")
    dels = tr.of("deletes.delete_by_ids")
    m["deletes.delete_ms_p50"] = (med([tr.dur(s) for s in dels], 1e3), "ms")
    m["deletes.tombstones"] = (dels[-1].get("result", 0) if dels else 0, "count")
    fm = tr.of("merge.find_merges")
    m["merge.find_merges_ms"] = (med([tr.dur(s) for s in fm], 1e3), "ms")
    m["merge.run_merges_s"] = (med([tr.dur(s) for s in tr.of("merge.run_merges")]), "s")
    m["merge.merges"] = (sum(s.get("result", 0) for s in fm), "count")
    m["merge.bytes_rewritten"] = (run.write_bytes["merge"], "B")
    m["merge.write_amp"] = (
        (run.write_bytes["append"] + run.write_bytes["merge"]) / max(1, run.appended_bytes),
        "B/B",
    )
    m["merge.segments_live"] = (len(man["segments"]), "count")

    # spark and host, over the timed window
    win = tr.of("window")[0]
    m["spark.jobs"] = (win["jobs"], "count")
    m["spark.tasks"] = (win["tasks"], "count")
    m["spark.failed_tasks"] = (win["failed_tasks"], "count")
    for phase in ("build", "query", "churn"):
        m[f"host.{phase}.cpu_busy_pct"] = (run.cpu[phase]["busy_pct"], "%")
    m["host.cpu_steal_pct"] = (run.cpu["window"]["steal_pct"], "%")
    m["trace.spans"] = (len(tr.spans), "count")
    m["trace.overhead_pct"] = (100.0 * tr.overhead_s / run.window_s, "%")
    return m


# ------------------------------------------------------------ main


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import lucene_solr_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    pin_environment()
    spark = None
    try:
        spark = start_spark(len(os.sched_getaffinity(0)))  # nproc
        tr = Tracer(spark.sparkContext, enabled=bool(args.trace))
        if args.trace:
            tr.wrap_layers()
        run = Run(spark, args, tr)
        run.run()
        tr.unwrap_all()
        run.check()
        e2e = run.end_to_end()
        metrics = layer_metrics(run, tr) if args.trace else e2e
        if args.trace:
            path = os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.jsonl")
            tr.dump(path)
            print(f"spans: {path}")
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    for line in run.describe():
        print(line)
    if args.trace:
        print("end-to-end (traced): " + ", ".join(f"{k} {v:.4g} {u}" for k, (v, u) in e2e.items()))
    for k, (v, u) in metrics.items():
        print(f"  {k:32s} {v:14.6g} {u}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
