"""The benchmark's workloads, run against the program's public functions.

Both workloads share one run shape, so every run reports every metric:

1. set-up: start the Spark session (``session.get_spark``), read a seeded
   text directory (``sources.read_text_dir``) and build the persisted
   chunk IVF index from it (``embed.chunk_index_build``);
2. on serve one warm-up query; then the measured window: rounds, each
   client running its cycle once per round, until the window is over
   and at least a minimum number of rounds has run. The cycle is what
   differs between workloads:
   - ``serve``: 4 closed-loop clients send Zipf-skewed queries, so
     popular ones repeat, to ``embed.chunk_search_persisted`` on the
     static index, two rounds at least;
   - ``update_mix``: one closed-loop client alternates an append of
     fresh docs (``embed.chunk_index_append``) with three queries on the
     growing index, no query text repeating, two rounds at least;
3. the whole query pool through the IVF batch search
   (``ivf.ivf_search_persisted_batch``), for recall;
4. checks against a NumPy copy of the index read back after the run.

A traced run adds spans and job counts around the same calls, then
replays one build and a few queries layer by layer, through the public
functions each layer exports, to attribute time to layers.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from faiss_vector_search_spark import session
from faiss_vector_search_spark.operators import chunking, embed, index_store, ivf, knn
from faiss_vector_search_spark.sources import text_dir
from pyspark.sql import functions as F

from checks import IndexCopy, check_ranked, recall
from inputs import make_inputs, repeat_share, write_text_dir
from tracing import NullTracer, Tracer

CPUS = 4
K = 10
NPROBE = 4
NLIST = 16
DIM = 64
HASH_FN = "xxhash64"  # the production hash profile
N_DOCS = 100
DOCS_PER_APPEND = 16
POOL_SIZE = 768
STREAM_LEN = 4000
REPLAY_QUERIES = 3
CHUNKING = {"min_size": 100, "max_size": 250, "overlap": 20}  # chunk_index_build defaults


@dataclass
class Workload:
    clients: int
    warmup: bool  # one query before the window, left out of the figures
    cycle: tuple[str, ...]  # every client runs these once per round
    min_rounds: int  # rounds run even when the window is over sooner
    repeats: bool  # Zipf-skewed query stream; otherwise no text repeats


WORKLOADS = {
    # serve's warm-up query compiles the query plans, so its first round of
    # 4 concurrent queries is not slower than the next. Its repeats let a
    # result cache work; update_mix's distinct queries bypass one.
    # Minimum rounds give each run the same number of samples while one
    # round outlasts the window. update_mix's second round's queries see
    # the index grown by the first round's append; with three queries per
    # append, the median of its latencies is one of the queries that do
    # not follow an append directly.
    "serve": Workload(
        clients=4, warmup=True, cycle=("query",), min_rounds=2, repeats=True
    ),
    "update_mix": Workload(
        clients=1, warmup=False, cycle=("append",) + ("query",) * 3, min_rounds=2, repeats=False
    ),
}


@dataclass
class Served:
    request: int
    text: str
    appends_started: int  # appends that may be visible to this query
    seconds: float
    warmup: bool
    keys: list[tuple[int, int]] = field(default_factory=list)
    scores: list[float] = field(default_factory=list)
    chunk_texts: list[str] = field(default_factory=list)
    list_ids: list[int] = field(default_factory=list)


def parquet_files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*.parquet") if p.is_file()]


def read_corpus(spark, corpus_dir: Path):
    """``sources.read_text_dir`` with doc ids taken from the file names.
    The reader's own ids hash the absolute path, which differs between
    checkouts, and the seeded centroids (the first chunks by id) would
    differ with it."""
    docs = text_dir.read_text_dir(spark, str(corpus_dir))
    return docs.withColumn(
        "doc_id", F.regexp_extract("path", r"doc_(\d+)\.txt$", 1).cast("long")
    )


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path):
        self.wl = WORKLOADS[workload]
        self.workload = workload
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.index = str(work / "index")
        self.inputs = make_inputs(
            seed, N_DOCS, n_append_batches=16, docs_per_append=DOCS_PER_APPEND,
            pool_size=POOL_SIZE, stream_len=STREAM_LEN, repeats=self.wl.repeats,
        )
        self.corpus_dir = work / "corpus"
        write_text_dir(self.inputs.docs, self.corpus_dir)
        self.lock = threading.Lock()
        self.served: list[Served] = []
        self.appends: list[float] = []
        self.touched: list[int] = []
        self.files_added: list[int] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.next_request = 0
        self.next_batch = 0
        self.acked = 0  # appends acknowledged so far
        self.spark = None
        self.tracer = NullTracer()
        self.phase_s: dict[str, float] = {}

    # -- operations -----------------------------------------------------

    def fail(self, what: str) -> None:
        with self.lock:
            self.failures.append(what)
        print(f"FAILED: {what}", file=sys.stderr)

    def op(self, name: str, fn) -> None:
        """Run one user-visible operation; an exception counts as a
        failed operation and the run goes on."""
        with self.lock:
            self.attempted += 1
        try:
            fn()
        except Exception:  # noqa: BLE001 - the run must outlive a failing op
            traceback.print_exc()
            self.fail(name)

    def query(self, warmup: bool = False) -> None:
        with self.lock:
            n = self.next_request
            stream = self.inputs.query_stream
            text = self.inputs.query_pool[stream[n % len(stream)]]
            rid = f"q{n}"
            self.next_request += 1

        def run():
            with self.tracer.span("embed.chunk_search_persisted", request=rid, group=True):
                t0 = time.perf_counter()
                rows = embed.chunk_search_persisted(
                    self.spark, self.index, text, k=K, nprobe=NPROBE, dim=DIM, hash_fn=HASH_FN
                ).collect()
                dt = time.perf_counter() - t0
            s = Served(n, text, self.next_batch, dt, warmup)
            for r in rows:
                s.keys.append((r.doc_id, r.chunk_id))
                s.scores.append(r.score)
                s.chunk_texts.append(r.chunk_text)
                s.list_ids.append(r.list_id)
            with self.lock:
                self.served.append(s)

        self.op(f"query {rid}", run)

    def append(self) -> None:
        with self.lock:
            batch = self.inputs.append_batches[self.next_batch]
            self.next_batch += 1
            rid = f"a{self.next_batch}"
        vectors = Path(self.index) / "vectors"

        def run():
            df = self.spark.createDataFrame(batch, "doc_id long, text string")
            before = len(parquet_files(vectors)) if self.trace else 0
            with self.tracer.span("embed.chunk_index_append", request=rid, group=True):
                t0 = time.perf_counter()
                touched = embed.chunk_index_append(
                    self.spark, self.index, df, dim=DIM, hash_fn=HASH_FN
                )
                dt = time.perf_counter() - t0
            self.appends.append(dt)
            self.touched.append(len(touched))
            if self.trace:
                self.files_added.append(len(parquet_files(vectors)) - before)
            with self.lock:
                self.acked += 1

        self.op(f"append {rid}", run)

    # -- phases ---------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = session.get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.tracer = Tracer(self.spark)
        with self.tracer.span("embed.chunk_index_build", request="build", group=True):
            t1 = time.perf_counter()
            docs = read_corpus(self.spark, self.corpus_dir)
            embed.chunk_index_build(docs, self.index, nlist=NLIST, dim=DIM, hash_fn=HASH_FN)
            self.build_s = time.perf_counter() - t1
        self.setup_s = self.session_s + self.build_s
        built = parquet_files(Path(self.index) / "vectors")
        self.files_written = len(built)
        self.bytes_written = sum(p.stat().st_size for p in built)

    def measure(self) -> None:
        """The warm-up query, then rounds until the window is over: in a
        round every client runs its cycle once."""
        if self.wl.warmup:
            self.query(warmup=True)
        ops = {"append": self.append, "query": self.query}
        self.t_window = 0.0
        self.rounds = 0
        while self.t_window < self.seconds or self.rounds < self.wl.min_rounds:
            t0 = time.perf_counter()
            threads = [
                threading.Thread(target=lambda: [ops[name]() for name in self.wl.cycle])
                for _ in range(self.wl.clients)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            self.t_window += time.perf_counter() - t0
            self.rounds += 1

    def batch(self) -> None:
        pool = self.inputs.query_pool
        qdf = self.spark.createDataFrame(list(enumerate(pool)), "query_id int, text string")
        emb = embed.embed_documents(qdf, dim=DIM, id_col="query_id", hash_fn=HASH_FN)
        self.qvec = {r.query_id: np.array(r.embedding) for r in emb.collect()}
        qvecs = self.spark.createDataFrame(
            [(i, v.tolist()) for i, v in sorted(self.qvec.items())],
            "query_id int, query_vec array<double>",
        )
        # the metrics need the answers, so a failure here ends the run
        self.attempted += 1
        with self.tracer.span("ivf.ivf_search_persisted_batch", request="batch", group=True):
            t0 = time.perf_counter()
            self.batch_rows = ivf.ivf_search_persisted_batch(
                self.spark, self.index, qvecs, nprobe=NPROBE, k=K, id_col="_ckey"
            ).collect()
            self.batch_s = time.perf_counter() - t0

    def verify(self) -> None:
        """Check every answer against a fresh read of the index."""
        copy = IndexCopy.read(self.spark, self.index)
        pos = copy.position()
        self.copy, self.pos = copy, pos
        self.n_chunks = len(copy.doc)
        self.index_bytes = sum(p.stat().st_size for p in parquet_files(Path(self.index) / "vectors"))
        self.files_total = len(parquet_files(Path(self.index) / "vectors"))
        text_vec = {t: self.qvec[i] for i, t in enumerate(self.inputs.query_pool)}
        batch_of = np.full(len(copy.doc), -1)
        for b, batch in enumerate(self.inputs.append_batches[: self.acked]):
            batch_of[np.isin(copy.doc, [d for d, _ in batch])] = b
            missing = {d for d, _ in batch} - set(copy.doc[batch_of == b].tolist())
            if missing:
                self.fail(f"append {b + 1}: doc ids {sorted(missing)} not in the index")

        for s in self.served:
            q = text_vec[s.text]
            rows = (batch_of < s.appends_started) & np.isin(
                copy.list_id, copy.probed_lists(q, NPROBE)
            )
            why = check_ranked(copy, pos, q, s.keys, s.scores, K, rows)
            if why is None:
                for key, text, lid in zip(s.keys, s.chunk_texts, s.list_ids):
                    i = pos[key]
                    if copy.texts[i] != text or copy.list_id[i] != lid:
                        why = f"row {key} carries the wrong chunk text or list"
                        break
            if why:
                self.fail(f"query {s.text!r}: {why}")

        everything = np.ones(len(copy.doc), dtype=bool)
        by_query: dict[int, list] = {}
        for r in self.batch_rows:
            by_query.setdefault(r.query_id, []).append(r)
        recalls, wrong = [], []
        for qid, q in self.qvec.items():
            rows = sorted(by_query.get(qid, []), key=lambda r: r.rank)
            keys = [(r._ckey.d, r._ckey.c) for r in rows]
            probed = np.isin(copy.list_id, copy.probed_lists(q, NPROBE))
            why = check_ranked(copy, pos, q, keys, [r.score for r in rows], K, probed)
            if why:
                wrong.append(f"query {qid}: {why}")
            recalls.append(recall(copy, pos, q, keys, K, everything))
        if wrong:  # one batch operation, one failure
            self.fail(f"ivf batch search: {'; '.join(wrong)}")
        self.recall = float(np.mean(recalls))

    # -- traced replays -------------------------------------------------

    def replay_queries(self) -> None:
        """Re-run a few served queries one layer at a time: query
        embedding, centroid probe, pruned scan with scoring and top-k."""
        tr = self.tracer
        texts = list(dict.fromkeys(s.text for s in self.served))[:REPLAY_QUERIES]
        self.replay_rows, self.replay_files = [], []
        cents = index_store.load_index(self.spark, f"{self.index}/_centroids")
        for i, text in enumerate(texts):
            self.attempted += 1
            with tr.span("replay.query", request=f"replay{i}"):
                qdf = self.spark.createDataFrame([(0, text)], "qid int, text string")
                with tr.span("embed.query_embed"):
                    vec = embed.embed_documents(
                        qdf, dim=DIM, id_col="qid", hash_fn=HASH_FN
                    ).collect()[0].embedding
                qlit = self.spark.createDataFrame([(vec,)], "query_vec array<double>")
                with tr.span("ivf.probe"):
                    probes = [r.probe_cid for r in ivf.probe_lists(qlit, cents, NPROBE).collect()]
                with tr.span("ivf.scan"):
                    pruned = index_store.load_index(self.spark, f"{self.index}/vectors").where(
                        F.col("list_id").isin(probes)
                    )
                    rows = knn.topk(pruned, qlit, k=K, id_col="_ckey").collect()
            in_lists = np.isin(self.copy.list_id, probes)
            q = np.array(vec)
            why = check_ranked(
                self.copy, self.pos, q, [(r._ckey.d, r._ckey.c) for r in rows],
                [r.score for r in rows], K, in_lists,
            )
            if why is None and sorted(probes) != sorted(self.copy.probed_lists(q, NPROBE)):
                why = f"probed lists {sorted(probes)} are not the {NPROBE} nearest"
            if why:
                self.fail(f"replayed query {text!r}: {why}")
            self.replay_rows.append(int(in_lists.sum()))
            self.replay_files.append(sum(
                len(parquet_files(Path(self.index) / "vectors" / f"list_id={p}")) for p in probes
            ))

    def replay_build(self) -> None:
        """Re-run the index build one layer at a time, caching each
        layer's output so the next span times only its own layer."""
        tr = self.tracer
        self.attempted += 1
        with tr.span("replay.build", request="replay-build"):
            with tr.span("sources.read_text_dir"):
                docs = read_corpus(self.spark, self.corpus_dir).cache()
                n_docs = docs.count()
            with tr.span("chunking.chunk_greedy"):
                chunks = chunking.chunk_greedy(docs, **CHUNKING).cache()
                n_chunks = chunks.count()
            # the chunk key chunk_index_build gives its rows
            keyed = chunks.select(
                F.struct(F.col("doc_id").alias("d"), F.col("chunk_id").alias("c")).alias("_ckey"),
                F.col("chunk"),
            )
            with tr.span("embed.embed_documents"):
                emb = embed.embed_documents(
                    keyed, dim=DIM, id_col="_ckey", text_col="chunk", hash_fn=HASH_FN
                ).cache()
                emb.count()
            rows = emb.join(keyed, "_ckey")
            with tr.span("ivf.seeded_centroids"):
                cents = self.spark.createDataFrame(
                    ivf.seeded_centroids(rows, NLIST, id_col="_ckey").collect(),
                    "cid int, cvec array<double>",
                )
            with tr.span("ivf.save_ivf"):
                ivf.save_ivf(rows, cents, str(self.work / "replay_index"))
        for df in (docs, chunks, emb):
            df.unpersist()
        self.chunks_per_doc = n_chunks / n_docs

    # -- results --------------------------------------------------------

    def timed_queries(self) -> list[Served]:
        return [s for s in self.served if not s.warmup]

    def repeat_share(self) -> float:
        """Share of the timed requests whose text was asked earlier in the
        run, the warm-up included."""
        served = sorted(self.served, key=lambda s: s.request)
        return repeat_share([s.text for s in served], skip=int(self.wl.warmup))

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lat = [s.seconds for s in self.timed_queries()]
        return {
            "setup_s": (self.setup_s, "s"),
            "query_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            # the window is the rounds' summed time; a round ends with its last client
            "queries_per_s": (len(lat) / self.t_window, "1/s"),
            "recall_at_10": (self.recall, "ratio"),
            "index_bytes_per_chunk": (self.index_bytes / self.n_chunks, "B"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        med = statistics.median

        def dur_ms(name):
            return med([(s["end"] - s["start"]) * 1e3 for s in tr.named(name)])

        def count(name, key):
            return med([s[key] for s in tr.named(name)])

        queries = "embed.chunk_search_persisted"
        appends = "embed.chunk_index_append"
        rows_scored = float(np.mean(self.replay_rows))
        return {
            "session.start_ms": (self.session_s * 1e3, "ms"),
            "session.jobs_per_query": (count(queries, "jobs"), "count"),
            "session.tasks_per_query": (count(queries, "tasks"), "count"),
            "session.jobs_per_append": (count(appends, "jobs"), "count"),
            "session.tasks_per_append": (count(appends, "tasks"), "count"),
            "session.jobs_per_batch": (count("ivf.ivf_search_persisted_batch", "jobs"), "count"),
            "embed.query_embed_ms": (dur_ms("embed.query_embed"), "ms"),
            "ivf.probe_ms": (dur_ms("ivf.probe"), "ms"),
            "ivf.scan_ms": (dur_ms("ivf.scan"), "ms"),
            "ivf.rows_scored_per_query": (rows_scored, "count"),
            "ivf.files_opened_per_query": (float(np.mean(self.replay_files)), "count"),
            "ivf.useful_ratio": (K / rows_scored, "ratio"),
            "sources.read_ms": (dur_ms("sources.read_text_dir"), "ms"),
            "chunking.chunk_ms": (dur_ms("chunking.chunk_greedy"), "ms"),
            "chunking.chunks_per_doc": (self.chunks_per_doc, "count"),
            "embed.bulk_embed_ms": (dur_ms("embed.embed_documents"), "ms"),
            "ivf.train_ms": (dur_ms("ivf.seeded_centroids"), "ms"),
            "ivf.assign_write_ms": (dur_ms("ivf.save_ivf"), "ms"),
            "index_store.files_written": (self.files_written, "count"),
            "index_store.bytes_written": (self.bytes_written, "B"),
            "index_store.files_total": (self.files_total, "count"),
            "ivf.batch_search_ms": (dur_ms("ivf.ivf_search_persisted_batch"), "ms"),
            "lifecycle.append_ms": (dur_ms(appends), "ms"),
            "lifecycle.lists_touched_per_append": (float(np.mean(self.touched)), "count"),
            "lifecycle.files_added_per_append": (float(np.mean(self.files_added)), "count"),
            "serve.repeat_query_share": (self.repeat_share(), "ratio"),
        }

    def report(self) -> list[str]:
        """Human-readable lines printed before the result line."""
        lines = [
            f"workload={self.workload} docs={N_DOCS} chunks_indexed={self.n_chunks} "
            f"index_bytes={self.index_bytes} index_files={self.files_total} "
            f"query_pool={len(self.inputs.query_pool)} appends={len(self.appends)} "
            f"queries={len(self.served)} "
            f"repeat_query_share={self.repeat_share():.3f} "
            f"failed_ops_frac={len(self.failures) / max(1, self.attempted):.4f}",
            "query_ms=" + " ".join(f"{s.seconds * 1e3:.0f}" for s in self.timed_queries())
            + " append_ms=" + " ".join(f"{a * 1e3:.0f}" for a in self.appends)
            + f" batch_ms={self.batch_s * 1e3:.0f}",
            "phase_s=" + " ".join(f"{k}:{v:.1f}" for k, v in self.phase_s.items())
            + f" (session:{self.session_s:.1f} rounds:{self.rounds})"
            + f" build_ms={self.build_s * 1e3:.0f}",
        ]
        if self.trace:
            for name in ("embed.chunk_search_persisted", "embed.chunk_index_append",
                         "ivf.ivf_search_persisted_batch"):
                spans = self.tracer.named(name)
                jobs = sorted({s["jobs"] for s in spans})
                tasks = sorted({s["tasks"] for s in spans})
                lines.append(
                    f"spark counts {name}: ops={len(spans)} jobs={jobs} tasks={tasks} "
                    f"repeat_exactly={len(jobs) == 1 and len(tasks) == 1}"
                )
            lines += self.tracer.summary_lines()
        return lines


def cpu_ticks() -> list[int] | None:
    """The machine's CPU time counters (user ... steal), or None where
    /proc/stat does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def execute(workload: str, seed: int, seconds: float, trace: bool, work: Path, results: Path):
    """Run one workload; returns (result line dict, report lines)."""
    ticks = cpu_ticks()
    run = Run(workload, seed, seconds, trace, work)
    phases = [run.setup, run.measure, run.batch, run.verify]
    if trace:
        phases += [run.replay_queries, run.replay_build]
        if "append" not in WORKLOADS[workload].cycle:
            # so the lifecycle layer has figures on every workload
            phases.append(run.append)
    try:
        for phase in phases:
            t0 = time.perf_counter()
            phase()
            run.phase_s[phase.__name__] = time.perf_counter() - t0
        metrics = run.per_layer() if trace else run.end_to_end()
        lines = run.report()
        end = cpu_ticks()
        if ticks and end:
            # time the hypervisor gave to other machines: the host's load,
            # which slows every figure of the run
            used = [b - a for a, b in zip(ticks, end)]
            lines.append(f"host_steal_share={used[7] / max(1, sum(used)):.3f}")
        e2e = run.end_to_end()
        saved = results / f"{workload}-{seed}.json"
        if trace:
            run.tracer.write(work.parent / f"spans-{workload}-{seed}.jsonl")
            if saved.exists():
                base = json.loads(saved.read_text())
                for name in ("query_p50_ms", "queries_per_s"):
                    (traced, unit), untraced = e2e[name], base[name]
                    lines.append(
                        f"tracing overhead {name}: traced {traced:.3f} - untraced "
                        f"{untraced:.3f} = {traced - untraced:+.3f} {unit}"
                    )
            else:
                lines.append(f"tracing overhead: run --trace 0 with seed {seed} first to compare")
        else:
            saved.write_text(json.dumps({k: v for k, (v, _) in e2e.items()}))
    finally:
        stop_spark(run.spark)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


def _descendants() -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait until all of them have ended."""
    procs = _descendants()
    if spark is not None:
        from pyspark import SparkContext

        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                gateway.proc.kill()
                gateway.proc.wait()
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
