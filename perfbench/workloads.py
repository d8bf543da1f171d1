"""The benchmark's workloads. Each drives the engine only through its public
functions, records one OpRecord per operation, and checks every result
against the Python reference after the timed region."""

from __future__ import annotations

import glob
import itertools
import os
import statistics
import threading
import time

import numpy as np

import gen
import reference as ref
from harness import OpRecord, closed_loop, job_group_counts

TOP_K = 10


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Ctx:
    """What every workload shares: the session, the run root, the seeded
    generator, the tracer and whether this is a traced run."""

    def __init__(self, spark, root, seed: int, tracer, trace: bool):
        from sparkfulltextquery_spark.functions.fulltext import BM25_B, BM25_K1

        self.spark, self.root, self.tracer, self.trace = spark, root, tracer, trace
        self.rng = np.random.default_rng(seed)
        self.k1, self.b = BM25_K1, BM25_B

    def op_span(self, op: int, kind: str, traced: bool):
        """Outer span of one operation. In a traced run every operation
        tags its Spark jobs with its own job group, so the next operation
        on the same thread never inherits a traced one's group."""
        self.tracer.mark(traced)
        if self.trace:
            self.spark.sparkContext.setJobGroup(f"op-{op}", kind)
        return self.tracer.span(f"op.{kind}", op)

    def spark_counts(self, records: list[OpRecord]) -> tuple[int, int, int]:
        jobs = tasks = failed = 0
        for r in records:
            j, t, f = job_group_counts(self.spark, f"op-{r.op}")
            jobs, tasks, failed = jobs + j, tasks + t, failed + f
        return jobs, tasks, failed


# ---------------- search ----------------

SEARCH_DOCS = 5000
SEARCH_VOCAB = 10000
SEARCH_BUCKETS = 4
HOT_POOL = 12
# warm-up in searches: hot, one pass over the pool, which fills the caches;
# cold, two cycles. It stops early after WARMUP_MAX_S.
HOT_WARMUP_OPS = HOT_POOL
COLD_WARMUP_OPS = 2 * gen.COLD_CYCLE
WARMUP_MAX_S = 14.0


def _scan_metrics(df) -> tuple[int, int]:
    """(rows, files) read by the file scans of ``df``'s executed plan. A
    bucketed scan reads one file per selected bucket; its numFiles metric
    counts the files before bucket pruning, so the selected-bucket count
    from the scan's metadata is used instead."""
    rows = files = 0

    def metric(node, name):
        opt = node.metrics().get(name)
        return int(opt.get().value()) if opt.isDefined() else 0

    def scan_files(node):
        buckets = node.metadata().get("SelectedBucketsCount")
        if buckets.isDefined():  # "2 out of 4"
            return int(buckets.get().split()[0])
        return metric(node, "numFiles")

    def walk(node):
        nonlocal rows, files
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if name.endswith("QueryStage"):
            return walk(node.plan())
        if name.startswith("Scan"):
            rows += metric(node, "numOutputRows")
            files += scan_files(node)
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return rows, files


class Search:
    """Closed-loop search with one client over a persisted build_index
    index. ``hot``: seeded passes over a pool of 12 queries; cold:
    every query string unique, tail terms and expansion atoms. Query kinds
    come in a fixed cycle (gen.HOT_CYCLE, gen.COLD_CYCLE), so every cycle
    holds the same mix."""

    cold_timed = False

    def __init__(self, ctx: Ctx, hot: bool):
        self.ctx, self.hot = ctx, hot
        self.clients = 1
        self.cycle = gen.HOT_CYCLE if hot else gen.COLD_CYCLE
        self.seen: set[str] = set()
        self.seen_lock = threading.Lock()
        self.expected: dict[tuple[str, str], dict[int, float]] = {}

    def setup(self) -> dict:
        from sparkfulltextquery_spark.functions.index import build_index

        ctx, rng = self.ctx, self.ctx.rng
        t0 = time.perf_counter()
        self.vocab = gen.make_vocab(rng, SEARCH_VOCAB)
        self.docs = gen.make_docs(rng, self.vocab, SEARCH_DOCS)
        path = ctx.root.sub("data", "docs.parquet")
        gen.documents_table(self.docs)[["doc_id", "text"]].to_parquet(path)
        t1 = time.perf_counter()
        build_index(
            ctx.spark.read.parquet(path), "bx", num_buckets=SEARCH_BUCKETS, term_vectors=False
        )
        t2 = time.perf_counter()
        self.corpus = ref.Corpus(self.docs, ctx.k1, ctx.b)
        if self.hot:
            pool = gen.hot_pool(rng, self.vocab, self.docs, HOT_POOL)
            stream = gen.hot_stream(rng, pool, 100_000)
        else:
            stream = iter(gen.cold_queries(rng, self.vocab, 5000))
        self.items = zip(itertools.count(), stream)
        index_bytes = dir_bytes(ctx.root.sub("warehouse"))
        return {
            "gen_s": t1 - t0,
            "index.build_s": t2 - t1,
            "index.bytes": index_bytes,
            "index.bytes_per_text_byte": index_bytes
            / sum(len(t.encode()) for _, t in self.docs),
            "corpus.docs": len(self.docs),
            "corpus.tokens": sum(self.corpus.dl.values()),
            "corpus.vocab": len(self.corpus.postings),
        }

    def warmup(self) -> None:
        """Run a fixed number of searches from the stream untimed: the JVM
        keeps compiling the search paths for tens of searches after the
        index build. Counting searches rather than seconds starts every
        timed region at the same point of that curve, however fast the
        host is."""
        n = HOT_WARMUP_OPS if self.hot else COLD_WARMUP_OPS
        closed_loop(self.clients, WARMUP_MAX_S, itertools.islice(self.items, n), self.op)

    def op(self, op: int, item) -> tuple[list, dict]:
        from sparkfulltextquery_spark.functions import querylang
        from sparkfulltextquery_spark.functions.index import (
            bm25_search_indexed,
            search_indexed,
        )

        ctx, (kind, q) = self.ctx, item
        with self.seen_lock:
            repeat = q in self.seen
            self.seen.add(q)
        extra = {"repeat": repeat, "kind": kind}
        with ctx.op_span(op, kind, self.traced(op)):
            if ctx.tracer.recording and kind == "boolean":
                # the engine parses inside search_indexed, on a plan-cache
                # miss only; time the same parse from outside
                with ctx.tracer.span("functions.querylang.parse_query") as s:
                    querylang.parse_query(q)
                extra["parse_s"] = s.end - s.start
            t0 = time.perf_counter()
            if kind == "bm25":
                with ctx.tracer.span("functions.index.bm25_search_indexed"):
                    df = bm25_search_indexed(ctx.spark, q, TOP_K, "bx")
            else:
                with ctx.tracer.span("functions.index.search_indexed"):
                    df = search_indexed(ctx.spark, q, TOP_K, "bx")
            t1 = time.perf_counter()
            with ctx.tracer.span("spark.collect"):
                rows = [(int(r.doc_id), float(r.score)) for r in df.collect()]
            t2 = time.perf_counter()
            if ctx.tracer.recording:
                extra["scan_rows"], extra["scan_files"] = _scan_metrics(df)
        extra.update(plan_s=t1 - t0, exec_s=t2 - t1)
        return rows, extra

    def traced(self, op: int) -> bool:
        """In a traced run every other cycle of query kinds is traced, so
        traced and untraced searches share one window, its warm-up drift
        and its kind mix."""
        return self.ctx.trace and (op // self.cycle) % 2 == 0

    def run(self, seconds: float) -> tuple[list[OpRecord], float]:
        return closed_loop(self.clients, seconds, self.items, self.op, calib=True)

    def check(self, rec: OpRecord) -> bool:
        key = rec.item
        if key not in self.expected:
            self.expected[key] = ref.expected_scores(self.corpus, *key)
        return ref.check_topk(rec.result, self.expected[key], TOP_K)

    def oracle_failures(self) -> list[str]:
        return []

    def end_to_end(self, records: list[OpRecord], wall: float) -> dict:
        """Mean search latency in units of the host-speed calibration run
        after each search (harness.calibrate): on a shared 4-vCPU Xeon VM
        the host's speed swung by about 1.45x over seconds to minutes,
        which moves both alike. The mean, not the median: the kind mix is
        fixed, so the mean weighs every kind the same in every run, while
        the median falls on whichever kind's latencies straddle the
        middle."""
        lat = statistics.fmean(r.end - r.start for r in records)
        cal = statistics.fmean(r.calib_s for r in records)
        return {"latency_rel": (lat / cal, "ratio")}

    def latencies(self, records: list[OpRecord]) -> dict:
        """Latency samples by name, for the median-and-tail report."""
        out = {"latency": [r.end - r.start for r in records]}
        for kind in ("bm25", "boolean"):
            out[f"{kind}.latency"] = [
                r.end - r.start for r in records if r.extra["kind"] == kind
            ]
        return out

    def layer_metrics(self, records: list[OpRecord], setup: dict) -> dict:
        n = len(records)
        m = {
            "index.build_s": (setup["index.build_s"], "s"),
            "index.bytes_per_text_byte": (setup["index.bytes_per_text_byte"], "ratio"),
            "workload.repeat_share": (sum(r.extra["repeat"] for r in records) / n, "ratio"),
        }
        boolean = [r for r in records if r.extra["kind"] == "boolean"]
        m["querylang.parse_ms"] = (
            statistics.median(r.extra["parse_s"] for r in boolean) * 1000, "ms"
        )
        # the engine parses a boolean query only when its plan is not cached
        m["querylang.parses_per_search"] = (
            sum(not r.extra["repeat"] for r in boolean) / n, "count"
        )
        for kind in ("bm25", "boolean"):
            rs = [r for r in records if r.extra["kind"] == kind]
            for phase in ("plan", "exec"):
                m[f"index.{phase}_ms.{kind}"] = (
                    statistics.median(r.extra[f"{phase}_s"] for r in rs) * 1000, "ms"
                )
        hits = sum(len(r.result) for r in records)
        m["index.rows_read_per_hit"] = (
            sum(r.extra["scan_rows"] for r in records) / max(hits, 1), "count"
        )
        m["index.files_read_per_search"] = (
            sum(r.extra["scan_files"] for r in records) / n, "count"
        )
        return m


# ---------------- batch analytics ----------------

BATCH_ORDERS = 15000
BATCH_VECTORS = 2000
BATCH_VOCAB = 20000
DEDUP_DOCS = 1500
DEDUP_CLUSTERS = 40
DEDUP_THRESHOLD = 0.5
INGEST_DOCS = 200

JOB_LAYER = {
    "q5_local_supplier_volume": "operators",
    "q10_returned_items": "operators",
    "agg_cube": "operators",
    "window_running_sum": "operators",
    "sim_cosine_topk": "similarity",
    "textstats_quality": "textstats",
    "dedup_pipeline": "dedup",
    "ingest_append": "index_stream",
    "compact": "index_stream",
}
REGISTRY_JOBS = tuple(j for j, layer in JOB_LAYER.items() if layer not in ("dedup", "index_stream"))
# one pass runs every job once, in a seed-shuffled order
PASS_JOBS = tuple(JOB_LAYER)


def registry() -> dict:
    """The engine's query registry, with the modules that register the
    batch rows imported."""
    import sparkfulltextquery_spark.operators  # noqa: F401
    import sparkfulltextquery_spark.similarity  # noqa: F401
    import sparkfulltextquery_spark.textstats  # noqa: F401
    from sparkfulltextquery_spark.registry import REGISTRY

    return REGISTRY


class Batch:
    """One pass over a fixed job list, as a scheduled batch job runs it in a
    fresh session: registry rows over generated TPC-H-shaped tables,
    embeddings and documents, the public near-duplicate pipeline over a
    corpus with planted clusters, a landed document batch appended to the
    streaming posting log, and a compaction of that log into a published
    generation."""

    # the timed pass is the first one: a batch job pays its cold start
    cold_timed = True

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ingested = 0
        self.landed_bytes = 0
        self.gen_no = 0
        self.gen_bytes = 0

    def setup(self) -> dict:
        ctx, rng = self.ctx, self.ctx.rng
        t0 = time.perf_counter()
        self.sf_dir = ctx.root.sub("data", "sf")
        os.makedirs(self.sf_dir)
        tables = gen.tpch_tables(rng, BATCH_ORDERS)
        tables["embeddings"] = gen.embeddings(rng, BATCH_VECTORS)
        self.vocab = gen.make_vocab(rng, BATCH_VOCAB)
        self.dedup_docs = gen.plant_near_dups(
            rng, gen.make_docs(rng, self.vocab, DEDUP_DOCS), self.vocab, DEDUP_CLUSTERS
        )
        tables["documents"] = gen.documents_table(self.dedup_docs)
        for name, pdf in tables.items():
            pdf.to_parquet(os.path.join(self.sf_dir, f"{name}.parquet"))
        self.landing = ctx.root.sub("data", "landing")
        os.makedirs(self.landing)
        self.live = ctx.root.sub("data", "live")
        self.gen_root = ctx.root.sub("data", "generations")
        self.stream = ctx.spark.readStream.schema("doc_id BIGINT, text STRING").parquet(
            self.landing
        )
        self.items = self._jobs()
        return {"gen_s": time.perf_counter() - t0}

    def _jobs(self):
        op = 0
        while True:
            order = [PASS_JOBS[int(i)] for i in self.ctx.rng.permutation(len(PASS_JOBS))]
            # a compaction folds the log the pass's ingest appended to, so
            # it runs after it
            a, c = order.index("ingest_append"), order.index("compact")
            if c < a:
                order[a], order[c] = order[c], order[a]
            for job in order:
                yield op, job
                op += 1

    def warmup(self) -> None:
        """None: the timed pass is the cold one."""

    def traced(self, op: int) -> bool:
        """In a traced run passes alternate: the cold first pass and every
        second pass after it run untraced."""
        return self.ctx.trace and (op // len(PASS_JOBS)) % 2 == 1

    def op(self, op: int, job: str) -> tuple[object, dict]:
        with self.ctx.op_span(op, job, self.traced(op)):
            if job in REGISTRY_JOBS:
                return self._registry(job), {}
            if job == "dedup_pipeline":
                return self._dedup()
            if job == "ingest_append":
                return self._ingest()
            return self._compact()

    def _registry(self, name: str):
        layer = JOB_LAYER[name]
        with self.ctx.tracer.span(f"{layer}.{name}"):
            df = registry()[name].fn(self.ctx.spark, self.sf_dir)
        with self.ctx.tracer.span("spark.write_noop"):
            df.write.format("noop").mode("overwrite").save()
        return None

    def _dedup(self):
        from sparkfulltextquery_spark.dedup import lsh_candidate_pairs, verified_near_dups
        from sparkfulltextquery_spark.dedup.components import connected_components

        spark, tr = self.ctx.spark, self.ctx.tracer
        docs = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        with tr.span("dedup.lsh_candidate_pairs"):
            cand = {(int(r.doc_a), int(r.doc_b)) for r in lsh_candidate_pairs(docs).collect()}
        with tr.span("dedup.verified_near_dups"):
            ver = [
                (int(r.doc_a), int(r.doc_b), float(r.jaccard))
                for r in verified_near_dups(docs, DEDUP_THRESHOLD).collect()
            ]
        edges = spark.createDataFrame([(a, b) for a, b, _ in ver], "src long, dst long")
        with tr.span("dedup.connected_components"):
            comp = {int(r.vertex): int(r.component) for r in connected_components(edges).collect()}
        return (cand, ver, comp), {"candidates": len(cand), "verified": len(ver)}

    def _ingest(self):
        """Land a batch file, append it to the posting log with the
        availableNow stream, and read the new docs back from the live log."""
        from sparkfulltextquery_spark.functions.index_stream import (
            read_live_postings,
            stream_update_postings,
        )

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        first = 10_000_000 + self.ingested
        batch = gen.make_docs(ctx.rng, self.vocab, INGEST_DOCS, first_id=first)
        n = self.ingested // INGEST_DOCS
        tmp = os.path.join(self.landing, f".batch-{n:05d}.parquet")
        gen.documents_table(batch)[["doc_id", "text"]].to_parquet(tmp)
        self.landed_bytes += sum(len(t.encode()) for _, t in batch)
        # the file appears atomically; Spark's file source skips dot files
        os.rename(tmp, os.path.join(self.landing, f"batch-{n:05d}.parquet"))
        with tr.span("index_stream.stream_update_postings"):
            q = stream_update_postings(self.stream, self.live, ctx.root.sub("data", "ckpt"))
            q.awaitTermination()
        with tr.span("index_stream.read_live_postings"):
            readable = (
                read_live_postings(spark, self.live)
                .filter(f"doc_id >= {first}")
                .select("doc_id")
                .distinct()
                .count()
            )
        self.ingested += len(batch)
        return (len(batch), readable), {"docs": len(batch)}

    def _compact(self):
        from sparkfulltextquery_spark.functions.index_stream import (
            compact_posting_segments,
            gc_generations,
            publish_generation,
        )

        spark, tr = self.ctx.spark, self.ctx.tracer
        out = os.path.join(self.gen_root, f"gen-{self.gen_no:05d}")
        self.gen_no += 1
        with tr.span("index_stream.compact_posting_segments"):
            compact_posting_segments(spark, self.live, out)
        with tr.span("index_stream.publish_generation"):
            publish_generation(self.gen_root, out)
        with tr.span("index_stream.gc_generations"):
            gc_generations(self.gen_root, retain=1)
        self.gen_bytes += dir_bytes(out)
        return (out, self.ingested), {}

    def run(self, seconds: float) -> tuple[list[OpRecord], float]:
        """Whole passes until ``seconds`` have passed, so every run times
        the same job mix."""
        recs: list[OpRecord] = []
        t0 = time.perf_counter()
        while not recs or time.perf_counter() - t0 < seconds:
            part, _ = closed_loop(
                1, float("inf"), itertools.islice(self.items, len(PASS_JOBS)), self.op
            )
            recs += part
        return recs, time.perf_counter() - t0

    def oracle_failures(self) -> list[str]:
        """Registry rows whose result differs from their DuckDB oracle; run
        once per run, outside the timed region."""
        import duckdb

        from compare import frames_match

        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "documents", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            bad = []
            for name in REGISTRY_JOBS:
                spec = registry()[name]
                got = spec.fn(self.ctx.spark, self.sf_dir).toPandas()
                want = con.execute(spec.oracle).fetchdf()
                if len(got) == 0 or not frames_match(got, want):
                    bad.append(name)
            return bad
        finally:
            con.close()

    def check(self, rec: OpRecord) -> bool:
        job = rec.item
        if job in REGISTRY_JOBS:
            return True  # compared with the DuckDB oracle once per run
        if job == "dedup_pipeline":
            cand, ver, comp = rec.result
            sh = {d: ref.shingles(t) for d, t in self.dedup_docs}
            for a, b, j in ver:
                want = ref.jaccard(sh[a], sh[b])
                if (a, b) not in cand or abs(j - want) > 1e-6 or want < DEDUP_THRESHOLD:
                    return False
            return comp == ref.components((a, b) for a, b, _ in ver)
        if job == "ingest_append":
            landed, readable = rec.result
            return landed == readable
        out, n_docs = rec.result
        # a generation collected by a later compaction's GC is gone by design
        return not os.path.isdir(out) or (
            self.ctx.spark.read.parquet(out).select("doc_id").distinct().count() == n_docs
        )

    def end_to_end(self, records: list[OpRecord], wall: float) -> dict:
        lat = [r.end - r.start for r in records]
        return {
            "latency_p50_ms": (statistics.median(lat) * 1000, "ms"),
            "jobs_per_min": (60 * len(records) / wall, "1/min"),
        }

    def latencies(self, records: list[OpRecord]) -> dict:
        return {
            "latency": [r.end - r.start for r in records],
            "ingest.latency": [r.end - r.start for r in records if r.item == "ingest_append"],
        }

    def layer_metrics(self, records: list[OpRecord], setup: dict) -> dict:
        by_layer: dict[str, list[float]] = {}
        for r in records:
            by_layer.setdefault(JOB_LAYER[r.item], []).append(r.end - r.start)
        m = {
            f"{layer}.job_s": (statistics.median(xs), "s")
            for layer, xs in by_layer.items()
            if layer != "index_stream"
        }
        dd = [r.extra for r in records if r.item == "dedup_pipeline"]
        m["dedup.candidate_yield"] = (
            sum(e["verified"] for e in dd) / max(sum(e["candidates"] for e in dd), 1),
            "ratio",
        )
        for job, name in (("ingest_append", "append_ms"), ("compact", "compact_ms")):
            m[f"index_stream.{name}"] = (
                statistics.median(r.end - r.start for r in records if r.item == job) * 1000,
                "ms",
            )
        m["index_stream.files_live"] = (
            len(glob.glob(os.path.join(self.live, "*.parquet"))), "count"
        )
        m["index_stream.write_amp"] = (
            (dir_bytes(self.live) + self.gen_bytes) / max(self.landed_bytes, 1), "ratio"
        )
        return m
