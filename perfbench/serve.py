"""``serve``: maintained lexical and vector stores, overhead-bound.

Set-up builds three stores from the seeded corpus: bucketed BM25 postings,
doc norms, and a cell-partitioned IVF-PQ ANN store. Operations follow a
fixed rotation of four reads (BM25, ANN, hybrid, and a LuNA question through
``QueryClient`` over the corpus table) then one write, a CDC delta of
inserts, updates and deletes folded into all three stores. Reads and writes
share the stores, so a fold that leaves more files behind shows up as slower
reads.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

import ask
import gen
from sycamore_spark.functions.partitioning import overlap_jobs
from sycamore_spark.operators import retrieval, similarity
from sycamore_spark.operators.dedup import md5_hash60
from sycamore_spark.operators.embed import hashing_embedding_expr
from sycamore_spark.plans.client import QueryClient
from sycamore_spark.sources import tables

N_BUCKETS = 16
K = 10
NPROBE = 3
READ_KINDS = ("bm25", "ann", "hybrid", "luna")
LUNA_KINDS = ("nl_count", "nl_count_distinct", "nl_topk")
DELTA_SCHEMA = "doc_id bigint, text string, op string"


def embedding(col):
    return hashing_embedding_expr(col, dim=64, hash_fn=md5_hash60).cast("array<double>")


class Serve:
    name = "serve"
    latency_kinds = READ_KINDS
    cycle = 5
    # set-up is dominated by the store build in ``warm``, which a run cannot
    # afford twice; input generation alone is too cheap to need a median
    prepare_repeats = 1

    def __init__(self, ctx, sub: str = "serve", n_docs: int | None = None):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, sub)
        self.n_docs = n_docs or ctx.size(1000, 300)
        self.delta_docs = ctx.size(50, 10)
        self.idx = os.path.join(self.root, "postings")
        self.nrm = os.path.join(self.root, "norms")
        self.ann = os.path.join(self.root, "ann")
        self.src_dir = os.path.join(self.root, "in")
        self.n_ops = 0
        self.delta_bytes = 0
        self.queries: list[str] = []
        self.answers: list[tuple[gen.Question, object]] = []

    def prepare(self, model=None) -> None:
        """Inputs and the IVF-PQ model; the stores are built by ``warm``."""
        shutil.rmtree(self.root, ignore_errors=True)
        base = gen.corpus(self.ctx.seed, self.n_docs, exact_share=0.0, near_share=0.0)
        gen.write_table(base.table(), self.src_dir, "documents")
        self.stream = gen.ServeStream(self.ctx.seed, base, delta_docs=self.delta_docs)
        self.client = QueryClient(self.ctx.spark, self.src_dir)
        if model is None:
            # trained client-side on a seeded sample, like the gates' fixtures
            sample = np.random.default_rng(self.ctx.seed).permutation(len(base.text))[:500]
            model = similarity.ivf_pq_train_arrays(
                np.array([gen.hash_embed(base.text[i]) for i in sample]), ncells=8, m=8, subk=16, seed=7)
        self.model = model

    def build(self) -> None:
        spark = self.ctx.spark
        docs = tables.load_table(spark, self.src_dir, "documents").select("doc_id", "text")

        def build_lexical() -> None:
            retrieval.bucketed_postings(docs, n_buckets=N_BUCKETS).write.mode("overwrite") \
                .partitionBy("bkt").parquet(self.idx)
            retrieval.norms_from_postings(spark.read.parquet(self.idx), n_buckets=N_BUCKETS) \
                .write.mode("overwrite").partitionBy("nbkt").parquet(self.nrm)

        def build_ann() -> None:
            vecs = docs.select(F.col("doc_id").alias("vec_id"), embedding(F.col("text")).alias("embedding"))
            similarity.ivf_pq_encode(vecs, *self.model).select("vec_id", "pq_codes", "cell_id") \
                .write.mode("overwrite").partitionBy("cell_id").parquet(self.ann)

        overlap_jobs(build_lexical, build_ann)

    def warm(self) -> None:
        """Builds the stores while a 200-doc copy of the workload, with its
        own stores, runs every read kind concurrently, then a write. Code
        generation and JIT warm-up overlap the build, and the timed stores
        start untouched."""
        warmer = Serve(self.ctx, sub="serve-warm", n_docs=200)
        warmer.prepare(self.model)

        def warm_up() -> None:
            warmer.build()
            reads = [warmer.stream.next_read(k) for k in READ_KINDS]
            overlap_jobs(*[lambda op=op: warmer._read(op.kind, op.query) for op in reads])
            warmer._write(warmer.stream.next_write().delta)

        overlap_jobs(self.build, warm_up)
        shutil.rmtree(warmer.root, ignore_errors=True)

    def next_op(self):
        i = self.n_ops
        self.n_ops += 1
        op = self.stream.next_write() if i % 5 == 4 else self.stream.next_read(READ_KINDS[i % 5])
        if op.kind == "write":
            return "write", lambda tracer: self._write(op.delta)
        self.queries.append(op.query)
        return op.kind, lambda tracer: self._read(op.kind, op.query)

    # -- operations ------------------------------------------------------

    def _bm25(self, qdf):
        return retrieval.bm25_from_index(self.ctx.spark, self.idx, self.nrm, qdf, n_buckets=N_BUCKETS, k=K)

    def _ann(self, vdf):
        store = self.ctx.spark.read.parquet(self.ann)
        return similarity.ivf_pq_topk_multi(vdf, store, *self.model, k=K, nprobe=NPROBE)

    def _read(self, kind: str, query: str):
        spark = self.ctx.spark
        if kind == "luna":
            q = gen.Question(LUNA_KINDS[self.n_ops // 5 % len(LUNA_KINDS)],
                             {"k": 2 + len(query) % 3, "field": ("lang", "source")[len(query) % 2]})
            text, _ = ask.build(q)
            value = ask.answer(q.kind, self.client.query(text).result)
            self.answers.append((q, value))
            return 1, len(value) if isinstance(value, list) else 1, ()
        qdf = spark.createDataFrame([(1, query)], "query_id bigint, query string")
        vdf = spark.createDataFrame([(1, gen.hash_embed(query))], "query_id bigint, embedding array<double>")
        if kind == "bm25":
            out = self._bm25(qdf)
        elif kind == "ann":
            out = self._ann(vdf)
        else:
            out = retrieval.rrf_fuse([
                self._bm25(qdf).select("query_id", F.col("doc_id").alias("vec_id"), "rank"),
                self._ann(vdf).select("query_id", "vec_id", "rank"),
            ], k=K)
        rows = out.collect()
        return 1, len(rows), (out,)

    def _write(self, delta: list[tuple[int, str | None, str]]):
        spark = self.ctx.spark
        self.delta_bytes += sum(16 + len((t or "").encode()) for _, t, _ in delta)
        text_delta = spark.createDataFrame(delta, DELTA_SCHEMA).localCheckpoint(eager=True)
        vec_delta = text_delta.select(
            F.col("doc_id").alias("vec_id"),
            F.when(F.col("op") != "D", embedding(F.col("text"))).alias("embedding"),
            "op",
        ).localCheckpoint(eager=False)
        overlap_jobs(
            lambda: retrieval.index_apply_changes(spark, self.idx, text_delta, n_buckets=N_BUCKETS, prepared=True),
            lambda: retrieval.norms_apply_changes(spark, self.nrm, text_delta, n_buckets=N_BUCKETS, prepared=True),
            lambda: similarity.ann_store_apply_changes(spark, self.ann, vec_delta, *self.model, prepared=True),
        )
        return 1, len(delta), ()

    # -- after the window --------------------------------------------------

    def store_stats(self) -> dict:
        files = size = 0
        for d in (self.idx, self.nrm, self.ann):
            for dirpath, _, names in os.walk(d):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, n))
        return {"files": files, "bytes": size}

    def check(self) -> list[str]:
        """Final stores vs recomputation over the merged raw corpus: BM25
        top-k against ``bm25_scores_multi`` on the merged text, ANN top-k
        against the same search over freshly encoded merged vectors. The
        checks run concurrently, so their code generation overlaps."""
        spark = self.ctx.spark
        merged = spark.createDataFrame(sorted(self.stream.live.items()), "doc_id bigint, text string")
        queries = list(dict.fromkeys(self.queries))[:4] or self.stream.query_sample(4)
        qdf = spark.createDataFrame(list(enumerate(queries)), "query_id bigint, query string")
        vdf = spark.createDataFrame(
            [(i, gen.hash_embed(q)) for i, q in enumerate(queries)], "query_id bigint, embedding array<double>"
        )
        encoded = similarity.ivf_pq_encode(
            merged.select(F.col("doc_id").alias("vec_id"), embedding(F.col("text")).alias("embedding")),
            *self.model,
        )

        def rows(df) -> set:
            return {tuple(r) for r in df.collect()}

        bm25_served, bm25_fresh, ann_served, ann_fresh, n_store = overlap_jobs(
            lambda: rows(self._bm25(qdf).select("query_id", "doc_id", "bm25_micros")),
            lambda: rows(retrieval.bm25_scores_multi(merged, qdf, k=K)),
            lambda: rows(self._ann(vdf)),
            lambda: rows(similarity.ivf_pq_topk_multi(vdf, encoded, *self.model, k=K, nprobe=NPROBE)),
            lambda: spark.read.parquet(self.nrm).count(),
        )
        bad: list[str] = []
        if bm25_served != bm25_fresh:
            bad.append(f"serve: bm25 top-{K} from the store differs from raw-text scoring "
                       f"({len(bm25_served ^ bm25_fresh)} rows)")
        if ann_served != ann_fresh:
            bad.append(f"serve: ANN top-{K} from the store differs from re-encoded vectors "
                       f"({len(ann_served ^ ann_fresh)} rows)")
        if n_store != len(self.stream.live):
            bad.append(f"serve: norms store holds {n_store} docs, merged corpus {len(self.stream.live)}")
        return bad + self._check_luna()

    def _check_luna(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.src_dir}/documents.parquet')")
            return [f"serve: LuNA {q.kind} {q.params}: got {got} want {want}"
                    for q, got in self.answers if got != (want := ask.twin(con, q))]
        finally:
            con.close()
