"""``etl``: batch document ETL, task-bound.

Each operation takes the seeded corpus through the reference's benchmark
chain (``examples/bench.py``: regex_replace -> extract_entity on a MockLLM ->
merge -> spread_properties -> split_elements -> explode -> sketch -> embed,
shaped like the ``doc_etl_e2e`` gate), writes the exploded documents as
parquet, and runs exact and MinHash dedup over the corpus.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

import gen
from sycamore_spark import writer
from sycamore_spark.data.schema import DOC_SCHEMA
from sycamore_spark.docset import DocSet
from sycamore_spark.functions.partitioning import fan_out, overlap_jobs
from sycamore_spark.llm.client import MockLLM
from sycamore_spark.operators import dedup
from sycamore_spark.operators.elements import COALESCE_WHITESPACE
from sycamore_spark.sources import tables

MINHASH = dict(threshold=0.8, num_perm=64, bands=32, shingle_k=3)
_TITLE_RULE = (r"Text: (\S+ \S+ \S+)", lambda m: m.group(1))


def title_llm():
    return MockLLM([_TITLE_RULE])


def as_docset_frame(raw):
    """documents table -> DOC_SCHEMA frame whose elements are 10-token chunks."""
    df = fan_out(raw)
    toks = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    el_type = DOC_SCHEMA["elements"].dataType.elementType
    els = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("element_index"),
            F.lit("text").alias("type"),
            F.array_join(F.slice(toks, i * 10 + 1, 10), " ").alias("text_representation"),
            F.lit(None).cast("binary").alias("binary_representation"),
            F.lit(None).cast("array<double>").alias("bbox"),
            F.lit(1).alias("page_number"),
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit(None).cast("string").alias("properties"),
        ).cast(el_type),
    )
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit("doc").alias("type"),
        F.col("text").alias("text_representation"),
        F.lit(None).cast("binary").alias("binary_representation"),
        F.lit(None).cast("array<double>").alias("bbox"),
        F.lit(None).cast("array<bigint>").alias("shingles"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.to_json(F.create_map(
            F.lit("path"), F.concat(F.lit("mem://"), F.col("doc_id").cast("string")),
        )).alias("properties"),
        els.alias("elements"),
    )


def merged(raw) -> DocSet:
    return (
        DocSet(as_docset_frame(raw))
        .regex_replace(COALESCE_WHITESPACE)
        .extract_entity("title", title_llm)
        .merge("greedy", max_tokens=21)
    )


def chain(raw) -> DocSet:
    return (
        merged(raw)
        .spread_properties(["path", "title"])
        .split_elements(max_tokens=13)
        .explode()
        .sketch()
        .embed(dim=16, hash_fn=dedup.md5_hash60)
    )


class Etl:
    name = "etl"
    latency_kinds = ("etl",)
    cycle = 1
    prepare_repeats = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "etl")
        self.src_dir = os.path.join(self.root, "in")
        self.warm_dir = os.path.join(self.root, "warm")
        self.out_dir = os.path.join(self.root, "out")
        self.n_docs = ctx.size(600, 150)
        self.result: dict = {}

    def prepare(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        self.corpus = gen.corpus(self.ctx.seed, self.n_docs)
        gen.write_table(self.corpus.table(), self.src_dir, "documents")
        gen.write_table(gen.corpus(self.ctx.seed + 1, 200).table(), self.warm_dir, "documents")

    def warm(self) -> None:
        # the operation's three branches on a 200-doc corpus, concurrently so
        # their code generation overlaps, then one whole pass over the timed
        # corpus: without that pass the first timed pass is 40-70% slower than
        # the next, by an amount that varies from run to run
        raw = tables.load_table(self.ctx.spark, self.warm_dir, "documents")
        warm_out = os.path.join(self.root, "warm-out")
        overlap_jobs(
            lambda: writer.write_parquet(chain(raw).to_df(), warm_out),
            lambda: dedup.exact_dedup(raw, "doc_id", "text").collect(),
            lambda: dedup.minhash_lsh_pairs(raw, "doc_id", "text", **MINHASH).collect(),
        )
        self._pass(self.src_dir, warm_out)

    def next_op(self):
        return "etl", self._run

    def _run(self, tracer):
        self.result, pairs_df = self._pass(self.src_dir, self.out_dir, tracer)
        return self.n_docs, self.n_docs, (pairs_df,)

    def _pass(self, src_dir: str, out_dir: str, tracer=None):
        raw = tables.load_table(self.ctx.spark, src_dir, "documents")
        if tracer is not None:
            with tracer.span("docset.build"):
                out = chain(raw).to_df()
        else:
            out = chain(raw).to_df()
        writer.write_parquet(out, out_dir)
        exact = [r[0] for r in dedup.exact_dedup(raw, "doc_id", "text").select("doc_id").collect()]
        pairs_df = dedup.minhash_lsh_pairs(raw, "doc_id", "text", **MINHASH)
        return {"exact": exact, "pairs": [(r[0], r[1]) for r in pairs_df.collect()]}, pairs_df

    # -- correctness (outside the timed window) ---------------------------

    def check(self) -> list[str]:
        import duckdb

        if not self.result:
            return ["etl: no operation completed"]
        src = os.path.join(self.src_dir, "documents.parquet")
        con = duckdb.connect()
        try:
            bad = self._check_split(con)
            n_fp = con.execute(
                "SELECT count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) "
                f"FROM read_parquet('{src}')"
            ).fetchone()[0]
            if n_fp != len(self.result["exact"]):
                bad.append(f"etl: exact-dedup survivors {len(self.result['exact'])} != duckdb {n_fp}")
            return bad + self._check_minhash(con, src)
        finally:
            con.close()

    def _check_split(self, con) -> list[str]:
        """Split/explode reconstruction: per parent, the written children's
        texts in element order concatenate to the merged elements' texts."""
        raw = tables.load_table(self.ctx.spark, self.src_dir, "documents")
        want = {
            r[0]: r[1] for r in merged(raw).to_df().select(
                "doc_id",
                F.array_join(F.transform(F.col("elements"), lambda e: e["text_representation"]), ""),
            ).collect()
        }
        got = dict(con.execute(
            "SELECT parent_id, string_agg(text_representation, '' ORDER BY "
            "CAST(regexp_extract(doc_id, '-el(\\d+)$', 1) AS INTEGER)) "
            f"FROM read_parquet('{self.out_dir}/*.parquet') WHERE parent_id IS NOT NULL GROUP BY 1"
        ).fetchall())
        bad = [f"etl: doc {d} split/explode does not reconstruct the merged text"
               for d in sorted(set(want) | set(got)) if want.get(d) != got.get(d)]
        return bad[:20]

    def _check_minhash(self, con, src: str) -> list[str]:
        """Every reported pair has exact 3-shingle Jaccard >= threshold, and
        every planted duplicate pair that reaches it was reported."""
        pairs = set(self.result["pairs"])
        planted = {tuple(sorted(p)) for p in self.corpus.exact_dups + self.corpus.near_dups}
        candidates = pairs | planted
        if not candidates:
            return []
        con.execute("CREATE OR REPLACE TEMP TABLE cand (a BIGINT, b BIGINT)")
        con.executemany("INSERT INTO cand VALUES (?, ?)", sorted(candidates))
        rows = con.execute(
            f"""
            WITH sh AS (
              SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, '_')]
                     ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(t[i + 1:i + 3], '_')) END) AS s
              FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
                    FROM read_parquet('{src}'))
            )
            SELECT a, b, len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(x.s || y.s)) AS j
            FROM cand JOIN sh x ON x.doc_id = a JOIN sh y ON y.doc_id = b
            """
        ).fetchall()
        similar = {(a, b) for a, b, j in rows if j >= MINHASH["threshold"]}
        bad = [f"etl: minhash pair {p} below threshold" for p in sorted(pairs - similar)]
        bad += [f"etl: duplicate pair {p} missed" for p in sorted(similar - pairs)]
        return bad[:20]
