"""DocSet: the fluent dataset API, as a thin wrapper over DataFrame.

Reference parity: ``DocSet`` (reference: lib/sycamore/sycamore/docset.py:47)
— a lazy plan-carrying collection with fluent transforms. A Spark DataFrame
*is* that abstraction (lazy, immutable, plan-carrying), so this wrapper adds
only the reference's method surface and semantics; every method compiles to
native DataFrame operations that Catalyst can optimize (pushdown, pruning,
join selection, AQE). Nothing here collects to the driver except the
explicit actions (count/take/show).

Scale notes (100 TB design):
- ``field_in`` is a broadcast left-semi join, not a driver-side set collect
  (the reference collects B's values on the driver, docset.py:1646-1682).
- ``limit`` is Spark's distributed limit, not driver iteration
  (reference Limit iterates rows on the driver, transforms/basics.py:11-59).
- ``groupby_count``/``top_k`` are partial-aggregated shuffles; top_k's final
  ordering is a tiny reduced dataset, never a full sort of the input.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sycamore_spark.functions.fields import field_expr
from sycamore_spark.functions.filters import match_filter_expr, range_filter_expr


class DocSet:
    """Fluent wrapper over a DataFrame mirroring the reference DocSet API."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- plumbing ---------------------------------------------------------

    @property
    def spark(self):
        return self.df.sparkSession

    def _wrap(self, df: DataFrame) -> "DocSet":
        return DocSet(df)

    def to_df(self) -> DataFrame:
        return self.df

    def field(self, field: str) -> Column:
        return field_expr(self.df, field)

    # -- actions (reference: docset.py:147,208,239,261,68) ----------------

    def count(self) -> int:
        return self.df.count()

    def count_distinct(self, field: str) -> int:
        return self.df.select(field_expr(self.df, field).alias("_f")).where(F.col("_f").isNotNull()).distinct().count()

    def take(self, n: int = 20) -> list:
        return self.df.take(n)

    def take_all(self) -> list:
        return self.df.collect()

    def show(
        self,
        limit: int = 20,
        show_elements: bool = True,
        num_elements: int = -1,  # -1 shows all elements
        show_binary: bool = False,
        show_embedding: bool = False,
        truncate_content: bool = True,
        truncate_length: int = 100,
        stream=None,
    ) -> None:
        """Human-readable document dump (reference DocSet.show,
        docset.py:68-145, option-for-option): elements collapsed to a
        count or sliced to ``num_elements``; binary payloads shown as
        ``<n bytes>`` unless ``show_binary``; embeddings as ``<n floats>``
        unless ``show_embedding``; text truncated to ``truncate_length``
        with a ``<k chars>`` marker."""
        import pprint
        import sys

        stream = stream or sys.stdout

        def _truncate(s):
            if len(s) <= truncate_length:
                return s
            return s[:truncate_length] + f" <{len(s) - truncate_length} chars>"

        def _fmt_embedding(emb):
            return None if emb is None else f"<{len(emb)} floats>"

        def _scrub_element(e: dict) -> dict:
            e = dict(e)
            if not show_binary and e.get("binary_representation") is not None:
                e["binary_representation"] = f"<{len(e['binary_representation'])} bytes>".encode()
            if truncate_content and e.get("text_representation") is not None:
                e["text_representation"] = _truncate(e["text_representation"])
            if not show_embedding and e.get("embedding") is not None:
                e["embedding"] = _fmt_embedding(e["embedding"])
            return e

        for row in self.df.limit(limit).collect():
            doc = row.asDict(recursive=True)
            els = doc.get("elements")
            if not show_elements:
                doc["elements"] = f"<{len(els or [])} elements>"
            elif els is not None:
                if 0 <= num_elements < len(els):
                    els = els[:num_elements]
                doc["elements"] = [_scrub_element(e) for e in els]
            if not show_binary and doc.get("binary_representation") is not None:
                doc["binary_representation"] = f"<{len(doc['binary_representation'])} bytes>".encode()
            if truncate_content and doc.get("text_representation") is not None:
                doc["text_representation"] = _truncate(doc["text_representation"])
            if not show_embedding and doc.get("embedding") is not None:
                doc["embedding"] = _fmt_embedding(doc["embedding"])
            pprint.pp(doc, stream=stream)

    def take_stream(self):
        """Row iterator streamed to the driver (reference: docset.py:261
        take_stream → Spark toLocalIterator: one partition in memory at a
        time, not the whole result)."""
        return self.df.toLocalIterator()

    # -- filters (reference: docset.py:1160; functions/basic_filters.py) --

    def filter(self, predicate: Column | str | Callable) -> "DocSet":
        """Native Column/SQL-string predicates stay JVM-side; Python callables
        run as a pandas-batched predicate over full rows (slow path)."""
        if isinstance(predicate, (Column, str)):
            return self._wrap(self.df.filter(predicate))
        return self.map_batch(lambda pdf: pdf[pdf.apply(predicate, axis=1)])

    def match_filter(self, field: str, query: Any, ignore_case: bool = True) -> "DocSet":
        return self._wrap(self.df.filter(match_filter_expr(self.df, field, query, ignore_case)))

    def range_filter(self, field: str, start: Any = None, end: Any = None, date: bool = False) -> "DocSet":
        return self._wrap(self.df.filter(range_filter_expr(self.df, field, start, end, date)))

    def drop_if_missing(self, field: str) -> "DocSet":
        return self._wrap(self.df.filter(field_expr(self.df, field).isNotNull()))

    # -- projections ------------------------------------------------------

    def select(self, *cols) -> "DocSet":
        return self._wrap(self.df.select(*cols))

    def with_property(self, name: str, value: Column | Any) -> "DocSet":
        value = value if isinstance(value, Column) else F.lit(value)
        return self._wrap(self.df.withColumn(name, value))

    def with_properties(self, props: dict[str, Column | Any]) -> "DocSet":
        ds = self
        for k, v in props.items():
            ds = ds.with_property(k, v)
        return ds

    # -- generic UDF surface (reference: docset.py:1010,1097,1261) --------

    def map(self, fn: Callable[[dict], dict], schema=None) -> "DocSet":
        """Per-row dict->dict transform, executed as Arrow-batched pandas."""
        out_schema = schema or self.df.schema

        def run(it: Iterable[pd.DataFrame]):
            for pdf in it:
                rows = [fn(r) for r in pdf.to_dict("records")]
                yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

        return self._wrap(self.df.mapInPandas(run, schema=out_schema))

    def flat_map(self, fn: Callable[[dict], list[dict]], schema=None) -> "DocSet":
        out_schema = schema or self.df.schema

        def run(it: Iterable[pd.DataFrame]):
            for pdf in it:
                rows = [o for r in pdf.to_dict("records") for o in fn(r)]
                yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

        return self._wrap(self.df.mapInPandas(run, schema=out_schema))

    def map_batch(self, fn: Callable[[pd.DataFrame], pd.DataFrame], schema=None) -> "DocSet":
        out_schema = schema or self.df.schema

        def run(it: Iterable[pd.DataFrame]):
            for pdf in it:
                out = fn(pdf)
                if len(out):
                    yield out[[f.name for f in out_schema.fields]]

        return self._wrap(self.df.mapInPandas(run, schema=out_schema))

    def transform(self, cls, **kwargs) -> "DocSet":
        """Inject a custom stage: cls(docset, **kwargs) -> DocSet or DataFrame."""
        out = cls(self, **kwargs)
        return out if isinstance(out, DocSet) else self._wrap(out)

    def apply(self, fn: Callable[[dict], Any]) -> "DocSet":
        """Side-effecting per-row visit; rows pass through unchanged
        (reference: docset.py:1024 ``apply``). The effect runs on
        executors — use for metrics/logging hooks, not driver state."""
        def passthrough(row: dict) -> dict:
            fn(row)
            return row

        return self.map(passthrough)

    # -- sort / limit / sample (reference: transforms/sort.py, basics.py) --

    def sort(self, field: str, descending: bool = False, default_val: Any = None) -> "DocSet":
        col = field_expr(self.df, field)
        df = self.df
        if default_val is None:
            # Reference semantics: docs missing the sort key are dropped
            # (docset.py:1408-1415 via DropIfMissingField).
            df = df.filter(col.isNotNull())
        else:
            col = F.coalesce(col, F.lit(default_val))
        return self._wrap(df.orderBy(col.desc() if descending else col.asc()))

    def limit(self, n: int) -> "DocSet":
        return self._wrap(self.df.limit(n))

    def random_sample(self, fraction: float, seed: int | None = None) -> "DocSet":
        return self._wrap(self.df.sample(fraction=fraction, seed=seed))

    def hash_sample(self, fraction: float, key: str = "doc_id") -> "DocSet":
        """Deterministic content-addressed sample: same rows on every run,
        any partitioning; smaller fractions are subsets of larger ones
        (operators/sampling.py — the reproducible twin of random_sample)."""
        from sycamore_spark.operators.sampling import hash_sample

        return self._wrap(hash_sample(self.df, key, fraction))

    def weighted_sample(self, weight, key: str = "doc_id") -> "DocSet":
        """Importance sampling: per-row keep probability from a weight
        Column (e.g. a quality score), decided content-addressed
        (operators/sampling.py weighted_hash_sample)."""
        from sycamore_spark.operators.sampling import weighted_hash_sample

        return self._wrap(weighted_hash_sample(self.df, key, weight))

    def split_by_group(self, group_col: str, splits: dict,
                       split_col: str = "split") -> "DocSet":
        """Contamination-safe train/valid/test assignment routed by a
        group key so near-dups never straddle splits
        (operators/sampling.py group_aware_split)."""
        from sycamore_spark.operators.sampling import group_aware_split

        return self._wrap(group_aware_split(self.df, group_col, splits, split_col))

    def semantic_dedup(self, centroids, id_col: str = "doc_id",
                       vec_col: str = "embedding", **kwargs) -> "DocSet":
        """SemDedup centroid-cell embedding near-dup with lowest-id keep
        (operators/dedup.py semantic_dedup)."""
        from sycamore_spark.operators.dedup import semantic_dedup

        return self._wrap(semantic_dedup(self.df, id_col, vec_col, centroids, **kwargs))

    def dedup_against(self, corpus: "DocSet | None" = None, corpus_df=None,
                      key_col: str = "doc_id", **kwargs) -> "DocSet":
        """Incremental new-batch-vs-corpus dedup via the distributed Bloom
        prefilter + exact verify (operators/dedup.py incremental_dedup)."""
        from sycamore_spark.operators.dedup import incremental_dedup

        other = corpus.df if corpus is not None else corpus_df
        return self._wrap(incremental_dedup(self.df, other, key_col, **kwargs))

    def bm25(self, query_terms, id_col: str = "doc_id",
             text_col: str = "text_representation", **kwargs) -> "DocSet":
        """Distributed Lucene-BM25 scores for the docs containing any
        query term (operators/retrieval.py bm25_scores)."""
        from sycamore_spark.operators.retrieval import bm25_scores

        return self._wrap(bm25_scores(self.df, query_terms, id_col, text_col, **kwargs))

    def bm25_multi(self, queries: "DocSet", id_col: str = "doc_id",
                   text_col: str = "text_representation", **kwargs) -> "DocSet":
        """Batch BM25: one posting aggregation scores a whole DataFrame
        of queries (operators/retrieval.py bm25_scores_multi)."""
        from sycamore_spark.operators.retrieval import bm25_scores_multi

        qdf = queries.df if hasattr(queries, "df") else queries
        return self._wrap(
            bm25_scores_multi(self.df, qdf, id_col, text_col, **kwargs)
        )

    def phrase_search(self, phrase: str, id_col: str = "doc_id",
                      text_col: str = "text_representation") -> "DocSet":
        """Positional exact-phrase match with occurrence count and first
        offset (operators/retrieval.py phrase_search)."""
        from sycamore_spark.operators.retrieval import phrase_search

        return self._wrap(phrase_search(self.df, phrase, id_col, text_col))

    def snippets(self, queries: "DocSet", window: int = 10,
                 id_col: str = "doc_id",
                 text_col: str = "text_representation", **kwargs) -> "DocSet":
        """Best max-term-density snippet window per (query, doc) pair
        (operators/retrieval.py best_snippets)."""
        from sycamore_spark.operators.retrieval import best_snippets

        qdf = queries.df if hasattr(queries, "df") else queries
        return self._wrap(
            best_snippets(self.df, qdf, window, id_col, text_col, **kwargs)
        )

    def inverted_index(self, id_col: str = "doc_id",
                       text_col: str = "text_representation",
                       **kwargs) -> "DocSet":
        """Materialized (term, doc) postings with tf/df and impact rank
        (operators/retrieval.py build_inverted_index)."""
        from sycamore_spark.operators.retrieval import build_inverted_index

        return self._wrap(build_inverted_index(self.df, id_col, text_col, **kwargs))

    def to_pdf(self, converter=None, binary_col: str = "binary_representation",
               path_col: str = "path") -> "DocSet":
        """Convert binary payloads to PDF via an office-suite converter
        (operators/multimodal.py convert_binary_to_pdf; reference
        utils/fileformat_tools.py binary_representation_to_pdf)."""
        from sycamore_spark.operators.multimodal import convert_binary_to_pdf

        return self._wrap(convert_binary_to_pdf(self.df, converter, binary_col, path_col))

    def normalize_rotation(self, **kwargs) -> "DocSet":
        """Detect per-page quadrant rotation from text-direction vectors
        and rotate bboxes upright (operators/elements.py
        normalize_rotation; reference utils/rotation.py)."""
        from sycamore_spark.operators.elements import normalize_rotation

        return self._wrap(normalize_rotation(self.df, **kwargs))

    def tfidf_terms(self, id_col: str = "doc_id",
                    text_col: str = "text_representation", k: int = 5) -> "DocSet":
        """Per-doc top-k TF-IDF keyword extraction
        (operators/retrieval.py tfidf_topk_terms)."""
        from sycamore_spark.operators.retrieval import tfidf_topk_terms

        return self._wrap(tfidf_topk_terms(self.df, id_col, text_col, k=k))

    def key_skew(self, key_col: str, top_n: int = 20) -> "DocSet":
        """Heavy-hitter profile of a prospective join/group key — the
        pre-flight for salted_join (operators/profiling.py)."""
        from sycamore_spark.operators.profiling import key_skew_profile

        return self._wrap(key_skew_profile(self.df, key_col, top_n))

    def diff_against(self, old: "DocSet", id_col: str = "doc_id",
                     fp_col: str = "fingerprint") -> "DocSet":
        """Snapshot diff vs an older corpus version: added / removed /
        changed / unchanged per id (operators/profiling.py corpus_diff)."""
        from sycamore_spark.operators.profiling import corpus_diff

        return self._wrap(corpus_diff(old.df, self.df, id_col, fp_col))

    def mixture_plan(self, stratum: str, target: dict,
                     weight_col: str | None = None) -> "DocSet":
        """Downsampling plan achieving a target mixture — feed the result's
        keep fractions into stratified_sample; pass weight_col for a
        token-denominated plan (operators/sampling.py mixture_plan)."""
        from sycamore_spark.operators.sampling import mixture_plan

        return self._wrap(mixture_plan(self.df, stratum, target, weight_col=weight_col))

    def dsir_select(self, target: "DocSet", k: int, id_col: str = "doc_id",
                    text_col: str = "text", n_buckets: int = 4096) -> "DocSet":
        """Top-k most target-like documents by DSIR importance weight
        (Xie et al. 2023; operators/sampling.py dsir_select)."""
        from sycamore_spark.operators.sampling import dsir_select

        return self._wrap(dsir_select(
            self.df, target.df, k, id_col=id_col, text_col=text_col,
            n_buckets=n_buckets,
        ))

    def soft_dedup(self, pairs: "DocSet | None" = None, pairs_df=None,
                   id_col: str = "doc_id") -> "DocSet":
        """Keep each near-dup cluster member with probability 1/|cluster|
        (one expected copy per cluster, content-addressed —
        operators/dedup.py soft_dedup)."""
        from sycamore_spark.operators.dedup import soft_dedup

        p = pairs.df if pairs is not None else pairs_df
        if p is None:
            raise ValueError(
                "soft_dedup needs near-dup pairs: pass pairs= (a DocSet) or "
                "pairs_df= (a DataFrame with id_a/id_b columns)"
            )
        return self._wrap(soft_dedup(self.df, p, id_col))

    def decontaminate(self, probes: "DocSet", id_col: str = "doc_id",
                      text_col: str = "text", min_len: int = 8) -> "DocSet":
        """Cut every token span whose min_len-grams leak from the probe/
        eval corpus (operators/dedup.py contamination_spans +
        remove_token_spans)."""
        from sycamore_spark.operators.dedup import (
            contamination_spans,
            remove_token_spans,
        )

        spans = contamination_spans(self.df, probes.df, id_col, text_col, min_len)
        return self._wrap(remove_token_spans(self.df, spans, id_col, text_col))

    def store_sync(self, dest: "DocSet", source_md: "DocSet | None" = None,
                   id_col: str = "doc_id", mtime_col: str = "mtime",
                   key_col: str = "sync_key") -> "DocSet":
        """Reload/purge plan reconciling a destination store's piece
        listing with this source snapshot (operators/storesync.py
        store_sync — the reference's OpenSearch materialize-dir/index sync
        algorithm, reference connectors/opensearch/sync.py)."""
        from sycamore_spark.operators.storesync import store_sync

        return self._wrap(store_sync(
            self.df, dest.df, source_md.df if source_md is not None else None,
            id_col=id_col, mtime_col=mtime_col, key_col=key_col,
        ))

    def bin_pack(self, size_col: str, budget: int, id_col: str = "doc_id",
                 partition_cols: "list[str] | None" = None,
                 chunk_size: int = 512) -> "DocSet":
        """Pack whole documents into fixed token budgets by deterministic
        first-fit-decreasing — the document-preserving SFT packing layout
        (operators/sampling.py bin_pack)."""
        from sycamore_spark.operators.sampling import bin_pack

        return self._wrap(bin_pack(
            self.df, size_col, budget, id_col,
            partition_cols=partition_cols, chunk_size=chunk_size,
        ))

    def gopher_filter(self, id_col: str = "doc_id",
                      text_col: str = "text_representation",
                      **thresholds) -> "DocSet":
        """Per-rule booleans + keep flag of the full Gopher/MassiveText
        quality-filter composition (operators/textstats.py
        gopher_filter; Rae et al. 2021 Table A1)."""
        from sycamore_spark.operators.textstats import gopher_filter

        return self._wrap(gopher_filter(
            self.df, id_col=id_col, text_col=text_col, **thresholds
        ))

    def gopher_repetition(self, id_col: str = "doc_id",
                          text_col: str = "text_representation") -> "DocSet":
        """Full Gopher repetition suite — char-fraction semantics
        (operators/textstats.py gopher_repetition; Rae 2021 Table A1)."""
        from sycamore_spark.operators.textstats import gopher_repetition

        return self._wrap(gopher_repetition(self.df, id_col=id_col, text_col=text_col))

    def c4_clean(self, id_col: str = "doc_id",
                 text_col: str = "text_representation", **kwargs) -> "DocSet":
        """C4 line/page cleaning (operators/textstats.py c4_clean;
        Raffel et al. 2020 §2.2)."""
        from sycamore_spark.operators.textstats import c4_clean

        return self._wrap(c4_clean(self.df, id_col=id_col, text_col=text_col, **kwargs))

    def blocklist_match(self, phrases: list, id_col: str = "doc_id",
                        text_col: str = "text_representation",
                        lower: bool = True) -> "DocSet":
        """Aho-Corasick multi-pattern blocklist matching (operators/
        textstats.py blocklist_match): one pass, all phrases, counts
        independent of blocklist size."""
        from sycamore_spark.operators.textstats import blocklist_match

        return self._wrap(blocklist_match(
            self.df, phrases, id_col=id_col, text_col=text_col, lower=lower
        ))

    def instruction_pool_filter(self, pool: "DocSet", id_col: str = "doc_id",
                                text_col: str = "text_representation",
                                threshold: float = 0.7, **kw) -> "DocSet":
        """Self-Instruct pool dedup (operators/dedup.py
        instruction_pool_filter; Wang et al. 2022 §3.4): keep rows of
        this DocSet whose max ROUGE-L F1 vs ``pool`` is below
        ``threshold``."""
        from sycamore_spark.operators.dedup import instruction_pool_filter

        return self._wrap(instruction_pool_filter(
            self.df, pool.df, id_col=id_col, text_col=text_col,
            threshold=threshold, **kw
        ))

    def rho_select(self, reference: "DocSet", id_col: str = "doc_id",
                   text_col: str = "text_representation",
                   keep_fraction: float = 0.5) -> "DocSet":
        """RHO-loss-style data selection (operators/sampling.py
        rho_select; Mindermann et al. 2022): keep the top fraction by
        reducible loss against ``reference``'s holdout-trained LM."""
        from sycamore_spark.operators.sampling import rho_select

        return self._wrap(rho_select(
            self.df, reference.df, id_col=id_col, text_col=text_col,
            keep_fraction=keep_fraction,
        ))

    def doremi_weights(self, domain_col: str, id_col: str = "doc_id",
                       text_col: str = "text_representation",
                       rounds: int = 6, eta: float = 1.0,
                       smoothing: float = 0.01) -> "DocSet":
        """DoReMi domain reweighting (operators/sampling.py
        doremi_weights; Xie et al. 2023) — feed avg_weight_micros / 1e6
        into ``stratified_sample`` to materialize the mixture."""
        from sycamore_spark.operators.sampling import doremi_weights

        return self._wrap(doremi_weights(
            self.df, domain_col=domain_col, id_col=id_col,
            text_col=text_col, rounds=rounds, eta=eta, smoothing=smoothing,
        ))

    def unimax_plan(self, group_col: str, size_col: str, budget: int,
                    max_epochs: float = 1.0) -> "DocSet":
        """UniMax per-language budget allocation (operators/sampling.py
        unimax_plan; Chung et al. 2023) — feed epochs_micros / 1e6 into
        ``stratified_sample`` to materialize the mixture."""
        from sycamore_spark.operators.sampling import unimax_plan

        return self._wrap(unimax_plan(
            self.df, group_col, size_col, budget, max_epochs=max_epochs
        ))

    def winnow_pairs(self, id_col: str = "doc_id", text_col: str = "text",
                     k: int = 4, w: int = 4, min_shared: int = 2) -> "DocSet":
        """Local-overlap candidate pairs from winnowing fingerprints
        (MOSS; operators/dedup.py winnowing_overlap_pairs)."""
        from sycamore_spark.operators.dedup import winnowing_overlap_pairs

        return self._wrap(winnowing_overlap_pairs(
            self.df, id_col, text_col, k=k, w=w, min_shared=min_shared
        ))

    def paragraph_dedup(self, id_col: str = "doc_id", text_col: str = "text",
                        window: int = 20, threshold: float = 0.8,
                        num_perm: int = 64, bands: int = 32,
                        shingle_k: int = 3) -> "DocSet":
        """Cut near-duplicate paragraph windows (MinHash-LSH over
        window-token segments feeding remove_token_spans — Lee-2021 span
        dedup relaxed to approximate matching; operators/dedup.py
        paragraph_dedup)."""
        from sycamore_spark.operators.dedup import paragraph_dedup

        return self._wrap(paragraph_dedup(
            self.df, id_col, text_col, window=window, threshold=threshold,
            num_perm=num_perm, bands=bands, shingle_k=shingle_k,
        ))

    def zipf_stats(self, stratum: str, top_n: int = 1000) -> "DocSet":
        """Per-stratum corpus health: vocab size, hapax ratio, Zipf slope
        (operators/textstats.py zipf_stats)."""
        from sycamore_spark.operators.textstats import zipf_stats

        return self._wrap(zipf_stats(self.df, stratum, top_n=top_n))

    def paragraph_filter(self, window: int = 10, keep_quantile: float = 0.25,
                         id_col: str = "doc_id", text_col: str = "text") -> "DocSet":
        """CCNet-style paragraph-level LM filtering: cut low-fluency
        segments, keep the rest of each doc (operators/textstats.py
        paragraph_lm_filter)."""
        from sycamore_spark.operators.textstats import paragraph_lm_filter

        return self._wrap(paragraph_lm_filter(
            self.df, id_col, text_col, window=window, keep_quantile=keep_quantile
        ))

    def ewma(self, key_col: str, order_col: str, value_col: str,
             alpha: float = 0.1) -> "DocSet":
        """Per-key EWMA drift signal (operators/monitor.py ewma_by_key)."""
        from sycamore_spark.operators.monitor import ewma_by_key

        return self._wrap(ewma_by_key(self.df, key_col, order_col, value_col, alpha))

    def attribute(self, value_cols: list[str], id_col: str = "doc_id",
                  fuzzy: bool = False) -> "DocSet":
        """Extracted-property provenance to element spans
        (llm/extract.py attribute_values)."""
        from sycamore_spark.llm.extract import attribute_values

        return self._wrap(attribute_values(self.df, value_cols, id_col=id_col, fuzzy=fuzzy))

    def stratified_sample(self, fractions: dict, stratum: str,
                          key: str = "doc_id", default_fraction: float = 0.0) -> "DocSet":
        """Per-stratum keep fractions (dataset mixing) in one shuffle-free
        filter (operators/sampling.py stratified_hash_sample)."""
        from sycamore_spark.operators.sampling import stratified_hash_sample

        return self._wrap(stratified_hash_sample(
            self.df, key, stratum, fractions, default_fraction=default_fraction
        ))

    def pack_shards(self, size_col: str, budget: int, order_col: str = "doc_id",
                    partition_cols: list[str] | None = None) -> "DocSet":
        """Greedy token-budget shard assignment for training-data export
        (operators/sampling.py pack_shards)."""
        from sycamore_spark.operators.sampling import pack_shards

        return self._wrap(pack_shards(
            self.df, size_col, budget, order_col, partition_cols=partition_cols
        ))

    def sequence_pack(self, size_col: str, seq_len: int, order_col: str = "doc_id",
                      partition_cols: list[str] | None = None) -> "DocSet":
        """GPT-style token-level sequence packing: docs split across
        fixed-length sequence boundaries (operators/sampling.py
        sequence_pack; pack_shards is the doc-granular sibling)."""
        from sycamore_spark.operators.sampling import sequence_pack

        return self._wrap(sequence_pack(
            self.df, size_col, seq_len, order_col, partition_cols=partition_cols
        ))

    def concat_shards(self, text_col: str = "text_representation",
                      order_col: str = "doc_id", separator: str = "\n\n") -> "DocSet":
        """One training example per packed shard: texts joined in order with
        a document separator (operators/sampling.py concat_shards)."""
        from sycamore_spark.operators.sampling import concat_shards

        return self._wrap(concat_shards(
            self.df, text_col, order_col=order_col, separator=separator
        ))

    def cap_per_group(self, group_col: str, n: int, key: str = "doc_id") -> "DocSet":
        """At most n docs per group (per-domain cap), chosen by md5 rank so
        the survivors are stable across runs and cluster sizes
        (operators/sampling.py cap_per_group)."""
        from sycamore_spark.operators.sampling import cap_per_group

        return self._wrap(cap_per_group(self.df, group_col, key, n))

    def curriculum_order(self, score_col: str, id_col: str = "doc_id",
                         n_buckets: int = 10) -> "DocSet":
        """Interleaved difficulty-tier training order
        (operators/sampling.py curriculum_order)."""
        from sycamore_spark.operators.sampling import curriculum_order

        return self._wrap(curriculum_order(self.df, score_col, id_col, n_buckets))

    def robust_scale(self, value_col: str, group_cols: list[str] | None = None) -> "DocSet":
        """Median/IQR scaling in integer micros (operators/profiling.py
        robust_scale)."""
        from sycamore_spark.operators.profiling import robust_scale

        return self._wrap(robust_scale(self.df, value_col, group_cols))

    def bpe_train(self, text_col: str = "text", num_merges: int = 10,
                  **kwargs) -> list[dict]:
        """Learn a BPE merge table over the corpus (operators/bpe.py
        bpe_train). Returns the model (list of merge dicts), not a DocSet —
        feed it to .bpe_encode()."""
        from sycamore_spark.operators.bpe import bpe_train

        return bpe_train(self.df, text_col, num_merges, **kwargs)

    def bpe_encode(self, merges: list[dict], id_col: str = "doc_id",
                   text_col: str = "text", **kwargs) -> "DocSet":
        """Per-doc BPE token counts with a trained merge table
        (operators/bpe.py bpe_encode)."""
        from sycamore_spark.operators.bpe import bpe_encode

        return self._wrap(bpe_encode(self.df, merges, id_col, text_col, **kwargs))

    def semantic_chunk(self, id_col: str = "doc_id", text_col: str = "text",
                       block_tokens: int = 32, threshold_micros: int = 600_000) -> "DocSet":
        """Topic-drift chunk boundaries (operators/standardize.py
        semantic_chunk)."""
        from sycamore_spark.operators.standardize import semantic_chunk

        return self._wrap(semantic_chunk(
            self.df, id_col, text_col, block_tokens, threshold_micros=threshold_micros
        ))

    def frequent_tokens(self, text_col: str = "text", k: int = 100) -> "DocSet":
        """Exact heavy hitters above n/k via Misra-Gries prefilter
        (operators/sketches.py frequent_tokens)."""
        from sycamore_spark.operators.sketches import frequent_tokens

        return self._wrap(frequent_tokens(self.df, text_col, k))

    def containment_pairs(self, id_col: str = "doc_id", text_col: str = "text",
                          threshold: float = 0.9) -> "DocSet":
        """Asymmetric doc-inside-doc near-dup pairs (operators/dedup.py
        containment_pairs)."""
        from sycamore_spark.operators.dedup import containment_pairs

        return self._wrap(containment_pairs(self.df, id_col, text_col, threshold))

    def canonical_urls(self, url_col: str, **kwargs) -> "DocSet":
        """Attach canonical-URL and registered-domain columns
        (operators/web.py canonical_urls)."""
        from sycamore_spark.operators.web import canonical_urls

        return self._wrap(canonical_urls(self.df, url_col, **kwargs))

    def url_dedup(self, url_col: str, id_col: str = "doc_id") -> "DocSet":
        """One row per canonical URL, smallest id wins
        (operators/web.py url_dedup)."""
        from sycamore_spark.operators.web import url_dedup

        return self._wrap(url_dedup(self.df, url_col, id_col))

    def duplicate_spans(self, id_col: str = "doc_id", text_col: str = "text",
                        min_len: int = 8) -> "DocSet":
        """Maximal duplicated token spans across the corpus with canonical
        first-occurrence marking (operators/dedup.py duplicate_spans —
        the Lee et al. 2021 n-gram span dedup)."""
        from sycamore_spark.operators.dedup import duplicate_spans

        return self._wrap(duplicate_spans(self.df, id_col, text_col, min_len))

    def containment_lsh_pairs(self, id_col: str = "doc_id", text_col: str = "text",
                              threshold: float = 0.9, **kwargs) -> "DocSet":
        """Scale path for containment_pairs: size-stratified minhash LSH
        candidates + exact verification (operators/dedup.py
        containment_lsh_pairs)."""
        from sycamore_spark.operators.dedup import containment_lsh_pairs

        return self._wrap(
            containment_lsh_pairs(self.df, id_col, text_col, threshold, **kwargs)
        )

    def apply_changes(self, changes: "DocSet", key_cols: list[str], seq_col: str,
                      **kwargs) -> "DocSet":
        """Latest-wins CDC merge of a change feed into this snapshot
        (operators/cdc.py apply_changes)."""
        from sycamore_spark.operators.cdc import apply_changes

        return self._wrap(apply_changes(self.df, changes.df, key_cols, seq_col, **kwargs))

    def scd2_history(self, key_cols: list[str], seq_col: str) -> "DocSet":
        """SCD2 versioned audit rows (operators/cdc.py scd2_history)."""
        from sycamore_spark.operators.cdc import scd2_history

        return self._wrap(scd2_history(self.df, key_cols, seq_col))

    def mmr_rerank(self, k: int = 4, lambda_pct: int = 70, **kwargs) -> "DocSet":
        """Maximal-marginal-relevance diversification of retrieval
        candidates (operators/similarity.py mmr_rerank)."""
        from sycamore_spark.operators.similarity import mmr_rerank

        return self._wrap(mmr_rerank(self.df, k=k, lambda_pct=lambda_pct, **kwargs))

    def corpus_shuffle(self, n_shards: int, key: str = "doc_id") -> "DocSet":
        """Deterministic training-order shuffle: md5-derived (shard, pos)
        permutation, reproducible at any cluster size
        (operators/sampling.py corpus_shuffle)."""
        from sycamore_spark.operators.sampling import corpus_shuffle

        return self._wrap(corpus_shuffle(self.df, key, n_shards))

    def approx_distinct(self, key: str, group_cols: list[str] | None = None,
                        lg_k: int = 12) -> "DocSet":
        """HLL distinct-count estimate per group — the 100 TB twin of
        count_distinct (operators/sketches.py hll_distinct)."""
        from sycamore_spark.operators.sketches import hll_distinct

        return self._wrap(hll_distinct(self.df, key, group_cols, lg_k))

    def approx_quantiles(self, value_col: str, probs: list[float],
                         group_cols: list[str] | None = None, k: int = 200) -> "DocSet":
        """Mergeable KLL quantile estimates — the 100 TB twin of
        quantile_stats' exact percentile (operators/sketches.py)."""
        from sycamore_spark.operators.sketches import kll_quantiles

        return self._wrap(kll_quantiles(self.df, value_col, probs, group_cols, k))

    def overlap_with(self, key: str, side_col: str, side_a: str, side_b: str,
                     lg_k: int = 12) -> "DocSet":
        """Theta-sketch set-overlap cardinalities between two slices
        without joining raw rows (operators/sketches.py theta_overlap)."""
        from sycamore_spark.operators.sketches import theta_overlap

        return self._wrap(theta_overlap(self.df, key, side_col, side_a, side_b, lg_k))

    def normalize_by_rank(self, value_col: str, group_cols: list[str] | None = None,
                          out_col: str = "pct_rank") -> "DocSet":
        """Percent-rank score calibration within groups
        (operators/textstats.py normalize_by_rank)."""
        from sycamore_spark.operators.textstats import normalize_by_rank

        return self._wrap(normalize_by_rank(self.df, value_col, group_cols, out_col))

    def corpus_stats(self, group_cols: list[str], value_col: str) -> "DocSet":
        """Mergeable additive stats state — persist per snapshot, fold
        deltas with operators.incremental.merge_stats
        (operators/incremental.py)."""
        from sycamore_spark.operators.incremental import corpus_stats

        return self._wrap(corpus_stats(self.df, group_cols, value_col))

    def classify(self, token_model, label_model, id_col: str = "doc_id",
                 text_col: str = "text_representation") -> "DocSet":
        """Score docs against a trained Naive-Bayes model
        (operators/classify.py nb_classify; train with nb_train)."""
        from sycamore_spark.operators.classify import nb_classify

        tm = token_model.df if isinstance(token_model, DocSet) else token_model
        lm = label_model.df if isinstance(label_model, DocSet) else label_model
        return self._wrap(nb_classify(self.df, tm, lm, id_col, text_col))

    def cluster_zorder(self, cols: list[str], bits: int = 8,
                       n_partitions: int | None = None) -> "DocSet":
        """Rewrite the layout so every partition bounds ALL listed
        dimensions — multi-predicate min/max pruning
        (operators/layout.py cluster_by_zorder)."""
        from sycamore_spark.operators.layout import cluster_by_zorder

        return self._wrap(cluster_by_zorder(self.df, cols, bits, n_partitions))

    def top_per_group(self, group_col: str, order_col: str, n: int,
                      descending: bool = True, tiebreak_col: str | None = None) -> "DocSet":
        """Best n rows per group by an explicit score
        (operators/sampling.py top_per_group)."""
        from sycamore_spark.operators.sampling import top_per_group

        return self._wrap(top_per_group(self.df, group_col, order_col, n, descending, tiebreak_col))

    def histogram(self, value_col: str, lo: float, hi: float, n_buckets: int,
                  group_cols: list[str] | None = None) -> "DocSet":
        """Fixed-width profiling histogram (operators/profiling.py)."""
        from sycamore_spark.operators.profiling import histogram

        return self._wrap(histogram(self.df, value_col, lo, hi, n_buckets, group_cols))

    def clip_outliers(self, value_col: str, group_cols: list[str] | None = None,
                      lower_q: float = 0.01, upper_q: float = 0.99,
                      out_col: str | None = None) -> "DocSet":
        """Winsorize to per-group exact percentiles
        (operators/textstats.py clip_outliers)."""
        from sycamore_spark.operators.textstats import clip_outliers

        return self._wrap(clip_outliers(self.df, value_col, group_cols, lower_q, upper_q, out_col))

    def truncate_tokens(self, max_tokens: int, text_col: str = "text_representation",
                        out_col: str | None = None) -> "DocSet":
        """Token-budget truncation (operators/textstats.py truncate_tokens)."""
        from sycamore_spark.operators.textstats import truncate_tokens

        return self._wrap(truncate_tokens(self.df, text_col, max_tokens, out_col))

    def resample(self, ts_col: str, key_col: str, value_col: str,
                 step_seconds: int, id_col: str | None = None) -> "DocSet":
        """Gap-fill resampling onto a fixed grid with forward fill
        (operators/timeseries.py resample_fill)."""
        from sycamore_spark.operators.timeseries import resample_fill

        return self._wrap(resample_fill(self.df, ts_col, key_col, value_col, step_seconds, id_col))

    def divergence_between(self, side_col: str, side_a: str, side_b: str,
                           text_col: str = "text_representation") -> "DocSet":
        """Token-distribution KL drift between two corpus slices
        (operators/profiling.py corpus_divergence)."""
        from sycamore_spark.operators.profiling import corpus_divergence

        return self._wrap(corpus_divergence(self.df, side_col, side_a, side_b, text_col))

    def bucket_by_quantiles(self, value_col: str, n_buckets: int,
                            group_cols: list[str] | None = None,
                            out_col: str = "qbucket") -> "DocSet":
        """Equi-depth tiers from exact percentile splits broadcast back
        (operators/textstats.py bucket_by_quantiles)."""
        from sycamore_spark.operators.textstats import bucket_by_quantiles

        return self._wrap(bucket_by_quantiles(self.df, value_col, n_buckets, group_cols, out_col))

    def pattern_counts(self, id_col: str = "doc_id",
                       text_col: str = "text_representation",
                       patterns: dict[str, str] | None = None) -> "DocSet":
        """Per-doc PII/link density counts (operators/textstats.py
        pattern_counts)."""
        from sycamore_spark.operators.textstats import pattern_counts

        return self._wrap(pattern_counts(self.df, id_col, text_col, patterns))

    def validate(self, rules: dict) -> "DocSet":
        """Data-quality expectation gate: one scan, per-rule
        (n_rows, n_fail, ok) (operators/profiling.py
        validate_expectations)."""
        from sycamore_spark.operators.profiling import validate_expectations

        return self._wrap(validate_expectations(self.df, rules))

    def redact_pii(self, text_col: str = "text_representation", **kwargs) -> "DocSet":
        """Scrub email/SSN/card/phone/IP-shaped spans via chained native
        regex (operators/textstats.py redact_pii)."""
        from sycamore_spark.operators.textstats import redact_pii

        return self._wrap(redact_pii(self.df, text_col, **kwargs))

    def remove_repeated_lines(self, text_col: str = "text_representation", **kwargs) -> "DocSet":
        """C4-style boilerplate removal: drop lines repeated across more
        than max_docs documents (operators/textstats.py)."""
        from sycamore_spark.operators.textstats import remove_repeated_lines

        return self._wrap(remove_repeated_lines(self.df, text_col=text_col, **kwargs))

    def filter_by_quantile(self, value_col: str, quantile: float,
                           group_cols: list[str] | None = None, keep: str = "above") -> "DocSet":
        """Adaptive quality filter: keep rows above/below their group's
        exact quantile (operators/textstats.py filter_by_quantile)."""
        from sycamore_spark.operators.textstats import filter_by_quantile

        return self._wrap(filter_by_quantile(self.df, value_col, quantile, group_cols, keep))

    # -- set ops (reference: transforms/union.py) --------------------------

    def union(self, *others: "DocSet") -> "DocSet":
        df = self.df
        for o in others:
            df = df.unionByName(o.df, allowMissingColumns=True)
        return self._wrap(df)

    def intersect(self, other: "DocSet") -> "DocSet":
        return self._wrap(self.df.intersect(other.df))

    def except_all(self, other: "DocSet") -> "DocSet":
        return self._wrap(self.df.exceptAll(other.df))

    def drop_duplicates(self, *fields: str) -> "DocSet":
        return self._wrap(self.df.dropDuplicates(list(fields) or None))

    # -- joins (reference: docset.py:1646 field_in; native joins are new) --

    def field_in(self, field: str, other: "DocSet", other_field: str) -> "DocSet":
        """Left semi-join: keep rows where field ∈ other[other_field].

        The reference collects the RHS values into a driver-side set
        (docset.py:1671-1676); here the RHS is distinct-ed and broadcast,
        so it scales to RHS sizes far beyond driver memory limits and
        never blocks the driver.
        """
        rhs = other.df.select(field_expr(other.df, other_field).alias("__fin")).distinct()
        lhs_col = field_expr(self.df, field)
        return self._wrap(
            self.df.join(F.broadcast(rhs), on=lhs_col == F.col("__fin"), how="left_semi")
        )

    def join(self, other: "DocSet", on, how: str = "inner", broadcast_other: bool = False) -> "DocSet":
        rhs = F.broadcast(other.df) if broadcast_other else other.df
        return self._wrap(self.df.join(rhs, on=on, how=how))

    # -- grouping / aggregation (reference: grouped_data.py, groupby_count) --

    def groupby(self, *fields: str) -> "GroupedDocSet":
        return GroupedDocSet(self, [field_expr(self.df, f).alias(f.replace(".", "_")) for f in fields])

    def groupby_count(self, field: str, unique_field: str | None = None) -> "DocSet":
        """Group by ``field`` and count; with ``unique_field`` count distinct
        values of it per group (reference: transforms/groupby_count.py:9-33,
        which runs a two-level groupby — here a single countDistinct shuffle).
        Output columns: ``key``, ``count`` (reference emits
        properties.key/properties.count)."""
        key = field_expr(self.df, field).alias("key")
        df = self.df.filter(field_expr(self.df, field).isNotNull())
        if unique_field is None:
            out = df.groupBy(key).agg(F.count(F.lit(1)).alias("count"))
        else:
            out = df.groupBy(key).agg(F.countDistinct(field_expr(df, unique_field)).alias("count"))
        return self._wrap(out)

    def top_k(
        self,
        field: str,
        k: int | None = None,
        descending: bool = True,
        unique_field: str | None = None,
    ) -> "DocSet":
        """groupby_count → sort by count (tie-break on key for determinism)
        → limit k (reference: docset.py:1485-1528)."""
        counted = self.groupby_count(field, unique_field).df
        order = [F.col("count").desc() if descending else F.col("count").asc(), F.col("key").asc()]
        out = counted.orderBy(*order)
        if k is not None:
            out = out.limit(k)
        return self._wrap(out)

    def aggregate(self, agg, out_schema, group_key: str | Column | None = None) -> "DocSet":
        """Custom partial+final aggregation (reference: docset.py:1421
        ``aggregate``; transforms/aggregation.py:173). ``agg`` is an
        operators.aggregation.Aggregation; map-side combine then a
        partials-only shuffle."""
        from sycamore_spark.operators.aggregation import run_aggregation

        return self._wrap(run_aggregation(self.df, agg, out_schema, group_key=group_key))

    def term_frequency(self, field: str = "text", lower: bool = True) -> "DocSet":
        """Global token frequency over a text field (reference computes a
        per-doc Counter, transforms/term_frequency.py:8; the distributed
        version is explode+groupBy with map-side partial aggregation)."""
        col = field_expr(self.df, field)
        if lower:
            col = F.lower(col)
        tok = F.explode(F.split(col, r"\s+")).alias("token")
        return self._wrap(
            self.df.select(tok).filter(F.col("token") != "").groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
        )

    # -- unroll / explode (reference: transforms/explode.py:68) -----------

    def unroll(self, field: str, delimiter: str = " ") -> "DocSet":
        """Split a delimited field into N cloned rows, one per value.

        A dotted ``field`` must name a struct member; the exploded value is
        written back in place with ``withField`` (a JSON-string property
        column can't be rewritten in place — extract it to a column first).
        """
        col = field_expr(self.df, field)
        if "." not in field:
            others = [c for c in self.df.columns if c != field]
            return self._wrap(
                self.df.select(*others, F.explode(F.split(col, delimiter)).alias(field))
            )
        from pyspark.sql.types import StructType as _St

        root, rest = field.split(".", 1)
        if root not in self.df.columns or not isinstance(self.df.schema[root].dataType, _St):
            raise ValueError(
                f"unroll: dotted field {field!r} requires {root!r} to be a struct "
                f"column; extract the value to a top-level column first"
            )
        out = (
            self.df.withColumn("_unroll_v", F.explode(F.split(col, delimiter)))
            .withColumn(root, F.col(root).withField(rest, F.col("_unroll_v")))
            .drop("_unroll_v")
        )
        return self._wrap(out)

    # -- windows / ranking --------------------------------------------------

    def rank_within(
        self, partition_field: str, order_field: str, descending: bool = True,
        rank_col: str = "rank", tiebreak_field: str | None = None,
    ) -> "DocSet":
        order_col = field_expr(self.df, order_field)
        order = [order_col.desc() if descending else order_col.asc()]
        if tiebreak_field:
            order.append(field_expr(self.df, tiebreak_field).asc())
        w = Window.partitionBy(field_expr(self.df, partition_field)).orderBy(*order)
        return self._wrap(self.df.withColumn(rank_col, F.row_number().over(w)))

    def window_stats(
        self, partition_field: str, order_field: str, value_field: str,
        tiebreak_field: str | None = None, ma_rows: int = 3,
    ) -> "DocSet":
        """Analytic window suite over a partitioned ordered frame (SURVEY.md
        §2.5 — Spark Window covers and exceeds the reference's
        element-ordering): lag/lead neighbors, running sum, and a
        ``ma_rows``-row moving average. Running/moving sums aggregate the
        value as exact DECIMAL (order-independent) and convert to double
        only on output, so results are identical cross-engine and under any
        partitioning. One shuffle on the partition key serves all four
        columns."""
        order = [field_expr(self.df, order_field).asc()]
        if tiebreak_field:
            order.append(field_expr(self.df, tiebreak_field).asc())
        w = Window.partitionBy(field_expr(self.df, partition_field)).orderBy(*order)
        dec = field_expr(self.df, value_field).cast("decimal(18,2)")
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ma = w.rowsBetween(-(ma_rows - 1), Window.currentRow)
        val = field_expr(self.df, value_field)
        return self._wrap(
            self.df
            .withColumn("prev_value", F.lag(val, 1).over(w))
            .withColumn("next_value", F.lead(val, 1).over(w))
            .withColumn("running_sum", F.sum(dec).over(run).cast("double"))
            .withColumn(
                "moving_avg",
                F.sum(dec).over(ma).cast("double") / F.count(F.lit(1)).over(ma),
            )
        )

    # -- document ETL / model / LLM delegates -------------------------------
    # Thin fluent forwarding onto the operator modules, mirroring the
    # reference DocSet method surface (docset.py:295-1644) so reference
    # pipelines translate 1:1. Each target module documents semantics + the
    # reference citation; lazy imports keep docset import-light.

    def partition(self, partitioner) -> "DocSet":
        from sycamore_spark.operators.partition import partition

        return self._wrap(partition(self.df, partitioner))

    def reorder_elements(self, key) -> "DocSet":
        """Per-doc element reorder by a Python key (reference
        functions/elements.py reorder_elements)."""
        from sycamore_spark.operators.elements import reorder_elements

        return self._wrap(reorder_elements(self.df, key))

    def xycut_sort(self) -> "DocSet":
        """XY-cut reading-order element sort (reference utils/xycut.py;
        operators/elements.py xycut_sort_elements)."""
        from sycamore_spark.operators.elements import xycut_sort_elements

        return self._wrap(xycut_sort_elements(self.df))

    def explode(self) -> "DocSet":
        from sycamore_spark.operators.elements import explode_elements

        return self._wrap(explode_elements(self.df))

    def unexplode(self) -> "DocSet":
        """Reassemble exploded children into their parents' elements array
        (HierarchicalDocument shape, reference data/document.py:421)."""
        from sycamore_spark.operators.elements import unexplode_elements

        return self._wrap(unexplode_elements(self.df))

    def spread_properties(self, keys: list[str] | None = None) -> "DocSet":
        from sycamore_spark.operators.elements import spread_properties

        return self._wrap(spread_properties(self.df, keys))

    def filter_elements(self, predicate) -> "DocSet":
        from sycamore_spark.operators.elements import filter_elements

        return self._wrap(filter_elements(self.df, predicate))

    def map_elements(self, fn) -> "DocSet":
        from sycamore_spark.operators.elements import map_elements

        return self._wrap(map_elements(self.df, fn))

    def regex_replace(self, spec: list[tuple[str, str]]) -> "DocSet":
        from sycamore_spark.operators.elements import regex_replace

        return self._wrap(regex_replace(self.df, spec))

    def markdown(self) -> "DocSet":
        from sycamore_spark.operators.elements import render_markdown

        return self._wrap(render_markdown(self.df))

    def mark_bbox_preset(self, token_limit: int = 512) -> "DocSet":
        from sycamore_spark.operators.elements import mark_bbox_preset

        return self._wrap(mark_bbox_preset(self.df, token_limit))

    def merge(self, strategy: str = "greedy", **kwargs) -> "DocSet":
        """strategy: greedy | marked | section | header_augment | table
        (reference merger classes, merge_elements.py)."""
        from sycamore_spark.operators import elements as el

        fn = {
            "greedy": el.merge_greedy_text,
            "marked": el.merge_marked,
            "section": el.merge_greedy_section,
            "header_augment": el.merge_header_augment,
            "table": el.merge_tables,
        }[strategy]
        return self._wrap(fn(self.df, **kwargs))

    def split_elements(self, max_tokens: int = 512) -> "DocSet":
        from sycamore_spark.operators.elements import split_elements

        return self._wrap(split_elements(self.df, max_tokens))

    def select_pages(self, page_selection, **kwargs) -> "DocSet":
        """Keep only the selected pages (ints / [start,end] ranges,
        1-indexed), renumbering elements (reference utils/pdf_utils.py
        select_pages)."""
        from sycamore_spark.operators.pages import select_pages

        return self._wrap(select_pages(self.df, page_selection, **kwargs))

    def split_pages(self, num_pages: int = 1, **kwargs) -> "DocSet":
        """Split each doc into children of num_pages consecutive pages
        (reference utils/pdf_utils.py split_pdf)."""
        from sycamore_spark.operators.pages import split_pages

        return self._wrap(split_pages(self.df, num_pages, **kwargs))

    def promote_title(self, **kwargs) -> "DocSet":
        """Retype the largest-font page-1 header/caption as Title
        (reference utils/pdf_utils.py promote_title)."""
        from sycamore_spark.operators.pages import promote_title

        return self._wrap(promote_title(self.df, **kwargs))

    def crop_boxes(self, **kwargs) -> "DocSet":
        """Attach padded crop windows + PIL pixel rects for element bboxes
        (reference utils/image_utils.py crop_to_bbox)."""
        from sycamore_spark.operators.images import crop_boxes

        return self._wrap(crop_boxes(self.df, **kwargs))

    def draw_boxes(self, **kwargs) -> "DocSet":
        """Native draw plan for bbox visualization (reference
        utils/image_utils.py try_draw_boxes); render with
        operators.images.render_boxes (gated PIL seam)."""
        from sycamore_spark.operators.images import draw_ops

        return self._wrap(draw_ops(self.df, **kwargs))

    def extract_element_images(self, **kwargs) -> "DocSet":
        """Crop image elements' bboxes out of their page image (reference
        utils/image_utils.py extract_images_from_elements)."""
        from sycamore_spark.operators.images import extract_element_images

        return self._wrap(extract_element_images(self.df, **kwargs))

    def augment_text(self, template, out_field: str = "text_representation") -> "DocSet":
        from sycamore_spark.operators.standardize import augment_text

        return self._wrap(augment_text(self.df, template, out_field))

    def standardize(self, field: str, kind: str = "us_state", **kwargs) -> "DocSet":
        """kind: us_state | datetime (reference StandardizeProperty,
        standardizer.py:312)."""
        from sycamore_spark.operators import standardize as std

        fn = {"us_state": std.standardize_us_state, "datetime": std.standardize_datetime}[kind]
        return self._wrap(fn(self.df, field, **kwargs))

    def fill_missing_units(self, fields: dict, **kwargs) -> "DocSet":
        """Fill null unit-group properties from the first known one with
        the precision-aware rounded conversion (reference
        utils/derivation.py fill_missing_units :145-157)."""
        from sycamore_spark.operators.derive import fill_missing_units

        return self._wrap(fill_missing_units(self.df, fields, **kwargs))

    def unit_group(self, fields: dict, **kwargs) -> "DocSet":
        """Same fill with the EXACT conversion (reference unit_group
        :157-185)."""
        from sycamore_spark.operators.derive import unit_group

        return self._wrap(unit_group(self.df, fields, **kwargs))

    def fill_from_formula(self, formula: str) -> "DocSet":
        """Solve ``a <op> b = target`` for the one missing property per
        row (reference fill_from_formula :187-267)."""
        from sycamore_spark.operators.derive import fill_from_formula

        return self._wrap(fill_from_formula(self.df, formula))

    def embed(self, **kwargs) -> "DocSet":
        from sycamore_spark.operators.embed import embed

        return self._wrap(embed(self.df, **kwargs))

    def sketch(self, **kwargs) -> "DocSet":
        from sycamore_spark.operators.sketcher import sketch

        return self._wrap(sketch(self.df, **kwargs))

    def sketch_uniquify(self, **kwargs) -> "DocSet":
        from sycamore_spark.operators.sketcher import sketch_uniquify

        return self._wrap(sketch_uniquify(self.df, **kwargs))

    def rerank(self, query: str, **kwargs) -> "DocSet":
        from sycamore_spark.operators.clustering import rerank

        return self._wrap(rerank(self.df, query, **kwargs))

    def kmeans(self, **kwargs) -> "DocSet":
        from sycamore_spark.operators.clustering import kmeans

        return self._wrap(kmeans(self.df, **kwargs))

    def clustering(self, centroids, cluster_field_name: str = "cluster",
                   field_name: str = "embedding") -> "DocSet":
        """Nearest-given-centroid assignment (reference docset.clustering,
        docset.py:1082)."""
        from sycamore_spark.operators.clustering import assign_clusters

        return self._wrap(assign_clusters(self.df, centroids, field_name, cluster_field_name))

    def llm_generate_group(self, llm_factory, **kwargs) -> list[str]:
        """Sample-driven LLM group-label generation (reference docset.py:1531)."""
        from sycamore_spark.llm.map import llm_generate_group

        return llm_generate_group(self.df, llm_factory, **kwargs)

    def llm_clustering(self, llm_factory, groups: list[str], **kwargs) -> "DocSet":
        """Assign docs to given groups (reference docset.py:1554)."""
        from sycamore_spark.llm.map import llm_clustering

        return self._wrap(llm_clustering(self.df, llm_factory, groups, **kwargs))

    def llm_map(self, prompt: str, out_col: str, llm_factory, **kwargs) -> "DocSet":
        from sycamore_spark.llm.map import llm_map

        return self._wrap(llm_map(self.df, prompt, out_col, llm_factory, **kwargs))

    def llm_filter(self, question: str, llm_factory, **kwargs) -> "DocSet":
        from sycamore_spark.llm.map import llm_filter

        return self._wrap(llm_filter(self.df, question, llm_factory, **kwargs))

    def extract_entity(self, name: str, llm_factory, **kwargs) -> "DocSet":
        from sycamore_spark.llm.map import extract_entity

        return self._wrap(extract_entity(self.df, name, llm_factory, **kwargs))

    def extract_properties(self, schema, llm_factory, **kwargs) -> "DocSet":
        from sycamore_spark.llm.extract import extract_properties_typed

        return self._wrap(extract_properties_typed(self.df, schema, llm_factory, **kwargs))

    def extract(self, schema, llm_factory, **kwargs) -> "DocSet":
        """SchemaV2-driven typed property extraction (reference
        DocSet.extract, docset.py:462, the property_extraction Extract
        entry point) — same stage as ``extract_properties``."""
        return self.extract_properties(schema, llm_factory, **kwargs)

    def extract_stepthrough(self, schema, llm_factory, **kwargs) -> "DocSet":
        """Element-batch step-through extraction with a shrinking schema
        (reference property_extraction Extract + TakeFirstTrimSchema +
        step-through strategies; llm/stepthrough.py)."""
        from sycamore_spark.llm.stepthrough import extract_stepthrough

        return self._wrap(extract_stepthrough(self.df, schema, llm_factory, **kwargs))

    def lineage(self):
        """The lazy plan carrier (reference DocSet.lineage, docset.py:61,
        returns its plan Node) — here the underlying Spark DataFrame,
        whose logical plan IS the docset's lineage."""
        return self.df

    def extract_schema(self, llm_factory, **kwargs) -> "DocSet":
        """Per-document schema inference into properties._schema (reference
        docset.extract_schema, docset.py:604)."""
        from sycamore_spark.llm.extract import infer_schema_per_doc

        return self._wrap(infer_schema_per_doc(self.df, llm_factory, **kwargs))

    def extract_batch_schema(self, llm_factory, sample: int = 10, **kwargs) -> "DocSet":
        """One schema inferred from a bounded sample, stamped onto EVERY doc
        (reference docset.extract_batch_schema, docset.py:644) — a broadcast
        literal, no per-doc LLM calls."""
        import json as _json

        from sycamore_spark.llm.extract import infer_schema

        text_col = kwargs.pop("text_col", "text_representation")
        schema = infer_schema(self.df, llm_factory, text_col=text_col, sample=sample, **kwargs)
        fields = sorted(p.name for p in schema.properties)
        return self._wrap(self.df.withColumn("_schema", F.lit(_json.dumps(fields))))

    def summarize(self, llm_factory, multistep: bool = False, **kwargs) -> "DocSet":
        from sycamore_spark.llm.map import summarize_docs
        from sycamore_spark.llm.summarize import summarize_multistep

        fn = summarize_multistep if multistep else summarize_docs
        return self._wrap(fn(self.df, llm_factory, **kwargs))

    def llm_cluster_entity(self, llm_factory, **kwargs) -> "DocSet":
        from sycamore_spark.llm.map import llm_cluster_entity

        return self._wrap(llm_cluster_entity(self.df, llm_factory, **kwargs))

    def infer_schema(self, llm_factory, mode: str = "intersection", **kwargs) -> "DocSet":
        """Per-doc schema inference + distributed merge into ONE combined
        schema row (reference docset.infer_schema, docset.py:483 — reduce_fn
        defaults to intersection_of_fields there too)."""
        from sycamore_spark.llm.extract import infer_schema_per_doc, merge_schemas

        with_schema = infer_schema_per_doc(self.df, llm_factory, **kwargs)
        return self._wrap(merge_schemas(with_schema, mode))

    def suggest_schema(self, llm_factory, mode: str = "intersection", **kwargs):
        """Infer + merge a corpus-wide schema and return it as a value
        (reference docset.suggest_schema, docset.py:540 — infer_schema then
        take the single combined row)."""
        row = self.infer_schema(llm_factory, mode, **kwargs).take(1)
        return row[0] if row else None

    def clear_materialize(self, path: str) -> None:
        """Delete a materialize checkpoint directory so the next
        USE_STORED run recomputes (reference docset.clear_materialize,
        docset.py:1785). Uses the Hadoop FS API, so it works on any
        scheme the cluster can reach, not just the driver's local disk."""
        from sycamore_spark.materialize import delete_path

        delete_path(self.spark, path)

    def extract_graph_entities(self, llm_factory, entity_types: list[str], **kwargs) -> "DocSet":
        """Entity mentions table (reference docset.extract_graph_entities,
        docset.py:676; operators/graph.py)."""
        from sycamore_spark.operators.graph import extract_graph_entities

        return self._wrap(extract_graph_entities(self.df, llm_factory, entity_types, **kwargs))

    def extract_graph_relationships(self, llm_factory, relationship_types: list[str], **kwargs) -> "DocSet":
        from sycamore_spark.operators.graph import extract_graph_relationships

        return self._wrap(extract_graph_relationships(self.df, llm_factory, relationship_types, **kwargs))

    def resolve_graph_entities(self) -> "DocSet":
        """Dedup mentions into canonical nodes (reference
        docset.resolve_graph_entities, docset.py:718)."""
        from sycamore_spark.operators.graph import resolve_graph_entities

        return self._wrap(resolve_graph_entities(self.df))

    def llm_map_elements(self, prompt: str, out_prop: str, llm_factory, **kwargs) -> "DocSet":
        from sycamore_spark.llm.map import llm_map_elements

        return self._wrap(llm_map_elements(self.df, prompt, out_prop, llm_factory, **kwargs))

    def summarize_images(self, llm_factory, **kwargs) -> "DocSet":
        from sycamore_spark.llm.map import summarize_images

        return self._wrap(summarize_images(self.df, llm_factory, **kwargs))

    def llm_query(self, prompt: str, llm_factory, **kwargs) -> "DocSet":
        """LLMTextQueryAgent parity (reference docset.llm_query,
        docset.py:1449): per-element or accumulated per-document query."""
        from sycamore_spark.llm.map import llm_query

        return self._wrap(llm_query(self.df, prompt, llm_factory, **kwargs))

    def extract_table_properties(self, llm_factory, **kwargs) -> "DocSet":
        from sycamore_spark.llm.map import extract_table_properties

        return self._wrap(extract_table_properties(self.df, llm_factory, **kwargs))

    def extract_document_structure(self, **kwargs) -> "DocSet":
        from sycamore_spark.operators.elements import extract_document_structure

        return self._wrap(extract_document_structure(self.df, **kwargs))

    def asof_join(self, other: "DocSet", on, **kwargs) -> "DocSet":
        from sycamore_spark.operators.joins import asof_join

        return self._wrap(asof_join(self.df, other.df, on, **kwargs))

    def salted_join(self, other: "DocSet", on: str, salt: int = 16, how: str = "inner") -> "DocSet":
        from sycamore_spark.operators.joins import salted_join

        return self._wrap(salted_join(self.df, other.df, on, salt=salt, how=how))

    def bloom_join(self, other: "DocSet", on: str, other_on: str | None = None,
                   how: str = "inner", nbits: int = 1 << 20) -> "DocSet":
        """Runtime-filter join: Bloom over the (small) other side's keys
        prefilters this side before its shuffle; result identical to the
        plain join (operators/joins.py bloom_join)."""
        from sycamore_spark.operators.joins import bloom_join

        return self._wrap(bloom_join(self.df, other.df, on, other_on, how=how, nbits=nbits))

    def query(self, executor_factory, **kwargs) -> "DocSet":
        """Run a DocSet of query rows through a QueryExecutor (reference:
        transforms/query.py:50; docset.py:1351)."""
        from sycamore_spark.operators.query_exec import run_queries

        return self._wrap(run_queries(self.df, executor_factory, **kwargs))

    def promote_properties(self, schema, **kwargs) -> "DocSet":
        from sycamore_spark.operators.properties import promote_properties

        return self._wrap(promote_properties(self.df, schema, **kwargs))

    def demote_properties(self, cols: list[str], **kwargs) -> "DocSet":
        from sycamore_spark.operators.properties import demote_properties

        return self._wrap(demote_properties(self.df, cols, **kwargs))

    # -- persistence (reference: materialize.py) ----------------------------

    def materialize(self, path: str, source_mode: str = "RECOMPUTE") -> "DocSet":
        """Checkpoint to parquet; USE_STORED reuses a complete prior run
        (reference: transforms/materialize.py:277 writes one pickle per doc
        and checks completeness markers; parquet's _SUCCESS marker plays
        that role natively)."""
        import os

        from sycamore_spark.store import read_parquet

        spark = self.spark
        if source_mode == "USE_STORED" and os.path.exists(os.path.join(path, "_SUCCESS")):
            return self._wrap(read_parquet(spark, path))
        self.df.write.mode("overwrite").parquet(path)
        return self._wrap(read_parquet(spark, path))

    def persist(self) -> "DocSet":
        return self._wrap(self.df.persist())

    def explain(self, mode: str = "formatted") -> None:
        """Print the physical plan (reference docset.explain, docset.py:64
        prints the Ray logical plan; here it is Catalyst's formatted plan —
        the thing to audit for pushdown/broadcast/codegen)."""
        self.df.explain(mode)

    @property
    def write(self):
        """Sink facade: ``ds.write.parquet/json/files/duckdb/iceberg``
        (reference DocSetWriter, docset.py:1699)."""
        from sycamore_spark.reader import DocSetWriter

        return DocSetWriter(self)


class GroupedDocSet:
    """Reference GroupedData surface (reference: grouped_data.py:94-118)."""

    def __init__(self, ds: DocSet, keys: list[Column]):
        self.ds = ds
        self.keys = keys

    def count(self) -> DocSet:
        return DocSet(self.ds.df.groupBy(*self.keys).agg(F.count(F.lit(1)).alias("count")))

    def collect(self, field: str, joined: bool = False) -> DocSet:
        """collect_list of a field per group; ``joined=True`` reproduces the
        reference's comma-joined string output (grouped_data.py:73)."""
        col = field_expr(self.ds.df, field)
        agg = F.collect_list(col)
        agg = F.concat_ws(", ", agg) if joined else agg
        return DocSet(self.ds.df.groupBy(*self.keys).agg(agg.alias("collected")))

    def agg(self, *exprs: Column) -> DocSet:
        return DocSet(self.ds.df.groupBy(*self.keys).agg(*exprs))

    def aggregate(self, *exprs, out_schema=None) -> DocSet:
        """Column exprs → native groupBy().agg. An
        operators.aggregation.Aggregation (with ``out_schema``) → the custom
        partial+final frame, grouped by the first groupby key."""
        from sycamore_spark.operators.aggregation import Aggregation, run_aggregation

        if len(exprs) == 1 and isinstance(exprs[0], Aggregation):
            assert out_schema is not None, "custom Aggregation needs out_schema"
            return DocSet(
                run_aggregation(self.ds.df, exprs[0], out_schema, group_key=self.keys[0])
            )
        return self.agg(*exprs)

    def reduce(self, fn: Callable[[pd.DataFrame], pd.DataFrame], schema) -> DocSet:
        """Arbitrary per-group reduction via applyInPandas (reference Reduce
        collects sub_docs then reduces, transforms/aggregation.py:221)."""
        return DocSet(self.ds.df.groupBy(*self.keys).applyInPandas(fn, schema=schema))
