"""Physical execution of LogicalPlans against the engine.

Reference parity: ``SycamoreExecutor.execute`` — memoized post-order DAG
walk, each node dispatched to an operator that calls DocSet methods, subtree
results cached by content hash, caching disabled downstream of Sort
(reference: lib/sycamore/sycamore/query/execution/sycamore_executor.py:
101-167, 347-386; dispatch :169-314). Here each node compiles to DataFrame
transformations, so the *whole* plan stays lazy and Catalyst optimizes
across node boundaries (filter pushdown through the DAG is automatic —
the reference had to ask the LLM to push filters into OpenSearch DSL).

Scalars (Count, Math) and answer rows (SummarizeData) are computed eagerly,
matching the reference's scalar node semantics.
"""

from __future__ import annotations

import math as _math
import os
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sycamore_spark.docset import DocSet
from sycamore_spark.llm.client import LLM, MockLLM
from sycamore_spark.plans import logical as L
from sycamore_spark.sources.tables import load_table
from sycamore_spark.store import read_parquet


class PlanExecutor:
    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        llm_factory: Optional[Callable[[], LLM]] = None,
        cache_dir: Optional[str] = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.llm_factory = llm_factory or (lambda: MockLLM())
        self.cache_dir = cache_dir

    # -- public ----------------------------------------------------------

    def execute(self, plan: L.LogicalPlan) -> Any:
        errors = plan.validate_plan()
        if errors:
            raise ValueError(f"invalid plan: {errors}")
        memo: dict[int, Any] = {}
        return self._process(plan, plan.result_node, memo, cache_ok=True)

    # -- recursion (reference: sycamore_executor.py:101-167) --------------

    def _process(self, plan: L.LogicalPlan, node_id: int, memo: dict, cache_ok: bool) -> Any:
        if node_id in memo:
            return memo[node_id]
        node = plan.nodes[node_id]
        # Caching below a Sort would reorder-invalidate (reference :127).
        child_cache_ok = cache_ok and not isinstance(node, L.Sort)
        inputs = [self._process(plan, i, memo, child_cache_ok) for i in node.inputs]

        cached = self._cache_load(plan, node, cache_ok)
        if cached is not None:
            memo[node_id] = cached
            return cached

        result = self._dispatch(node, inputs)
        result = self._cache_store(plan, node, result, cache_ok)
        memo[node_id] = result
        return result

    def _cache_path(self, plan: L.LogicalPlan, node: L.Node) -> str | None:
        if not self.cache_dir:
            return None
        return os.path.join(self.cache_dir, node.cache_key(plan))

    def _cache_load(self, plan, node, cache_ok) -> DataFrame | None:
        p = self._cache_path(plan, node)
        if cache_ok and p and os.path.exists(os.path.join(p, "_SUCCESS")):
            return read_parquet(self.spark, p)
        return None

    def _cache_store(self, plan, node, result, cache_ok):
        p = self._cache_path(plan, node)
        if cache_ok and p and isinstance(result, DataFrame):
            result.write.mode("overwrite").parquet(p)
            return read_parquet(self.spark, p)
        return result

    # -- dispatch (reference: make_sycamore_op, sycamore_executor.py:169-314) --

    def _dispatch(self, node: L.Node, inputs: list[Any]) -> Any:
        h = getattr(self, f"_op_{node.node_type}", None)
        if h is None:
            raise NotImplementedError(f"no physical operator for {node.node_type}")
        return h(node, inputs)

    def _op_QueryDatabase(self, n: L.QueryDatabase, _):
        df = load_table(self.spark, self.sf_dir, n.table)
        if n.filter_expr:
            df = df.filter(n.filter_expr)
        return df

    def _op_QueryVectorDatabase(self, n: L.QueryVectorDatabase, _):
        from sycamore_spark.functions.local import local_frame
        from sycamore_spark.operators.similarity import brute_force_topk

        corpus = load_table(self.spark, self.sf_dir, n.table)
        if n.filter_expr:
            # reference opensearch_filter (query_database.py:104): filtered
            # kNN — restrict BEFORE ranking so top-k is exact over
            # qualifying rows (a pushdown-able parquet predicate)
            corpus = corpus.filter(n.filter_expr)
        q = local_frame(self.spark, [(0, n.query_vector)], "vec_id int, embedding array<float>")
        hits = brute_force_topk(q, corpus, k=n.k)
        return corpus.join(
            hits.select(F.col("neighbor_id").alias("vec_id"), "score"), "vec_id"
        )

    def _op_DataLoader(self, n: L.DataLoader, _):
        return read_parquet(self.spark, n.path)

    def _op_BasicFilter(self, n: L.BasicFilter, inputs):
        ds = DocSet(inputs[0])
        if n.range_filter:
            return ds.range_filter(n.field, n.start, n.end, date=n.is_date).to_df()
        return ds.match_filter(n.field, n.query).to_df()

    def _op_LlmFilter(self, n: L.LlmFilter, inputs):
        from sycamore_spark.llm.map import llm_filter

        return llm_filter(inputs[0], n.question, self.llm_factory, field=n.field, threshold=n.threshold)

    def _op_LlmExtractEntity(self, n: L.LlmExtractEntity, inputs):
        from sycamore_spark.llm.map import extract_entity

        return extract_entity(inputs[0], n.entity, self.llm_factory, field=n.field)

    def _op_Count(self, n: L.Count, inputs):
        ds = DocSet(inputs[0])
        return ds.count_distinct(n.distinct_field) if n.distinct_field else ds.count()

    def _op_Sort(self, n: L.Sort, inputs):
        return DocSet(inputs[0]).sort(n.field, n.descending, n.default_value).to_df()

    def _op_Limit(self, n: L.Limit, inputs):
        return inputs[0].limit(n.num_records)

    def _op_TopK(self, n: L.TopK, inputs):
        return DocSet(inputs[0]).top_k(n.field, n.K, n.descending, n.unique_field).to_df()

    def _op_FieldIn(self, n: L.FieldIn, inputs):
        return DocSet(inputs[0]).field_in(n.field, DocSet(inputs[1]), n.other_field).to_df()

    def _op_GroupBy(self, n: L.GroupBy, inputs):
        # carried as (df, field) to the following aggregate node
        return (inputs[0], n.field)

    def _op_AggregateCount(self, n: L.AggregateCount, inputs):
        df, field = inputs[0]
        return DocSet(df).groupby_count(field).to_df()

    def _op_AggregateCollect(self, n: L.AggregateCollect, inputs):
        df, field = inputs[0]
        return DocSet(df).groupby(field).collect(n.collect_field, joined=True).to_df()

    def _op_KMeanClustering(self, n: L.KMeanClustering, inputs):
        from sycamore_spark.operators.clustering import kmeans

        return kmeans(inputs[0], vec_col=n.vec_col, k=n.K)

    def _op_LLMClustering(self, n: L.LLMClustering, inputs):
        from sycamore_spark.llm.map import llm_cluster_entity

        return llm_cluster_entity(inputs[0], self.llm_factory, field=n.field,
                                  instruction=n.instruction or "Form clusters",
                                  num_groups=n.num_groups)

    def _op_Unroll(self, n: L.Unroll, inputs):
        return DocSet(inputs[0]).unroll(n.field, n.delimiter).to_df()

    def _op_Math(self, n: L.Math, inputs):
        a, b = float(inputs[0]), float(inputs[1])
        if n.operation == "add":
            return a + b
        if n.operation == "subtract":
            return a - b
        if n.operation == "multiply":
            return a * b
        return a / b if b != 0 else _math.nan  # reference: operations.py:66-71

    def _op_SummarizeData(self, n: L.SummarizeData, inputs):
        from sycamore_spark.llm.map import summarize_data

        return summarize_data(self.spark, inputs[0], n.question, self.llm_factory, field=n.field)


# ---------------------------------------------------------------------------
# Codegen (reference: sycamore_executor.py:316-345 — each operator emits
# Python source for tracing/portability, stitched and exec'd)
# ---------------------------------------------------------------------------

_SCRIPTS: dict[str, str] = {
    "QueryDatabase": "df_{id} = load_table(spark, sf_dir, {table!r})\n{filt}",
    "BasicFilter": "df_{id} = DocSet(df_{in0}).{fn}.to_df()",
    "Count": "df_{id} = DocSet(df_{in0}).count()",
    "Sort": "df_{id} = DocSet(df_{in0}).sort({field!r}, {desc}).to_df()",
    "Limit": "df_{id} = df_{in0}.limit({k})",
    "TopK": "df_{id} = DocSet(df_{in0}).top_k({field!r}, {k}).to_df()",
    "Unroll": "df_{id} = DocSet(df_{in0}).unroll({field!r}, {delim!r}).to_df()",
    "FieldIn": "df_{id} = DocSet(df_{in0}).field_in({field!r}, DocSet(df_{in1}), {other!r}).to_df()",
}


def plan_to_script(plan: L.LogicalPlan) -> str:
    """Emit equivalent PySpark source for a (relational-subset) plan —
    the reference's codegen mode. Raises for nodes without a template."""
    lines = [
        "from sycamore_spark.docset import DocSet",
        "from sycamore_spark.sources.tables import load_table",
    ]
    done: set[int] = set()

    def emit(nid: int):
        if nid in done:
            return
        node = plan.nodes[nid]
        for i in node.inputs:
            emit(i)
        t = node.node_type
        if t not in _SCRIPTS:
            raise NotImplementedError(f"codegen: {t}")
        tmpl = _SCRIPTS[t]
        kw = dict(id=nid, in0=node.inputs[0] if node.inputs else None,
                  in1=node.inputs[1] if len(node.inputs) > 1 else None)
        if isinstance(node, L.QueryDatabase):
            kw.update(table=node.table,
                      filt=f"df_{nid} = df_{nid}.filter({node.filter_expr!r})" if node.filter_expr else "")
        elif isinstance(node, L.BasicFilter):
            fn = (f"range_filter({node.field!r}, {node.start!r}, {node.end!r}, date={node.is_date})"
                  if node.range_filter else f"match_filter({node.field!r}, {node.query!r})")
            kw.update(fn=fn)
        elif isinstance(node, L.Sort):
            kw.update(field=node.field, desc=node.descending)
        elif isinstance(node, L.Limit):
            kw.update(k=node.num_records)
        elif isinstance(node, L.TopK):
            kw.update(field=node.field, k=node.K)
        elif isinstance(node, L.Unroll):
            kw.update(field=node.field, delim=node.delimiter)
        elif isinstance(node, L.FieldIn):
            kw.update(field=node.field, other=node.other_field)
        lines.append(tmpl.format(**kw))
        done.add(nid)

    emit(plan.result_node)
    lines.append(f"result = df_{plan.result_node}")
    return "\n".join(lines)
