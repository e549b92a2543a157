"""``ask``: the LuNA query path, read-only.

Seeded questions go either through ``QueryClient`` (natural language, the
rule-based planner) or straight to ``PlanExecutor`` as LogicalPlans. The
plans cover QueryDatabase, BasicFilter, FieldIn, Count, TopK,
GroupBy+AggregateCount, Sort/Limit, Math, LlmFilter and SummarizeData on
mock LLMs. Every answer is compared with a DuckDB SQL twin after the timed
window.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame

import gen
from sycamore_spark.functions.partitioning import overlap_jobs
from sycamore_spark.llm.client import ScoringMockLLM
from sycamore_spark.plans import logical as L
from sycamore_spark.plans.client import QueryClient
from sycamore_spark.plans.executor import PlanExecutor


def _plan(result: int, *nodes: L.Node) -> L.LogicalPlan:
    return L.LogicalPlan(nodes={n.node_id: n for n in nodes}, result_node=result)


def build(q: gen.Question):
    """Question -> (natural-language text or LogicalPlan, LLM factory or None)."""
    p = q.params
    if q.kind == "nl_count":
        return "How many documents are there?", None
    if q.kind == "nl_count_distinct":
        return f"How many distinct {p['field']} values are there?", None
    if q.kind == "nl_topk":
        return f"What are the top {p['k']} {p['field']} values?", None
    if q.kind == "nl_contains":
        return f"Show documents whose text contains '{p['word']}'", None
    if q.kind == "plan_range_count":
        return _plan(
            2,
            L.QueryDatabase(node_id=0, table="documents", filter_expr=f"lang = '{p['lang']}'"),
            L.BasicFilter(node_id=1, field="n_chars", range_filter=True, start=p["lo"], end=p["hi"], inputs=[0]),
            L.Count(node_id=2, inputs=[1]),
        ), None
    if q.kind == "plan_fieldin_group":
        return _plan(
            4,
            L.QueryDatabase(node_id=0, table="documents"),
            L.QueryDatabase(node_id=1, table="events", filter_expr=f"event_type = '{p['event_type']}'"),
            L.FieldIn(node_id=2, field="doc_id", other_field="doc_id", inputs=[0, 1]),
            L.GroupBy(node_id=3, field=p["field"], inputs=[2]),
            L.AggregateCount(node_id=4, inputs=[3]),
        ), None
    if q.kind == "plan_percent":
        return _plan(
            4,
            L.QueryDatabase(node_id=0, table="documents"),
            L.Count(node_id=1, inputs=[0]),
            L.BasicFilter(node_id=2, field="source", query=p["source"], inputs=[0]),
            L.Count(node_id=3, inputs=[2]),
            L.Math(node_id=4, operation="divide", inputs=[3, 1]),
        ), None
    if q.kind == "plan_sort_limit":
        return _plan(
            2,
            L.QueryDatabase(node_id=0, table="documents", filter_expr=f"lang = '{p['lang']}'"),
            L.Sort(node_id=1, field="score", descending=True, default_value=0, inputs=[0]),
            L.Limit(node_id=2, num_records=p["k"], inputs=[1]),
        ), None
    if q.kind == "plan_llm_filter":
        word = p["word"]
        return _plan(
            2,
            L.QueryDatabase(node_id=0, table="documents", filter_expr=f"source = '{p['source']}'"),
            L.LlmFilter(node_id=1, field="text", question=f"Does it mention {word}?",
                        threshold=p["threshold"], inputs=[0]),
            L.Count(node_id=2, inputs=[1]),
        ), (lambda: ScoringMockLLM(word))
    if q.kind == "plan_topk_unique":
        return _plan(
            1,
            L.QueryDatabase(node_id=0, table="events", filter_expr=f"event_type = '{p['event_type']}'"),
            L.TopK(node_id=1, field="user_id", K=p["k"], descending=True, unique_field="doc_id", inputs=[0]),
        ), None
    if q.kind == "plan_events_group":
        return _plan(
            2,
            L.QueryDatabase(node_id=0, table="events", filter_expr=f"value >= {p['lo'] / 10.0}"),
            L.GroupBy(node_id=1, field="event_type", inputs=[0]),
            L.AggregateCount(node_id=2, inputs=[1]),
        ), None
    if q.kind == "plan_summarize":
        return _plan(
            3,
            L.QueryDatabase(node_id=0, table="documents", filter_expr=f"lang = '{p['lang']}'"),
            L.Sort(node_id=1, field="doc_id", inputs=[0]),
            L.Limit(node_id=2, num_records=p["k"], inputs=[1]),
            L.SummarizeData(node_id=3, question=f"What do these say about {p['word']}?",
                            field="text", inputs=[2]),
        ), None
    raise ValueError(q.kind)


def answer(kind: str, result):
    """Materialize a plan result into a comparable Python value."""
    if not isinstance(result, DataFrame):
        return result
    rows = [tuple(r) for r in result.collect()]
    if kind in ("nl_contains",):
        return sorted(r[0] for r in rows)
    if kind in ("plan_sort_limit",):
        return [r[0] for r in rows]
    if kind in ("plan_fieldin_group", "plan_events_group"):
        return sorted(rows)
    if kind == "plan_summarize":
        return rows[0][0]
    return rows


def twin(con, q: gen.Question):
    """The DuckDB SQL twin of a question's answer."""
    p = q.params
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    rows = lambda sql: [tuple(r) for r in con.execute(sql).fetchall()]  # noqa: E731
    if q.kind == "nl_count":
        return one("SELECT count(*) FROM documents")
    if q.kind == "nl_count_distinct":
        return one(f"SELECT count(DISTINCT {p['field']}) FROM documents")
    if q.kind == "nl_topk":
        return rows(f"SELECT {p['field']}, count(*) c FROM documents WHERE {p['field']} IS NOT NULL "
                    f"GROUP BY 1 ORDER BY c DESC, 1 ASC LIMIT {p['k']}")
    if q.kind == "nl_contains":
        return [r[0] for r in rows(f"SELECT doc_id FROM documents WHERE contains(lower(text), '{p['word']}') "
                                   "ORDER BY doc_id")]
    if q.kind == "plan_range_count":
        return one(f"SELECT count(*) FROM documents WHERE lang = '{p['lang']}' "
                   f"AND n_chars >= {p['lo']} AND n_chars <= {p['hi']}")
    if q.kind == "plan_fieldin_group":
        return sorted(rows(
            f"SELECT {p['field']}, count(*) FROM documents WHERE {p['field']} IS NOT NULL AND doc_id IN "
            f"(SELECT doc_id FROM events WHERE event_type = '{p['event_type']}') GROUP BY 1"))
    if q.kind == "plan_percent":
        return one(f"SELECT count(*) FILTER (WHERE contains(lower(source), '{p['source']}')) FROM documents") \
            / one("SELECT count(*) FROM documents")
    if q.kind == "plan_sort_limit":
        return [r[0] for r in rows(f"SELECT doc_id FROM documents WHERE lang = '{p['lang']}' "
                                   f"ORDER BY coalesce(score, 0) DESC LIMIT {p['k']}")]
    if q.kind == "plan_llm_filter":
        w = p["word"]
        return one(
            f"SELECT count(*) FROM documents WHERE source = '{p['source']}' AND least(5, "
            f"(length(lower(text)) - length(replace(lower(text), '{w}', ''))) // {len(w)}) >= {p['threshold']}")
    if q.kind == "plan_topk_unique":
        return rows(f"SELECT user_id, count(DISTINCT doc_id) c FROM events WHERE event_type = '{p['event_type']}' "
                    f"GROUP BY 1 ORDER BY c DESC, 1 ASC LIMIT {p['k']}")
    if q.kind == "plan_events_group":
        return sorted(rows(f"SELECT event_type, count(*) FROM events WHERE value >= {p['lo'] / 10.0} GROUP BY 1"))
    if q.kind == "plan_summarize":
        texts = [r[0] for r in rows(f"SELECT text FROM documents WHERE lang = '{p['lang']}' "
                                    f"ORDER BY doc_id LIMIT {p['k']}")]
        prompt = (f"Question: What do these say about {p['word']}?\nData:\n"
                  + "\n---\n".join(texts) + "\nAnswer:")
        return "mock:" + hashlib.md5(prompt.encode()).hexdigest()[:8]
    raise ValueError(q.kind)


class Ask:
    name = "ask"
    latency_kinds = gen.ASK_KINDS
    cycle = len(gen.ASK_KINDS)
    prepare_repeats = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "ask")
        self.n_docs = ctx.size(5000, 300)
        self.n_events = ctx.size(20000, 1000)
        self.asked: dict[tuple, tuple[gen.Question, object]] = {}

    def prepare(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        c, docs, events = gen.ask_tables(self.ctx.seed, self.n_docs, self.n_events)
        gen.write_table(docs, self.root, "documents")
        gen.write_table(events, self.root, "events")
        self.stream = gen.ask_stream(self.ctx.seed, c)
        self.client = QueryClient(self.ctx.spark, self.root)

    def warm(self) -> None:
        # one question of every shape, concurrently so code generation overlaps
        overlap_jobs(*[self.next_op()[1] for _ in gen.ASK_KINDS], max_workers=4)
        self.asked.clear()

    def next_op(self):
        q = next(self.stream)
        return q.kind, lambda tracer=None: self._ask(q)

    def _ask(self, q: gen.Question):
        spec, llm = build(q)
        if isinstance(spec, str):
            result = self.client.query(spec).result
        else:
            result = PlanExecutor(self.ctx.spark, self.root, llm_factory=llm).execute(spec)
        value = answer(q.kind, result)
        self.asked[(q.kind, tuple(sorted(q.params.items())))] = (q, value)
        n = len(value) if isinstance(value, list) else 1
        return 1, n, ((result,) if isinstance(result, DataFrame) else ())

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for name in ("documents", "events"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.root}/{name}.parquet')")
        bad = []
        for q, got in self.asked.values():
            want = twin(con, q)
            if got != want:
                bad.append(f"ask {q.kind} {q.params}: got {str(got)[:120]} want {str(want)[:120]}")
        con.close()
        return bad[:20]
