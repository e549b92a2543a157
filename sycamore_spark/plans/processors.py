"""Plan processors: the engine-agnostic "optimizer" passes the reference
applies between planning and execution (reference: lib/sycamore/sycamore/
query/strategy.py). These mutate/validate the LogicalPlan; everything
Catalyst-level (pushdown, pruning, join selection) happens later for free.
"""

from __future__ import annotations

from sycamore_spark.plans import logical as L

LLM_NODE_TYPES = ("LlmFilter", "LlmExtractEntity", "LLMClustering", "SummarizeData")


def validate(plan: L.LogicalPlan) -> L.LogicalPlan:
    """DefaultPlanValidator (reference: strategy.py:48-70)."""
    errors = plan.validate_plan()
    if errors:
        raise ValueError(f"invalid plan: {errors}")
    return plan


def limit_llm_operations(plan: L.LogicalPlan, max_rows: int = 100) -> L.LogicalPlan:
    """Insert a Limit in front of expensive LLM operators that would
    otherwise scan unbounded input (reference: LimitLlmOperations,
    strategy.py:235-278 — cost-based-ish limit pushdown)."""
    next_id = max(plan.nodes) + 1
    new_nodes = dict(plan.nodes)
    for node in list(plan.nodes.values()):
        if node.node_type in ("LlmFilter", "LLMClustering") and node.inputs:
            src = plan.nodes[node.inputs[0]]
            if src.node_type not in ("Limit",):
                lim = L.Limit(node_id=next_id, num_records=max_rows, inputs=[src.node_id])
                new_nodes[next_id] = lim
                node = node.model_copy(update={"inputs": [next_id]})
                new_nodes[node.node_id] = node
                next_id += 1
    return plan.model_copy(update={"nodes": new_nodes})


def remove_vector_search_for_analytics(plan: L.LogicalPlan) -> L.LogicalPlan:
    """Vector-search head feeding Count/TopK is a recall bug — replace with a
    full scan + LlmFilter on the original question (reference:
    RemoveVectorSearchForAnalytics, strategy.py:73-155)."""
    analytics = {"Count", "TopK"}
    heads = [n for n in plan.nodes.values() if n.node_type == "QueryVectorDatabase"]
    if not heads:
        return plan
    downstream_analytics = any(n.node_type in analytics for n in plan.nodes.values())
    if not downstream_analytics:
        return plan
    new_nodes = dict(plan.nodes)
    next_id = max(plan.nodes) + 1
    for head in heads:
        scan = L.QueryDatabase(node_id=head.node_id, table=head.table)
        filt = L.LlmFilter(node_id=next_id, question=plan.query or "relevant?",
                           inputs=[head.node_id])
        new_nodes[head.node_id] = scan
        new_nodes[next_id] = filt
        for n in list(new_nodes.values()):
            if head.node_id in n.inputs and n.node_id != filt.node_id:
                new_nodes[n.node_id] = n.model_copy(
                    update={"inputs": [filt.node_id if i == head.node_id else i for i in n.inputs]}
                )
        next_id += 1
    return plan.model_copy(update={"nodes": new_nodes})


def only_retrieval(plan: L.LogicalPlan) -> L.LogicalPlan:
    """Strip a trailing Sort/SummarizeData so the result is the retrieved
    docs themselves (reference: OnlyRetrieval, strategy.py:173-232 — includes
    trailing-sort elimination)."""
    result = plan.nodes[plan.result_node]
    while result.node_type in ("SummarizeData", "Sort") and result.inputs:
        plan = plan.model_copy(update={"result_node": result.inputs[0]})
        result = plan.nodes[plan.result_node]
    return plan
