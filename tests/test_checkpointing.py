"""Durable vs local checkpointing in the iterative operators.

``connected_components`` and ``pagerank`` cut lineage every round; on a
real cluster the default ``localCheckpoint`` is executor-volatile, so both
accept ``checkpoint_dir`` to switch to a durable ``checkpoint()``. These
tests pin the contract: both paths return IDENTICAL results, and the
durable path actually writes checkpoint data under the given directory.
"""

import os
import pathlib

from pyspark.sql import functions as F

from sycamore_spark.operators.dedup import canonical_docs, connected_components
from sycamore_spark.operators.graph import pagerank


def _edges(spark):
    # two components: {a,b,c,d} (a star plus a chain) and {x,y}
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], ["id_a", "id_b"]
    )


def test_connected_components_durable_matches_local(spark, tmp_path):
    ckpt = str(tmp_path / "cc_ckpt")
    local = sorted(map(tuple, connected_components(_edges(spark)).collect()))
    durable = sorted(
        map(tuple, connected_components(_edges(spark), checkpoint_dir=ckpt).collect())
    )
    assert local == durable == [("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("x", "x"), ("y", "x")]
    # the durable path must have materialized RDD checkpoint data
    assert any(os.scandir(ckpt)), "checkpoint_dir is empty — durable path not taken"


def test_pagerank_durable_matches_local(spark, tmp_path):
    ckpt = str(tmp_path / "pr_ckpt")
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")],
        ["src", "dst"],
    )
    local = sorted(map(tuple, pagerank(edges, iterations=4).collect()))
    durable = sorted(
        map(tuple, pagerank(edges, iterations=4, checkpoint_dir=ckpt).collect())
    )
    assert local == durable
    assert any(os.scandir(ckpt)), "checkpoint_dir is empty — durable path not taken"


def test_canonical_docs_threads_checkpoint_dir(spark, tmp_path):
    docs = spark.createDataFrame([("a",), ("b",), ("z",)], ["doc_id"])
    pairs = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    out = canonical_docs(docs, pairs, checkpoint_dir=str(tmp_path / "cd_ckpt"))
    rows = {r["doc_id"]: (r["component"], r["is_canonical"]) for r in out.collect()}
    assert rows == {"a": ("a", True), "b": ("a", False), "z": ("z", True)}


def test_lineage_cut_is_the_only_local_checkpoint():
    """One cut policy: every lineage cut in the package and the tools goes
    through ``functions/partitioning.lineage_cut``, which picks a durable
    or a local checkpoint, so no call site can bypass it."""
    root = pathlib.Path(__file__).resolve().parents[1]
    policy = root / "sycamore_spark" / "functions" / "partitioning.py"
    hits = [
        f"{path.relative_to(root)}:{n}"
        for top in ("sycamore_spark", "tools")
        for path in sorted((root / top).rglob("*.py"))
        if path != policy
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert hits == []
