"""The materialisation scope (``scope.py``): every checkpoint and
persist made inside ``with Scope():`` is freed when the scope exits,
on success and on failure, including work done on the legs of
``concurrently``.  Each test counts the persisted RDDs it created
itself before the scope and requires the same count after it.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import scope
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import graph
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.graph import (
    _strip_inherited_stats,
    connected_components,
)
from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope
from conftest import SF_DIR

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "azure_databricks_sharepoint_on_premise_to_cloud_etl_spark",
)


_first_rdd_id = 0


@pytest.fixture(autouse=True)
def _count_from_here(spark):
    """Count only RDDs the running test creates: the GC-driven cleaner
    may free blocks that earlier tests left behind at any moment."""
    global _first_rdd_id
    _first_rdd_id = spark.sparkContext._jsc.sc().newRddId()


def _stored(spark) -> int:
    return sum(
        1 for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.id() > _first_rdd_id
    )


def test_scope_frees_checkpoints_and_persists_on_success(spark):
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators.text import (
        remove_repeated_ngrams,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import (
        load_table,
    )

    before = _stored(spark)
    with Scope():
        comps = q.QUERIES["dedup_components"](spark, SF_DIR).collect()
        docs = load_table(spark, SF_DIR, "documents")
        scrubbed = remove_repeated_ngrams(docs, n=5, min_docs=3).collect()
        # the token table stays persisted until the scope exits
        assert _stored(spark) > before
    assert _stored(spark) == before
    assert len(comps) == len(scrubbed) > 0


def test_scope_frees_first_leg_when_second_leg_raises(spark, monkeypatch):
    """diverse_retrieval materialises its lexical and semantic legs
    concurrently; when the semantic leg fails, the error reaches the
    caller and the lexical leg's checkpoint is freed anyway."""
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.operators import (
        similarity,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.queries.composed import (
        q_diverse_retrieval,
    )

    real = similarity.brute_force_topk

    def failing_topk(*args, **kwargs):
        return real(*args, **kwargs).withColumn(
            "cosine", F.col("cosine") + F.raise_error(F.lit("semantic leg failed"))
        )

    monkeypatch.setattr(similarity, "brute_force_topk", failing_topk)
    before = _stored(spark)
    with pytest.raises(Exception, match="semantic leg failed"):
        with Scope():
            q_diverse_retrieval(spark, SF_DIR).collect()
    assert _stored(spark) == before


def test_scope_deletes_reliable_checkpoint_files(spark, tmp_path, monkeypatch):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(13)], "doc_id LONG")
    spark.sparkContext.setCheckpointDir(str(tmp_path))

    def files() -> list:
        return [p for p in tmp_path.rglob("*") if p.is_file()]

    monkeypatch.setattr(graph, "DRIVER_FINISH_EDGES", 0)
    before = _stored(spark)
    with Scope():
        out = connected_components(edges, nodes, reliable=True)
        assert {r["component"] for r in out.collect()} == {0}
        assert files()  # the final generation lives under the dir
    assert files() == []
    assert _stored(spark) == before


def test_release_reaches_the_checkpoint_behind_a_wrapper(spark):
    """Iterative operators release superseded generations through a
    projection or the stats-stripping rewrap, never the checkpointed
    frame itself."""
    before = _stored(spark)
    with Scope():
        a = scope.checkpoint(spark.range(100).withColumn("k", F.col("id") % 7))
        b, metrics = scope.checkpoint(
            spark.range(50), observe=F.count(F.lit(1)).alias("n")
        )
        assert metrics == {"n": 50}
        assert _stored(spark) == before + 2
        scope.release(_strip_inherited_stats(b))
        assert _stored(spark) == before + 1
        scope.release(a.select("k"))
        assert _stored(spark) == before
        scope.checkpoint(spark.range(5))  # never released explicitly
    assert _stored(spark) == before


def test_outside_a_scope_nothing_is_tracked(spark):
    before = _stored(spark)
    ck = scope.checkpoint(spark.range(10))
    with Scope():
        pass  # an unrelated scope does not own it
    assert _stored(spark) == before + 1
    scope.release(ck)
    assert _stored(spark) == before


def test_concurrently_returns_in_order_and_raises_first_error(spark):
    assert scope.concurrently(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]

    def boom(msg):
        def fn():
            raise ValueError(msg)

        return fn

    with pytest.raises(ValueError, match="first"):
        scope.concurrently(lambda: 0, boom("first"), boom("second"))


def test_legs_inherit_the_scope(spark):
    before = _stored(spark)
    with Scope():
        scope.concurrently(
            lambda: scope.checkpoint(spark.range(3)),
            lambda: scope.persist(spark.range(4)).count(),
        )
        assert _stored(spark) == before + 2
    assert _stored(spark) == before


def test_scope_tracks_every_leg_under_thread_churn(spark):
    """More legs than cores, each recording many persists while the
    interpreter switches threads as often as it can: the scope must
    lose none of them."""
    import sys

    per_leg, n_legs = 25, 16

    def leg():
        return [scope.persist(spark.range(1)) for _ in range(per_leg)]

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with Scope() as s:
            frames = [df for dfs in scope.concurrently(*[leg] * n_legs) for df in dfs]
            assert len(s._cached) == per_leg * n_legs
    finally:
        sys.setswitchinterval(prev)
    assert not any(df.is_cached for df in frames)


def test_package_never_writes_session_state():
    """Only session.py builds session config, and only
    ``sources.registry.pin_read_confs`` pins read confs at runtime: no
    operator may flip a session conf, swap the checkpoint dir or name a
    temp view under concurrent work sharing the session (SQL text takes
    its frames as ``spark.sql`` keyword arguments instead)."""
    allowed = {
        os.path.join("sources", "registry.py"): "def pin_read_confs",
    }
    offenders = []
    for root, _dirs, names in os.walk(PKG):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if rel == "session.py":
                continue
            src = open(path).read()
            for m in re.finditer(
                r"conf\.set\(|setCheckpointDir\("
                r"|createOrReplaceTempView\(|createTempView\(|createGlobalTempView\(",
                src,
            ):
                owner = src.rfind("\ndef ", 0, m.start())
                fn = src[owner + 1 : src.find("(", owner)] if owner >= 0 else ""
                if allowed.get(rel) != fn:
                    line = src.count("\n", 0, m.start()) + 1
                    offenders.append(f"{rel}:{line}")
    assert offenders == []
