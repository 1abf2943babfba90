"""Driver-side fixed costs pinned as budgets: compiled codegen
classes (Spark's codegen class cache must hold a working set across
passes) and py4j round trips of plan construction (vector and matrix
literals are parsed SQL, not per-element `F.lit` trees)."""

from __future__ import annotations

import gc
import threading

import pytest
from py4j.clientserver import ClientServerConnection

from stampede_to_fresco_etl_spark import catalog
from stampede_to_fresco_etl_spark.operators.similarity import (
    embedding_near_dups,
)
from stampede_to_fresco_etl_spark.session import codegen_compiles

SF = "/root/testdata/sf0.001"


def test_second_pass_reuses_compiled_codegen_classes(spark):
    """150 distinct cheap plans, twice.  Primitive literals are
    inlined into generated code, so each plan compiles classes of its
    own; the second pass must find all of them cached.  With Spark's
    default cache of 100 entries the second pass recompiles them
    all."""
    plans = [f"id * 7919 + {i} AS x" for i in range(150)]

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for expr in plans:
            spark.range(3).selectExpr(expr).collect()
        return codegen_compiles(spark) - before

    first = one_pass()
    second = one_pass()
    assert first >= len(plans)
    assert second <= 5, (first, second)


@pytest.fixture
def py4j_calls(monkeypatch):
    """Returns a reader of the py4j commands this thread has sent
    since the fixture was set up (other threads, such as a streaming
    query's callbacks, are not counted)."""
    # py4j deletes the Java twins of collected proxies with commands
    # of its own: collect the garbage of earlier tests first
    gc.collect()
    calls = [0]
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return lambda: calls[0]


def test_pq_codes_construction_budget(spark, py4j_calls):
    """v17's build encodes the corpus with `pq_encode` (the codes frame
    of v11).  Construction, including the codebook collect, is about
    50 py4j calls; a per-element literal tree would be ~11k."""
    catalog.load(spark, SF, "embeddings")
    before = py4j_calls()
    catalog.q_pq_codes(spark, SF)
    calls = py4j_calls() - before
    assert calls <= 200, calls


def test_embedding_near_dups_construction_budget(spark, py4j_calls):
    """16 LSH planes of 64 dims: about 200 py4j calls with the parsed
    `CASE WHEN` bucket sum; a per-element form would be ~5.4k."""
    emb = catalog.load(spark, SF, "embeddings")
    before = py4j_calls()
    embedding_near_dups(emb, num_planes=16)
    calls = py4j_calls() - before
    assert calls <= 400, calls
