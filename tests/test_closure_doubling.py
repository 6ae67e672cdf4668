"""The path-doubling closure kernel must equal the frontier kernel
(and therefore the BFS ground truth) on every graph shape."""

import random

import pytest

from ontology_loader_spark.operators.closure import (
    _closure_doubling,
    _closure_frontier,
    hierarchy_pairs,
    relevant_entities,
)
from ontology_loader_spark.schemas import EDGE_SCHEMA, TERM_DICT_SCHEMA

ONT = "p"


def kernels(ed, rel):
    hedges = hierarchy_pairs(ed)
    return [
        sorted(map(tuple, kernel(hedges, rel, ONT, 64).collect()))
        for kernel in (_closure_frontier, _closure_doubling)
    ]


def mk_terms(n):
    return [(f"P:{i}", f"t{i}", "", [], False, None) for i in range(n)]


@pytest.mark.parametrize("seed,n", [(7, 40), (8, 25)])
def test_doubling_equals_frontier(spark, seed, n):
    rng = random.Random(seed)
    edges = [(f"P:{i}", "rdfs:subClassOf", f"P:{rng.randrange(i)}")
             for i in range(1, n)]
    edges.append(("P:3", "rdfs:subClassOf", "P:5"))   # extra cross edge
    edges.append((f"P:{n-1}", "BFO:0000050", "Q:77"))  # foreign object
    td = spark.createDataFrame(mk_terms(n), TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(edges, EDGE_SCHEMA)
    rel = relevant_entities(td, ONT)
    a, b = kernels(ed, rel)
    assert a == b


def test_doubling_cycle(spark):
    edges = [
        ("P:1", "rdfs:subClassOf", "P:2"),
        ("P:2", "rdfs:subClassOf", "P:1"),
        ("P:2", "rdfs:subClassOf", "P:3"),
    ]
    td = spark.createDataFrame(mk_terms(4), TERM_DICT_SCHEMA)
    ed = spark.createDataFrame(edges, EDGE_SCHEMA)
    rel = relevant_entities(td, ONT)
    a, b = kernels(ed, rel)
    assert a == b
