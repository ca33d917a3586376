"""`normalize_vectors` and `quantize_embeddings` divide every element of a
vector by one per-row constant (the L2 norm; the int8 scale). Catalyst
re-evaluates an expression once per element when it sits inside a
higher-order function's lambda, so each helper repeats its constant into
an array beside the vector instead. These tests pin that plan shape and
that the outputs are bit-identical to the per-element formulation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scripts_toolkit_spark.ext.similarity import (
    _dot,
    normalize_vectors,
    quantize_embeddings,
)
from scripts_toolkit_spark.io.catalog import load_table


def _per_element_normalize(vectors, id_col="vec_id", vec_col="embedding"):
    n = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
    return vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / n).alias(vec_col),
    )


def _per_element_quantize(vectors, id_col="vec_id", vec_col="embedding"):
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    return vectors.select(
        F.col(id_col),
        scale.alias("q_scale"),
        F.transform(v, lambda x: F.round(x / scale).cast("int")).alias("q"),
    )


def _lambda_bodies(plan: str) -> list[str]:
    """Every `lambdafunction(...)` call in a plan string, parentheses
    balanced."""
    out, start = [], plan.find("lambdafunction(")
    while start != -1:
        depth, i = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
            if depth == 0:
                break
        out.append(plan[start:i])
        start = plan.find("lambdafunction(", start + 1)
    return out


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    # the sf0.1 tables sit beside the suite's default ones; fall back to
    # the suite's own scale when they are not there
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    return load_table(spark, sf01 if os.path.isdir(sf01) else sf_dir, "embeddings")


@pytest.mark.parametrize(
    "helper, per_element, folds",
    [
        (normalize_vectors, _per_element_normalize, "aggregate("),
        (quantize_embeddings, _per_element_quantize, "array_max("),
    ],
    ids=["normalize_vectors", "quantize_embeddings"],
)
def test_row_constant_outside_element_lambdas(emb, helper, per_element, folds):
    plan = _optimized(helper(emb))
    assert folds in plan  # the constant is still computed, once per row
    bad = [b for b in _lambda_bodies(plan) if "aggregate(" in b or "array_max(" in b]
    assert not bad, f"per-row fold inside an element lambda: {bad[0][:300]}"
    # the guard itself: the per-element formulation does trip it
    assert any(folds in b for b in _lambda_bodies(_optimized(per_element(emb))))


@pytest.mark.parametrize(
    "helper, per_element",
    [
        (normalize_vectors, _per_element_normalize),
        (quantize_embeddings, _per_element_quantize),
    ],
    ids=["normalize_vectors", "quantize_embeddings"],
)
def test_row_constant_bit_identical(emb, helper, per_element):
    got = sorted(tuple(r) for r in helper(emb).collect())
    want = sorted(tuple(r) for r in per_element(emb).collect())
    assert len(got) > 0
    assert got == want
