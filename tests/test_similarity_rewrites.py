"""Similarity-family rewrites: the embedding normalize and the PQ encode.

Each rewrite changed HOW an operator computes, never WHAT: these tests
pin the equivalence (element-wise ``<=>`` comparisons against the form
it replaced) and the plan property that makes it fast, so a refactor
that silently restores the slow shape, or drifts the arithmetic, fails
in-repo instead of at a driver hash check.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pandas_redshift_spark.plans.layout import explain_str
from pandas_redshift_spark.session import Tables, ensure_parallelism


def test_emb_n_zipwith_matches_inline_transform(spark, sf_dir):
    """_emb_double's zip_with/array_repeat normalize must stay
    bit-identical to the r13 transform(emb, x -> x / nrm) form: same
    x / nrm divide per element, only the evaluation count of the norm
    fold differs."""
    from pandas_redshift_spark.operators.similarity import _emb_double, dot

    t = Tables(spark, sf_dir)
    new = _emb_double(t).select("vec_id", F.col("emb_n").alias("a"))

    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    old = (
        ensure_parallelism(e)
        .withColumn("nrm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
        .filter(F.col("nrm") > 0)
        .withColumn("emb_n", F.transform(F.col("emb"), lambda x: x / F.col("nrm")))
        .select("vec_id", F.col("emb_n").alias("b"))
    )
    n = new.count()
    assert n == old.count() and n > 0
    diff = (
        new.join(old, "vec_id")
        .filter(F.expr("exists(zip_with(a, b, (x, y) -> x <=> y), p -> NOT p)"))
        .count()
    )
    assert diff == 0


def test_emb_n_norm_fold_not_inside_lambda(spark, sf_dir):
    """The physical plan must not re-acquire the norm fold inside the
    normalize lambda: SQRT(aggregate(...)) belongs to array_repeat's
    argument (evaluated once per row), never to a per-element lambda
    body.  The r13 form planned as
    ``transform(emb, lambda x / SQRT(aggregate(...)))`` — O(d^2)."""
    from pandas_redshift_spark.operators.similarity import _emb_double

    emb = _emb_double(Tables(spark, sf_dir)).select("vec_id", "emb_n")
    plan = explain_str(emb, "simple")
    # the O(d) shape is present and the O(d^2) signature — the norm
    # fold re-evaluated under a division inside the lambda — is not
    # (ADVICE r14: assert the signature directly)
    assert "array_repeat" in plan
    assert "/ SQRT(aggregate" not in plan


def test_pq_codes_read_presliced_subvectors(spark, sf_dir):
    """The PQ encode's argmax folds must read the pre-sliced __subs__
    array (reference reads), not re-slice emb_n per candidate."""
    from pandas_redshift_spark.operators import all_queries

    df = all_queries()["sim_pq_adc_topk"].fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "__subs__" in plan


def test_pq_rerank_normalizes_only_shortlist_rows(spark, sf_dir):
    """The PQ exact re-rank joins the raw corpus to the broadcast
    shortlist and only then takes norms: no SQRT may sit on the
    streamed corpus side of that BroadcastHashJoin.  A zero-norm guard
    there is pushed below the join and runs the norm fold on every
    corpus row (shortlist ids already passed _emb_double's guard)."""
    from pandas_redshift_spark.operators import all_queries

    df = all_queries()["sim_pq_adc_topk"].fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    streamed = plan.split("BroadcastHashJoin [neighbor_id", 1)[1]
    streamed = streamed.split("BroadcastExchange", 1)[0]
    assert "FileScan" in streamed, plan
    assert "SQRT" not in streamed, streamed
