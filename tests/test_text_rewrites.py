"""Text-family rewrites: shingling over materialized tokens.

Each rewrite changed HOW an operator computes, never WHAT: these tests
pin the equivalence (element-wise ``<=>`` comparisons against the form
it replaced) and the plan property that makes it fast, so a refactor
that silently restores the slow shape, or drifts the arithmetic, fails
in-repo instead of at a driver hash check.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pandas_redshift_spark.plans.layout import explain_str
from pandas_redshift_spark.session import Tables


def test_shingled_matches_inline_shingles(spark, sf_dir):
    """dedup.shingled (tokens materialized before the n-gram lambda)
    must produce the identical shingle arrays — same strings, same
    order — as the inline-split form it replaced."""
    from pandas_redshift_spark.operators.dedup import shingled, shingles

    d = Tables(spark, sf_dir).documents
    new = shingled(d, alias="s").select("doc_id", F.col("s").alias("a"))
    old = d.select("doc_id", shingles().alias("b"))
    n = new.count()
    assert n == old.count() and n > 0
    diff = new.join(old, "doc_id").filter(~F.expr("a <=> b")).count()
    assert diff == 0


def test_shingled_splits_text_once_per_scan(spark, sf_dir):
    """The shingle projection must read a materialized token column:
    the n-gram lambda may not contain the split itself (the plan
    signature of the O(n^2) re-split is ``element_at(split(``)."""
    from pandas_redshift_spark.operators.dedup import shingled

    plan = explain_str(shingled(Tables(spark, sf_dir).documents), "simple")
    assert "element_at(split(" not in plan
