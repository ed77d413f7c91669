"""Session-memoized table statistics (``stats.py``): one job per
session per statistic, and values identical to the inline aggregates
they replaced.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pandas_redshift_spark.session import Tables


def test_zorder_bounds_match_inline_agg(spark, sf_dir):
    """stats.column_minmax must hand zorder_key the identical doubles
    the inline min/max agg produced (same cast-then-aggregate), so
    the Morton normalization — and the written layout — is unchanged;
    and the memo must make the second call job-free (same dict
    object)."""
    from pandas_redshift_spark.stats import column_minmax

    t = Tables(spark, sf_dir)
    cols = ("l_partkey", "l_suppkey")
    got = column_minmax(t, "lineitem", cols)
    row = t.lineitem.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()
    for c in cols:
        assert got[c] == (row[f"mn_{c}"], row[f"mx_{c}"])
    assert column_minmax(t, "lineitem", cols) is got
