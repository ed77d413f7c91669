"""Property-based tests (hypothesis) for the pure schema/identifier
functions — the reference's only unit-testable native logic
(SURVEY.md §5: the reference itself ships zero tests)."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from pandas_redshift_spark.sources.schema import (
    REDSHIFT_RESERVED_WORDS,
    ReservedWordError,
    normalize_column_name,
    pd_dtype_to_redshift_dtype,
    validate_column_names,
)

_ident = st.text(
    alphabet=string.ascii_letters + string.digits + "_ ",
    min_size=1,
    max_size=24,
).filter(lambda s: s.strip() and s.strip().lower() not in REDSHIFT_RESERVED_WORDS)


@given(_ident)
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent_and_lowercase(name):
    once = normalize_column_name(name)
    # idempotent: normalizing an already-normalized name is a no-op
    assert normalize_column_name(once) == once
    assert once == once.lower()
    # whitespace names come back quoted (reference core.py:110-116)
    if any(c.isspace() for c in name.strip()):
        assert once.startswith('"') and once.endswith('"')


@given(st.sampled_from(sorted(REDSHIFT_RESERVED_WORDS)))
@settings(max_examples=60, deadline=None)
def test_reserved_words_always_rejected_any_case(word):
    for variant in (word, word.upper(), word.capitalize()):
        try:
            validate_column_names([variant])
        except ReservedWordError:
            continue
        raise AssertionError(f"{variant!r} accepted")


@given(st.lists(_ident, min_size=1, max_size=8, unique_by=lambda s: s.strip().lower()))
@settings(max_examples=100, deadline=None)
def test_validate_preserves_arity_and_order(names):
    out = validate_column_names(names)
    assert len(out) == len(names)
    for given_name, got in zip(names, out):
        assert got == normalize_column_name(given_name)


@given(st.sampled_from([
    ("int64", "BIGINT"),
    ("int32", "INTEGER"),
    ("int16", "INTEGER"),
    ("int8", "INTEGER"),
    ("float64", "DOUBLE PRECISION"),
    ("float32", "REAL"),
    ("datetime64[ns]", "TIMESTAMP"),
    ("bool", "BOOLEAN"),
    ("object", "VARCHAR(256)"),
]))
def test_dtype_mapping_table(pair):
    dtype, want = pair
    assert pd_dtype_to_redshift_dtype(dtype) == want


# -- psycopg2 placeholder grammar (bridge._split_placeholders) ---------

_sql_chunk = st.text(
    alphabet=string.ascii_letters + string.digits + " '\"=<>,.()%s",
    max_size=20,
)


@given(
    st.lists(_sql_chunk, max_size=5),
    st.lists(st.sampled_from([None, "a", "b", "long_name"]), max_size=4),
)
@settings(max_examples=200, deadline=None)
def test_split_placeholders_roundtrip(chunks, ph):
    """Rebuilding the SQL from (parts, names) — re-escaping %% and
    re-inserting placeholders — must reproduce the input exactly, for
    ANY text (including stray lone %% and %-signs) interleaved with
    ANY mix of positional and named placeholders."""
    from pandas_redshift_spark.sources.bridge import _split_placeholders

    # build an input whose literal text escapes % as %% (what a real
    # caller writes when also passing params)
    pieces = []
    for i, name in enumerate(ph):
        lit = chunks[i] if i < len(chunks) else ""
        pieces.append(lit.replace("%", "%%"))
        pieces.append("%s" if name is None else f"%({name})s")
    tail = chunks[len(ph)] if len(ph) < len(chunks) else ""
    pieces.append(tail.replace("%", "%%"))
    sql = "".join(pieces)

    parts, names = _split_placeholders(sql)
    assert names == ph
    rebuilt = [parts[0].replace("%", "%%")]
    for n, part in zip(names, parts[1:]):
        rebuilt.append("%s" if n is None else f"%({n})s")
        rebuilt.append(part.replace("%", "%%"))
    assert "".join(rebuilt) == sql


#: bound-parameter values: every kind _sql_literal renders, plus the
#: hostile ones it must refuse (NaN/inf floats, backslash and NUL text)
_param = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),  # BIGINT range
    st.floats(allow_nan=True, allow_infinity=True),
    st.text(max_size=8),
    st.text(alphabet="ab'\\", max_size=8),
    st.none(),
    st.booleans(),
)


def _unbindable(v) -> bool:
    if isinstance(v, float):
        return v != v or v in (float("inf"), float("-inf"))
    return isinstance(v, str) and ("\\" in v or "\x00" in v)


@given(st.lists(_param, min_size=0, max_size=4))
@settings(max_examples=100, deadline=None)
def test_bind_literals_count_parity_with_positional(params):
    """For pure-positional queries _bind_literals accepts exactly
    len(params) %s markers and rejects any other count; a value with
    no portable literal is refused instead of spliced."""
    import pytest

    from pandas_redshift_spark.sources.bridge import _bind_literals, _sql_literal

    sql = " AND ".join(["c=%s"] * len(params)) or "SELECT 1"
    if any(_unbindable(v) for v in params):
        with pytest.raises(ValueError):
            _bind_literals(sql, params)
        return
    out = _bind_literals(sql, params)
    # every marker replaced by its literal (a text VALUE may itself
    # hold "%s", so compare the whole output, not a substring)
    assert out == (" AND ".join(f"c={_sql_literal(v)}" for v in params) or "SELECT 1")
    with pytest.raises(ValueError):
        _bind_literals(sql + " AND extra=%s", params)


@given(_param)
@settings(max_examples=300, deadline=None)
def test_sql_literal_round_trips_through_duckdb(value):
    """Every literal _sql_literal accepts reads back as the input value
    through a real SQL parser (DuckDB ``SELECT <lit>``); the rest raise
    ValueError.  Finite floats may parse as DECIMAL (``0.1``), so they
    compare as floats."""
    import duckdb
    import pytest

    from pandas_redshift_spark.sources.bridge import _sql_literal

    if _unbindable(value):
        with pytest.raises(ValueError):
            _sql_literal(value)
        return
    got = duckdb.sql(f"SELECT {_sql_literal(value)}").fetchone()[0]
    if isinstance(value, float):
        assert float(got) == value
    else:
        assert got == value and type(got) is type(value)


def test_sql_literal_numpy_scalars_render_as_numbers():
    """numpy integers bind as numbers, not quoted strings."""
    import numpy as np

    from pandas_redshift_spark.sources.bridge import _sql_literal

    assert _sql_literal(np.int64(7)) == "7"
    assert _sql_literal(np.int32(-3)) == "-3"
    assert _sql_literal(np.float64(0.5)) == "0.5"
    assert _sql_literal(np.bool_(True)) == "TRUE"


# --- exactsum numeric invariants (operators/exactsum.py, round 9-10) ---
#
# The scaled-integer money scheme stands on three pure-arithmetic
# claims; hypothesis hunts their boundaries directly, no Spark needed
# (the Spark<->DuckDB pairing of the SAME formulas is certified by the
# oracle gate; partition-order independence by the invariance net in
# test_extensions.py).

_CENTS_CLIFF = 2**51  # |x*100 - n| < 0.5 requires n*2^-52*100/100 ... see test


@given(st.integers(min_value=-(10**15), max_value=10**15))
@settings(max_examples=500, deadline=None)
def test_money_cents_grid_recovery(n):
    """Claim 1: a 0.01-grid value stored as a DOUBLE (n/100) recovers
    its exact integer cents through ``round(x * 100, 0)`` — i.e. the
    double product x*100 lands strictly inside +-0.5 of n, so ANY
    round-to-nearest rule (Spark HALF_UP, DuckDB HALF_EVEN ties aside)
    returns n.  Holds for |n| < 2^51 cents (~2.2e13 dollars); fixtures
    and TPC-H money live many orders below that."""
    x = n / 100.0  # the double the parquet fixtures actually hold
    prod = x * 100.0
    assert abs(prod - n) < 0.5
    # and the recovery itself, via the same decimal HALF_UP Spark uses
    from decimal import ROUND_HALF_UP, Decimal

    assert int(Decimal(prod).quantize(Decimal("1"), rounding=ROUND_HALF_UP)) == n


@given(
    st.integers(min_value=0, max_value=10**9),  # price cents (<= $10M)
    st.integers(min_value=0, max_value=100),  # discount percent
)
@settings(max_examples=500, deadline=None)
def test_revenue_scaled_factor_recovery(p, d):
    """Claim 2: both factors of the revenue term recover exactly from
    their double forms — price cents from l_extendedprice, discount
    percent from (1 - l_discount)*100 — so the per-row scaled LONG is
    the EXACT 1e-4-grid integer, and the LONG sum is order-free."""
    price = p / 100.0
    disc = d / 100.0
    assert abs(price * 100.0 - p) < 0.5
    assert abs((1.0 - disc) * 100.0 - (100 - d)) < 0.5


@given(st.integers(min_value=-(2**52), max_value=2**52))
@settings(max_examples=500, deadline=None)
def test_exact_total_final_round_is_identity(s):
    """Claim 3: the one float op left — dividing the exact integer
    total by the scale and rounding to the grid's dp — is EXACT below
    the 2^52 headroom: S/10^4 is itself a 4dp value, the double holds
    it within a half-quantum, so round(double, 4) returns the true
    decimal in BOTH engines regardless of their tie rules (no tie can
    occur: a 4dp tie needs a nonzero 5th decimal digit, which S/10^4
    cannot have)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = s / 10000.0  # the double Spark/DuckDB divide and round
    got = Decimal(q).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    want = Decimal(s).scaleb(-4)
    assert got == want
