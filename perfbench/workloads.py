"""The three workloads: what one op of each kind does, and how its
output is checked.

Every workload drives the package only through its public API:
``compat`` (the drop-in pandas_redshift surface) for ``etl_bridge``,
and the registry's ``QuerySpec.fn(spark, sf_dir)`` plus a noop write
for ``analytic_batch`` and ``stream_sink``.  ``call`` is the timed
body of an op; everything else here runs outside the timed region.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

import datagen
from common import ANALYTIC_QUERIES, STREAM_QUERIES


class QueryWorkload:
    """Registry queries: fn(spark, sf_dir) then a noop write; each
    kind's output is compared with the cached DuckDB oracle result.

    With ``settle`` (analytic_batch) the check runs on an extra,
    untimed call of every kind between the cold round and the warm
    rounds, so the timed warm call is each query's third and the check
    costs no more than a re-execution after the warm rounds would.
    Without it (stream_sink, where a fresh drain costs ~2-3 s) the
    frame returned by each kind's last timed call (the drain's parquet
    snapshot) is collected and checked after the warm rounds."""

    def __init__(self, name: str, kinds: tuple[str, ...], ctx, settle: bool):
        from pandas_redshift_spark.operators import all_queries

        self.name, self.kinds, self.ctx, self.settle = name, kinds, ctx, settle
        specs = all_queries()
        self.specs = {k: specs[k] for k in kinds}
        self.last: dict[str, object] = {}

    def category(self, kind: str) -> str:
        return "query"

    def cold_order(self, rng) -> list[str]:
        return list(rng.permutation(self.kinds))

    def prepare(self, kind: str) -> None:
        pass

    def call(self, kind: str) -> int:
        df = self.ctx.build(self.specs[kind].fn, kind, self.ctx.spark, self.ctx.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        self.last[kind] = df
        return 0

    def after(self, kind: str, rows: int) -> None:
        pass

    def _check(self, kind: str, df) -> None:
        from tests.oracle import assert_frames_match

        assert_frames_match(df.toPandas(), self.ctx.oracle(kind), kind)

    def settle_checks(self, rng):
        if not self.settle:
            return
        for kind in rng.permutation(self.kinds):
            kind = str(kind)
            yield f"oracle:{kind}", lambda kind=kind: self._check(
                kind, self.specs[kind].fn(self.ctx.spark, self.ctx.sf_dir))

    def checks(self):
        if self.settle:
            return
        for kind in self.kinds:
            yield f"oracle:{kind}", lambda kind=kind: self._check(kind, self.last[kind])


class EtlBridge:
    """pandas <-> warehouse round trips through ``compat``."""

    kinds = (
        "write_even", "write_distkey", "write_sortkey", "write_interleaved",
        "write_append", "staged_load", "ctas_union", "read_agg_pos",
        "read_agg_named", "read_wide", "read_back",
    )
    #: tables that keep a fixed size, read back by the read_back op
    _FIXED_TABLES = ("pb_even", "pb_dist", "pb_sort", "pb_zorder", "pb_staged")
    _KINDS = {c.lower(): k for c, k in datagen.ETL_COLUMNS}
    _WIDE_KINDS = {
        "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "str",
        "o_totalprice": "float", "o_orderdate": "ts", "o_orderpriority": "str",
        "c_name": "str", "c_mktsegment": "str", "c_acctbal": "float",
    }
    name = "etl_bridge"

    def __init__(self, ctx):
        import pandas_redshift_spark.compat as pr

        self.ctx, self.pr = ctx, pr
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.frame_no = 0
        self.pending: pd.DataFrame | None = None
        #: expected digest of each table the workload wrote
        self.tables: dict[str, tuple[int, int]] = {}
        self.ctas_expected: tuple[int, int] | None = None
        self.read_back_turn = int(self.rng.integers(0, len(self._FIXED_TABLES)))
        #: (kind, (sql, params), observed, expected) of every read,
        #: checked after the measured phase
        self.reads: list[tuple] = []
        self._args: tuple = ()
        self._out = None

    def category(self, kind: str) -> str:
        if kind.startswith("write_"):
            return "write"
        if kind.startswith("read_"):
            return "read"
        return "staged_load" if kind == "staged_load" else "exec"

    def cold_order(self, rng) -> list[str]:
        """Writes first, so every table exists before it is read."""
        writes = [k for k in self.kinds if self.category(k) in ("write", "staged_load")]
        rest = [k for k in self.kinds if k not in writes]
        return list(rng.permutation(writes)) + list(rng.permutation(rest))

    # -- untimed input preparation ------------------------------------------
    def prepare(self, kind: str) -> None:
        """Generate this call's inputs before the timer starts."""
        r = self.rng
        if self.category(kind) in ("write", "staged_load"):
            self.pending = datagen.etl_frame(self.ctx.seed, self.frame_no)
            self.frame_no += 1
        elif kind == "read_agg_pos":
            start = pd.Timestamp("1995-01-01") + pd.Timedelta(days=int(r.integers(0, 1800)))
            self._args = (
                "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "sum(l_extendedprice * (1 - l_discount)) AS revenue, avg(l_quantity) AS avg_qty "
                "FROM lineitem WHERE l_shipdate >= CAST(%s AS DATE) "
                "AND l_shipdate < CAST(%s AS DATE) AND l_discount <= %s "
                "GROUP BY l_returnflag, l_linestatus",
                [start.strftime("%Y-%m-%d"),
                 (start + pd.Timedelta(days=365)).strftime("%Y-%m-%d"),
                 float(r.integers(2, 9)) / 100],
            )
        elif kind == "read_agg_named":
            prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            n1, n2 = (int(x) for x in r.choice(25, 2, replace=False))
            self._args = (
                "SELECT c_mktsegment, count(*) AS n_orders, sum(o_totalprice) AS total "
                "FROM orders JOIN customer ON o_custkey = c_custkey "
                "WHERE o_orderpriority = %(prio)s AND c_name LIKE 'Customer#%%' "
                "AND o_totalprice > %(min_price)s AND c_nationkey IN (%(n1)s, %(n2)s) "
                "GROUP BY c_mktsegment",
                {"prio": prios[int(r.integers(0, 5))],
                 "min_price": float(r.integers(1000, 400000)), "n1": n1, "n2": n2},
            )
        elif kind == "read_wide":
            self._args = (
                "SELECT o.*, c.c_name, c.c_mktsegment, c.c_acctbal FROM orders o "
                "JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_totalprice >= %s",
                [float(r.integers(1000, 5000))],
            )
        elif kind == "read_back":
            table = self._FIXED_TABLES[self.read_back_turn % len(self._FIXED_TABLES)]
            self.read_back_turn += 1
            self._args = (f"SELECT * FROM {table} WHERE id >= %s", [0])

    # -- the timed body ---------------------------------------------------------
    def call(self, kind: str) -> int:
        pr, df = self.pr, self.pending
        if kind == "write_even":
            pr.pandas_to_redshift(df, "pb_even")
        elif kind == "write_distkey":
            pr.pandas_to_redshift(df, "pb_dist", distkey="cust_id")
        elif kind == "write_sortkey":
            pr.pandas_to_redshift(df, "pb_sort", sortkey="event_ts")
        elif kind == "write_interleaved":
            pr.pandas_to_redshift(df, "pb_zorder", sortkey="cust_id,amount", sort_interleaved=True)
        elif kind == "write_append":
            pr.pandas_to_redshift(df, "pb_append", append=True)
        elif kind == "staged_load":
            csv_name = f"pb_stage_{self.frame_no}"
            pr.create_redshift_table(df, "pb_staged")
            pr.df_to_s3(df, csv_name, False, False, ",", path_prefix=self.ctx.stage_dir)
            pr.s3_to_redshift("pb_staged", csv_name, delimiter=",")
        elif kind == "ctas_union":
            pr.exec_commit("DROP TABLE IF EXISTS pb_ctas")
            pr.exec_commit(
                "CREATE TABLE pb_ctas AS SELECT * FROM pb_even UNION SELECT * FROM pb_dist"
            )
            return 0
        else:
            self._out = pr.redshift_to_pandas(*self._args)
            return len(self._out)
        return len(df)

    # -- untimed bookkeeping after each call ---------------------------------------
    def after(self, kind: str, rows: int) -> None:
        cat = self.category(kind)
        if cat in ("write", "staged_load"):
            table = {
                "write_even": "pb_even", "write_distkey": "pb_dist", "write_sortkey": "pb_sort",
                "write_interleaved": "pb_zorder", "write_append": "pb_append",
                "staged_load": "pb_staged",
            }[kind]
            digest = frame_digest(self.pending, self._KINDS)
            if kind == "write_append" and table in self.tables:
                digest = add_digests(self.tables[table], digest)
            self.tables[table] = digest
        elif kind == "ctas_union":
            # ids are disjoint across frames, so UNION keeps every row
            self.ctas_expected = add_digests(self.tables["pb_even"], self.tables["pb_dist"])
        elif kind == "read_back":
            table = self._args[0].split()[3]
            self.reads.append((kind, self._args, frame_digest(self._out, self._KINDS),
                               self.tables[table]))
        elif kind == "read_wide":
            self.reads.append((kind, self._args, frame_digest(self._out, self._WIDE_KINDS), None))
        elif cat == "read":
            self.reads.append((kind, self._args, self._out, None))
        self._out = None

    # -- output checks, after the measured phase ----------------------------------
    def settle_checks(self, rng):
        return ()

    def checks(self):
        tables = dict(self.tables)
        if self.ctas_expected is not None:
            tables["pb_ctas"] = self.ctas_expected
        for table, expected in sorted(tables.items()):
            def read_back(table=table, expected=expected):
                got = frame_digest(self.pr.redshift_to_pandas(f"SELECT * FROM {table}"), self._KINDS)
                if got != expected:
                    raise AssertionError(f"{table}: read back {got}, wrote {expected}")
            yield f"table:{table}", read_back
        con = self.ctx.duckdb()
        for i, (kind, (sql, params), observed, expected) in enumerate(self.reads):
            def check(kind=kind, sql=sql, params=params, observed=observed, expected=expected):
                if kind == "read_back":
                    if observed != expected:
                        raise AssertionError(f"read_back {sql}: {observed} != {expected}")
                    return
                want = con.execute(*_duckdb_query(sql, params)).df()
                if kind == "read_wide":
                    if observed != frame_digest(want, self._WIDE_KINDS):
                        raise AssertionError("read_wide: digest differs from DuckDB")
                    return
                from tests.oracle import assert_frames_match

                assert_frames_match(observed, want, kind)
            yield f"read:{kind}:{i}", check


_PLACEHOLDER = re.compile(r"%%|%\((\w+)\)s|%s")


def _duckdb_query(sql: str, params) -> tuple[str, object]:
    """psycopg2-style placeholders -> DuckDB's (``?`` / ``$name``)."""

    def sub(m):
        if m.group(0) == "%%":
            return "%"
        return f"${m.group(1)}" if m.group(1) else "?"

    return _PLACEHOLDER.sub(sub, sql), params


def make(name: str, ctx):
    if name == "etl_bridge":
        return EtlBridge(ctx)
    if name == "analytic_batch":
        return QueryWorkload(name, ANALYTIC_QUERIES, ctx, settle=True)
    if name == "stream_sink":
        return QueryWorkload(name, STREAM_QUERIES, ctx, settle=False)
    raise ValueError(f"unknown workload {name!r}")


# -- order-insensitive frame digests --------------------------------------------


def _canon(s: pd.Series, kind: str) -> pd.Series:
    """One column in a canonical dtype, identical for the generated
    frame and for what comes back from Spark or DuckDB (nullable ints
    read back as float64, timestamps as datetime64[ns] or [us],
    nullable bools as object).  ``+ 0.0`` turns -0.0 into 0.0: SQL
    treats them as equal and UNION / DISTINCT return 0.0 for both."""
    if kind in ("int", "float"):
        return s.astype("float64") + 0.0
    if kind == "ts":
        return pd.to_datetime(s).astype("datetime64[us]").astype("int64").where(s.notna(), -1)
    if kind == "bool":
        return s.map({True: 1, False: 0}).astype("float64")
    return s.astype(object).where(s.notna(), None)


def frame_digest(df: pd.DataFrame, kinds: dict[str, str]) -> tuple[int, int]:
    """(row count, multiset hash) of ``df`` over the columns in
    ``kinds`` (lower-case names).  The hash is a sum of per-row hashes
    mod 2**64, so it ignores row order and the digest of a union of
    disjoint frames is the sum of their digests."""
    lowered = {c.lower(): c for c in df.columns}
    canon = pd.DataFrame({c: _canon(df[lowered[c]], kinds[c]) for c in sorted(kinds)})
    if len(canon) == 0:
        return 0, 0
    row_hash = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
    return len(canon), int(row_hash.sum(dtype=np.uint64))


def add_digests(*digests: tuple[int, int]) -> tuple[int, int]:
    return (
        sum(d[0] for d in digests),
        sum(d[1] for d in digests) % (1 << 64),
    )
