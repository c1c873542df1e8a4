"""The two workloads: which operations they run, how each operation's
output is checked, and how the engine is set up for them.

An operation is one statement: ``build`` returns the DataFrame, the harness
collects it through Arrow, and ``check`` judges the collected frame after
the timer has stopped. Expected hashes come from DuckDB over the same
generated tables and are computed before any timing starts.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable

import datagen
from oracle import Oracle, result_hash

# remote calls that move data, as the remote proxy records them per thread
REMOTE_ANY = frozenset({"execute", "execute_stream", "execute_insert",
                        "insert_arrow_batches", "insert_arrow"})


@dataclass
class Op:
    name: str
    kind: str                                  # "read" | "write"
    build: Callable                            # ctx -> DataFrame
    check: Callable                            # pandas frame -> bool
    route: tuple[str, ...] | None = None       # remote calls expected; () = none
    shippable: bool = False
    rows: int = 0                              # rows a write lands
    checksum: int = 0
    target: str | None = None                  # write target (landed check)
    docs: int = 0


@dataclass
class Ctx:
    spark: object
    data_dir: str
    tracer: object
    engine: object = None
    remote: object = None                      # RemoteProxy
    sink_table: str | None = None


def _hash_check(expected: str):
    return lambda pdf: result_hash(pdf) == expected


def _count_check(rows: int):
    return lambda pdf: len(pdf) == 1 and int(pdf.iloc[0, 0]) == rows


def _inventory_op(name: str, oracle: Oracle, docs: int = 0) -> Op:
    from clickhouse_datafusion_spark.queries import QUERIES

    qd = QUERIES[name]

    def build(ctx):
        with ctx.tracer.span("build"):
            return qd.spark_fn(ctx.spark, ctx.data_dir)
    return Op(name, "read", build, _hash_check(oracle.expected(qd.oracle)),
              docs=docs)


def _engine_op(name: str, ch_sql: str, oracle_sql: str, oracle: Oracle,
               route=None, shippable=False) -> Op:
    return Op(name, "read", lambda ctx: ctx.engine.sql(ch_sql),
              _hash_check(oracle.expected(oracle_sql)), route=route,
              shippable=shippable)


# ---------------------------------------------------------------------------
# sql_pipeline
# ---------------------------------------------------------------------------

SQL_INVENTORY = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q9_product_profit", "flagship_top_customers", "j4_self_join",
    "w3_rank_rownum", "x10_native_connector_scan",
]

# (name, ClickHouse-dialect text, DuckDB oracle text, literal choices); the
# shapes are the inventory's f1, f10, f12-f14, x54 and x55 with the literals
# drawn from the seed
DIALECT = [
    ("f1_ch_math", """
        SELECT o_orderkey,
               round(clickhouse(exp(o_totalprice / 500000), 'Float64'), 6) AS e,
               round(clickhouse(abs(o_totalprice - 100000), 'Float64'), 2) AS a,
               round(clickhouse(pow(o_totalprice / 100000, 2), 'Float64'), 6) AS p,
               clickhouse(mod(o_orderkey, 7), 'Int64') AS m
        FROM orders WHERE o_orderkey <= {k}""", """
        SELECT o_orderkey, ROUND(exp(o_totalprice / 500000), 6) AS e,
               ROUND(abs(o_totalprice - 100000), 2) AS a,
               ROUND(power(o_totalprice / 100000, 2), 6) AS p,
               CAST(o_orderkey % 7 AS BIGINT) AS m
        FROM orders WHERE o_orderkey <= {k}""", {"k": [150, 200, 250, 300]}),
    ("f10_ch_having_udf", """
        SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
        HAVING clickhouse(abs(max(o_totalprice) - 150000), 'Float64') > {k}""", """
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM orders
        GROUP BY o_custkey HAVING abs(max(o_totalprice) - 150000) > {k}""",
     {"k": [90000, 100000, 110000]}),
    ("f12_ch_union_branches", """
        SELECT clickhouse(upper(o_orderstatus), 'Utf8') AS s, o_orderkey AS k
        FROM orders WHERE o_orderkey <= {a}
        UNION ALL
        SELECT clickhouse(lower(o_orderpriority), 'Utf8') AS s, o_orderkey AS k
        FROM orders WHERE o_orderkey > {b}""", """
        SELECT upper(o_orderstatus) AS s, o_orderkey AS k FROM orders
        WHERE o_orderkey <= {a}
        UNION ALL
        SELECT lower(o_orderpriority) AS s, o_orderkey AS k FROM orders
        WHERE o_orderkey > {b}""", {"a": [40, 50, 60], "b": [146000, 148000]}),
    ("f13_ch_cte_cross_ref", """
        WITH flags AS (
          SELECT l_orderkey, clickhouse(upper(l_returnflag), 'Utf8') AS rf
          FROM lineitem WHERE l_quantity < {q}
        ), agg AS (SELECT rf, count(*) AS n FROM flags GROUP BY rf)
        SELECT a.rf, a.n FROM agg a JOIN (SELECT DISTINCT rf FROM flags) f
          ON a.rf = f.rf""", """
        WITH flags AS (
          SELECT l_orderkey, upper(l_returnflag) AS rf FROM lineitem
          WHERE l_quantity < {q}
        ), agg AS (SELECT rf, CAST(count(*) AS BIGINT) AS n FROM flags GROUP BY rf)
        SELECT a.rf, a.n FROM agg a JOIN (SELECT DISTINCT rf FROM flags) f
          ON a.rf = f.rf""", {"q": [20, 30, 40]}),
    ("f14_ch_udf_join_side", """
        SELECT c.c_custkey, t.e FROM customer c
        JOIN (SELECT o_custkey,
                     round(clickhouse(exp(max(o_totalprice) / 500000), 'Float64'), 6) AS e
              FROM orders GROUP BY o_custkey) t ON t.o_custkey = c.c_custkey
        WHERE c.c_custkey <= {k}""", """
        SELECT c.c_custkey, t.e FROM customer c
        JOIN (SELECT o_custkey, ROUND(exp(max(o_totalprice) / 500000), 6) AS e
              FROM orders GROUP BY o_custkey) t ON t.o_custkey = c.c_custkey
        WHERE c.c_custkey <= {k}""", {"k": [40, 50, 60]}),
    ("x54_limit_by", """
        SELECT o_orderstatus, o_orderkey,
               clickhouse(round(o_totalprice, 2), 'Float64') AS p
        FROM orders ORDER BY p DESC, o_orderkey LIMIT {n} BY o_orderstatus""", """
        SELECT o_orderstatus, o_orderkey, p FROM (
          SELECT o_orderstatus, o_orderkey, ROUND(o_totalprice, 2) AS p,
                 row_number() OVER (PARTITION BY o_orderstatus
                   ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC,
                            o_orderkey) AS rn
          FROM orders) WHERE rn <= {n}""", {"n": [2, 3, 4]}),
    ("x55_ch_dialect", """
        SELECT l_returnflag, clickhouse(count(*), 'Int64') AS n,
               clickhouse(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) * 10000
                               AS BIGINT), 'Int64') AS qty_e4
        FROM lineitem PREWHERE l_quantity < {q}
        GROUP BY l_returnflag WITH TOTALS FORMAT JSONEachRow""", """
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) * 10000 AS BIGINT) AS qty_e4
        FROM lineitem WHERE l_quantity < {q}
        GROUP BY GROUPING SETS ((l_returnflag), ())""", {"q": [8, 10, 12]}),
]


class Workload:
    name = ""
    clients = 1
    scale = 1.0              # relational tables, as a share of sf0.1
    corpus_scale = 0.01      # documents/embeddings/events, share of sf0.1
    # operations per second on a quiet 4-core box, after one warm-up pass:
    # a run does --seconds worth of operations at this rate
    nominal_ops_per_s: float

    def generate(self, data_dir: str, seed: int, small: bool) -> None:
        datagen.generate(data_dir, seed, 0.01 if small else self.scale,
                         0.01 if small else self.corpus_scale)

    def setup(self, ctx: Ctx) -> None:
        """Catalog registration (timed as ``catalog.register_s``)."""
        from clickhouse_datafusion_spark.catalog import register_testdata_views
        from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

        register_testdata_views(ctx.spark, ctx.data_dir, force=True)
        ctx.engine = ClickHouseSparkEngine(ctx.spark)

    def ops(self, oracle: Oracle, seed: int) -> list[Op]:
        raise NotImplementedError

    def sequence(self, ops: list[Op], seed: int, client: int):
        """Client ``client``'s operations: seeded permutations, repeated."""
        rng = random.Random(f"{seed}-order-{client}")
        while True:
            order = list(ops)
            rng.shuffle(order)
            yield from order

    def landed(self, ctx: Ctx, writes: list[Op]) -> list[str]:
        """End-of-run write checks; returns the targets that do not match."""
        return []


# pipeline entries that fire eager jobs, shuffle and run Python/Arrow
# kernels: the embedding near-duplicate kernel, the composed web-curation
# chain and bigram-LM scoring. Exact entries only: d3x's MinHash-LSH recall
# is below 1 on seeded corpora (seed 52 misses a Jaccard-0.91 pair the
# exact oracle finds), so its output cannot be checked against the oracle
# on every seed. d8 (cross-document span dedup) took a fifth of a pass on
# its own, which left too few passes in one run.
CORPUS_ENTRIES = [
    "d5_embedding_dup_pairs", "x56_web_curation", "t11_bigram_lm_score",
]


class SqlPipeline(Workload):
    name = "sql_pipeline"
    scale = 0.05
    corpus_scale = 0.25
    nominal_ops_per_s = 2.6      # 30 s: four passes of 18 statements

    def ops(self, oracle, seed):
        rng = random.Random(f"{seed}-literals")
        out = [_inventory_op(n, oracle) for n in SQL_INVENTORY]
        for name, ch, ora, choices in DIALECT:
            lit = {k: rng.choice(v) for k, v in sorted(choices.items())}
            tag = ",".join(f"{k}={v}" for k, v in lit.items())
            out.append(_engine_op(f"{name}[{tag}]", ch.format(**lit),
                                  ora.format(**lit), oracle))
        n_docs = oracle.scalar_row("SELECT count(*) FROM documents")[0]
        return out + [_inventory_op(n, oracle, docs=n_docs)
                      for n in CORPUS_ENTRIES]


# ---------------------------------------------------------------------------
# federated_rw
# ---------------------------------------------------------------------------

REMOTE_TABLES = ("orders", "customer", "lineitem")
INS_COLS = "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE"
CHECKSUM = "CAST(sum(l_orderkey * 8 + l_linenumber) AS BIGINT)"

# class -> (statement, expected remote calls, shippable, table whose key
# range the variants cut, window as a share of it or None for a prefix)
FED_READS = {
    # output-reducing remote join + aggregate: ships whole, direct Arrow
    "remote_agg": ("""
        SELECT c.c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n,
               CAST(ROUND(sum(CAST(o.o_totalprice AS DECIMAL(28,4))), 2) AS DOUBLE) AS total
        FROM {r}orders o JOIN {r}customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderkey < {hi} GROUP BY c.c_mktsegment""",
                   ("execute",), True, "orders", None),
    # non-reducing remote scan: ships whole, streamed through the spool
    "remote_scan": ("""
        SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS price
        FROM {r}orders WHERE o_orderkey >= {lo} AND o_orderkey < {hi}
          AND o_orderstatus <> 'P'""",
                    ("execute_stream",), True, "orders", 1 / 75),
    # local table joined to a remote one: the gate refuses, runs locally
    "local_join": ("""
        SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_cust,
               CAST(ROUND(sum(CAST(c.c_acctbal AS DECIMAL(28,4))), 2) AS DOUBLE) AS bal
        FROM {r}customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_custkey < {hi} GROUP BY n.n_name""",
                   (), False, "customer", None),
}
FED_WRITE_WINDOW = 1 / 375          # lineitem rows of ~400 orders at sf0.1
PREFIX_FRACS = (0.1, 0.5, 1.0)
WINDOW_FRACS = (0.0, 0.33, 0.67)


def _bounds(n: int, window: float | None) -> list[tuple[int, int]]:
    """Three key ranges over ``n`` keys: prefixes, or windows of a share."""
    if window is None:
        return [(0, max(1, int(n * f))) for f in PREFIX_FRACS]
    return [(int(n * f), int(n * f) + max(1, int(n * window)))
            for f in WINDOW_FRACS]


# the seeded mix: reads : writes = 2 : 1
FED_MIX = ["remote_agg", "remote_agg", "remote_scan", "remote_scan",
           "local_join", "local_join", "remote_insert", "remote_append",
           "sink_append"]


class FederatedRW(Workload):
    name = "federated_rw"
    nominal_ops_per_s = 6.0      # 30 s: 180 operations

    def __init__(self, clients: int):
        self.clients = clients

    def setup(self, ctx):
        from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine
        from clickhouse_datafusion_spark.sources.remote_engine import RemoteEngine

        from spans import RemoteProxy

        remote = RemoteEngine(pool_size=4)
        for t in REMOTE_TABLES:
            remote.register_parquet(t, f"{ctx.data_dir}/{t}.parquet")
        remote.create_table("ins_li", INS_COLS)
        ctx.remote = RemoteProxy(remote, ctx.tracer)
        ctx.engine = ClickHouseSparkEngine(ctx.spark)
        ctx.engine.attach_remote(ctx.remote, db="remote",
                                 local_twin_dir=ctx.data_dir)
        ctx.spark.sql("CREATE DATABASE IF NOT EXISTS perfbench")
        ctx.spark.sql("DROP TABLE IF EXISTS perfbench.sink_li")
        ctx.spark.sql(f"CREATE TABLE perfbench.sink_li ({INS_COLS}) USING parquet")
        ctx.sink_table = "perfbench.sink_li"

    def ops(self, oracle, seed):
        """Every statement variant of every mix class (key ranges are
        shares of the generated tables, so every variant reads rows)."""
        size = {t: oracle.scalar_row(f"SELECT count(*) FROM {t}")[0]
                for t in ("orders", "customer")}
        out = [_engine_op(f"{cls}[{lo}:{hi}]",
                          sql.format(r="clickhouse.remote.", lo=lo, hi=hi),
                          sql.format(r="", lo=lo, hi=hi), oracle, route, ship)
               for cls, (sql, route, ship, table, window) in FED_READS.items()
               for lo, hi in _bounds(size[table], window)]
        return out + [self._write_op(cls, lo, hi, oracle)
                      for cls in ("remote_insert", "remote_append", "sink_append")
                      for lo, hi in _bounds(size["orders"], FED_WRITE_WINDOW)]

    def sequence(self, ops, seed, client):
        """Each client walks seeded permutations of the mix (so every
        client keeps the read:write ratio exactly) and draws one variant
        of each class it reaches."""
        by_cls: dict[str, list[Op]] = {}
        for op in ops:
            by_cls.setdefault(op.name.split("[")[0], []).append(op)
        rng = random.Random(f"{seed}-client-{client}")
        while True:
            mix = list(FED_MIX)
            rng.shuffle(mix)
            for cls in mix:
                yield rng.choice(by_cls[cls])

    def _write_op(self, cls: str, lo: int, hi: int, oracle: Oracle) -> Op:
        pred = f"l_orderkey >= {lo} AND l_orderkey < {hi}"
        rows, checksum = oracle.scalar_row(
            f"SELECT count(*), {CHECKSUM} FROM lineitem WHERE {pred}")
        cols = "l_orderkey, l_linenumber, l_quantity"
        if cls == "remote_insert":      # remote source: ships whole
            stmt = (f"INSERT INTO clickhouse.remote.ins_li SELECT {cols} "
                    f"FROM clickhouse.remote.lineitem WHERE {pred}")
            build, route, target = (lambda ctx: ctx.engine.sql(stmt),
                                    ("execute_insert",), "remote")
        elif cls == "remote_append":    # local source: the Arrow write plane
            stmt = (f"INSERT INTO clickhouse.remote.ins_li SELECT {cols} "
                    f"FROM lineitem WHERE {pred}")
            build, route, target = (lambda ctx: ctx.engine.sql(stmt),
                                    ("insert_arrow_batches",), "remote")
        else:                           # sink.insert_into a local table
            def build(ctx):
                from clickhouse_datafusion_spark import sink

                with ctx.tracer.span("build"):
                    src = ctx.spark.table("lineitem").where(pred).select(
                        *cols.split(", "))
                with ctx.tracer.span("sink.insert"):
                    return sink.insert_into(ctx.spark, src, ctx.sink_table)
            route, target = (), "sink"
        return Op(f"{cls}[{lo}:{hi}]", "write", build, _count_check(rows),
                  route=route, shippable=cls == "remote_insert",
                  rows=rows, checksum=checksum or 0, target=target)

    def landed(self, ctx, writes):
        bad = []
        for target in ("remote", "sink"):
            ops = [op for op in writes if op.target == target]
            want = (sum(op.rows for op in ops), sum(op.checksum for op in ops))
            if target == "remote":   # read past the proxy: not an operation
                row = ctx.remote.unwrapped.execute(
                    f"SELECT count(*), {CHECKSUM} FROM ins_li").to_pylist()[0]
                got = tuple(row.values())
            else:
                got = tuple(ctx.spark.sql(
                    f"SELECT count(*), {CHECKSUM} FROM {ctx.sink_table}"
                ).collect()[0])
            if tuple(int(v or 0) for v in got) != want:
                bad.append(target)
        return bad


WORKLOADS = ("sql_pipeline", "federated_rw")


def make(name: str, clients: int) -> Workload:
    if name == "sql_pipeline":
        return SqlPipeline()
    if name == "federated_rw":
        return FederatedRW(clients)
    raise ValueError(f"unknown workload {name!r}")
