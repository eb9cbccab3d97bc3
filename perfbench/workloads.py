"""The ops each workload runs, and the oracle each op is checked against.

An op is one build of a DataFrame through the engine's public functions;
the caller then materializes the whole result on the driver as Arrow.
Every op has an expected result computed by DuckDB over the same parquet
files: the registry's ``oracle_sql()`` twin for registry queries, the
same SQL with the same seeded constants for the RA/SQL text ops, and the
written ``documents`` subset for the WARC round trip.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import check
import datagen
import spec


@dataclass
class Ctx:
    """Everything an op needs; built once per measured process."""

    spark: object
    engine: object
    data_dir: str
    work_dir: str
    con: object  # duckdb connection with one view per table
    tracer: object
    consts: dict
    expected: dict = field(default_factory=dict)


def constants(seed: int, n_customer: int) -> dict:
    """The seeded constants of the text ops and the WARC subset."""
    rng = random.Random(f"{seed}:constants")
    return {
        "c_custkey": rng.randrange(n_customer),
        "c_mktsegment": rng.choice(datagen.SEGMENTS),
        "l_returnflag": rng.choice(datagen.RETURN_FLAGS),
        "warc_mul": rng.choice([3, 7, 9, 11, 13, 17, 19]),
        "warc_add": rng.randrange(10),
    }


def pass_orders(seed: int, ops: tuple[str, ...]):
    """Endless sequence of seeded pass orders (one shuffled list per pass)."""
    rng = random.Random(f"{seed}:order")
    while True:
        order = list(ops)
        rng.shuffle(order)
        yield order


def _q3_where(c: dict) -> str:
    return (
        f"c_custkey = o_custkey AND o_orderkey = l_orderkey AND "
        f"l_returnflag = '{c['l_returnflag']}' AND c_mktsegment = '{c['c_mktsegment']}'"
    )


def text_queries(c: dict) -> dict[str, tuple[str, str, str]]:
    """query -> (RA text, SQL text, oracle SQL of the RA form).

    The four reference queries of ``test_commands.txt`` (point select,
    customer-nation-region join, the join with constant filters in both
    FROM orders). RA ``\\project`` is set-valued; ``\\select`` over joins
    is not, so the RA oracle of the filtered joins has no DISTINCT.
    """
    flt = (
        f"l_returnflag = '{c['l_returnflag']}' and "
        f"c_mktsegment = '{c['c_mktsegment']}'"
    )
    q1 = (
        f"SELECT DISTINCT c_name, c_mktsegment FROM customer "
        f"WHERE c_custkey = {c['c_custkey']}"
    )
    q2 = (
        "SELECT DISTINCT c_custkey FROM customer, nation, region "
        "WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey"
    )
    q3 = f"SELECT * FROM customer, orders, lineitem WHERE {_q3_where(c)}"
    q4 = f"SELECT * FROM lineitem, orders, customer WHERE {_q3_where(c)}"
    return {
        "q1_point": (
            f"\\project_{{c_name, c_mktsegment}} "
            f"\\select_{{c_custkey = {c['c_custkey']}}} customer;",
            q1,
            q1,
        ),
        "q2_cnr": (
            "\\project_{c_custkey} ((customer \\join_{c_nationkey = n_nationkey} "
            "nation) \\join_{n_regionkey = r_regionkey} region);",
            q2,
            q2,
        ),
        "q3_filters": (
            f"\\select_{{{flt}}} ((customer \\join_{{c_custkey = o_custkey}} "
            f"orders) \\join_{{o_orderkey = l_orderkey}} lineitem);",
            q3.replace("SELECT *", "SELECT DISTINCT *"),
            q3,
        ),
        "q4_reversed": (
            f"\\select_{{{flt}}} ((lineitem \\join_{{l_orderkey = o_orderkey}} "
            f"orders) \\join_{{o_custkey = c_custkey}} customer);",
            q4.replace("SELECT *", "SELECT DISTINCT *"),
            q4,
        ),
    }


def warc_subset_sql(c: dict) -> str:
    return (
        f"SELECT doc_id, text FROM documents "
        f"WHERE (doc_id * {c['warc_mul']} + {c['warc_add']}) % 10 < 4"
    )


class Op:
    """Base: ``build`` returns the DataFrame to materialize; ``oracle``
    returns the expected result as DuckDB SQL."""

    kind = "registry"
    payload_column: str | None = None  # NULL here = a rejected record

    def __init__(self, name: str):
        self.name = name

    def build(self, ctx: Ctx, op_id: str):
        raise NotImplementedError

    def oracle(self, ctx: Ctx) -> str:
        raise NotImplementedError

    def expected(self, ctx: Ctx):
        if self.name not in ctx.expected:
            ctx.expected[self.name] = check.duckdb_multiset(ctx.con.sql(self.oracle(ctx)))
        return ctx.expected[self.name]


class RegistryOp(Op):
    def __init__(self, name: str):
        super().__init__(name)
        from sql_query_engine_spark.queries import oracle_sql, queries

        self.fn = queries()[name]
        self.sql = oracle_sql()[name]
        if name == "src_warc_gz_scan":
            self.payload_column = "payload_md5"

    def build(self, ctx, op_id):
        with ctx.tracer.span("queries.build", op_id):
            return self.fn(ctx.spark, ctx.data_dir)

    def oracle(self, ctx):
        return self.sql


class RaOp(Op):
    kind = "ra"

    def __init__(self, name: str, query: str):
        super().__init__(name)
        self.query = query

    def build(self, ctx, op_id):
        from sql_query_engine_spark import ra

        def resolve(rel: str):
            with ctx.tracer.span("ra.resolve", op_id):
                return ctx.spark.table(rel)

        with ctx.tracer.span("ra.parse", op_id):
            return ra.parse_ra(text_queries(ctx.consts)[self.query][0], resolve)

    def oracle(self, ctx):
        return text_queries(ctx.consts)[self.query][2]


class SqlOp(Op):
    kind = "sql"

    def __init__(self, name: str, query: str):
        super().__init__(name)
        self.query = query

    def build(self, ctx, op_id):
        with ctx.tracer.span("engine.sql", op_id):
            return ctx.engine.sql(text_queries(ctx.consts)[self.query][1])

    def oracle(self, ctx):
        return text_queries(ctx.consts)[self.query][1]


class WarcRoundTrip(Op):
    """Write a seeded ``documents`` subset as ``.warc.gz`` into a fresh
    directory, then read it back; the result is the read-back
    ``(doc_id, text)``."""

    kind = "warc"
    payload_column = "text"

    def out_dir(self, ctx, op_id: str) -> str:
        return os.path.join(ctx.work_dir, "warc", op_id.replace(":", "_"))

    def build(self, ctx, op_id):
        from sql_query_engine_spark.sources import warc

        out = self.out_dir(ctx, op_id)
        subset = ctx.engine.sql(warc_subset_sql(ctx.consts))
        with ctx.tracer.span("sources.write", op_id):
            warc.write_warc_gz_dataset(subset, out, n_files=4)
        with ctx.tracer.span("sources.read", op_id):
            return warc.read_warc_gz(ctx.spark, f"{out}/*.warc.gz").select("doc_id", "text")

    def oracle(self, ctx):
        return warc_subset_sql(ctx.consts)

    def input_bytes(self, ctx) -> int:
        q = f"SELECT sum(octet_length(CAST(text AS BLOB))) FROM ({warc_subset_sql(ctx.consts)})"
        return int(ctx.con.sql(q).fetchone()[0] or 0)


def make_ops(workload: str) -> list[Op]:
    ops: list[Op] = []
    for name in spec.OPS[workload]:
        if name.startswith("ra."):
            ops.append(RaOp(name, name[3:]))
        elif name.startswith("sql."):
            ops.append(SqlOp(name, name[4:]))
        elif name == "warc_roundtrip":
            ops.append(WarcRoundTrip(name))
        else:
            ops.append(RegistryOp(name))
    return ops
