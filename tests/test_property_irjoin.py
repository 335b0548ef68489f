"""Property-based differential testing of the Query-IR JOIN types
(inner/left/semi/anti, VERDICT r11 #5) against DuckDB, on BOTH tiers.

The fixed qir_*_join driver oracles pin one shape each; here hypothesis
fuzzes the query space over edge-case-rich fixed data: NULL join keys on
both sides, duplicate keys on both sides (row multiplication under
inner/left), an effectively-empty right side (only-NULL keys: zero
matches — semi empties, anti passes everything), a WHERE that can empty
the left side, right-side group keys and aggregate inputs (inner/left),
and count_distinct over nullable columns. Every example runs the Spark
path; examples the local Arrow mirror accepts run it too — all compared
value-level against generated DuckDB SQL (JOIN / EXISTS / NOT EXISTS).

Broadcast-gate sizing is a plan property, pinned separately in
test_localexec.test_agg_ir_join_types_spark_plan; a true zero-row right
store is pinned deterministically below.
"""

import math
from collections import Counter

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from linkml_store_spark import Client
from linkml_store_spark.query import Query

ROWS_L, ROWS_R = 300, 60


@pytest.fixture(scope="module")
def jdb(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("irjoin")
    client = Client(spark)
    db = client.attach_database(f"spark://{tmp}/jdb")

    facts = db.create_collection("facts", identifier_attribute="id")
    lrows = [
        {
            "id": i,
            "k": None if i % 11 == 0 else i % 13,
            "v": (i * 37) % 100,
            "f": None if i % 17 == 0 else round(((i * 7919) % 1000) / 16.0, 4),
            "s": None if i % 13 == 0 else f"s{i % 4}",
        }
        for i in range(ROWS_L)
    ]
    facts.insert(spark.createDataFrame(
        lrows, "id long, k long, v long, f double, s string"
    ))

    rdim = db.create_collection("rdim")
    rrows = [
        {
            "rk": None if j % 7 == 0 else j % 10,
            "rv": (j * 11) % 50,
            "rs": f"r{j % 3}",
        }
        for j in range(ROWS_R)
    ]
    rdim.insert(spark.createDataFrame(rrows, "rk long, rv long, rs string"))

    # all-NULL keys: zero possible matches (SQL: NULL matches nothing)
    rnull = db.create_collection("rnull")
    rnull.insert(spark.createDataFrame(
        [{"rk": None, "rv": j, "rs": "x"} for j in range(3)],
        "rk long, rv long, rs string",
    ))

    con = duckdb.connect()
    for name, coll in [("l", facts), ("rdim", rdim), ("rnull", rnull)]:
        files = [fp for fp, _md in coll._store_metas()]
        flist = ", ".join(f"'{f}'" for f in files)
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{flist}])"
        )
    return db, con


LEFT_AGGS = [
    ("count", None), ("count", "f"), ("sum", "v"), ("sum", "f"),
    ("avg", "v"), ("min", "f"), ("max", "v"),
    ("count_distinct", "k"), ("count_distinct", "s"),
]
RIGHT_AGGS = [
    ("sum", "rv"), ("count", "rv"), ("min", "rv"),
    ("count_distinct", "rv"),
]
_SQL_FN = {
    "count": lambda c: "COUNT(*)" if c is None else f"COUNT({c})",
    "sum": lambda c: f"SUM({c})",
    "avg": lambda c: f"AVG({c})",
    "min": lambda c: f"MIN({c})",
    "max": lambda c: f"MAX({c})",
    "count_distinct": lambda c: f"COUNT(DISTINCT {c})",
}

join_specs = st.builds(
    lambda how, right, keys, rkey, aggs, raggs, lt: {
        "how": how,
        "right": right,
        "keys": (keys + (["rs"] if rkey and how in ("inner", "left") else []))
        or ["s"],
        "aggs": aggs + (raggs if how in ("inner", "left") else []),
        "where_lt": lt,
    },
    how=st.sampled_from(["inner", "left", "semi", "anti"]),
    right=st.sampled_from(["rdim", "rnull"]),
    keys=st.lists(st.sampled_from(["s", "k"]), max_size=2, unique=True),
    rkey=st.booleans(),
    aggs=st.lists(st.sampled_from(LEFT_AGGS), min_size=1, max_size=3,
                  unique=True),
    raggs=st.lists(st.sampled_from(RIGHT_AGGS), max_size=2, unique=True),
    lt=st.one_of(st.none(), st.integers(min_value=0, max_value=100)),
)


def _canon(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        return round(x, 6)
    return x


def _duck_sql(spec, aliases):
    keys = ", ".join(spec["keys"])
    parts = ", ".join(
        f"{_SQL_FN[fn](col)} AS {a}"
        for a, (fn, col) in zip(aliases, spec["aggs"])
    )
    where = [] if spec["where_lt"] is None else [f"l.v < {spec['where_lt']}"]
    how, r = spec["how"], spec["right"]
    if how in ("semi", "anti"):
        neg = "NOT " if how == "anti" else ""
        where.append(f"{neg}EXISTS (SELECT 1 FROM {r} WHERE {r}.rk = l.k)")
        src = "l"
    else:
        j = "JOIN" if how == "inner" else "LEFT JOIN"
        src = f"l {j} {r} ON l.k = {r}.rk"
    w = f" WHERE {' AND '.join(where)}" if where else ""
    return f"SELECT {keys}, {parts} FROM {src}{w} GROUP BY {keys}"


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=join_specs)
def test_ir_join_matches_duckdb_both_tiers(jdb, spec):
    db, con = jdb
    coll = db.get_collection("facts")
    aliases = [f"a{i}" for i in range(len(spec["aggs"]))]
    q = Query(
        join={"collection": spec["right"], "left_on": "k",
              "right_on": "rk", "how": spec["how"]},
        where_clause=(
            None if spec["where_lt"] is None
            else {"v": {"$lt": spec["where_lt"]}}
        ),
        group_by=spec["keys"],
        aggs={a: g for a, g in zip(aliases, spec["aggs"])},
        limit=-1,
    )
    want_rows = con.execute(_duck_sql(spec, aliases)).fetchall()
    want = Counter(tuple(_canon(x) for x in r) for r in want_rows)
    cols = spec["keys"] + aliases

    results = {"spark": coll._query_spark(q)}
    plan = coll._local_tier_plan(q)
    if plan is not None:
        results["local"] = plan()
    for tier, res in results.items():
        assert res.num_rows == len(want_rows), (tier, spec)
        got = Counter(
            tuple(_canon(r[c]) for c in cols) for r in res.rows
        )
        assert got == want, (tier, spec)


def test_ir_join_zero_row_right_store(jdb, spark):
    """A genuinely EMPTY right store: inner/semi produce no groups,
    anti keeps every left row, left join aggregates left-only."""
    db, con = jdb
    rempty_coll = db.create_collection("rempty")
    rempty_coll.insert(
        spark.createDataFrame([], "rk long, rv long, rs string")
    )
    files = [fp for fp, _md in rempty_coll._store_metas()]
    flist = ", ".join(f"'{f}'" for f in files)
    con.execute(
        f"CREATE VIEW rempty AS SELECT * FROM read_parquet([{flist}])"
    )
    coll = db.get_collection("facts")
    for how, sql in [
        ("inner", "SELECT s, COUNT(*) FROM l JOIN rempty ON l.k = rempty.rk "
                  "GROUP BY s"),
        ("semi", "SELECT s, COUNT(*) FROM l WHERE EXISTS "
                 "(SELECT 1 FROM rempty WHERE rempty.rk = l.k) GROUP BY s"),
        ("anti", "SELECT s, COUNT(*) FROM l WHERE NOT EXISTS "
                 "(SELECT 1 FROM rempty WHERE rempty.rk = l.k) GROUP BY s"),
        ("left", "SELECT s, COUNT(*) FROM l LEFT JOIN rempty "
                 "ON l.k = rempty.rk GROUP BY s"),
    ]:
        want = Counter(tuple(r) for r in con.execute(sql).fetchall())
        q = Query(
            join={"collection": "rempty", "left_on": "k",
                  "right_on": "rk", "how": how},
            group_by=["s"], aggs={"n": ("count", None)}, limit=-1,
        )
        res = coll._query_spark(q)
        got = Counter((r["s"], r["n"]) for r in res.rows)
        assert got == want, how
        plan = coll._local_tier_plan(q)
        if plan is not None:
            lres = plan()
            assert Counter((r["s"], r["n"]) for r in lres.rows) == want, how
