"""Correctness checks: DuckDB replays of sampled reads and of the write
log, and the corpus row account.  Each mismatch is returned as a string
and counted in ``error_rate``."""

from __future__ import annotations

import math
from typing import Any, Dict, List

import duckdb
import numpy as np
import pyarrow.parquet as pq

REL_TOL = 1e-9


def norm_rows(rows: List[dict], keys: List[str]) -> List[list]:
    """Rows as ``[[col, value], ...]`` lists sorted by the group keys."""
    out = [sorted([k, _plain(v)] for k, v in r.items()) for r in rows]
    return sorted(out, key=lambda r: [str(dict(r).get(k)) for k in keys])


def _plain(v: Any) -> Any:
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def same(a: Any, b: Any) -> bool:
    """Structural equality with a relative tolerance on floats (the two
    engines sum doubles in different orders)."""
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-6)
        except (TypeError, ValueError):
            return False
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def _facet(con, sql: str, key: str) -> Dict[str, list]:
    rows = con.execute(sql).fetchall()
    vals = []
    for r in rows:
        v = r[0] if len(r) == 2 else tuple(r[:-1])
        vals.append([str(v), int(r[-1])])
    return {key: sorted(vals)}


def expected_read(con, emb: np.ndarray, kind: str, variant: str, p: dict):
    """The DuckDB (or numpy, for kNN) answer to one read, normalized like
    ``store.Store.read``."""
    q = con.execute
    if kind == "find":
        w = "o_orderstatus = ? AND o_totalprice >= ?"
        n = q(f"SELECT count(*) FROM orders WHERE {w}",
              [p["status"], p["min_price"]]).fetchone()[0]
        keys = [r[0] for r in q(
            f"SELECT o_orderkey FROM orders WHERE {w} ORDER BY o_orderkey "
            "LIMIT 20 OFFSET ?", [p["status"], p["min_price"], p["offset"]]
        ).fetchall()]
        return [n, keys]
    if kind == "count":
        if variant == "eq":
            return q(f"SELECT count(*) FROM lineitem WHERE {p['col']} = ?",
                     [p["value"]]).fetchone()[0]
        if variant == "in":
            marks = ",".join("?" * len(p["values"]))
            return q(f"SELECT count(*) FROM orders WHERE o_orderpriority IN ({marks})",
                     p["values"]).fetchone()[0]
        return q("SELECT count(*) FROM lineitem WHERE l_quantity >= ? AND "
                 "l_quantity < ?", [p["lo"], p["hi"]]).fetchone()[0]
    if kind == "facet":
        if variant == "single":
            c = p["col"]
            return _facet(con, f"SELECT {c}, count(*) FROM lineitem GROUP BY 1", c)
        if variant == "compound":
            return _facet(con, (
                "SELECT l_returnflag, l_linestatus, count(*) FROM lineitem "
                f"WHERE l_quantity <= {float(p['max_qty'])} GROUP BY 1, 2"),
                str(tuple(p["cols"])))
        return _facet(con, (
            "SELECT o_orderpriority, count(*) FROM orders WHERE "
            f"o_orderstatus = '{p['status']}' GROUP BY 1"), "o_orderpriority")
    if kind == "agg":
        cur = q(
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice) AS sum_base_price, "
            "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
            "avg(l_discount) AS avg_disc, count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= CAST(? AS TIMESTAMP) GROUP BY 1, 2",
            [p["cutoff"]])
        return norm_rows(_dicts(cur), ["l_returnflag", "l_linestatus"])
    if kind == "join_agg":
        cur = q(
            "SELECT c_mktsegment, sum(o_totalprice) AS revenue, count(*) AS n "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "WHERE o_totalprice >= ? GROUP BY 1", [p["min_price"]])
        return norm_rows(_dicts(cur), ["c_mktsegment"])
    if kind == "max_by":
        n, s = q(
            "SELECT count(*), sum(event_id) FROM (SELECT event_id, row_number() "
            "OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
            "FROM events WHERE event_type = ?) WHERE rn = 1",
            [p["event_type"]]).fetchone()
        return [n, int(s or 0)]
    if kind == "rollup":
        marks = ",".join("?" * len(p["types"]))
        n, cnt, tot = q(
            "SELECT count(*), sum(n), sum(total) FROM (SELECT "
            f"date_trunc('{p['grain']}', ts), event_type, count(*) AS n, "
            f"sum(value) AS total FROM events WHERE event_type IN ({marks}) "
            "GROUP BY 1, 2)", p["types"]).fetchone()
        return [n, int(cnt or 0), round(float(tot or 0.0), 2)]
    if kind == "topk":
        return [round(float(r[0]), 2) for r in q(
            "SELECT o_totalprice FROM orders WHERE o_orderstatus = ? "
            "ORDER BY o_totalprice DESC LIMIT ?", [p["status"], p["k"]]
        ).fetchall()]
    if kind == "knn":
        qv = np.asarray(p["qv"], dtype="float64")
        scores = emb @ qv / (np.linalg.norm(emb, axis=1) * np.linalg.norm(qv))
        return [int(i) for i in np.argsort(-scores, kind="stable")[:10]]
    raise ValueError(kind)


def _dicts(cur) -> List[dict]:
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def _search_ok(result: list, n_docs: int) -> bool:
    scores = [s for s, _ in result]
    ids = [i for _, i in result]
    return (0 < len(result) <= 10 and len(set(ids)) == len(ids)
            and all(0 <= i < n_docs for i in ids)
            and all(a >= b for a, b in zip(scores, scores[1:])))


def _apply_write(con, p: dict) -> None:
    kind = p["kind"]
    if kind in ("insert", "upsert"):
        if kind == "upsert":
            keys = [r[0] for r in p["rows"]]
            con.execute(f"DELETE FROM orders WHERE o_orderkey IN "
                        f"({','.join(str(int(k)) for k in keys)})")
        con.executemany(
            "INSERT INTO orders VALUES (?, ?, ?, ?, CAST(? AS TIMESTAMP), ?)",
            [[r[0], r[1], r[2], r[3], r[4].replace("T", " "), r[5]]
             for r in p["rows"]])
    elif kind == "update":
        con.executemany(
            "UPDATE orders SET o_orderstatus = ?, o_totalprice = ? "
            "WHERE o_orderkey = ?", [[s, v, k] for k, s, v in p["rows"]])
    else:
        con.execute(f"DELETE FROM orders WHERE o_orderkey IN "
                    f"({','.join(str(int(k)) for k in p['keys'])})")


def replay_store(inputs: Dict[str, str], log: List[dict], store) -> List[str]:
    """Walk the call log in order against a DuckDB mirror of the inputs:
    apply each write, answer each sampled read, then compare the final
    ``orders`` table of the store with the mirror."""
    con = duckdb.connect()
    for name, path in inputs.items():
        if name != "documents":
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")
    emb = np.stack(pq.read_table(inputs["embeddings"]).column("embedding")
                   .to_numpy(zero_copy_only=False)).astype("float64")
    n_docs = pq.ParquetFile(inputs["documents"]).metadata.num_rows
    bad: List[str] = []
    wrote = False
    for rec in log:
        if rec["op"] == "write":
            if "error" not in rec:
                _apply_write(con, rec["params"])
                wrote = True
            continue
        if not rec.get("replay"):
            continue
        if rec["kind"] == "search":
            ok = _search_ok(rec["result"], n_docs)
            want = "ranked, distinct, <= 10 rows"
        else:
            want = expected_read(con, emb, rec["kind"], rec["variant"],
                                 rec["params"])
            ok = same(rec["result"], want)
        if not ok:
            bad.append(f"read mismatch {rec['kind']}/{rec['variant']} "
                       f"{rec['params']}: got {str(rec['result'])[:200]} "
                       f"want {str(want)[:200]}")
    if wrote:
        files = store.files("orders")
        got = con.execute(
            "SELECT count(*), sum(o_totalprice), count(DISTINCT o_orderstatus) "
            "FROM read_parquet(?)", [files]).fetchone()
        want = con.execute(
            "SELECT count(*), sum(o_totalprice), count(DISTINCT o_orderstatus) "
            "FROM orders").fetchone()
        keys_got = {r[0] for r in con.execute(
            "SELECT o_orderkey FROM read_parquet(?)", [files]).fetchall()}
        keys_want = {r[0] for r in con.execute(
            "SELECT o_orderkey FROM orders").fetchall()}
        if not same(list(got), list(want)) or keys_got != keys_want:
            bad.append(f"final orders mismatch: store {got} "
                       f"({len(keys_got)} keys) vs replay {want} "
                       f"({len(keys_want)} keys)")
    con.close()
    return bad


def corpus_account(report: Dict[str, int], counts: Dict[str, int]) -> List[str]:
    """The pipeline's row account must be consistent: its input is the
    generated document count and no stage has more survivors than its
    input."""
    bad = []
    n_in = counts["exact_dup"] + counts["near_dup"] + counts["new"]
    if report.get("input") != n_in:
        bad.append(f"account input {report.get('input')} != generated {n_in}")
    prev = n_in
    for stage in ("after_quality_gate", "after_dedup", "after_span_dedup"):
        n = report.get(stage)
        if n is None:
            bad.append(f"account has no {stage}")
            continue
        if n > prev:
            bad.append(f"account {stage} {n} > its input {prev}")
        prev = n
    return bad
