"""The ``interactive_store`` workload.

One closed-loop client issues a seeded stream of read calls through the
public Collection API against a freshly built store.  Reads come in
rounds of fixed composition, and a declared number of each round's calls
repeat an earlier call exactly.  Traced runs then probe single layers
and the write path (writes on ``orders``, each followed by the first
read of every kind that touches it).
"""

from __future__ import annotations

import datetime as dt
import os
import time
from typing import Any, Callable, Dict, List

import numpy as np

from linkml_store_spark import Database, Query

import check
import gen
import layers
from probe import median, pct

#: one read round of 40 calls: (kind, variant) -> (calls, of which repeat
#: an earlier call exactly); search costs ~100x a typical read, so it is
#: the rarest kind
ROUND = {
    ("find", "page"): (6, 2),
    ("count", "eq"): (2, 1), ("count", "in"): (3, 1), ("count", "range"): (3, 1),
    ("facet", "single"): (2, 1), ("facet", "compound"): (2, 1),
    ("facet", "where"): (2, 1),
    ("agg", "q1"): (4, 1),
    ("join_agg", "segment"): (4, 1),
    ("max_by", "latest"): (3, 1),
    ("rollup", "date_trunc"): (3, 1),
    ("topk", "price"): (3, 1),
    ("knn", "cosine"): (2, 1),
    ("search", "simple"): (1, 0),
}
ROUND_SIZE = sum(n for n, _ in ROUND.values())
REPEAT_SHARE = sum(r for _, r in ROUND.values()) / ROUND_SIZE
#: traced runs only: rounds of writes (each write kind once per round)
WRITE_ROUNDS = 2
WRITE_KINDS = ["insert", "upsert", "update", "delete_where"]
#: the read classes that touch ``orders``, the collection the writes change
ORDERS_READS = [("find", "page"), ("count", "in"), ("facet", "where"),
                ("join_agg", "segment"), ("topk", "price")]
#: a seeded 1-in-N sample of reads is replayed in DuckDB
REPLAY_EVERY = 6

PKS = {
    "lineitem": None, "orders": "o_orderkey", "customer": "c_custkey",
    "events": "event_id", "embeddings": "vec_id", "documents": "doc_id",
}
_DAY = dt.timedelta(days=1)
_D1992 = dt.datetime(1992, 1, 1)


def _day(n: int) -> str:
    return (_D1992 + n * _DAY).strftime("%Y-%m-%d %H:%M:%S")


# ---------------------------------------------------------------------- #
# read parameters: fresh draws per (kind, variant)
# ---------------------------------------------------------------------- #
def _fresh(kind: str, variant: str, rng) -> Dict[str, Any]:
    if kind == "find":
        return {"status": str(rng.choice(["F", "O", "P"])),
                "min_price": float(rng.integers(1, 400) * 1000),
                "offset": int(rng.integers(0, 200))}
    if kind == "count":
        if variant == "eq":
            return {"col": "l_linenumber", "value": int(rng.integers(1, 8))}
        if variant == "in":
            k = int(rng.integers(1, 4))
            return {"values": sorted(str(v) for v in rng.choice(
                gen.PRIORITIES, size=k, replace=False))}
        lo = int(rng.integers(1, 40))
        return {"lo": float(lo), "hi": float(lo + rng.integers(2, 12))}
    if kind == "facet":
        if variant == "single":
            return {"col": str(rng.choice(["l_returnflag", "l_linestatus",
                                           "l_linenumber"]))}
        if variant == "compound":
            return {"cols": ["l_returnflag", "l_linestatus"],
                    "max_qty": float(rng.integers(10, 51))}
        return {"status": str(rng.choice(["F", "O", "P"]))}
    if kind == "agg":
        return {"cutoff": _day(int(rng.integers(1500, 2526)))}
    if kind == "join_agg":
        return {"min_price": float(rng.integers(0, 450) * 1000)}
    if kind == "max_by":
        return {"event_type": str(rng.choice(gen.EVENT_TYPES))}
    if kind == "rollup":
        return {"grain": str(rng.choice(["hour", "day"])),
                "types": sorted(str(v) for v in rng.choice(
                    gen.EVENT_TYPES, size=2, replace=False))}
    if kind == "topk":
        return {"k": int(rng.choice([5, 10, 20])),
                "status": str(rng.choice(["F", "O", "P"]))}
    if kind == "knn":
        v = rng.standard_normal(gen.EMBED_DIM)
        return {"qv": [round(float(x), 6) for x in v / np.linalg.norm(v)]}
    if kind == "search":
        return {"text": " ".join(str(w) for w in rng.choice(gen.WORDS, size=3))}
    raise ValueError(kind)


def first_touch(rng, history: Dict) -> List[dict]:
    """One fresh call of every (kind, variant) in a fixed order: the first
    calls of a fresh session, whose tier A/B runs depend on which call
    touches a (collection, call class) first."""
    out = []
    for kind, variant in ROUND:
        params = _fresh(kind, variant, rng)
        history.setdefault((kind, variant), []).append(params)
        out.append({"op": "read", "kind": kind, "variant": variant,
                    "params": params, "repeat": False, "round": -1})
    return out


def make_stream(rng, n_rounds: int, history: Dict,
                first_round: int = 0) -> List[dict]:
    """``n_rounds`` shuffled read rounds of the declared composition.
    ``history`` maps (kind, variant) to earlier parameter sets; repeats
    draw from it."""
    out: List[dict] = []
    for rnd in range(first_round, first_round + n_rounds):
        calls = []
        for (kind, variant), (n, n_rep) in ROUND.items():
            past = history.setdefault((kind, variant), [])
            for i in range(n):
                if i < n_rep and past:
                    params, repeat = past[int(rng.integers(0, len(past)))], True
                else:
                    params, repeat = _fresh(kind, variant, rng), False
                calls.append({"op": "read", "kind": kind, "variant": variant,
                              "params": params, "repeat": repeat, "round": rnd})
            past.extend(c["params"] for c in calls[-n:] if not c["repeat"])
        rng.shuffle(calls)
        out.extend(calls)
    return out


# ---------------------------------------------------------------------- #
# the store and its calls
# ---------------------------------------------------------------------- #
class Store:
    """A fresh on-disk Database holding the generated tables."""

    def __init__(self, spark, input_paths: Dict[str, str], location: str):
        self.location = location
        self.db = Database(spark, location=location)
        for name, path in input_paths.items():
            coll = self.db.create_collection(name, identifier_attribute=PKS[name])
            coll.insert(spark.read.parquet(path))
        self.c = {n: self.db.get_collection(n) for n in input_paths}

    def files(self, name: str) -> List[str]:
        d = os.path.join(self.location, f"{name}.parquet")
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    def dir_bytes(self, name: str) -> int:
        d = os.path.join(self.location, f"{name}.parquet")
        return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))

    # -- reads: each returns a normalized, comparable result ------------ #
    def read(self, kind: str, variant: str, p: Dict[str, Any]):
        c = self.c
        if kind == "find":
            r = c["orders"].find(
                {"o_orderstatus": p["status"],
                 "o_totalprice": {"$gte": p["min_price"]}},
                limit=20, offset=p["offset"], sort_by=["o_orderkey"],
            )
            return [r.num_rows, [row["o_orderkey"] for row in r.rows]]
        if kind == "count":
            if variant == "eq":
                w = {p["col"]: p["value"]}
                coll = c["lineitem"]
            elif variant == "in":
                w = {"o_orderpriority": {"$in": p["values"]}}
                coll = c["orders"]
            else:
                w = {"l_quantity": {"$gte": p["lo"], "$lt": p["hi"]}}
                coll = c["lineitem"]
            return coll.find(w, limit=0).num_rows
        if kind == "facet":
            if variant == "single":
                res = c["lineitem"].query_facets(None, [p["col"]])
            elif variant == "compound":
                res = c["lineitem"].query_facets(
                    {"l_quantity": {"$lte": p["max_qty"]}}, [tuple(p["cols"])])
            else:
                res = c["orders"].query_facets(
                    {"o_orderstatus": p["status"]}, ["o_orderpriority"])
            return {str(k): sorted([str(v), int(n)] for v, n in vals)
                    for k, vals in res.items()}
        if kind == "agg":
            r = c["lineitem"].query(Query(
                where_clause={"l_shipdate": {"$lte": p["cutoff"]}},
                group_by=["l_returnflag", "l_linestatus"],
                aggs={
                    "sum_qty": ("sum", "l_quantity"),
                    "sum_base_price": ("sum", "l_extendedprice"),
                    "sum_disc_price": ("sum", "l_extendedprice * (1 - l_discount)"),
                    "avg_disc": ("avg", "l_discount"),
                    "count_order": ("count", None),
                },
            ))
            return check.norm_rows(r.rows, ["l_returnflag", "l_linestatus"])
        if kind == "join_agg":
            r = c["orders"].query(Query(
                where_clause={"o_totalprice": {"$gte": p["min_price"]}},
                join={"collection": "customer", "left_on": "o_custkey",
                      "right_on": "c_custkey"},
                group_by=["c_mktsegment"],
                aggs={"revenue": ("sum", "o_totalprice"), "n": ("count", None)},
            ))
            return check.norm_rows(r.rows, ["c_mktsegment"])
        if kind == "max_by":
            r = c["events"].query(Query(
                where_clause={"event_type": p["event_type"]},
                group_by=["user_id"],
                aggs={"event_id": ("max_by", "event_id", ("ts", "event_id"))},
                limit=-1,
            ))
            return [len(r.rows), sum(int(x["event_id"]) for x in r.rows)]
        if kind == "rollup":
            r = c["events"].query(Query(
                where_clause={"event_type": {"$in": p["types"]}},
                group_by=[("bucket", ("date_trunc", p["grain"], "ts")), "event_type"],
                aggs={"n": ("count", None), "total": ("sum", "value")},
                limit=-1,
            ))
            return [len(r.rows), sum(int(x["n"]) for x in r.rows),
                    round(sum(float(x["total"]) for x in r.rows), 2)]
        if kind == "topk":
            r = c["orders"].find(
                {"o_orderstatus": p["status"]}, sort_by=["-o_totalprice"],
                select_cols=["o_orderkey", "o_totalprice"], limit=p["k"],
            )
            return [round(float(x["o_totalprice"]), 2) for x in r.rows]
        if kind == "knn":
            r = c["embeddings"].knn_search(
                p["qv"], vector_col="embedding", k=10,
                select_cols=["vec_id", "label", "score"],
            )
            return [int(x["vec_id"]) for x in r.rows]
        if kind == "search":
            r = c["documents"].search(p["text"], limit=10)
            return [[round(float(s), 9), int(o["doc_id"])] for s, o in r.ranked_rows]
        raise ValueError(kind)

    # -- writes on orders ------------------------------------------------ #
    def write(self, kind: str, p: Dict[str, Any]) -> None:
        orders = self.c["orders"]
        if kind == "insert":
            orders.insert(_order_dicts(p["rows"]))
        elif kind == "upsert":
            orders.upsert(_order_dicts(p["rows"]), filter_fields=["o_orderkey"])
        elif kind == "update":
            orders.update([
                {"o_orderkey": k, "o_orderstatus": s, "o_totalprice": v}
                for k, s, v in p["rows"]
            ])
        elif kind == "delete_where":
            orders.delete_where({"o_orderkey": {"$in": p["keys"]}})
        else:
            raise ValueError(kind)


def _order_dicts(rows: List[list]) -> List[dict]:
    return [
        {"o_orderkey": k, "o_custkey": ck, "o_orderstatus": s,
         "o_totalprice": v, "o_orderdate": dt.datetime.fromisoformat(d),
         "o_orderpriority": pr}
        for k, ck, s, v, d, pr in rows
    ]


class WriteGen:
    """Seeded write parameters; tracks the live key set so updates and
    deletes hit existing orders and inserts use new keys."""

    BATCH = 20

    def __init__(self, rng, n_orders: int, n_customers: int):
        self.rng = rng
        self.live = list(range(n_orders))
        self.next_key = n_orders
        self.n_customers = n_customers
        self.i = 0

    def _new_rows(self, keys):
        r = self.rng
        return [[int(k), int(r.integers(0, self.n_customers)),
                 str(r.choice(["F", "O", "P"])),
                 round(float(r.uniform(850.0, 500_000.0)), 2),
                 _day(int(r.integers(0, 2400)))[:10] + "T00:00:00",
                 str(r.choice(gen.PRIORITIES))] for k in keys]

    def _existing(self, n):
        idx = self.rng.choice(len(self.live), size=n, replace=False)
        return [self.live[int(i)] for i in idx]

    def next(self) -> Dict[str, Any]:
        kind = WRITE_KINDS[self.i % len(WRITE_KINDS)]
        self.i += 1
        b = self.BATCH
        if kind == "insert":
            keys = list(range(self.next_key, self.next_key + b))
            self.next_key += b
            self.live.extend(keys)
            return {"kind": kind, "rows": self._new_rows(keys)}
        if kind == "upsert":
            fresh = list(range(self.next_key, self.next_key + b // 2))
            self.next_key += b // 2
            keys = self._existing(b - b // 2) + fresh
            self.live.extend(fresh)
            return {"kind": kind, "rows": self._new_rows(keys)}
        if kind == "update":
            return {"kind": kind, "rows": [
                [k, "U", round(float(self.rng.uniform(850.0, 500_000.0)), 2)]
                for k in self._existing(b)]}
        keys = self._existing(b // 4)
        dead = set(keys)
        self.live = [k for k in self.live if k not in dead]
        return {"kind": kind, "keys": sorted(keys)}


# ---------------------------------------------------------------------- #
# the workload driver
# ---------------------------------------------------------------------- #
class Driver:
    """Executes calls, timing each from outside and keeping an ordered log
    for the DuckDB replay."""

    def __init__(self, store, tracer):
        self.store, self.tracer = store, tracer
        self.log: List[dict] = []

    def read(self, call: dict) -> dict:
        return self._do(dict(call), f"collection.{call['kind']}",
                        lambda: self.store.read(call["kind"], call["variant"],
                                                call["params"]))

    def write(self, p: dict) -> dict:
        rec = self._do({"op": "write", "kind": p["kind"], "params": p},
                       f"collection.{p['kind']}",
                       lambda: self.store.write(p["kind"], p))
        # every write rewrites the collection's parquet, so the bytes it
        # wrote are the size of the collection directory afterwards
        rec["bytes_ratio"] = self.store.dir_bytes("orders") / len(repr(p).encode())
        return rec

    def _do(self, rec: dict, name: str, fn: Callable[[], Any]) -> dict:
        t0, c0 = time.perf_counter(), time.thread_time()
        rec["t0"] = t0
        try:
            with self.tracer.span(name, "collection"):
                rec["result"] = fn()
        except Exception as exc:  # noqa: BLE001 — counted in error_rate
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["ms"] = (time.perf_counter() - t0) * 1000
        rec["cpu_ms"] = (time.thread_time() - c0) * 1000
        self.log.append(rec)
        return rec


def run(ctx) -> dict:
    """Build the store, warm up, run the timed closed loop, then (traced
    runs only) probe single layers and the write path, and replay a
    sample of the answers in DuckDB."""
    spark, tracer, seed = ctx.spark, ctx.tracer, ctx.seed
    inputs = gen.make_tables(seed, ctx.scale, os.path.join(ctx.rundir, "inputs"))
    sizes = gen.table_rows(ctx.scale)
    ctx.phase("inputs")
    store = Store(spark, inputs, os.path.join(ctx.rundir, "store"))
    ctx.phase("store")

    history: Dict = {}
    rng_w = np.random.default_rng([seed, 1])
    warm = first_touch(rng_w, history)
    warm += make_stream(rng_w, ctx.warm_rounds, history)
    # long enough for any run length; the loop stops when time is up
    timed = make_stream(np.random.default_rng([seed, 2]), 200, history,
                        first_round=ctx.warm_rounds)
    drv = Driver(store, tracer)

    first_ms: Dict[str, float] = {}
    for call in warm:
        rec = drv.read(call)
        first_ms.setdefault(rec["kind"], rec["ms"])
    ctx.phase("warmup")
    verdicts = ctx.verdicts(store)

    ctx.mark_timed_start()
    deadline = time.perf_counter() + ctx.seconds
    n_warm_log = len(drv.log)
    for call in timed:
        if time.perf_counter() >= deadline:
            break
        drv.read(call)["timed"] = True
    cpu_s = ctx.mark_timed_end()
    timed_recs = drv.log[n_warm_log:]

    per_layer: Dict[str, float] = {}
    writes: Dict[str, Any] = {}
    if tracer.enabled:
        per_layer.update(layers.store_layer_probes(ctx, store))
        writes = _write_phase(ctx, drv, store, sizes, verdicts)
        per_layer.update(writes.pop("per_layer"))
        per_layer.update(_kind_layers(timed_recs, first_ms))
        per_layer["arrowagg.jvm_verdicts"] = sum(
            1 for v in verdicts.values() if v == "jvm")

    # correctness: DuckDB replay of a seeded sample (outside the timing)
    pick = np.random.default_rng([seed, 4])
    for rec in drv.log:
        rec["replay"] = rec["op"] == "read" and "error" not in rec and (
            rec.get("after_write") or pick.integers(0, REPLAY_EVERY) == 0)
    errors = [f"{r['op']} {r['kind']}: {r['error']}" for r in drv.log
              if "error" in r]
    mismatches = check.replay_store(inputs, drv.log, store)
    errors.extend(mismatches)
    failed = sum(1 for r in timed_recs if "error" in r) + len(mismatches)

    # latency and throughput per complete round (each has the exact
    # declared mix), then the median over rounds: a burst of contention
    # on the machine shifts a few rounds, not the run's figures
    rounds: Dict[int, List[dict]] = {}
    for r in timed_recs:
        rounds.setdefault(r["round"], []).append(r)
    complete = [rs for rs in rounds.values() if len(rs) == ROUND_SIZE]
    if not complete:  # slower than one round per run: use what ran
        complete = list(rounds.values())
    r_p50 = [median([r["ms"] for r in rs]) for rs in complete]
    r_cpu = [median([r["cpu_ms"] for r in rs]) for rs in complete]
    r_p90 = [pct([r["ms"] for r in rs], 90) for rs in complete]
    r_ops = [len(rs) / (rs[-1]["t0"] + rs[-1]["ms"] / 1000 - rs[0]["t0"])
             for rs in complete]
    kind_ms: Dict[str, List[float]] = {}
    for rs in complete:
        for r in rs:
            kind_ms.setdefault(r["kind"], []).append(r["ms"])
    detail = {
        "driver_cpu_p50_ms": median(r_cpu),
        "read_p50_ms": median(r_p50),
        "read_p90_ms": median(r_p90),
        "read_ops_per_s": median(r_ops),
        "first_call_ms": median(list(first_ms.values())),
        "cpu_ms_per_op": cpu_s * 1000 / max(len(timed_recs), 1),
        "error_rate": failed / max(len(timed_recs), 1),
        "timed_reads": len(timed_recs),
        "complete_rounds": len(complete),
        "round_size": ROUND_SIZE,
        "repeat_share_declared": REPEAT_SHARE,
        "repeat_share_observed": (sum(1 for rs in complete for r in rs
                                      if r["repeat"])
                                  / max(sum(map(len, complete)), 1)),
        "calls_per_kind": {k: len(v) for k, v in kind_ms.items()},
        "p50_ms_per_kind": {k: median(v) for k, v in kind_ms.items()},
        "first_call_ms_per_kind": first_ms,
        "table_rows": sizes,
        "warmup_calls": len(warm),
        "replayed_reads": sum(1 for r in drv.log if r.get("replay")),
        "tier_verdicts": verdicts,
        "errors": errors[:20],
        "setup_phases_s": dict(ctx.phases),
    }
    detail.update(writes)
    ctx.calls = [[r["op"], r["kind"], round(r["ms"], 3), r.get("repeat", False),
                  bool(r.get("after_write"))] for r in drv.log]
    head = {"driver_cpu_p50_ms": detail["driver_cpu_p50_ms"],
            "cpu_ms_per_op": detail["cpu_ms_per_op"]}
    per_layer.update({
        "latency.p50_ms": detail["read_p50_ms"],
        "latency.p90_ms": detail["read_p90_ms"],
        "latency.first_call_ms": detail["first_call_ms"],
        "throughput.ops_per_s": detail["read_ops_per_s"]})
    return {"head": head, "detail": detail, "per_layer": per_layer,
            "attempted": len(timed_recs), "failed": failed,
            "n_ops": len(timed_recs)}


def _kind_layers(timed_recs: List[dict], first_ms: Dict[str, float]) -> dict:
    """``collection.<kind>_p50_ms`` and the first-touch cost per kind."""
    out: Dict[str, float] = {}
    by_kind: Dict[str, List[float]] = {}
    for r in timed_recs:
        by_kind.setdefault(r["kind"], []).append(r["ms"])
    touch = []
    for k, v in sorted(by_kind.items()):
        out[f"collection.{k}_p50_ms"] = median(v)
        if k in first_ms:
            touch.append(first_ms[k] - median(v))
    out["arrowagg.first_touch_ms"] = median(touch)
    return out


def _write_phase(ctx, drv: Driver, store: Store, sizes: Dict[str, int],
                 verdicts: Dict[str, str]) -> dict:
    """The write path, after the timed reads: each write on ``orders`` is
    followed by one fresh read of every kind that touches ``orders`` (its
    first read after the write).  Tier verdicts are re-read after each
    write's reads."""
    wgen = WriteGen(np.random.default_rng([ctx.seed, 3]), sizes["orders"],
                    sizes["customer"])
    rng = np.random.default_rng([ctx.seed, 5])
    write_recs, after = [], []
    changed: Dict[str, int] = {}
    prev = verdicts
    for _ in range(WRITE_ROUNDS * len(WRITE_KINDS)):
        write_recs.append(drv.write(wgen.next()))
        for kind, variant in ORDERS_READS:
            rec = drv.read({"op": "read", "kind": kind, "variant": variant,
                            "params": _fresh(kind, variant, rng),
                            "repeat": False, "round": -1})
            rec["after_write"] = True
            after.append(rec)
        now = ctx.verdicts(store)
        for k, v in now.items():
            if v != prev.get(k):
                changed[k] = changed.get(k, 0) + 1
        prev = now
    per_kind: Dict[str, List[float]] = {}
    for r in write_recs:
        per_kind.setdefault(r["kind"], []).append(r["ms"])
    per_layer = {f"collection.{k}_p50_ms": median(v) for k, v in per_kind.items()}
    per_layer["database.bytes_written_per_user_byte"] = median(
        [r["bytes_ratio"] for r in write_recs])
    per_layer["arrowagg.verdict_changes"] = sum(changed.values())
    per_layer["write_p50_ms"] = median([r["ms"] for r in write_recs])
    per_layer["read_after_write_p50_ms"] = median([r["ms"] for r in after])
    return {"per_layer": per_layer, "writes": len(write_recs),
            "verdicts_changed_after_writes": changed}
