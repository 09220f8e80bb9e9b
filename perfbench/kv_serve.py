"""kv_serve: HydrAIDE's core keyed surface on two registered swamps.

``hot`` is small and ``in_memory`` (the engine pins its snapshot);
``cold`` is larger and uses the default parquet layout. Each round of
the seeded op list is two writes, each followed by half of the round's
reads, most of them keyed ``get`` on ``hot``. The writes cycle through
set / increment / patch (on ``hot``, so each one invalidates its pin)
and delete / shift_expired (on ``cold``); both stores compact on a
fixed cadence.

Expected results come from a pure-Python replay of the same op list,
computed before the timed phase: every read is compared as it returns,
and the final state of both swamps is compared at the end.
"""

from __future__ import annotations

import os
import random
import time
from datetime import datetime, timedelta

from common import Ctx, Op, Run, dir_bytes, median, run_query, timed_loop, warm_up

#: nominal seconds of one round (two writes + their reads) on a 4-core
#: host; only turns ``--seconds`` into a fixed round count, never a timer
NOMINAL_ROUND_S = 6.5
#: the writes take turns through this cycle, two per round; the order
#: alternates swamps and is the same for every seed (seeds change keys
#: and values, never the op structure)
WRITE_CYCLE = ("set", "delete", "increment", "shift_expired", "patch")
SCHEMA = "key string, val long, grp int, body struct<n:bigint,tag:string>, expired_at timestamp"
BASE_TS = datetime(2024, 1, 1)
NOW = BASE_TS + timedelta(days=30)
SIZES = {
    "full": {"hot": 2000, "cold": 10000, "hot_gets": 29, "gbk_keys": 300, "batch": 4,
             "shift": 3, "compact_every": 2, "builds": 3},
    "tiny": {"hot": 40, "cold": 120, "hot_gets": 2, "gbk_keys": 260, "batch": 2,
             "shift": 2, "compact_every": 2, "builds": 1},
}


def _row(key: str, i: int, rnd: random.Random) -> tuple:
    exp = BASE_TS + timedelta(seconds=i) if rnd.random() < 0.25 else None
    return (key, rnd.randrange(100), rnd.randrange(16), (rnd.randrange(10), f"t{rnd.randrange(5)}"), exp)


def make_inputs(seed: int, size: str) -> dict:
    """Initial rows of both swamps, seeded."""
    cfg = SIZES[size]
    rnd = random.Random(f"kv-inputs-{seed}")
    return {
        "hot": [_row(f"h{i:06d}", i, rnd) for i in range(cfg["hot"])],
        "cold": [_row(f"c{i:07d}", i, rnd) for i in range(cfg["cold"])],
    }


def _reads(rnd: random.Random, cfg: dict, rnd_no: int) -> tuple[list[Op], list[Op]]:
    """One round's reads, as the halves that follow its two writes."""
    def keys(swamp, n):
        pre, width, total = ("h", 6, cfg["hot"]) if swamp == "hot" else ("c", 7, cfg["cold"])
        return [f"{pre}{rnd.randrange(total):0{width}d}" for _ in range(n)]

    def filt():
        return {"grp": rnd.randrange(16), "val": rnd.randrange(100)}

    def hot_gets(n):
        return [Op("read", "get", {"swamp": "hot", "keys": keys("hot", cfg["batch"])}) for _ in range(n)]

    # fixed interleaving: the non-get reads are spread through the round
    quarter = cfg["hot_gets"] // 4
    first = [
        *hot_gets(quarter),
        Op("read", "index_page", {"swamp": "hot", **filt()}),
        Op("read", "get", {"swamp": "cold", "keys": keys("cold", cfg["batch"])}),
        *hot_gets(quarter),
    ]
    second = [
        Op("read", "count_matching", {"swamp": "hot", **filt()}),
        *hot_gets(quarter),
        Op("read", "get_by_keys", {"swamp": "cold", "keys": keys("cold", cfg["gbk_keys"])}),
        *hot_gets(cfg["hot_gets"] - 3 * quarter),
        Op("read", "index_page" if rnd_no % 2 else "count_matching", {"swamp": "cold", **filt()}),
    ]
    return first, second


def _write(rnd: random.Random, cfg: dict, cls: str, rnd_no: int) -> Op:
    hot_keys = [f"h{rnd.randrange(cfg['hot']):06d}" for _ in range(cfg["batch"])]
    if cls == "set":
        half = cfg["batch"] // 2
        keys = hot_keys[:half] + [f"hnew{rnd_no:04d}{j}" for j in range(cfg["batch"] - half)]
        rows = [(k, rnd.randrange(100), rnd.randrange(16), (rnd.randrange(10), f"s{rnd_no}"), None)
                for k in keys]
        return Op("write", "set", {"swamp": "hot", "rows": rows})
    if cls in ("increment", "patch"):
        return Op("write", cls, {"swamp": "hot", "keys": hot_keys})
    if cls == "delete":
        return Op("write", "delete", {"swamp": "cold",
                                      "keys": [f"c{rnd.randrange(cfg['cold']):07d}" for _ in range(cfg["batch"])]})
    return Op("write", "shift_expired", {"swamp": "cold", "how_many": cfg["shift"]})


def make_ops(seed: int, size: str, seconds: int) -> tuple[list[Op], list[Op]]:
    """(warm-up ops, timed ops). Warm-up runs every op class once on both
    swamps, then one full round of reads; the timed list is a fixed
    number of rounds, so every run does the same kinds of work in the
    same order."""
    cfg = SIZES[size]
    rnd = random.Random(f"kv-ops-{seed}")
    warm = [_write(rnd, cfg, c, 9000 + j) for j, c in enumerate(WRITE_CYCLE)]
    warm += [Op("maint", "compact")]
    for swamp in ("hot", "cold"):
        warm += [
            Op("read", "get", {"swamp": swamp, "keys": [f"{swamp[0]}{0:0{6 if swamp == 'hot' else 7}d}"]}),
            Op("read", "get_by_keys", {"swamp": swamp, "keys": [f"{swamp[0]}x{j}" for j in range(cfg["gbk_keys"])]}),
            Op("read", "index_page", {"swamp": swamp, "grp": 1, "val": 50}),
            Op("read", "count_matching", {"swamp": swamp, "grp": 1, "val": 50}),
        ]
    warm += [op for half in _reads(rnd, cfg, 9999) for op in half]
    rounds = max(1, round(seconds / NOMINAL_ROUND_S))
    timed: list[Op] = []
    for r in range(rounds):
        halves = _reads(rnd, cfg, r)
        for j, half in enumerate(halves):
            w = 2 * r + j
            timed.append(_write(rnd, cfg, WRITE_CYCLE[w % len(WRITE_CYCLE)], w))
            if (w + 1) % cfg["compact_every"] == 0:
                timed.append(Op("maint", "compact"))
            timed += half
    return warm, timed


class Model:
    """Pure-Python replay of the op list: the expected result of every op
    and the expected final state of both swamps."""

    def __init__(self, inputs: dict):
        self.rows = {s: {r[0]: r for r in rows} for s, rows in inputs.items()}
        #: bytes of the rows the last write changed (write amplification base)
        self.changed_bytes = 0

    def apply(self, op: Op):
        a = op.args
        rows = self.rows.get(a.get("swamp"), {})
        if op.cls == "get":
            return sorted(rows[k] for k in set(a["keys"]) if k in rows)
        if op.cls == "get_by_keys":
            return sorted(k for k in set(a["keys"]) if k in rows)
        if op.cls == "index_page":
            hit = [r for r in rows.values() if r[2] == a["grp"] and r[1] >= a["val"]]
            return [r[0] for r in sorted(hit, key=lambda r: (-r[1], r[0]))[:20]]
        if op.cls == "count_matching":
            return sum(1 for r in rows.values() if r[2] < a["grp"] and r[1] >= a["val"])
        changed: list[tuple] = []
        claimed = None
        if op.cls == "set":
            for r in a["rows"]:
                rows[r[0]] = r
                changed.append(r)
        elif op.cls in ("increment", "patch"):
            for k in set(a["keys"]) & rows.keys():
                r = rows[k]
                if op.cls == "increment":
                    rows[k] = (r[0], r[1] + 1, r[2], r[3], r[4])
                else:
                    rows[k] = (r[0], r[1], r[2], (r[3][0] + 1, r[3][1]), r[4])
                changed.append(rows[k])
        elif op.cls == "delete":
            changed = [rows.pop(k) for k in set(a["keys"]) & rows.keys()]
        elif op.cls == "shift_expired":
            due = sorted((r[4], r[0]) for r in rows.values() if r[4] is not None and r[4] < NOW)
            claimed = sorted(k for _t, k in due[: a["how_many"]])
            changed = [rows.pop(k) for k in claimed]
        self.changed_bytes = sum(map(_row_bytes, changed))
        return claimed

    def live_bytes(self) -> int:
        return sum(_row_bytes(r) for rows in self.rows.values() for r in rows.values())


def _row_bytes(r: tuple) -> int:
    """Bytes of one row of user data under a fixed encoding: key and tag
    as UTF-8, 8-byte integers and timestamps, 4-byte grp."""
    return len(r[0]) + 8 + 4 + 8 + len(r[3][1]) + (8 if r[4] is not None else 0)


def _as_tuple(r) -> tuple:
    return (r["key"], r["val"], r["grp"], (r["body"]["n"], r["body"]["tag"]), r["expired_at"])


def run(ctx: Ctx) -> Run:
    from hydraide_spark.operators import read as R
    from hydraide_spark.operators.mutate import PatchKind, PatchOp
    from hydraide_spark.query.filters import And, Cmp, Op as FOp
    from hydraide_spark.query.index import Index, IndexOrder, IndexType
    from hydraide_spark.sources.registry import SwampRegistry, SwampSettings
    from hydraide_spark.sources.store import TreasureStore

    spark, tr, cfg = ctx.spark, ctx.tracer, SIZES[ctx.size]

    # -- setup: inputs, stores (built several times, median kept), warm-up
    build_s = []
    for b in range(cfg["builds"]):
        t0 = time.perf_counter()
        inputs = make_inputs(ctx.seed, ctx.size)
        root = f"{ctx.tmp}/kv{b}"
        registry = SwampRegistry(f"{root}/registry")
        registry.register(SwampSettings("bench/kv/hot", in_memory=True))
        stores = {}
        for swamp in ("hot", "cold"):
            st = TreasureStore(spark, f"{root}/{swamp}", name=f"bench/kv/{swamp}", registry=registry)
            st.init(spark.createDataFrame(inputs[swamp], SCHEMA))
            stores[swamp] = st
        build_s.append(time.perf_counter() - t0)
    warm, timed = make_ops(ctx.seed, ctx.size, ctx.seconds)
    model = Model(inputs)

    if tr.enabled:
        # time the filter translation inside operators.read from outside
        real_translate = R.translate
        R.translate = lambda *a, **k: tr.call("query.translate", real_translate, *a, **k)

    def current(swamp):
        return tr.call("store.current", stores[swamp].current)

    def execute(op: Op):
        a = op.args
        if op.cls == "compact":
            return [tr.call("store.compact", stores[s].compact, 1) for s in ("hot", "cold")]
        st = stores[a["swamp"]]
        if op.cls == "set":
            return tr.call("store.set", st.set, spark.createDataFrame(a["rows"], SCHEMA))
        if op.cls == "increment":
            return tr.call("store.increment", st.increment, a["keys"], "val", 1)
        if op.cls == "patch":
            return tr.call("store.patch", st.patch, a["keys"], [PatchOp(PatchKind.INC, "n", 1)])
        if op.cls == "delete":
            return tr.call("store.delete", st.delete, a["keys"])
        if op.cls == "shift_expired":
            claimed = tr.call("store.shift", st.shift_expired, NOW, a["how_many"])
            return sorted(r["key"] for r in claimed.select("key").collect())
        df = current(a["swamp"])

        def build():
            if op.cls == "get":
                return R.get(df, a["keys"])
            if op.cls == "get_by_keys":
                return R.get_by_keys(df, a["keys"], keys_only=True)
            if op.cls == "index_page":
                idx = Index(IndexType.VALUE, IndexOrder.DESC, value_column="val", limit=20)
                return R.get_by_index_stream(
                    df, idx, And([Cmp("grp", FOp.EQ, a["grp"]), Cmp("val", FOp.GE, a["val"])]))
            return R.count_matching(df, And([Cmp("grp", FOp.LT, a["grp"]), Cmp("val", FOp.GE, a["val"])]))

        rows = run_query(tr, build, lambda q: q.collect())
        if op.cls == "get":
            return sorted(_as_tuple(r) for r in rows)
        if op.cls == "get_by_keys":
            return sorted(r["key"] for r in rows)
        if op.cls == "index_page":
            return [r["key"] for r in rows]
        return rows[0]["count"]

    def check(op: Op, out) -> bool:
        # writes return lazy status frames that are not collected; their
        # effect is checked through later reads and the final state
        want = model.apply(op)
        return out == want if op.kind == "read" or op.cls == "shift_expired" else True

    run = Run()
    warmup_s = warm_up(ctx, warm, execute, check, run)
    run.setup_s = ctx.session_start_s + median(build_s) + warmup_s

    # -- traced extras: snapshot versions, write amplification, repins
    roots = {s: stores[s].root for s in stores}
    last = {"bytes": dir_bytes(*roots.values()), "hot_dirty": False}

    def versions(swamp):
        return sum(1 for n in os.listdir(roots[swamp]) if n.startswith("v="))

    def trace_extra(op: Op) -> dict:
        now_bytes = dir_bytes(*roots.values())
        out = {"store.versions_live": versions("hot") + versions("cold")}
        if op.kind == "write":
            if model.changed_bytes:
                out["store.write_amp"] = (now_bytes - last["bytes"]) / model.changed_bytes
            last["hot_dirty"] = last["hot_dirty"] or op.args["swamp"] == "hot"
        elif op.kind == "read" and op.args["swamp"] == "hot":
            out["repin"] = last["hot_dirty"]
            last["hot_dirty"] = False
        last["bytes"] = now_bytes
        return out

    timed_loop(ctx, timed, execute, check, run, trace_extra)

    # -- end state: replay check, space amplification, cache held
    final_ok = True
    for swamp in ("hot", "cold"):
        got = {r["key"]: _as_tuple(r) for r in stores[swamp].current().collect()}
        final_ok &= got == model.rows[swamp]
    run.correct = run.correct and final_ok
    run.extra["final_state_ok"] = final_ok
    run.space_amp = dir_bytes(*roots.values()) / model.live_bytes()
    if tr.enabled:
        R.translate = real_translate
        reps = [r["ms"] for r in run.per_op if r.get("repin")]
        if reps:
            run.extra["store.repin_ms"] = median(reps)
    run.extra["build_s"] = build_s
    run.extra["warmup_s"] = warmup_s
    return run
