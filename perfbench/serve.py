"""``serve``: a closed-loop stream of distinct interactive queries.

One client issues seed-generated calls in the reference's call shape,
``ParquetEngine.groupby(filenames, groupby_cols, agg_list, where_terms,
aggregate=)``, over lineitem and events data split into many shards, plus
zone-map (``sources.manifest``) calls, ``sql()`` calls and served sketch
reads (``streaming.rollup.read_*``) over state built during set-up. Every
seed runs the same schedule of query kinds, shard fan-outs and query
shapes, so runs of different seeds do work of the same cost; the seed draws
which shards (and which missing names), keys and predicates each query
uses. Each
result is compared with DuckDB over the same shards after the measured
window.
"""

from __future__ import annotations

import math
import os
import statistics

import numpy as np

from perfbench import data
from perfbench.harness import median
from perfbench.tracing import resolved_counts

SIZES = {
    "full": {"li_shards": 36, "li_rows": 2500, "ev_shards": 6, "ev_rows": 5000,
             "setup_reps": 2},
    "smoke": {"li_shards": 4, "li_rows": 200, "ev_shards": 3, "ev_rows": 200,
              "setup_reps": 2},
}
N_USERS = 5000
KMV_K = 256
CM_WIDTH, CM_DEPTH = 512, 4

#: the kind of every query, cycling: each seed runs the same schedule of
#: kinds and fan-outs
SCHEDULE = ["groupby", "raw", "groupby", "manifest", "events", "groupby", "sql", "kmv", "groupby", "countmin"]
#: fan-out (shards named) of successive groupby / events queries, one
#: measured cycle's worth each (8 and 2 of its 20 queries); ``None`` is all
#: shards
LI_FANOUT = [1, 3, 12, None, 2, 24, 6, 18]
EV_FANOUT = [1, None]

_AGGS = [
    ("l_quantity", "sum"), ("l_extendedprice", "mean"), ("l_discount", "std"),
    ("l_suppkey", "count_distinct"), ("l_quantity", "count"), ("l_tax", "max"),
    ("l_extendedprice", "min"),
]
_EV_AGGS = [("value", "sum"), ("value", "mean"), ("value", "std"), ("user_id", "count_distinct"), ("event_id", "count")]
_SQL_AGG = {"sum": "sum", "mean": "avg", "std": "stddev_samp", "count": "count", "max": "max", "min": "min"}


# -- inputs ---------------------------------------------------------------------------


def build_inputs(h, root: str, seed: int, size: dict) -> dict:
    """Shards, the persisted zone-map manifest, the SQL table dirs and the
    served KMV / Count-Min state. Returns the paths."""
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.sketches import count_min_sketch, kmv_sketch
    from parqueryd_spark.sources.manifest import build_manifest

    spark = h.spark
    env = {"li_dir": os.path.join(root, "li"), "ev_dir": os.path.join(root, "ev"),
           "tables": os.path.join(root, "tables"), "manifest": os.path.join(root, "manifest"),
           "kmv": os.path.join(root, "kmv"), "cm": os.path.join(root, "cm")}
    li, ev = [], []
    key0 = 1
    for i in range(size["li_shards"]):
        t = data.lineitem(data.rng_for(seed, 1, i), size["li_rows"], key0)
        key0 += size["li_rows"] * 4
        name = f"li_{i:03d}.parquet"
        data.write(t, os.path.join(env["li_dir"], name))
        data.write(t, os.path.join(env["tables"], "lineitem.parquet", name))
        li.append(name)
    for i in range(size["ev_shards"]):
        t = data.events(data.rng_for(seed, 2, i), size["ev_rows"], i * size["ev_rows"], N_USERS)
        name = f"ev_{i:03d}.parquet"
        data.write(t, os.path.join(env["ev_dir"], name))
        data.write(t, os.path.join(env["tables"], "events.parquet", name))
        ev.append(name)
    env["li"], env["ev"] = li, ev
    env["max_key"] = key0
    # the zone map is persisted next to the data, as a deployment keeps it
    build_manifest(spark, env["li_dir"], columns=["l_orderkey", "l_quantity"]).write.parquet(env["manifest"])
    # served sketch state in the layout streaming.rollup's maintainers write:
    # KMV as two batch=<i> partitions (half the event shards each, so reads
    # merge on read), Count-Min as one
    events = spark.read.parquet(env["ev_dir"]).withColumn(
        "batch", (F.col("event_id") >= size["ev_rows"] * (size["ev_shards"] // 2)).cast("int")
    )
    kmv_sketch(events, ["event_type", "batch"], "user_id", KMV_K).write.partitionBy("batch").parquet(env["kmv"])
    count_min_sketch(events, "user_id", width=CM_WIDTH, depth=CM_DEPTH).write.parquet(
        os.path.join(env["cm"], "batch=0")
    )
    return env


# -- query stream ----------------------------------------------------------------------


def _where(rng, shape, size_max: int) -> list:
    pool = [
        lambda: ["l_returnflag", "in", sorted(rng.choice(data.FLAGS, int(rng.integers(1, 3)), replace=False).tolist())],
        lambda: ["l_linestatus", "not in", [str(rng.choice(data.STATUS))]],
        lambda: ["l_quantity", ">=", float(rng.integers(1, 40))],
        lambda: ["l_discount", "<", float(rng.integers(2, 11)) / 100.0],
        lambda: ["l_suppkey", "!=", int(rng.integers(1, 101))],
        lambda: ["l_linenumber", "<=", int(rng.integers(2, 8))],
    ]
    picks = rng.choice(len(pool), int(shape.integers(0, size_max + 1)), replace=False)
    return [pool[i]() for i in sorted(picks)]


def _aggs(rng, pool, n_max: int) -> list:
    picks = rng.choice(len(pool), int(rng.integers(1, n_max + 1)), replace=False)
    return [[pool[i][0], pool[i][1], f"{pool[i][0]}_{pool[i][1]}"] for i in sorted(picks)]


def _shards(rng, names: list[str], fan: int, missing: int, prefix: str) -> list[str]:
    chosen = sorted(rng.choice(names, min(fan, len(names)), replace=False).tolist())
    return chosen + [f"{prefix}_missing_{int(rng.integers(0, 10**6)):06d}.parquet" for _ in range(missing)]


def query_stream(seed: int, env: dict, n: int) -> list[dict]:
    """``n`` query specs following :data:`SCHEDULE`. The shape of each
    query — how many keys, where-terms and missing names, which aggregate
    list, the zone-map span — comes from a stream that is the same for
    every seed, so runs of different seeds do work of the same cost; the
    seed draws the shards, keys, predicates and values."""
    rng = data.rng_for(seed, 3)
    shape = data.rng_for(0, 4)
    li, ev = env["li"], env["ev"]
    out = []
    n_li = n_ev = 0
    for i in range(n):
        kind = SCHEDULE[i % len(SCHEDULE)]
        spec = {"kind": kind, "table": "ev" if kind == "events" else "li"}
        if kind in ("groupby", "raw", "manifest"):
            keys = ["l_returnflag", "l_linestatus", "l_linenumber"]
            nk = int(shape.choice([0, 1, 1, 2, 2, 1]))
            spec["keys"] = sorted(rng.choice(keys, nk, replace=False).tolist())
            spec["aggs"] = _aggs(shape, _AGGS, 3)
            spec["where"] = _where(rng, shape, 3)
            spec["aggregate"] = True
        if kind == "groupby":
            fan = LI_FANOUT[n_li % len(LI_FANOUT)] or len(li)
            n_li += 1
            spec["files"] = _shards(rng, li, fan, int(shape.integers(0, 3)), "li")
        elif kind == "raw":
            spec["aggregate"] = False
            spec["files"] = _shards(rng, li, int(shape.integers(1, 4)), 1, "li")
            supp = sorted(int(x) for x in rng.choice(np.arange(1, 101), 3, replace=False))
            spec["where"] = [["l_suppkey", "in", supp]] + spec["where"][:1]
        elif kind == "manifest":
            lo = int(rng.integers(1, env["max_key"]))
            span = int(env["max_key"] * shape.uniform(0.05, 0.3))
            spec["files"] = list(li)
            spec["where"] = [["l_orderkey", ">=", lo], ["l_orderkey", "<", lo + span]] + spec["where"][:1]
        elif kind == "events":
            spec["keys"] = ["event_type"] if shape.random() < 0.7 else []
            spec["aggs"] = _aggs(shape, _EV_AGGS, 3)
            terms = [
                ["event_type", "not in", [str(rng.choice(data.EVENT_TYPES))]],
                ["value", ">", float(rng.integers(0, 60))],
                ["user_id", "<=", int(rng.integers(10, N_USERS))],
            ]
            spec["where"] = [terms[i] for i in sorted(rng.choice(3, int(shape.integers(0, 3)), replace=False))]
            spec["aggregate"] = True
            fan = EV_FANOUT[n_ev % len(EV_FANOUT)] or len(ev)
            n_ev += 1
            spec["files"] = _shards(rng, ev, fan, int(shape.integers(0, 2)), "ev")
        elif kind == "sql":
            if shape.random() < 0.5:
                spec["sql"] = (
                    "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS q, AVG(l_extendedprice) AS p, "
                    f"COUNT(*) AS n FROM lineitem WHERE l_discount >= {int(rng.integers(0, 8)) / 100.0} "
                    f"AND l_suppkey < {int(rng.integers(10, 101))} GROUP BY l_returnflag, l_linestatus"
                )
            else:
                spec["sql"] = (
                    "SELECT event_type, COUNT(DISTINCT user_id) AS u, SUM(value) AS v FROM events "
                    f"WHERE value > {int(rng.integers(0, 60))} GROUP BY event_type"
                )
        elif kind == "countmin":
            hot = {int(x) for x in rng.integers(1, 40, 10)}
            spec["users"] = sorted(hot | {int(x) for x in rng.integers(1, N_USERS, 10)})
        out.append(spec)
    return out


def warm_stream(seed: int, env: dict) -> list[dict]:
    """Two seed-disjoint warm-up queries that between them run every
    aggregate method and every where-term operator once."""
    stream = query_stream(seed, env, len(SCHEDULE))
    li, ev = (next(q for q in stream if q["kind"] == kind) for kind in ("groupby", "events"))
    li["aggs"] = [[c, m, f"{c}_{m}"] for c, m in _AGGS]
    li["where"] = [["l_returnflag", "in", ["A", "R"]], ["l_linestatus", "not in", ["F"]], ["l_quantity", ">=", 2.0],
                   ["l_discount", "<", 0.09], ["l_suppkey", "!=", 7], ["l_linenumber", "<=", 6]]
    li["keys"] = ["l_returnflag"]
    ev["aggs"] = [[c, m, f"{c}_{m}"] for c, m in _EV_AGGS]
    ev["where"] = [["value", ">", 1.0]]
    return [li, ev]


# -- execution ----------------------------------------------------------------------------


class Serve:
    #: a run measures whole multiples of two schedule cycles (20 queries)
    cycle = 2 * len(SCHEDULE)

    def __init__(self, h, tracer):
        self.h = h
        self.tracer = tracer
        self.size = SIZES["smoke" if h.smoke else "full"]

    def instrument(self) -> None:
        import parqueryd_spark.core as core
        import parqueryd_spark.sources.manifest as manifest
        import parqueryd_spark.sources.parquet as parquet
        import parqueryd_spark.streaming.rollup as rollup

        t = self.tracer
        t.wrap(core.ParquetEngine, "groupby", "core.groupby", "core", build=True)
        t.wrap(core.ParquetEngine, "sql", "core.sql", "core", build=True)
        for fn in ("compile_where_terms", "normalize_agg_list", "compile_agg_list"):
            t.wrap(core, fn, f"functions.{fn}", "functions")
        t.wrap(core, "resolve_paths", "sources.resolve_paths", "sources", count=resolved_counts)
        t.wrap(parquet, "resolve_paths", "sources.resolve_paths", "sources", count=resolved_counts)
        t.wrap(manifest, "prune_paths", "sources.manifest.prune_paths", "sources.manifest",
               count=lambda a, k, r: {"files_in": len(a[1]), "files_kept": len(r)})
        for fn in ("read_kmv_distinct", "read_countmin_estimates"):
            t.wrap(rollup, fn, f"streaming.{fn}", "streaming")

    def setup(self, rep: int) -> dict:
        return build_inputs(self.h, self.h.path(f"serve{rep}"), self.h.seed, self.size)

    def prepare(self, envs: list[dict]) -> None:
        """Warm up with a seed-disjoint stream over the first set-up copy of
        the inputs, then measure over the last one, at other paths, so
        nothing keyed by plan or path carries into the measured queries."""
        warm_env, env = envs[0], envs[-1]
        warm = Serve(self.h, self.tracer)
        warm.bind(warm_env)
        for spec in warm_stream(self.h.seed + 7_919_000_003, warm_env):
            warm.execute(spec)
        self.bind(env)
        # a stream far longer than any window, so no spec repeats
        self.stream = query_stream(self.h.seed, env, 4000 if not self.h.smoke else 40)

    def bind(self, env: dict) -> None:
        from parqueryd_spark.core import ParquetEngine

        spark = self.h.spark
        self.env = env
        self.engines = {"li": ParquetEngine(spark, env["li_dir"]), "ev": ParquetEngine(spark, env["ev_dir"])}
        self.sql_engine = ParquetEngine(spark, env["tables"])
        self.manifest = spark.read.parquet(env["manifest"])

    def execute(self, spec: dict) -> list[tuple]:
        from parqueryd_spark.streaming import rollup

        kind = spec["kind"]
        spark = self.h.spark
        if kind in ("groupby", "raw", "events"):
            df = self.engines[spec["table"]].groupby(
                spec["files"], spec["keys"], spec["aggs"], spec["where"], aggregate=spec["aggregate"]
            )
        elif kind == "manifest":
            df = self.engines["li"].groupby(
                spec["files"], spec["keys"], spec["aggs"], spec["where"], manifest=self.manifest
            )
        elif kind == "sql":
            df = self.sql_engine.sql(spec["sql"])
        elif kind == "kmv":
            df = rollup.read_kmv_distinct(spark, self.env["kmv"], ("event_type",), KMV_K)
        else:
            keys = spark.createDataFrame([(u,) for u in spec["users"]], "user_id long")
            df = rollup.read_countmin_estimates(spark, self.env["cm"], keys, "user_id", CM_WIDTH, CM_DEPTH)
        with self.tracer.span("spark.collect", "spark"):
            return [tuple(r.asDict().items()) for r in df.collect()]

    def step(self, i: int, traced: bool) -> None:
        spec = self.stream[i % len(self.stream)]
        with self.tracer.op(spec["kind"], traced=traced, spec=i) as rec:
            rec["result"] = self.execute(spec)

    # -- metrics ----------------------------------------------------------------------------

    def e2e(self, ops: list[dict]) -> dict:
        lat = [o["wall_s"] for o in ops if o["ok"]] or [o["wall_s"] for o in ops]
        p90 = statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) > 1 else lat[0]
        n_ok = sum(o["ok"] for o in ops)
        return {
            "op_p50_s": median(lat),
            "items_per_s": n_ok / sum(o["wall_s"] for o in ops),
            "queries": len(ops),
            "query_p90_s": p90,
            "samples_beyond_p90": sum(1 for x in lat if x > p90),
            "failed_ratio": 1 - n_ok / len(ops),
        }

    def layers(self, ops: list[dict]) -> dict:
        out = {}
        for kind in ("kmv", "countmin"):
            walls = [o["wall_s"] for o in ops if o["traced"] and o["name"] == kind]
            if walls:
                out[f"streaming.read_s.{kind}"] = median(walls)
        return out

    # -- correctness ----------------------------------------------------------------------

    def check(self, ops: list[dict]) -> None:
        """Compare every result with DuckDB; sets ``rec['ok']`` False and
        ``rec['error']`` on a mismatch. Runs after the measured window."""
        import duckdb

        con = duckdb.connect(config={"threads": 2})
        env = self.env
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{env['tables']}/lineitem.parquet/*.parquet')")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{env['tables']}/events.parquet/*.parquet')")
        for rec in ops:
            if not rec["ok"]:
                continue
            spec = self.stream[rec["spec"] % len(self.stream)]
            err = check_result(con, env, spec, rec.pop("result"))
            if err:
                rec["ok"] = False
                rec["error"] = err
        con.close()


def _lit(v) -> str:
    return "'" + v.replace("'", "''") + "'" if isinstance(v, str) else repr(v)


def oracle_sql(env: dict, spec: dict) -> str:
    root = env[spec["table"] + "_dir"]
    files = [os.path.join(root, f) for f in spec["files"] if os.path.exists(os.path.join(root, f))]
    src = "read_parquet([" + ", ".join(_lit(f) for f in files) + "])"
    preds = []
    for col, op, val in spec["where"]:
        if op in ("in", "not in"):
            preds.append(f"{col} {op.upper()} (" + ", ".join(_lit(v) for v in val) + ")")
        else:
            preds.append(f"{col} {op} {_lit(val)}")
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    if not spec["aggregate"]:
        cols = list(dict.fromkeys(list(spec["keys"]) + [a[0] for a in spec["aggs"]]))
        return f"SELECT {', '.join(cols)} FROM {src}{where}"
    sel = list(spec["keys"])
    for inp, method, out in spec["aggs"]:
        expr = f"count(DISTINCT {inp})" if method == "count_distinct" else f"{_SQL_AGG[method]}({inp})"
        sel.append(f"{expr} AS {out}")
    group = (" GROUP BY " + ", ".join(spec["keys"])) if spec["keys"] else ""
    return f"SELECT {', '.join(sel)} FROM {src}{where}{group}"


def normalize(rows) -> list[tuple]:
    """Columns sorted by name, rows sorted — the repository's oracle-gate
    normalization, with floats kept as floats for a tolerance compare."""
    out = [tuple(v for _k, v in sorted(r)) for r in rows]
    return sorted(out, key=lambda r: tuple(_sort_key(v) for v in r))


def _sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "nan") if math.isnan(v) else (1, f"{v:.9e}")
    return (2, str(v))


def same_rows(got, want) -> str | None:
    a, b = normalize(got), normalize(want)
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return f"column count {len(ra)} != {len(rb)}"
        for x, y in zip(ra, rb):
            if x is None or y is None:
                if x is not y:
                    return f"{x!r} != {y!r}"
            elif isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9):
                    return f"{x!r} != {y!r}"
            elif x != y:
                return f"{x!r} != {y!r}"
    return None


def check_result(con, env: dict, spec: dict, got: list[tuple]) -> str | None:
    kind = spec["kind"]
    if kind in ("groupby", "raw", "events", "manifest"):
        cur = con.execute(oracle_sql(env, spec))
    elif kind == "sql":
        cur = con.execute(spec["sql"])
    elif kind == "kmv":
        exact = dict(con.execute("SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1").fetchall())
        bound = 4.0 / math.sqrt(KMV_K - 2)
        for row in got:
            r = dict(row)
            true = exact.get(r["event_type"])
            if true is None or abs(r["n_distinct"] - true) > bound * true:
                return f"kmv {r['event_type']}: {r['n_distinct']} vs exact {true}"
        return None if len(got) == len(exact) else f"kmv groups {len(got)} != {len(exact)}"
    else:
        n_total, = con.execute("SELECT count(*) FROM events").fetchone()
        exact = dict(con.execute(
            "SELECT user_id, count(*) FROM events WHERE user_id IN (" + ", ".join(map(str, spec["users"])) + ") GROUP BY 1"
        ).fetchall())
        slack = 8.0 * n_total / CM_WIDTH  # fails w.p. <= (1/8)^depth per key
        for row in got:
            r = dict(row)
            true = exact.get(r["user_id"], 0)
            if not true <= r["est"] <= true + slack:
                return f"countmin {r['user_id']}: {r['est']} vs exact {true}"
        return None if len(got) == len(spec["users"]) else f"countmin keys {len(got)} != {len(spec['users'])}"
    names = [d[0] for d in cur.description]
    want = [tuple(zip(names, r)) for r in cur.fetchall()]
    return same_rows(got, want)
