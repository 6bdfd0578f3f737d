"""Self-tests of the benchmark (not of the program).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark in a fresh process per workload (about a minute
each); the rest run in seconds without Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import curate, data, run, serve  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_pins_workloads_metrics_and_units():
    b = _bench_json()
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def _fake_env(n_li: int = 12, n_ev: int = 6) -> dict:
    return {"li": [f"li_{i:03d}.parquet" for i in range(n_li)],
            "ev": [f"ev_{i:03d}.parquet" for i in range(n_ev)], "max_key": 100_000}


def test_same_seed_same_inputs_other_seed_other_inputs():
    env = _fake_env()
    assert serve.query_stream(1, env, 60) == serve.query_stream(1, env, 60)
    assert serve.query_stream(1, env, 60) != serve.query_stream(2, env, 60)
    a, ta = data.corpus(data.rng_for(1, 10, 0), 50)
    b, tb = data.corpus(data.rng_for(1, 10, 0), 50)
    c, tc = data.corpus(data.rng_for(2, 10, 0), 50)
    assert a.equals(b) and ta == tb
    assert not a.equals(c)
    assert data.lineitem(data.rng_for(1, 1, 0), 100, 1).equals(data.lineitem(data.rng_for(1, 1, 0), 100, 1))
    assert not data.lineitem(data.rng_for(1, 1, 0), 100, 1).equals(data.lineitem(data.rng_for(2, 1, 0), 100, 1))


def test_every_seed_runs_the_same_schedule_of_kinds():
    a, b = serve.query_stream(3, _fake_env(), 40), serve.query_stream(4, _fake_env(), 40)
    assert [q["kind"] for q in a] == [q["kind"] for q in b] == serve.SCHEDULE * 4
    assert [len(q.get("files", ())) for q in a if q["kind"] == "groupby"] != [] and a != b


def test_warm_up_covers_every_aggregate_and_operator():
    specs = serve.warm_stream(9, _fake_env())
    assert [q["table"] for q in specs] == ["li", "ev"]
    methods = {m for q in specs for _c, m, _o in q["aggs"]}
    ops = {op for q in specs for _c, op, _v in q["where"]}
    assert methods == {m for _c, m in serve._AGGS + serve._EV_AGGS}
    assert ops >= {"in", "not in", ">=", "<", "!=", "<=", ">"}


def test_corrupted_result_is_caught(tmp_path):
    """The DuckDB oracle accepts the true answer and rejects a result with
    one value off in the last digits, a dropped row or a missing shard."""
    import duckdb

    env = {"li_dir": str(tmp_path / "li"), "ev_dir": str(tmp_path / "ev"), "li": [], "ev": []}
    for i in range(3):
        name = f"li_{i:03d}.parquet"
        data.write(data.lineitem(data.rng_for(5, 1, i), 200, 1 + i * 800), os.path.join(env["li_dir"], name))
        env["li"].append(name)
    spec = {"kind": "groupby", "table": "li", "keys": ["l_returnflag"],
            "aggs": [["l_extendedprice", "sum", "s"], ["l_quantity", "mean", "m"]],
            "where": [["l_discount", "<", 0.05]], "aggregate": True,
            "files": env["li"] + ["li_missing.parquet"]}
    con = duckdb.connect()
    cur = con.execute(serve.oracle_sql(env, spec))
    names = [d[0] for d in cur.description]
    truth = [tuple(zip(names, r)) for r in cur.fetchall()]
    assert serve.check_result(con, env, spec, truth) is None

    bumped = [dict(r) for r in truth]
    bumped[0]["s"] = bumped[0]["s"] * (1 + 1e-7)
    assert serve.check_result(con, env, spec, [tuple(r.items()) for r in bumped]) is not None
    assert serve.check_result(con, env, spec, truth[1:]) is not None
    fewer = dict(spec, files=env["li"][:2])
    assert serve.check_result(con, env, fewer, truth) is not None


def test_curate_check_rejects_lost_duplicates():
    class _H:
        spark = None

    c = curate.Curate.__new__(curate.Curate)
    c.h = _H()
    truth = {"exact": [(1, 10)], "near": [(2, 11)]}
    out = {"exact": [(1, 2)], "groups": {}, "substring": {"dropped": 5}, "kn": {}, "ann": []}
    rec = {}
    assert "near dup recall" in c.check_pass({"truth": truth, "dir": ""}, out, rec)
    assert rec["dup_recall"] == 0.5


def test_curate_builds_a_fresh_corpus_for_every_pass(tmp_path):
    """Passes beyond the set-up corpora get a corpus of their own instead
    of failing the run, so any ``--seconds`` works."""
    class _H:
        seed, smoke, trace = 4, True, False

        def path(self, *parts):
            return str(tmp_path.joinpath(*parts))

    c = curate.Curate(_H(), tracer=None)
    c.prepare([c.setup(rep) for rep in range(c.size["setup_reps"])])
    dirs = [c.corpus(n)["dir"] for n in range(c.size["setup_reps"] + 2)]
    assert len(set(dirs)) == len(dirs)
    texts = [data.pq.read_table(os.path.join(d, "docs")).column("text").to_pylist() for d in dirs]
    assert all(a != b for i, a in enumerate(texts) for b in texts[i + 1:])


def _run(workload: str, cwd: str, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_each_workload(workload):
    proc = _run(workload, ROOT, "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.E2E)
    for name, m in result["metrics"].items():
        assert m["unit"] == run.E2E[name] and m["value"] > 0


def test_without_the_program_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("serve", str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
