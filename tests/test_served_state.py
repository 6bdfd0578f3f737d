"""The served-state memo (parqueryd_spark/queries/__init__.py:served): one
build per process and key, no directory left behind by a failed build, and
the process root removed at interpreter exit. Pure-Python builds, no Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from parqueryd_spark import queries as Q
from tests.conftest import REPO_DIR


def _builder(calls: list):
    def build(path: str) -> None:
        calls.append(path)
        with open(os.path.join(path, "state"), "w") as f:
            f.write("x")

    return build


def test_same_key_builds_once_and_params_split_keys(tmp_path):
    calls: list = []
    build = _builder(calls)
    a = Q.served("memo_test", str(tmp_path), build, 1)
    b = Q.served("memo_test", str(tmp_path), build, 1)
    assert a == b and calls == [a]
    assert os.path.isfile(os.path.join(a, "state"))
    c = Q.served("memo_test", str(tmp_path), build, 2)
    assert c != a and calls == [a, c]
    assert os.path.dirname(a) == os.path.dirname(c)  # one process root


def test_failed_build_leaves_nothing_and_next_call_rebuilds(tmp_path):
    Q.served("memo_test_root", str(tmp_path), _builder([]))  # root exists
    root = Q._served_root
    before = set(os.listdir(root))

    def fail(path: str) -> None:
        with open(os.path.join(path, "partial"), "w") as f:
            f.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        Q.served("memo_test_fail", str(tmp_path), fail)
    assert set(os.listdir(root)) == before

    calls: list = []
    path = Q.served("memo_test_fail", str(tmp_path), _builder(calls))
    assert calls == [path] and os.path.isfile(os.path.join(path, "state"))


def test_vanished_state_is_rebuilt(tmp_path):
    calls: list = []
    build = _builder(calls)
    a = Q.served("memo_test_gone", str(tmp_path), build)
    os.remove(os.path.join(a, "state"))
    os.rmdir(a)
    b = Q.served("memo_test_gone", str(tmp_path), build)
    assert calls == [a, b] and os.path.isfile(os.path.join(b, "state"))


def test_concurrent_callers_share_one_build(tmp_path):
    calls: list = []

    def build(path: str) -> None:
        time.sleep(0.01)  # widen the window a missing lock would lose
        calls.append(path)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [
                pool.submit(Q.served, "memo_test_threads", str(tmp_path), build)
                for _ in range(32)
            ]
            paths = {f.result(timeout=30) for f in futures}
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1 and paths == set(calls)


def test_process_root_is_removed_at_exit(tmp_path):
    script = (
        "import os\n"
        "from parqueryd_spark import queries as Q\n"
        "def build(path):\n"
        "    open(os.path.join(path, 'state'), 'w').close()\n"
        f"print(os.path.dirname(Q.served('exit_test', {str(tmp_path)!r}, build)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO_DIR,
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(root).startswith("parqueryd_spark_")
    assert not os.path.exists(root)
