"""The stub server counts POSTs per id, connections and requests in flight."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pytest

import gen
from stub import Counters

STUB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "stub.py")


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_inflight_mean_is_time_weighted():
    clock = FakeClock()
    c = Counters(clock)
    clock.now = 1.0
    c.begin()  # one request in flight over [1, 3)
    clock.now = 2.0
    c.begin()  # two over [2, 3)
    clock.now = 3.0
    c.end("a")
    c.end("b")
    clock.now = 4.0
    snap = c.snapshot()
    assert snap["elapsed_s"] == 4.0
    assert snap["inflight_mean"] == pytest.approx((2.0 + 1.0) / 4.0)
    assert snap["max_inflight"] == 2
    assert snap["posts"] == {"a": 1, "b": 1}


@pytest.fixture
def stub():
    proc = subprocess.Popen(
        [sys.executable, STUB, "--seed", "5", "--cap", "3"], stdout=subprocess.PIPE, text=True
    )
    try:
        line = proc.stdout.readline()
        assert line.startswith("PORT ")
        yield f"http://127.0.0.1:{int(line.split()[1])}"
    finally:
        proc.terminate()
        proc.wait(timeout=10)
        proc.stdout.close()


def _post(url: str, key: str) -> int:
    body = json.dumps({"id": key, "amount": 1.0}).encode()
    req = urllib.request.Request(url, data=body, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


def _get(url: str) -> dict:
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.loads(resp.read())


def test_stub_counts_posts_connections_and_verdicts(stub):
    keys = [gen.rec_key(i) for i in range(1, 401)] + [gen.rec_key(7)]  # one repeat
    with ThreadPoolExecutor(max_workers=8) as pool:
        codes = list(pool.map(lambda k: _post(stub + "/records", k), keys))
    assert codes == [gen.rest_verdict(5, k) for k in keys]
    stats = _get(stub + "/stats")
    assert sum(stats["posts"].values()) == 401
    assert stats["posts"][gen.rec_key(7)] == 2
    assert stats["connections"] == 401  # the stats request itself is not counted
    assert 1 <= stats["max_inflight"] <= 3
    assert stats["threads"] <= 3 + 1  # handler pool plus the accepting thread
    urllib.request.urlopen(urllib.request.Request(stub + "/reset", data=b""), timeout=10).close()
    assert _get(stub + "/stats")["posts"] == {}
