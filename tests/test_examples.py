"""The reference README's demo (examples/demo_buy_item.py) runs as
written over the in-process transport."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_demo_buy_item_scenarios():
    # a fresh interpreter: the demo's User and Item would clash with the
    # test fixtures registered under the same names. Its scenario leaves
    # one update_balance future unread, so it also pins that an unread
    # call runs, in submission order, on the next drain.
    code = (
        "import demo_buy_item as demo\n"
        "from stateflow_spark.client import Client, LocalTransport\n"
        "demo.scenario(Client(LocalTransport()), 'local')\n"
        "demo.scenario_http(Client(LocalTransport()), 'http')\n"
    )
    path = os.pathsep.join(
        p for p in (os.path.join(ROOT, "examples"), os.environ.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env=dict(os.environ, PYTHONPATH=path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "[local] buy_item flow ok: balance=2 stock=1" in proc.stdout
    assert "[http] buy_item over HTTP ok" in proc.stdout
