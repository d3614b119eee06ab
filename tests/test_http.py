"""HTTP surface tests (reference op #26, client/fastapi/fastapi.py:24-315):
create/invoke/find/ping endpoints over LocalTransport, driven through the
WSGI interface exactly as a server would."""

from __future__ import annotations

import io
import json

import pytest

from stateflow_spark.client import Client, LocalTransport
from stateflow_spark.http import HttpSurface

# registers User/Item/A/B fixtures (same corpus as the reference demo classes)
from tests.test_entity_local import A, B, Item, User  # noqa: F401


@pytest.fixture
def surface():
    return HttpSurface(Client(LocalTransport()))


def call(app, method, path, query="", body=None):
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": query,
    }
    if body is not None:
        raw = json.dumps(body).encode()
        environ["CONTENT_LENGTH"] = str(len(raw))
        environ["wsgi.input"] = io.BytesIO(raw)
    status_box = {}

    def start_response(status, headers):
        status_box["status"] = int(status.split()[0])
        status_box["headers"] = dict(headers)

    chunks = app(environ, start_response)
    payload = json.loads(b"".join(chunks))
    return status_box["status"], payload


def test_root_and_ping(surface):
    status, body = call(surface, "GET", "/")
    assert status == 200 and "stateflow" in body
    status, body = call(surface, "GET", "/stateflow/ping")
    assert (status, body) == (200, "Pong")


def test_create_invoke_and_state(surface):
    status, body = call(
        surface, "POST", "/stateflow/global/User/create", "username=http-u1"
    )
    assert status == 200
    assert body == {"entity": "User", "key": "http-u1"}

    status, body = call(
        surface,
        "POST",
        "/stateflow/global/User/update_balance",
        "key=http-u1&x=42",
    )
    assert (status, body) == (200, None)  # update_balance returns None

    status, body = call(
        surface, "POST", "/stateflow/global/Item/create",
        "item_name=http-i1&price=3",
    )
    assert body == {"entity": "Item", "key": "http-i1"}
    status, body = call(
        surface, "POST", "/stateflow/global/Item/update_stock",
        "key=http-i1&amount=9",
    )
    assert (status, body) == (200, True)


def test_find_hit_and_miss(surface):
    call(surface, "POST", "/stateflow/global/User/create", "username=http-f1")
    status, body = call(
        surface, "GET", "/stateflow/global/User/find/", "key=http-f1"
    )
    assert (status, body) == (200, {"entity": "User", "key": "http-f1"})
    status, body = call(
        surface, "GET", "/stateflow/global/User/find/", "key=nobody"
    )
    assert status == 200 and "does not exist" in body


def test_flow_method_over_http(surface):
    """buy_item is a split method: the endpoint sends a FLOW event and the
    reference golden values hold end-to-end (balance 5 / stock 1)."""
    call(surface, "POST", "/stateflow/global/User/create", "username=http-buyer")
    call(surface, "POST", "/stateflow/global/Item/create",
         "item_name=http-item&price=5")
    call(surface, "POST", "/stateflow/global/User/update_balance",
         "key=http-buyer&x=20")
    call(surface, "POST", "/stateflow/global/Item/update_stock",
         "key=http-item&amount=4")
    status, body = call(
        surface,
        "POST",
        "/stateflow/global/Item/update_stock",
        "key=http-item&amount=-100",
    )
    assert (status, body) == (200, False)  # guarded update declines

    status, body = call(
        surface,
        "POST",
        "/stateflow/global/User/buy_item",
        "key=http-buyer&amount=3&item=http-item",
    )
    assert (status, body) == (200, True)


def test_json_body_args(surface):
    status, body = call(
        surface,
        "POST",
        "/stateflow/global/User/create",
        body={"username": "http-json"},
    )
    assert body == {"entity": "User", "key": "http-json"}
    status, body = call(
        surface,
        "POST",
        "/stateflow/global/Item/create",
        body={"item_name": "http-json-i", "price": 2},
    )
    assert body == {"entity": "Item", "key": "http-json-i"}
    status, body = call(
        surface,
        "POST",
        "/stateflow/global/Item/update_stock",
        body={"key": "http-json-i", "amount": 5},
    )
    assert (status, body) == (200, True)


def test_entity_list_param_via_repeated_query_args(surface):
    """List[entity] params bind from repeated query args (the reference
    generates `List[str] = Query(None)` for them, fastapi.py:196-199) —
    the endpoint rehydrates keys to entity refs and the split flow walks
    every element."""
    call(surface, "POST", "/stateflow/global/A/create", "name=http-a1")
    call(surface, "POST", "/stateflow/global/B/create", "name=http-b1")
    call(surface, "POST", "/stateflow/global/B/create", "name=http-b2")
    status, body = call(
        surface,
        "POST",
        "/stateflow/global/A/for_loops",
        "key=http-a1&x=1&others=http-b1&others=http-b2",
    )
    assert status == 200 and body == 1  # z = x on the final iteration
    # for_loops adds 5 to every list element (fixture semantics) — read
    # state through the underlying client
    b1 = surface.client.entity("B").by_key("http-b1")
    b2 = surface.client.entity("B").by_key("http-b2")
    assert b1.balance == b2.balance == 5


def test_http_over_superstep_transport(spark):
    """The surface is transport-independent: same endpoints over the
    distributed superstep engine (state lives in a Spark DataFrame)."""
    from stateflow_spark.client import SuperstepTransport

    app = HttpSurface(Client(SuperstepTransport(spark)))
    status, body = call(
        app, "POST", "/stateflow/global/User/create", "username=http-ss1"
    )
    assert body == {"entity": "User", "key": "http-ss1"}
    status, body = call(
        app, "POST", "/stateflow/global/User/update_balance",
        "key=http-ss1&x=12",
    )
    assert status == 200
    status, body = call(
        app, "GET", "/stateflow/global/User/find/", "key=http-ss1"
    )
    assert body == {"entity": "User", "key": "http-ss1"}


def test_http_threads_over_superstep_transport(spark):
    """Concurrent requests share one Client: each drain settles only the
    calls it took, so no request is answered with another's failure."""
    import threading

    from stateflow_spark.client import SuperstepTransport

    app = HttpSurface(Client(SuperstepTransport(spark)))
    status, _ = call(app, "POST", "/stateflow/global/User/create", "username=http-mt")
    assert status == 200
    answers: list = []

    def post_updates(delta):
        for _ in range(3):
            answers.append(call(
                app, "POST", "/stateflow/global/User/update_balance",
                f"key=http-mt&x={delta}",
            ))

    threads = [threading.Thread(target=post_updates, args=(d,)) for d in (1, 2, 3, 4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert len(answers) == 12
    for status, body in answers:
        assert status == 200 and not (isinstance(body, dict) and "error" in body), body
    assert app.client.entity("User").by_key("http-mt").balance == 3 * (1 + 2 + 3 + 4)


def test_errors(surface):
    status, body = call(surface, "GET", "/stateflow/global/User/nope")
    assert status == 404
    status, body = call(
        surface, "POST", "/stateflow/global/User/update_balance", "x=1"
    )
    assert status == 400 and "key" in body["error"]
    status, body = call(
        surface, "POST", "/stateflow/global/User/update_balance", "key=u&y=1"
    )
    assert status == 400
    # malformed value for a typed param is the client's fault: 400 not 500
    status, body = call(
        surface, "POST", "/stateflow/global/User/update_balance",
        "key=u&x=abc",
    )
    assert status == 400 and "invalid value" in body["error"]
    # invoking a method on a missing key returns the failure message in the
    # body (reference returns exc.error_msg with a 200)
    status, body = call(
        surface, "POST", "/stateflow/global/User/update_balance",
        "key=ghost&x=1",
    )
    assert status == 200 and "error" in body
