"""Entity-engine semantics tests against the reference's golden values.

Fixture classes re-state the reference test corpus
(/root/reference/tests/common/common_classes.py:1-218); golden assertions
come from /root/reference/tests/stateflow_test.py:164-207 (buy_item →
balance 5 / stock 1, simple_for_loops → 4) and :236-250 (state_requests →
26), plus the semantics of each fixture method.
"""

from __future__ import annotations

from typing import List

import pytest

from stateflow_spark.entity import LocalRuntime, entity
from stateflow_spark.entity.registry import get_entity_type


@entity
class Item:
    def __init__(self, item_name: str, price: int):
        self.item_name: str = item_name
        self.stock: int = 0
        self.price: int = price

    def update_stock(self, amount: int) -> bool:
        if (self.stock + amount) < 0:
            return False
        self.stock += amount
        return True

    def __key__(self):
        return self.item_name


@entity
class User:
    def __init__(self, username: str):
        self.username: str = username
        self.balance: int = 0

    def update_balance(self, x: int):
        self.balance += x

    def buy_item(self, amount: int, item: Item) -> bool:
        total_price = amount * item.price
        if self.balance < total_price:
            return False
        if not item.update_stock(-amount):
            return False
        self.balance -= total_price
        return True

    def simple_for_loops(self, users: List["User"]):
        i = 0
        for user in users:
            if i > 0:
                user.update_balance(9)
            else:
                user.update_balance(4)
            i += 1
        return i

    def __key__(self):
        return self.username


@entity
class B:
    def __init__(self, name: str):
        self.name = name
        self.balance = 0

    def add_balance(self, balance: int):
        self.balance += balance

    def set_balance(self, balance: int):
        self.balance = balance

    def balance_equal_to(self, equal_balance: int) -> bool:
        return self.balance == equal_balance

    def __key__(self):
        return self.name


@entity
class A:
    def __init__(self, name: str):
        self.name = name
        self.balance = 0

    def complex_method(self, balance: int, other: B) -> bool:
        self.balance += balance * 2
        other.add_balance(balance * 2)
        self.balance -= balance
        other.add_balance(-balance)
        self.balance -= balance
        is_equal = other.balance_equal_to(balance)
        return is_equal

    def complex_if(self, balance: int, b_ins: B):
        self.balance = balance
        if self.balance > 10:
            b_ins.add_balance(balance)
            self.balance = 0
        elif b_ins.balance_equal_to(5):
            self.balance = 1
        else:
            self.balance = 2
        return self.balance

    def more_complex_if(self, balance: int, b_ins: B) -> int:
        self.balance = balance
        if balance >= 0:
            self.balance = balance
            if b_ins.balance_equal_to(balance * 2):
                self.balance = 1
            else:
                return -1
        return self.balance

    def test_no_return(self, balance: int, b_ins: B):
        if balance >= self.balance:
            self.balance = 0
            b_ins.add_balance(balance)
        else:
            self.balance = 1

    def work_with_list(self, x: int, others: List[B]):
        other_one: B = others[0]
        other_one.add_balance(10)
        if x > 0:
            others[-1].add_balance(10)
        else:
            other_one.add_balance(-10)

    def for_loops(self, x: int, others: List[B]):
        for y in others:
            y.add_balance(5)
            if x > 0:
                z = x
            else:
                z = -1
        return z

    def state_requests(self, items: List[B]):
        total: int = 0
        first_item: B = items[0]
        total += first_item.balance
        first_item.set_balance(10)
        total += first_item.balance
        first_item.set_balance(0)
        for x in items:
            total += x.balance
            x.set_balance(5)
            total += x.balance
        total += first_item.balance
        if total > 0:
            first_item.set_balance(1)
        total += first_item.balance
        return total

    def __key__(self):
        return self.name


@entity
class Nest:
    def __init__(self, nid: str):
        self.nid = nid
        self.x = 0

    def is_really_true(self):
        return True

    def is_true(self, other: "Nest"):
        is_really_true: bool = other.is_really_true()
        return is_really_true

    def nest_call(self, other: "Nest") -> bool:
        z = 0
        is_true = other.is_true(other)
        return is_true

    def __key__(self):
        return self.nid


@pytest.fixture
def rt():
    return LocalRuntime()


def test_descriptors_and_linking():
    et = get_entity_type("User")
    assert set(et.desc.state_hints) == {"username", "balance"}
    assert et.desc.methods["update_balance"].read_only is False
    assert et.desc.methods["buy_item"].linked
    assert not et.desc.methods["update_balance"].linked
    assert "buy_item" in et.flows and "update_balance" not in et.flows
    b = get_entity_type("B")
    assert b.desc.methods["balance_equal_to"].read_only is True


def test_create_and_simple_invoke(rt):
    u = rt.create(User, "alice")
    assert rt.get_attr(u, "balance") == 0
    rt.invoke(u, "update_balance", 20)
    assert rt.get_attr(u, "balance") == 20
    rt.set_attr(u, "balance", 5)
    assert rt.get_attr(u, "balance") == 5
    assert rt.exists(u)


def test_create_duplicate_fails(rt):
    rt.create(User, "bob")
    with pytest.raises(RuntimeError, match="already exists"):
        rt.create(User, "bob")


def test_buy_item_golden(rt):
    """Reference test_full_e2e golden values (stateflow_test.py:164-207)."""
    u = rt.create(User, "u1")
    it = rt.create(Item, "thing", 5)
    rt.invoke(u, "update_balance", 20)
    rt.invoke(it, "update_stock", 4)
    assert rt.get_attr(u, "balance") == 20
    assert rt.get_attr(it, "stock") == 4
    buy = rt.invoke(u, "buy_item", 3, it)
    assert buy is True
    assert rt.get_attr(u, "balance") == 5
    assert rt.get_attr(it, "stock") == 1


def test_buy_item_insufficient_balance(rt):
    u = rt.create(User, "poor")
    it = rt.create(Item, "gold", 100)
    rt.invoke(it, "update_stock", 10)
    assert rt.invoke(u, "buy_item", 1, it) is False
    assert rt.get_attr(u, "balance") == 0
    assert rt.get_attr(it, "stock") == 10


def test_buy_item_insufficient_stock(rt):
    u = rt.create(User, "rich")
    it = rt.create(Item, "rare", 1)
    rt.invoke(u, "update_balance", 100)
    assert rt.invoke(u, "buy_item", 5, it) is False
    assert rt.get_attr(u, "balance") == 100  # balance untouched on stock fail
    assert rt.get_attr(it, "stock") == 0


def test_simple_for_loops_golden(rt):
    users = [rt.create(User, f"sfl{i}") for i in range(4)]
    out = rt.invoke(users[0], "simple_for_loops", users)
    assert out == 4
    assert rt.get_attr(users[0], "balance") == 4
    for u in users[1:]:
        assert rt.get_attr(u, "balance") == 9


def test_complex_method(rt):
    """Reference test asserts b == 10 and a == 0 after complex_method(10, b)
    returning is_equal (stateflow_test.py:84-89)."""
    a = rt.create(A, "a1")
    b = rt.create(B, "b1")
    out = rt.invoke(a, "complex_method", 10, b)
    assert out is True
    assert rt.get_attr(b, "balance") == 10
    assert rt.get_attr(a, "balance") == 0


def test_complex_if_all_branches(rt):
    a = rt.create(A, "a2")
    b = rt.create(B, "b2")
    # balance > 10 → b += balance, a.balance = 0
    assert rt.invoke(a, "complex_if", 20, b) == 0
    assert rt.get_attr(b, "balance") == 20
    # elif b.balance == 5 → 1 (set b to 5 first)
    rt.invoke(b, "set_balance", 5)
    assert rt.invoke(a, "complex_if", 7, b) == 1
    # else → 2
    rt.invoke(b, "set_balance", 0)
    assert rt.invoke(a, "complex_if", 7, b) == 2


def test_more_complex_if(rt):
    a = rt.create(A, "a3")
    b = rt.create(B, "b3")
    rt.invoke(b, "set_balance", 8)
    assert rt.invoke(a, "more_complex_if", 4, b) == 1  # 8 == 4*2
    rt.invoke(b, "set_balance", 0)
    assert rt.invoke(a, "more_complex_if", 4, b) == -1  # early return in else
    assert rt.invoke(a, "more_complex_if", -1, b) == -1  # skips outer if


def test_no_return_method(rt):
    a = rt.create(A, "a4")
    b = rt.create(B, "b4")
    assert rt.invoke(a, "test_no_return", 5, b) is None
    assert rt.get_attr(a, "balance") == 0
    assert rt.get_attr(b, "balance") == 5


def test_work_with_list(rt):
    a = rt.create(A, "a5")
    b1 = rt.create(B, "wb1")
    b2 = rt.create(B, "wb2")
    rt.invoke(a, "work_with_list", 1, [b1, b2])
    assert rt.get_attr(b1, "balance") == 10
    assert rt.get_attr(b2, "balance") == 10
    rt.invoke(a, "work_with_list", 0, [b1, b2])
    assert rt.get_attr(b1, "balance") == 10  # +10 then -10
    assert rt.get_attr(b2, "balance") == 10


def test_for_loops(rt):
    a = rt.create(A, "a6")
    bs = [rt.create(B, f"fb{i}") for i in range(3)]
    assert rt.invoke(a, "for_loops", 3, bs) == 3
    for b in bs:
        assert rt.get_attr(b, "balance") == 5
    assert rt.invoke(a, "for_loops", -2, bs) == -1


def test_state_requests_golden(rt):
    """Reference expects 26 (stateflow_test.py:236-250) — exercises state
    fetch caching + invalidation after writes."""
    a = rt.create(A, "a7")
    b1 = rt.create(B, "sb1")
    b2 = rt.create(B, "sb2")
    assert rt.invoke(a, "state_requests", [b1, b2]) == 26
    assert rt.get_attr(b1, "balance") == 1
    assert rt.get_attr(b2, "balance") == 5


def test_nested_flow_calls(rt):
    """Nested linked calls (reference inlines these via ExecutionPlanMerger;
    we run them as child flows) — nest_call → is_true → is_really_true."""
    n1 = rt.create(Nest, "n1")
    n2 = rt.create(Nest, "n2")
    assert rt.invoke(n1, "nest_call", n2) is True


def test_missing_key(rt):
    from stateflow_spark.entity.model import EntityRef

    with pytest.raises(KeyError):
        rt.get_attr(EntityRef("User", "ghost"), "balance")
    assert not rt.exists(EntityRef("User", "ghost"))


@entity
class Countdown:
    def __init__(self, name: str):
        self.name = name
        self.fuel: int = 0

    def refuel(self, x: int) -> int:
        self.fuel += x
        return self.fuel

    def burn_down(self, other: "B") -> int:
        """while-loop with an external call per iteration — a shape the
        reference's splitter does not support (it splits for/if only); our
        compiler emits Branch + back-Jump with the hoisted call inside."""
        burns = 0
        while self.fuel > 0:
            other.add_balance(self.fuel)
            self.fuel -= 2
            burns += 1
        return burns

    def __key__(self):
        return self.name


def test_while_loop_flow(rt):
    c = rt.create(Countdown, "cd1")
    b = rt.create(B, "cd-sink")
    rt.invoke(c, "refuel", 5)
    burns = rt.invoke(c, "burn_down", b)
    # fuel 5 → add 5, fuel 3 → add 3, fuel 1 → add 1 → fuel -1 stops
    assert burns == 3
    assert rt.get_attr(b, "balance") == 9
    assert rt.get_attr(c, "fuel") == -1
    # empty loop: zero iterations, no external calls
    assert rt.invoke(c, "burn_down", b) == 0
    assert rt.get_attr(b, "balance") == 9


@entity
class Cascade:
    def __init__(self, cid: str):
        self.cid = cid
        self.x: int = 0

    def bump(self, sink: B) -> int:
        """Linked (calls another entity) → compiles to a flow, so invoking it
        from another flow runs it as a nested child flow."""
        self.x += 1
        sink.add_balance(1)
        return self.x

    def read_after_nested_write(self, other: "Cascade", sink: B) -> int:
        before = other.x  # caches other's state snapshot
        other.bump(sink)  # nested child flow writes other.x
        after = other.x  # must re-fetch, not read the stale snapshot
        return before * 100 + after

    def __key__(self):
        return self.cid


def test_nested_flow_invalidates_parent_cache(rt):
    """A child flow's writes must invalidate the parent flow's cached
    snapshots (reference invalidation: split_analyze.py:666-781); without
    this, `after` reads the pre-bump 0 while the store holds 1."""
    c1 = rt.create(Cascade, "c1")
    c2 = rt.create(Cascade, "c2")
    sink = rt.create(B, "casc-sink")
    out = rt.invoke(c1, "read_after_nested_write", c2, sink)
    assert out == 1  # before=0, after=1 → 0*100 + 1
    assert rt.get_attr(c2, "x") == 1
    assert rt.get_attr(sink, "balance") == 1


# --- state schema evolution (round 8) ---------------------------------------


def test_upgrade_state_semantics():
    """upgrade_state fills missing attrs (declared default > hint zero >
    None), preserves unknown newer-version attrs, and is a no-op (same
    object) when nothing is missing."""
    from stateflow_spark.entity.descriptors import ClassDesc
    from stateflow_spark.entity.wrapper import upgrade_state

    desc = ClassDesc(
        name="X",
        state_hints={
            "a": "int", "b": "str", "c": "float", "d": "bool",
            "e": "List[int]", "f": "NoType", "g": "int",
        },
        methods={},
        tree=None,
        state_defaults={"g": 42},
    )
    old = {"a": 5, "zz_newer": "keep-me"}
    up = upgrade_state(desc, old)
    assert up == {
        "a": 5, "b": "", "c": 0.0, "d": False, "e": [], "f": None,
        "g": 42, "zz_newer": "keep-me",
    }
    full = {k: 1 for k in desc.state_hints}
    assert upgrade_state(desc, full) is full  # no copy on the hot path


def test_invoke_preserves_newer_version_attrs():
    """A rolled-back (older) class version invoking on newer-version state
    must not destroy attributes it does not know about."""
    from stateflow_spark.entity.registry import get_entity_type
    from stateflow_spark.entity.wrapper import invoke

    et = get_entity_type("User")
    state = {"username": "u", "balance": 10, "future_attr": [1, 2]}
    result, new_state = invoke(et.cls, et.desc, state, "update_balance", (5,))
    assert new_state["balance"] == 15
    assert new_state["future_attr"] == [1, 2]


def test_class_body_default_must_be_literal():
    """Non-literal class-body defaults fail loud at decoration time — they
    are replayed on state upgrade and must be deterministic."""
    import pytest

    from stateflow_spark.entity.registry import entity

    with pytest.raises(TypeError, match="must be literals"):
        @entity
        class BadDefault:
            start: int = 2 + int("3")  # not a literal

            def __init__(self):
                self.start = 0

            def __key__(self):
                return "k"


# --- calls through entity-typed own-state attributes (round-8 VERDICT #8) ---


@entity
class Wallet:
    def __init__(self, name: str, backing: "B"):
        self.name: str = name
        self.backing: B = backing
        self.spent: int = 0

    def pay_direct(self, x: int) -> int:
        self.backing.add_balance(-x)
        self.spent += x
        return self.spent

    def pay_via_alias(self, x: int) -> int:
        b = self.backing
        b.add_balance(-x)
        self.spent += x
        return self.spent

    def backing_balance_plus(self, x: int) -> int:
        # attribute READ through the stored ref (REQUEST_STATE need)
        return self.backing.balance + x

    def __key__(self):
        return self.name


def test_stored_ref_call_direct():
    """self.backing.add_balance(...) — an external call through an
    entity-typed OWN-STATE attribute (no entity-typed param) must flow-
    compile and route to the backing entity."""
    rt = LocalRuntime()
    b = rt.create(B, "wallet-b1")
    w = rt.create(Wallet, "w1", b)
    rt.invoke(b, "set_balance", 100)
    assert rt.invoke(w, "pay_direct", 30) == 30
    assert rt.get_attr(b, "balance") == 70
    assert rt.get_attr(w, "spent") == 30


def test_stored_ref_call_via_alias():
    """x = self.backing; x.m() — the single-assignment alias resolves at
    compile time to the same flow (round-8 VERDICT #8)."""
    rt = LocalRuntime()
    b = rt.create(B, "wallet-b2")
    w = rt.create(Wallet, "w2", b)
    rt.invoke(b, "set_balance", 50)
    assert rt.invoke(w, "pay_via_alias", 20) == 20
    assert rt.get_attr(b, "balance") == 30


def test_stored_ref_state_read():
    """Reading an attribute through the stored ref is a REQUEST_STATE
    need on `self.backing`, resolved through the flow owner's state."""
    rt = LocalRuntime()
    b = rt.create(B, "wallet-b3")
    w = rt.create(Wallet, "w3", b)
    rt.invoke(b, "set_balance", 7)
    assert rt.invoke(w, "backing_balance_plus", 3) == 10


def test_stored_ref_methods_are_flow_compiled():
    """The linked flag must fire WITHOUT entity-typed params: all three
    Wallet methods compile to flows (the old behavior ran them through
    wrapper.invoke and crashed with \"'EntityRef' object has no attribute\")."""
    et = get_entity_type("Wallet")
    assert set(et.flows) >= {"pay_direct", "pay_via_alias",
                             "backing_balance_plus"}


# --- round-8 review regressions ---------------------------------------------


def _fmt_ref(r):
    """Module-level helper a wrapper-path method may call (flows exec in a
    synthetic namespace without module globals — see entity_attr_loads)."""
    return f"{r.entity}:{r.key}"


@entity
class Ledger:
    fee: int = 2  # declared schema-evolution default

    def __init__(self, name: str, backing: "B"):
        self.name: str = name
        self.backing: B = backing
        self.entries: list = []
        self.count: int = 0
        self.fee: int = 2

    def spend_described(self, x: int) -> str:
        # module helper used INSIDE a flow fragment (the external call
        # forces flow compilation; fragments exec with module globals)
        self.backing.add_balance(-x)
        return _fmt_ref(self.backing) + f"/{x}"

    def pay_fee(self) -> int:
        # schema-evolved attr read INSIDE a Call argument expression
        self.backing.add_balance(self.fee)
        return self.fee

    def log_spend(self, x: int) -> int:
        # in-place list mutation on own state INSIDE a flow (the method
        # is flow-compiled because of the external call below)
        self.entries.append(x)
        self.backing.add_balance(-x)
        self.count += 1
        return self.count

    def describe(self) -> str:
        # bare load of the stored ref passed to a MODULE helper: must NOT
        # flow-compile (runs via wrapper.invoke with real globals)
        return _fmt_ref(self.backing)

    def __key__(self):
        return self.name


def test_flow_list_state_inplace_mutation_persists():
    """Round-8 review: SelfProxy list reads are a WRITE-THROUGH view —
    self.entries.append(x) inside a flow must reach persisted state (a
    list-copy proxy silently dropped it)."""
    rt = LocalRuntime()
    b = rt.create(B, "ledger-b1")
    led = rt.create(Ledger, "led1", b)
    assert rt.invoke(led, "log_spend", 5) == 1
    assert rt.invoke(led, "log_spend", 7) == 2
    assert rt.get_attr(led, "entries") == [5, 7]
    assert rt.get_attr(b, "balance") == -12


def test_flow_fragments_see_module_globals():
    """Round-8: flow fragments exec with the entity module's globals as
    their namespace base — split methods can call module-level helpers
    exactly like the un-split method could; untouched globals stay out
    of the serialized flow namespace."""
    et = get_entity_type("Ledger")
    assert "spend_described" in et.flows  # external call → flow-compiled
    rt = LocalRuntime()
    b = rt.create(B, "ledger-b9")
    led = rt.create(Ledger, "led9", b)
    assert rt.invoke(led, "spend_described", 4) == "B:ledger-b9/4"
    assert rt.get_attr(b, "balance") == -4


def test_bare_ref_load_stays_on_wrapper_path():
    """Round-8 review: merely loading a stored ref (passing it to a module
    helper) must NOT force flow compilation — flows exec without module
    globals and would NameError."""
    et = get_entity_type("Ledger")
    assert "describe" not in et.flows
    assert "log_spend" in et.flows
    rt = LocalRuntime()
    b = rt.create(B, "ledger-b2")
    led = rt.create(Ledger, "led2", b)
    assert rt.invoke(led, "describe") == "B:ledger-b2"


def test_upgrade_state_defaults_not_shared():
    """Round-8 review: mutable declared defaults must be deep-copied per
    upgraded entity — never aliased across entities or to the ClassDesc."""
    from stateflow_spark.entity.descriptors import ClassDesc
    from stateflow_spark.entity.wrapper import upgrade_state

    desc = ClassDesc(
        name="X", state_hints={"tags": "list"}, methods={}, tree=None,
        state_defaults={"tags": []},
    )
    s1 = upgrade_state(desc, {})
    s2 = upgrade_state(desc, {})
    s1["tags"].append("a")
    assert s2["tags"] == []
    assert desc.state_defaults["tags"] == []


def test_call_args_see_schema_evolved_attr():
    """Round-8 review: Call target/arg evaluation must apply the state
    upgrade too — a flow calling other.add(self.fee) where `fee` is a
    newly-declared attribute must see the declared default on old state."""
    rt = LocalRuntime()
    b = rt.create(B, "ledger-b3")
    led = rt.create(Ledger, "led3", b)
    # simulate old-version state: remove `count` from the persisted dict
    key = ("Ledger", "led3")
    st = dict(rt.store.data[key])
    del st["count"]
    rt.store.data[key] = st
    # simulate old-version state: fee (declared default 2) + count missing
    st = dict(rt.store.data[key])
    del st["fee"]
    rt.store.data[key] = st
    # pay_fee's Call ARGUMENT reads self.fee — the Call-phase eval must
    # apply the upgrade (the Exec/Return paths already did)
    assert rt.invoke(led, "pay_fee") == 2
    assert rt.get_attr(b, "balance") == 2
    # and the Exec path: count default-fills to 0 then increments
    assert rt.invoke(led, "log_spend", 3) == 1


def test_self_proxy_list_wrapping_rules():
    """Round-8 reviews #3 + r3#1: EVERY self-state list returns a
    write-through RefListView — mutations unwrap and reach the backing
    (so a flow can never persist a live EntityProxy into state), element
    reads wrap refs, and the view carries the full list API including
    proxy-aware sort keys and concatenation."""
    from stateflow_spark.entity.model import EntityRef
    from stateflow_spark.entity.proxy import (
        EntityProxy, RefListView, SelfProxy,
    )

    def methods_of(e):
        return set()

    cache = {("B", "k1"): {"balance": 3}}
    ref = EntityRef("B", "k1")
    state = {"plain": [3, 1, 2], "refs": [ref, 5]}
    sp = SelfProxy(state, set(), cache, methods_of)

    plain = sp.plain
    assert isinstance(plain, RefListView)  # EVERY list wraps (round-8 r3)
    plain.sort()
    plain += [9]
    assert state["plain"] == [1, 2, 3, 9]  # mutations write through

    view = sp.refs
    assert isinstance(view, RefListView)
    assert isinstance(view[0], EntityProxy)
    assert view[0].balance == 3  # element read serves fetched state
    view.append(EntityProxy(ref, cache, set()))  # proxies unwrap on write
    assert state["refs"][-1] == ref and isinstance(state["refs"][-1], EntityRef)
    # sort keys see WRAPPED elements (same as indexing/iteration)
    view.sort(key=lambda p: p.balance if isinstance(p, EntityProxy) else 99)
    assert state["refs"][0] == ref  # the proxy sorted by fetched balance
    assert view.count(5) == 1
    view += [7]
    assert state["refs"][-1] == 7
    cat = view + [11]
    assert isinstance(cat[0], EntityProxy) and cat[-1] == 11
    # appending a proxy through the view NEVER persists a live proxy
    assert all(not isinstance(x, EntityProxy) for x in state["refs"])


def test_alias_chain_and_annassign_flow_compile():
    """Round-8 review #2: annotated and chained aliases of a stored ref
    must flow-compile like the direct form."""
    rt = LocalRuntime()
    b = rt.create(B, "chain-b1")
    w = rt.create(WalletChain, "wc1", b)
    rt.invoke(b, "set_balance", 10)
    assert rt.invoke(w, "pay_ann", 4) == 4
    assert rt.invoke(w, "pay_chain", 5) == 5
    assert rt.get_attr(b, "balance") == 1


@entity
class WalletChain:
    def __init__(self, name: str, backing: "B"):
        self.name: str = name
        self.backing: B = backing

    def pay_ann(self, x: int) -> int:
        a: B = self.backing  # annotated alias
        a.add_balance(-x)
        return x

    def pay_chain(self, x: int) -> int:
        a = self.backing
        c = a  # chained alias
        c.add_balance(-x)
        return x

    def __key__(self):
        return self.name


def test_flow_ns_shadow_of_identical_global_writes_back():
    """Round-8 review #1: reassigning a flow local that shadows a module
    global to a value identity-equal to the global must still overwrite
    the stale flow.ns entry."""
    rt = LocalRuntime()
    b = rt.create(B, "shadow-b1")
    s = rt.create(ShadowTax, "st1", b)
    assert rt.invoke(s, "tax_roundtrip") == 0


_TAX = 0  # module global a flow local shadows


@entity
class ShadowTax:
    def __init__(self, name: str, backing: "B"):
        self.name: str = name
        self.backing: B = backing

    def tax_roundtrip(self) -> int:
        _TAX = 7  # noqa: F841 — shadows the module global
        self.backing.add_balance(1)  # split point
        _TAX = 0  # identity-equal to the global: must still write back
        self.backing.add_balance(1)  # split point
        return _TAX

    def __key__(self):
        return self.name


def test_module_globals_cache_cleared_on_reregistration():
    """Round-8 review #4: re-registering an entity name must drop the
    cached module globals (flow fragments would exec with the previous
    module's helpers)."""
    from stateflow_spark.entity.interpreter import _module_globals
    from stateflow_spark.entity.registry import entity as ent

    _module_globals("Ledger")  # prime the cache
    before = _module_globals.cache_info().currsize
    assert before >= 1
    ent(Ledger)  # re-register (same class: the trigger, not the module)
    assert _module_globals.cache_info().currsize == 0


def test_hoisted_call_on_plain_value_degrades_to_python_call():
    """Round-8 review r3#2: the compiler's flow-insensitive typing may
    hoist a call whose target holds a PLAIN value at runtime (x = ref;
    x = 5; x.m()) — the interpreter must execute it as an ordinary
    Python call (hoisting preserved evaluation order), not fail."""
    rt = LocalRuntime()
    b = rt.create(B, "plain-b1")
    w = rt.create(PlainCall, "pc1", b)
    assert rt.invoke(w, "reassigned_alias") == 3


@entity
class PlainCall:
    def __init__(self, name: str, backing: "B"):
        self.name: str = name
        self.backing: B = backing

    def reassigned_alias(self) -> int:
        c = self.backing
        c = 5  # alias reassigned to a plain value
        return c.bit_length()

    def __key__(self):
        return self.name


def test_flow_append_never_persists_proxy():
    """Round-8 review r3#1 end-to-end: appending an entity-typed PARAM to
    an initially ref-free own-state list inside a flow must persist the
    plain EntityRef, never a live proxy."""
    from stateflow_spark.entity.model import EntityRef

    rt = LocalRuntime()
    b = rt.create(B, "seen-b1")
    s = rt.create(SeenLog, "sl1")
    rt.invoke(s, "observe", b)
    seen = rt.get_attr(s, "seen")
    assert seen == [EntityRef("B", "seen-b1")]
    assert all(type(x) is EntityRef for x in seen)


@entity
class SeenLog:
    def __init__(self, name: str):
        self.name: str = name
        self.seen: list = []

    def observe(self, other: B) -> int:
        self.seen.append(other)
        other.add_balance(1)  # external call → flow-compiled
        return len(self.seen)

    def __key__(self):
        return self.name


def test_eager_call_mutation_writes_back():
    """Round-9 ADVICE medium #2: the eager fallback for a hoisted call
    whose target holds a plain CONTAINER at runtime must mutate the real
    flow variable — unwrap copies lists, so calling on the copy silently
    discarded `c.append(3)`."""
    rt = LocalRuntime()
    b = rt.create(B, "mut-b1")
    w = rt.create(MutCall, "mc1", b)
    assert rt.invoke(w, "mutating_alias") == [1, 2, 3]


@entity
class MutCall:
    def __init__(self, name: str, backing: "B"):
        self.name: str = name
        self.backing: B = backing

    def mutating_alias(self) -> list:
        c = self.backing
        c = [1, 2]  # plain container at runtime; compiler typed it entity
        c.append(3)  # hoisted Call → eager fallback; mutation must land
        return c

    def __key__(self):
        return self.name


def test_ref_list_view_surface_copy_reversed_mul():
    """Round-9 ADVICE low #3: RefListView must not narrow the list API the
    raw backing list offered — copy()/reversed()/× were missing."""
    from stateflow_spark.entity.proxy import RefListView

    backing = [1, 2, 3]
    v = RefListView(backing, {}, lambda e: set())
    assert v.copy() == [1, 2, 3]
    assert v.copy() is not backing  # a copy, not the state alias
    assert list(reversed(v)) == [3, 2, 1]
    assert v * 2 == [1, 2, 3, 1, 2, 3]
    assert 2 * v == [1, 2, 3, 1, 2, 3]
    v[0:3:2] = [10, 30]  # slice-step assignment writes through
    assert backing == [10, 2, 30]


def test_ref_list_view_copy_in_flow():
    """End-to-end: self.<list>.copy() inside a flow fragment (worked
    pre-round-8 on the raw backing list; regressed to AttributeError)."""
    rt = LocalRuntime()
    b = rt.create(B, "copy-b1")
    s = rt.create(CopyLog, "cl1")
    assert rt.invoke(s, "snapshot", b) == [7]


@entity
class CopyLog:
    def __init__(self, name: str):
        self.name: str = name
        self.items: list = [7]

    def snapshot(self, other: B) -> list:
        snap = self.items.copy()
        other.add_balance(1)  # external call → flow-compiled
        return snap

    def __key__(self):
        return self.name


def test_worker_registry_install_clears_interpreter_caches():
    """Round-9 ADVICE medium #1: the executor-side registry install must
    clear the per-entity-name interpreter caches when a blob with other
    bytes arrives (reused workers keep module state across runs), and must
    keep them when the same or an equal blob arrives again (every task
    brings its own copy of one run's blob)."""
    import pickle

    import cloudpickle

    from stateflow_spark.entity import registry as reg_mod
    from stateflow_spark.entity.interpreter import _module_globals

    blob1 = reg_mod.serialize_registry()
    reg_mod.install_worker_registry(blob1)
    _module_globals("CopyLog")  # prime the cache
    assert _module_globals.cache_info().currsize >= 1
    reg_mod.install_worker_registry(blob1)  # same object: cache kept
    assert _module_globals.cache_info().currsize >= 1
    blob2 = bytes(bytearray(blob1))  # a task's own copy of the blob
    assert blob2 is not blob1
    reg_mod.install_worker_registry(blob2)  # equal bytes: cache kept
    assert _module_globals.cache_info().currsize >= 1
    other = cloudpickle.dumps(pickle.loads(blob1), protocol=4)
    assert other != blob1
    reg_mod.install_worker_registry(other)  # other bytes: caches cleared
    assert _module_globals.cache_info().currsize == 0


def test_worker_registry_unpickles_once_per_distinct_blob(monkeypatch):
    """Each Spark task unpickles its own copy of the engine closure, so
    equal registry blobs arrive as distinct objects: they unpickle once.
    A blob with other bytes still re-installs and clears the caches."""
    import pickle

    import cloudpickle

    from stateflow_spark.entity import registry as reg_mod
    from stateflow_spark.entity.interpreter import _module_globals

    loads = []
    real = pickle.loads
    monkeypatch.setattr(pickle, "loads", lambda b: loads.append(b) or real(b))
    blob = reg_mod.serialize_registry()
    reg_mod.install_worker_registry(blob)
    reg_mod.install_worker_registry(bytes(bytearray(blob)))
    assert len(loads) == 1

    _module_globals("CopyLog")
    other = cloudpickle.dumps(real(blob), protocol=4)
    assert other != blob
    reg_mod.install_worker_registry(other)
    assert len(loads) == 2
    assert _module_globals.cache_info().currsize == 0
    assert "CopyLog" in reg_mod.get_registry()
