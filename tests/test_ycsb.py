"""YCSB harness semantics: local/superstep parity and the money-conservation
invariant for the transfer mix (the reference asserts deterministic final
balances the same way, tests/stateflow_test.py:164-207)."""

from __future__ import annotations

import pytest

from stateflow_spark import ycsb


def _local_final_state(mix: str, n_tasks: int = 200):
    rt = ycsb.LocalRuntime()
    refs = [
        rt.create(ycsb.YCSBEntity, f"entity-{i}", ycsb.STARTING_AMOUNT)
        for i in range(ycsb.N_ENTITIES)
    ]
    for op in ycsb.make_workload(mix, n_tasks):
        if op.kind == "read":
            rt.invoke(refs[op.key], "read")
        elif op.kind == "update":
            rt.invoke(refs[op.key], "update", op.amount)
        else:
            rt.invoke(refs[op.key], "transfer", op.amount, refs[op.other])
    return {r.key: rt.get_attr(r, "value") for r in refs}


def test_zipf_determinism_and_skew():
    z1, z2 = ycsb.ZipfGenerator(100, seed=7), ycsb.ZipfGenerator(100, seed=7)
    g1 = [z1.next() for _ in range(1000)]
    g2 = [z2.next() for _ in range(1000)]
    assert g1 == g2
    assert all(0 <= k < 100 for k in g1)
    # Zipf(0.99): rank-0 must dominate a uniform draw's 1% share
    assert g1.count(0) > 100


def test_local_transfer_conserves_money():
    final = _local_final_state("t")
    assert sum(final.values()) == ycsb.N_ENTITIES * ycsb.STARTING_AMOUNT


def test_superstep_matches_local(spark):
    """Distributed-vs-local semantics per mix.

    Mix A (single-key read/update): updates commute per key, so the final
    state must equal the sequential local run exactly.

    Mix T (cross-key transfers): flows are NON-isolated — the reference's
    documented semantics (SURVEY.md §4: intermediate states are visible,
    no cross-key atomicity) — so the set of overdraft-rejected transfers
    depends on interleaving and the sequential run is not the oracle.
    The invariants that must hold regardless of interleaving: money
    conservation and one reply per request."""
    from stateflow_spark.entity import operator
    from stateflow_spark.streaming.superstep import SuperstepRuntime

    for mix in ("a", "t"):
        rt = SuperstepRuntime(spark)
        seeded = rt.run(
            [
                operator.make_init_event(
                    "YCSBEntity", (f"entity-{i}", ycsb.STARTING_AMOUNT)
                )
                for i in range(ycsb.N_ENTITIES)
            ]
        )
        refs = ycsb._refs(ycsb.N_ENTITIES)
        events = []
        for op in ycsb.make_workload(mix, 200):
            if op.kind == "read":
                events.append(operator.make_invoke_event(refs[op.key], "read", ()))
            elif op.kind == "update":
                events.append(
                    operator.make_invoke_event(refs[op.key], "update", (op.amount,))
                )
            else:
                events.append(
                    operator.make_invoke_event(
                        refs[op.key], "transfer", (op.amount, refs[op.other])
                    )
                )
        res = rt.run(events, state_df=seeded.state_df)
        assert len(res.replies) == 200
        got = {k[1]: st["value"] for k, st in res.collect_state().items()}
        total = sum(got.values())
        if mix == "a":
            assert got == _local_final_state(mix, 200), "mix a diverged"
        else:
            # conservation: the local total reflects the same op amounts, so
            # totals agree even though per-key rejections may differ
            assert total == sum(_local_final_state(mix, 200).values())
            # tail-return elision: transfer's `return True` runs at the
            # callee's partition, so a whole transfer burst converges in
            # TWO supersteps (sender exec+call-dispatch, callee call+return)
            # instead of three — a per-flow hop saved at any scale
            assert res.supersteps == 2, res.supersteps


def test_streaming_transfer_conserves_money(spark, tmp_path):
    """Money conservation through the CONTINUOUS engine's loopback: every
    transfer is a cross-key flow whose second hop travels through the
    egress router's staged rename path — a lost hop leaks money, a
    duplicated hop (at-least-once re-execution) mints it. 100 transfers
    across 20 entities must conserve the total and answer every request
    (exercises the round-3 idempotent router under real flow load)."""
    import uuid

    from stateflow_spark.entity import operator
    from stateflow_spark.entity.model import Event, EventType
    from stateflow_spark.streaming.stateful import StreamingEntityEngine

    n_ent, n_ops = 20, 100
    eng = StreamingEntityEngine(
        spark, str(tmp_path / "conserve"), shuffle_partitions=4
    )
    try:
        eng.send(
            operator.make_init_event(
                "YCSBEntity", (f"entity-{i}", ycsb.STARTING_AMOUNT)
            )
            for i in range(n_ent)
        )
        eng.start()
        eng.drain()

        refs = ycsb._refs(n_ent)
        events = [
            operator.make_invoke_event(
                refs[op.key], "transfer", (op.amount, refs[op.other])
            )
            for op in ycsb.make_workload("t", n_ops, n_ent)
        ]
        eng.send(events)
        eng.drain()
        replies = eng.replies()
        assert all(e.event_id in replies for e in events)

        gets = [
            Event(str(uuid.uuid4()), "YCSBEntity", f"entity-{i}",
                  EventType.GET_STATE, {"attr": "value"})
            for i in range(n_ent)
        ]
        eng.send(gets)
        eng.drain()
        replies = eng.replies()
        total = sum(replies[g.event_id].payload["result"] for g in gets)
        assert total == n_ent * ycsb.STARTING_AMOUNT
    finally:
        eng.stop()


@pytest.mark.slow
def test_streaming_transfer_survives_midflight_restart(spark, tmp_path):
    """Kill the engine while transfer flows are in flight (loopback hops
    pending), restart from the same checkpoint, drain — every request must
    still get exactly one reply and money must be conserved. This is the
    at-least-once replay scenario the idempotent (kind, batch_id, index)
    rename scheme closes: a replayed batch overwrites its previous
    attempt's hops instead of re-injecting them."""
    import uuid

    from stateflow_spark.entity import operator
    from stateflow_spark.entity.model import Event, EventType
    from stateflow_spark.streaming.stateful import StreamingEntityEngine

    n_ent, n_ops = 10, 60
    workdir = str(tmp_path / "midflight")
    eng1 = StreamingEntityEngine(spark, workdir, shuffle_partitions=4)
    eng1.send(
        operator.make_init_event("YCSBEntity", (f"entity-{i}", ycsb.STARTING_AMOUNT))
        for i in range(n_ent)
    )
    eng1.start()
    eng1.drain()

    refs = ycsb._refs(n_ent)
    events = [
        operator.make_invoke_event(
            refs[op.key], "transfer", (op.amount, refs[op.other])
        )
        for op in ycsb.make_workload("t", n_ops, n_ent)
    ]
    eng1.send(events)
    # stop as soon as possible — transfers are mid-flight: first hops may
    # be committed, loopback hops pending in the source dir, some not
    # yet started
    eng1.stop()

    eng2 = StreamingEntityEngine(spark, workdir, shuffle_partitions=4)
    eng2.start()
    try:
        eng2.drain()
        replies = eng2.replies()
        missing = [e for e in events if e.event_id not in replies]
        assert not missing, f"{len(missing)} transfers lost across restart"

        gets = [
            Event(str(uuid.uuid4()), "YCSBEntity", f"entity-{i}",
                  EventType.GET_STATE, {"attr": "value"})
            for i in range(n_ent)
        ]
        eng2.send(gets)
        eng2.drain()
        replies = eng2.replies()
        total = sum(replies[g.event_id].payload["result"] for g in gets)
        assert total == n_ent * ycsb.STARTING_AMOUNT, "money not conserved"
    finally:
        eng2.stop()


@pytest.mark.slow
def test_streaming_pacing_bursts(spark, tmp_path):
    """--pacing sends the op batch as back-to-back bursts (round-8
    VERDICT #3): every burst must fully complete (send → drain) before
    the next, all replies arrive, and the result carries per-burst
    walls."""
    out = ycsb.run_streaming(
        spark, "a", n_tasks=600, workdir=str(tmp_path / "paced"), pacing=250
    )
    assert out["ops"] == 600
    assert out["pacing"] == 250
    assert len(out["burst_sec"]) == 3  # 250 + 250 + 100
    assert abs(sum(out["burst_sec"]) - out["sec"]) < 1.0
