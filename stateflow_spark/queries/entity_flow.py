"""Driver-visible E2E row for the split compiler + flow interpreter on the
DISTRIBUTED runtime (SURVEY.md §2.A ops #10-#18, §2.B).

The reference pins its splitter with golden end-state values — buy_item
leaves balance 5 / stock 1 (README example; tests/test_entity_local.py
replays the whole corpus locally). This query replays that scenario
through the SuperstepRuntime — compile → distribute → cross-key flow hops
across Spark partitions → final state — and emits the end state as rows,
so the driver's value-hash gate checks the distributed flow path itself,
not only the relational surface. The oracle is the golden constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stateflow_spark.entity.registry import entity, get_registry
from stateflow_spark.queries.common import register
from stateflow_spark.storage import local_frame


# Register the golden pair lazily (idempotent per process): registration
# compiles+links flows, and module import must stay side-effect-light.
def _golden_classes():
    reg = get_registry()
    if "GoldenUser" in reg and "GoldenItem" in reg:
        return

    @entity
    class GoldenItem:
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
    class GoldenUser:
        def __init__(self, username: str):
            self.username: str = username
            self.balance: int = 0

        def update_balance(self, x: int):
            self.balance += x

        def buy_item(self, amount: int, item: GoldenItem) -> bool:
            total_price = item.price * amount
            if self.balance < total_price:
                return False
            if not item.update_stock(-amount):
                return False
            self.balance -= total_price
            return True

        def __key__(self):
            return self.username


@register(
    "entity_flow_golden",
    oracle="""
    SELECT * FROM (VALUES
        ('GoldenUser', 'flow-u1', 'balance', 5),
        ('GoldenItem', 'flow-i1', 'stock', 1),
        ('GoldenItem', 'flow-i1', 'price', 5)
    ) AS t(entity, key, attr, value)
    """,
    tags=("entity", "flow", "compiler"),
)
def entity_flow_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's buy_item golden scenario on the distributed engine:
    balance 20, stock 4, buy 3 at price 5 → balance 5, stock 1."""
    from stateflow_spark.entity import operator
    from stateflow_spark.streaming.superstep import SuperstepRuntime

    _golden_classes()
    rt = SuperstepRuntime(spark)

    init_u = operator.make_init_event("GoldenUser", ("flow-u1",))
    init_i = operator.make_init_event("GoldenItem", ("flow-i1", 5))
    seeded = rt.run([init_u, init_i])
    uref = seeded.result_of(init_u)
    iref = seeded.result_of(init_i)

    setup = [
        operator.make_invoke_event(uref, "update_balance", (20,)),
        operator.make_invoke_event(iref, "update_stock", (4,)),
    ]
    buy = operator.make_invoke_event(uref, "buy_item", (3, iref))
    res = rt.run(setup + [buy], state_df=seeded.state_df)
    assert res.result_of(buy) is True

    rows = [
        (e, k, attr, int(st[attr]))
        for (e, k), st in res.collect_state().items()
        for attr in ("balance", "stock", "price")
        if attr in st
    ]
    return local_frame(spark, rows, "entity STRING, key STRING, attr STRING, value INT")
