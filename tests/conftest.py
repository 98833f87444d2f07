from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from sketchlib.session import get_spark
    s = get_spark("sketchlib-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """Counts the commands the driver sends to the JVM through the py4j
    gateway client while the test runs; call it for the count so far."""
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, [0]

    def counting(*args, **kwargs):
        n[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    return lambda: n[0]


def plan_of(df) -> str:
    """Formatted physical plan (shared by the plan-shape tests)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def executed_plan(df) -> str:
    """The plan ``df``'s own last action ran: AQE's final plan when the
    query has an exchange, else the physical plan. Read from the query
    itself, not the status store, which evicts stages past
    ``spark.ui.retainedStages``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def n_shuffles(plan: str) -> int:
    """Count shuffle exchanges in a formatted plan. Shuffle nodes
    print as ``(n) Exchange`` (hashpartitioning etc. is on the
    following Arguments line); broadcast exchanges print as
    ``(n) BroadcastExchange`` and don't count."""
    import re
    return len(re.findall(r"\(\d+\) Exchange\b", plan))
