from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from sketchlib.session import get_spark
    s = get_spark("sketchlib-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def plan_of(df) -> str:
    """Formatted physical plan (shared by the plan-shape tests)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def n_shuffles(plan: str) -> int:
    """Count shuffle exchanges in a formatted plan. Shuffle nodes
    print as ``(n) Exchange`` (hashpartitioning etc. is on the
    following Arguments line); broadcast exchanges print as
    ``(n) BroadcastExchange`` and don't count."""
    import re
    return len(re.findall(r"\(\d+\) Exchange\b", plan))
