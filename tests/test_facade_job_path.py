"""The facade suites again, on the helper's job branch.

Every test of ``test_session``, ``test_result_cache`` and
``test_arrow_ingress`` is collected here a second time, against a fresh
engine on its own session (the suites assume views they did not register
are absent), and the autouse fixture below makes every ``DirectFetch``
run with ``direct`` unset, so each fetch the suites make runs as Spark's
own action would: both branches of ``DirectExec.fetch`` pass the same
tests.
"""

from __future__ import annotations

import pytest

import tests.test_arrow_ingress
from direct_spark_sql_spark.direct import DirectFetch
from direct_spark_sql_spark.session import Engine
from tests.test_arrow_ingress import *  # noqa: F401,F403
from tests.test_result_cache import *  # noqa: F401,F403
from tests.test_session import *  # noqa: F401,F403


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark.newSession())


@pytest.fixture(autouse=True)
def _job_branch_only(monkeypatch):
    fetch = DirectFetch.__call__
    monkeypatch.setattr(DirectFetch, "__call__", lambda self, df, tag, direct: fetch(self, df, tag, False))
    monkeypatch.setattr(tests.test_arrow_ingress, "DRAINS", False)
