"""The facade suites again, with direct execution off.

Every test of ``test_session``, ``test_result_cache`` and
``test_arrow_ingress`` is collected here a second time, against a fresh
engine on its own session (the suites assume views they did not register
are absent), and the autouse fixture below makes every ``DirectFetch``
decline, so each fetch the suites make runs as a Spark job: both fetch
paths pass the same tests.
"""

from __future__ import annotations

import pytest

from direct_spark_sql_spark.direct import DirectFetch
from direct_spark_sql_spark.session import Engine
from tests.test_arrow_ingress import *  # noqa: F401,F403
from tests.test_result_cache import *  # noqa: F401,F403
from tests.test_session import *  # noqa: F401,F403


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark.newSession())


@pytest.fixture(autouse=True)
def _job_path_only(monkeypatch):
    monkeypatch.setattr(DirectFetch, "__call__", lambda self, df, tag: None)
