from __future__ import annotations

import threading
import types
from contextlib import contextmanager

import pytest

from end_to_end_data_engineering_and_ml_system_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="e2e-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    # belt-and-braces: the autouse per-test sweep below drains after every
    # test, so asserting on the count HERE would be vacuous (it can never
    # see a test's leak) — the reachable leak detector is the dead-thread
    # check inside _free_rank_caches
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        release_rank_caches,
    )

    release_rank_caches(all_threads=True)
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(autouse=True)
def _free_rank_caches():
    """Unpersist distributed-rank intermediates after every test — the
    suite builds hundreds of registry queries per session and the cached
    range-shuffles would otherwise accumulate for the session lifetime."""
    yield
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        dead_thread_rank_handles,
        release_rank_caches,
    )

    # leak detector: a handle owned by a thread that already EXITED means
    # some worker code path forgot its per-query release_rank_caches().
    # Handles the CURRENT thread holds at test end are normal (the sweep
    # below is the documented release point for single-threaded tests);
    # dead-thread handles are not — every thread-spawning test sweeps
    # inside its own body, so this count is 0 unless a path truly forgot.
    leaked = dead_thread_rank_handles()
    # all_threads: tests that exercise rank builds on worker threads must
    # not leak their handles past the test (no query is in flight between
    # tests, so the teardown sweep is safe here)
    release_rank_caches(all_threads=True)
    assert leaked == 0, (
        f"{leaked} rank-cache handle(s) owned by exited thread(s) — a "
        "worker code path forgot its per-query release_rank_caches()"
    )


@contextmanager
def gateway_commands():
    """Count the py4j commands this thread sends to the JVM inside the
    block: ``with gateway_commands() as sent: ...; sent.n``. Plan-building
    cost in Python is mostly these round trips, so a budget on the
    count catches a per-column Column loop that creeps back in."""
    from py4j.java_gateway import GatewayClient

    sent = types.SimpleNamespace(n=0)
    orig = GatewayClient.send_command
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            sent.n += 1
        return orig(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield sent
    finally:
        GatewayClient.send_command = orig
