"""Shared Spark fixture — one local session for the whole test run."""

import pytest


@pytest.fixture(scope="session")
def spark():
    from parserpdf_spark.session import get_spark

    spark = get_spark(cores=8, app_name="parserpdf_spark_tests")
    yield spark
    spark.stop()


SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED


@pytest.fixture
def budgets():
    """``with budgets(collect=0):`` runs its body with the bounded-collect
    budget (and/or ``in_list=`` the rendered-``IN`` budget) moved, so
    every collect-then-fall-back site takes its fallback path."""
    import contextlib

    from parserpdf_spark.operators import bounded

    @contextlib.contextmanager
    def at(collect=None, in_list=None):
        with pytest.MonkeyPatch.context() as mp:
            if collect is not None:
                mp.setattr(bounded, "COLLECT_BUDGET", collect)
            if in_list is not None:
                mp.setattr(bounded, "IN_LIST_BUDGET", in_list)
            yield

    return at
