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


@pytest.fixture
def crash_after_commits():
    """``with crash_after_commits(n):`` runs its body with the checkpoint
    loop raising right after its n-th manifest commit — a run killed
    after n committed chunks (SURVEY.md §7.2-7) — and expects that
    crash."""
    import contextlib

    from parserpdf_spark.plans import checkpoint

    @contextlib.contextmanager
    def at(n):
        commit = checkpoint._commit_manifest
        committed = []

        def commit_then_crash(output_dir, record):
            commit(output_dir, record)
            committed.append(record["chunk_id"])
            if len(committed) == n:
                raise RuntimeError(f"injected failure after chunk {committed[-1]}")

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(checkpoint, "_commit_manifest", commit_then_crash)
            with pytest.raises(RuntimeError, match="injected failure"):
                yield

    return at


@pytest.fixture(scope="session")
def planted_sf(tmp_path_factory):
    """An sf dir whose documents.parquet is sf0.01 plus 60 exact copies
    (the first 60 docs, doc_id + 100000) and 25 Gopher rejects (20 docs
    of "x x x x x x", plus 5 copies): every curation stage drops rows."""
    import pandas as pd

    src = pd.read_parquet(f"{SF_MED}/documents.parquet")
    copies = src.head(60).assign(doc_id=src.doc_id.head(60) + 100000)
    junk = src.head(20).assign(
        doc_id=range(200000, 200020), text="x x x x x x", n_chars=11
    )
    junk_copies = junk.head(5).assign(doc_id=junk.doc_id.head(5) + 100)
    out = tmp_path_factory.mktemp("planted")
    pd.concat([src, copies, junk, junk_copies], ignore_index=True).to_parquet(
        out / "documents.parquet", index=False
    )
    return str(out)
