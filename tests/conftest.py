from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))


@pytest.fixture(scope="session")
def spark():
    from associationabacminer_spark.session import get_spark

    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir_correctness() -> str:
    return "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def transcripts(spark):
    """Small deterministic transcript table (~80k turns), cached."""
    from associationabacminer_spark.sources.transcripts import generate_transcripts

    df = generate_transcripts(spark, n_convs=8000, seed=42, num_partitions=16).cache()
    df.count()
    return df
