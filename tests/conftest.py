from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light

from flink_ecommerce_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"
SF_BENCH = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def registry_frames(spark):
    """Every registry query constructed ONCE at sf0.001, shared by the
    whole-registry sweeps (plan antipatterns, ledger fingerprints).
    Construction is the expensive part — several queries run eager
    localCheckpoint / bounded-collect jobs at construction time — and
    the three sweeps used to pay it once EACH (~230 s per pass).
    Returns ({name: DataFrame}, {name: error_string})."""
    from flink_ecommerce_spark import registry

    frames: dict = {}
    errors: dict = {}
    for name, spec in registry.SPECS.items():
        try:
            frames[name] = spec.fn(spark, SF_SMALL)
        except Exception as e:
            errors[name] = str(e)[:200]
    return frames, errors
