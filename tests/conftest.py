from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from dbda_big_data_walmart_stores_analysis_prediction_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # local[4] + 2 shuffle partitions, NOT the bench's local[32]/8: the
    # suite runs sf0.001/sf0.01 fixtures where per-task scheduling
    # overhead dominates, and the r16 A/B measured −31% on a mixed slice
    # and −33% on the heaviest parity/streaming tests (the suite must fit
    # the driver's verify budget; r15's 36-minute run was cut off).
    # AQE stays ON (the A/B showed disabling it is a net LOSS even at
    # this scale, and the plan audits pin finalized adaptive plans).
    # Correctness is partition-count-independent by construction — any
    # test that needs a specific layout sets its own conf.
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=2)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def walmart_frames(spark, tmp_path_factory):
    """``walmart_frames(seed)`` → ``(train, test, stores, features)``:
    ``perfbench/walmart_gen`` CSVs at scale 0.01, read the way ``cli etl``
    reads them (explicit schema, ``NA`` → NULL), written once per seed."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.sources import (
        WALMART_FEATURES_SCHEMA,
        WALMART_STORES_SCHEMA,
        WALMART_TEST_SCHEMA,
        WALMART_TRAIN_SCHEMA,
        read_csv,
    )
    from perfbench.walmart_gen import generate

    schemas = {
        "train": WALMART_TRAIN_SCHEMA,
        "test": WALMART_TEST_SCHEMA,
        "stores": WALMART_STORES_SCHEMA,
        "features": WALMART_FEATURES_SCHEMA,
    }
    made = {}

    def frames(seed: int):
        if seed not in made:
            d = tmp_path_factory.mktemp(f"walmart_seed{seed}")
            generate(str(d), seed, 0.01)
            made[seed] = tuple(
                read_csv(spark, str(d / f"{name}.csv"), schema)
                for name, schema in schemas.items()
            )
        return made[seed]

    return frames
