from __future__ import annotations

import pytest

from collect_mobile_devices_datalake_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s
    # The streaming maintenance kernels copy their input under /tmp and
    # read from it lazily; once the session's queries are all consumed,
    # reclaim those roots (hundreds of MB per kernel run at sf0.1).
    from collect_mobile_devices_datalake_spark.operators.streaming_batch import (
        cleanup_stream_temp_roots,
    )

    cleanup_stream_temp_roots()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE

