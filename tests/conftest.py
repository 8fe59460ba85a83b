from __future__ import annotations

import pytest

from magicxml_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


# No session- or module-scoped fixture may hold a persisted or
# localCheckpointed DataFrame: test_oracle_parity.py's autouse sweep
# (release_persisted_rdds) unpersists every RDD in this shared context
# after each parity case, so any test that reads such a fixture after
# the parity module has run fails with a block-not-found error.
@pytest.fixture(scope="session")
def spark():
    s = get_spark("magicxml-tests", shuffle_partitions=8)
    yield s
    s.stop()
