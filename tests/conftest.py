import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ontology_loader_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ontology-loader-spark-tests", master="local[4]",
                  extra_confs={"spark.sql.shuffle.partitions": "8",
                               "spark.ui.enabled": "false"})
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def no_leaked_streams(request):
    """Fail any test that leaves a streaming query running: a leaked
    query keeps scheduling micro-batches on the shared session and
    slows every later test."""
    yield
    if "spark" not in request.fixturenames:
        return
    active = request.getfixturevalue("spark").streams.active
    for q in active:
        q.stop()
    if active:
        pytest.fail(
            "streaming queries left running: "
            + ", ".join(str(q.name or q.id) for q in active)
        )
