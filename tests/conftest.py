import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_optimized_data_pipelines_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("engine-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def session_checkpoint_dir(spark, tmp_path):
    """Calling it sets the session's checkpoint dir (so ``pin`` makes
    reliable checkpoints) and returns the dir; afterwards the session
    has no checkpoint dir again."""
    sc = spark.sparkContext

    def set_dir():
        path = tmp_path / "ckpt"
        sc.setCheckpointDir(str(path))
        return path

    yield set_dir
    # SparkContext has no public unset: assign scala.None to the field
    none = getattr(getattr(spark._jvm, "scala.None$"), "MODULE$")
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(none)
    assert sc.getCheckpointDir() is None
