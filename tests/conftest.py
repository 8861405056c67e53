import sys
from pathlib import Path

import pytest

# this checkout's package, not whichever copy is installed or first on the path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from rasters_jl_spark.session import get_spark

    s = get_spark(shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def counted(spark):
    """``counted(group, fn)``: ``fn()``'s result and the jobs and stages
    Spark ran for it under job group ``group``, counted as
    ``tools/profile.py`` counts them (StatusTracker; skipped stages too)."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = [s for j in jobs for s in st.getJobInfo(j).stageIds if st.getStageInfo(s)]
        return out, len(jobs), len(stages)

    return run


def rows_to_dict(df, key_cols=("ix", "iy"), val_col="value"):
    return {tuple(r[k] for k in key_cols): r[val_col] for r in df.collect()}
