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


def rows_to_dict(df, key_cols=("ix", "iy"), val_col="value"):
    return {tuple(r[k] for k in key_cols): r[val_col] for r in df.collect()}
