"""tools/profile.py: one record per query with Spark's job counts, the
driver-only time and the plan operator counts."""

import importlib.util
import os
import subprocess
import sys
from pathlib import Path

import pytest

from rasters_jl_spark import fixtures as FX

TOOL = Path(__file__).resolve().parent.parent / "tools" / "profile.py"


@pytest.fixture(scope="module")
def tool():
    spec = importlib.util.spec_from_file_location("profile_tool", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_zonal_pages_record(spark, sf_dir, tool):
    rec, plans = tool.profile(spark, "zonal_pages", tool.builder(spark, sf_dir, "zonal_pages"), 1)
    assert rec["jobs"] >= 1 and rec["stages"] >= rec["jobs"]
    assert 0 <= rec["driver_s"] <= rec["wall_s"]
    assert rec["rows"] == len(FX.POLYS_GEO)  # one row per polygon
    # zonal_pages' final plan: one shuffle (the final groupBy), one
    # broadcast join (the cover; empty zones need no join back), no Python
    assert rec["plan"] == {
        "ShuffleExchange": 1, "BroadcastExchange": 2, "BroadcastHashJoin": 2,
        "SortMergeJoin": 0, "BroadcastNestedLoop": 0, "CodegenSpans": 6,
        "Python/ArrowEval": 0, "PushedFilters": 0, "HashAggregate": 2,
    }
    assert "isFinalPlan=true" in plans


def test_covered_s_is_the_union_within_the_window(tool):
    spans = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (-1.0, 0.5)]
    assert tool.covered_s(spans, 0.0, 6.5) == pytest.approx(0.5 + 3.0 + 0.5)


def test_runs_as_a_script_from_any_cwd(tmp_path):
    """Run as a script, tools/ is first on sys.path; the tool must not then
    shadow the standard library's profile module that pyspark imports.
    An unknown name is refused before any Spark session starts."""
    out = subprocess.run(
        [sys.executable, str(TOOL), "no_such_query"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": str(tmp_path)},
    )
    assert out.returncode == 2, out.stderr
    assert "not a bench piece or registry query: no_such_query" in out.stderr
