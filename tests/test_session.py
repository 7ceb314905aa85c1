"""Session factory: deployment invariance of ``get_spark``."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

#: the checkout under test; the subprocess imports sparkgraft from it
REPO = str(Path(__file__).resolve().parents[1])


def test_codec_lane_runs_from_any_working_directory(sf_dir, tmp_path):
    """A lane whose Arrow workers unpickle sparkgraft functions must run
    from a working directory outside the checkout with no PYTHONPATH: the
    driver finds the package through its own sys.path, the workers only
    through the path get_spark hands them."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from sparkgraft import registry
        from sparkgraft.session import get_spark

        spark = get_spark("cwd-test", master="local[2]", shuffle_partitions=2)
        rows = registry.queries()["multimodal_decode_png"](spark, {sf!r}).collect()
        assert rows and all(r.pixels_match for r in rows), rows[:3]
        print("LANE_OK", len(rows))
        spark.stop()
        """
    ).format(repo=REPO, sf=os.path.abspath(sf_dir))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert "LANE_OK" in proc.stdout, f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-3000:]}"


def test_codegen_cache_holds_a_repeating_query_mix(spark):
    """A query mix repeated against the same tables must reuse its
    generated classes.  Each query below differs only in a long literal,
    which codegen inlines into the Java source, so the mix is ~300
    distinct classes: more than Spark's default 100-entry cache holds,
    where LRU misses on every access of the second cycle."""
    from pyspark.sql import functions as F

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def cycle():
        for i in range(150):
            spark.range(0, 1, 1, 1).select(F.col("id") + F.lit(10**12 + i)).collect()

    cycle()
    before = compiles.getCount()
    cycle()
    assert compiles.getCount() - before == 0
