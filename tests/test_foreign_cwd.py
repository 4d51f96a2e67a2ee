"""Queries run from any working directory. The package registers itself
with cloudpickle at import, so UDF closures travel to the Python workers
by value and no worker imports the package: a driver whose working
directory is not the repo root, with no PYTHONPATH, gets the same rows."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from data_pipeline_with_spark_kafka_spark.queries import all_queries
from tests.oracle_compare import normalize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY = "text_heavy_hitters"  # a mapInPandas query: it starts Python workers


def test_udf_query_runs_outside_the_repo_root(tmp_path, sf_dir, duck):
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        import __spark_entry__ as e
        pdf = e.queries()[{QUERY!r}](spark, {sf_dir!r}).toPandas()
        print(json.dumps(pdf.to_dict("list"), default=str))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    import pandas as pd

    got = pd.DataFrame(json.loads(out.stdout.strip().splitlines()[-1]))
    want = duck.execute(all_queries()[QUERY].oracle).df()
    assert len(got) > 0
    assert normalize(got) == normalize(want)
