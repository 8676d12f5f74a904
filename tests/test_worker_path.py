"""Python workers must import the package whatever the working directory.

Pandas-UDF queries ship functions that Python workers unpickle by module
path; the workers start in the driver's working directory, which need
not hold the package.  get_spark puts the package's parent directory on
the workers' path.
"""

from __future__ import annotations

import os
import subprocess
import sys

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import registry
from stedi_human_balance_redis_kafka_spark_streaming_spark.session import get_spark
spark = get_spark(app_name="worker-path", cpus=2, shuffle_partitions=2)
rows = registry.queries()["multimodal_byte_features"](spark, {sf!r}).collect()
print("ROWS", len(rows))
"""


def test_python_worker_query_runs_from_any_working_directory(tmp_path):
    # The driver finds the package only through its own sys.path; with
    # no PYTHONPATH in the environment, the workers can find it only
    # through the session's configuration.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO, sf=SF_DIR)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    n_rows = int(proc.stdout.split("ROWS")[-1])
    assert n_rows > 0
