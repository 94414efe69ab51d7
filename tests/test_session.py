import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = f"""
import sys
sys.path.insert(0, {REPO!r})
from flink_examples_spark.session import get_spark


def probe(batches):
    import flink_examples_spark  # runs in the Python worker
    yield from batches


spark = get_spark("cwd-probe", master="local[1]", shuffle_partitions=1)
print(spark.range(3).mapInPandas(probe, "id long").count())
spark.stop()
"""


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """A UDF that imports the package runs when the driver's working
    directory is not the repository root: ``get_spark`` puts the
    package on the workers' path itself."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-1] == "3"
