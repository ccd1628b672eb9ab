"""session.get_spark: with no environment overrides the session fits
the host it starts on — cores from the CPU affinity mask, shuffle and
spill under the temp dir on disk."""

import os
import tempfile

from pyspark.sql import SparkSession

from tildener_spark.session import get_spark


def test_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    # return the configured builder instead of a session: nothing
    # starts, and the shared test session keeps its own conf
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: self)
    conf = get_spark()._options
    cores = len(os.sched_getaffinity(0))
    assert conf["spark.sql.shuffle.partitions"] == str(max(cores, 8))
    assert conf["spark.local.dir"] == os.path.join(
        tempfile.gettempdir(), "spark-local")
