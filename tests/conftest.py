from __future__ import annotations

import itertools

import pytest

from bitcoin_ledger_2es_spark.session import get_spark
from bitcoin_ledger_2es_spark.sources.synth import gen_transcripts_pdf

_JOB_GROUPS = itertools.count()
# the session's SparkSession and the session-scoped frames it keeps cached
_SESSION: dict = {"spark": None, "cached": []}
# The status store keeps the last 1000 jobs/stages/SQL executions (with
# every plan node's metrics) and 100k tasks by default, all on the driver
# heap for the whole test session. count_jobs only looks at the newest jobs.
_STATUS_RETENTION = {
    "spark.ui.retainedJobs": "200",
    "spark.ui.retainedStages": "200",
    "spark.ui.retainedTasks": "2000",
    "spark.sql.ui.retainedExecutions": "50",
}


def count_jobs(sc, fn) -> int:
    """Run ``fn()`` under a fresh Spark job group; return how many jobs it
    started."""
    tag = f"count-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", cores=8, shuffle_partitions=8, extra=_STATUS_RETENTION)
    _SESSION["spark"] = s
    yield s
    _SESSION["spark"] = None
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _release_module_caches():
    """Drop what a test module cached once the module is done.

    Index builds persist their frames and nothing unpersists them, so
    without this every module's indexes stay in the driver's storage
    memory for the rest of the session. Session-scoped frames are cached
    again; a full GC lets the context cleaner drop the module's broadcasts
    and shuffles and lets the JVM give the freed heap back."""
    yield
    s = _SESSION["spark"]
    if s is None:
        return
    try:
        s.catalog.clearCache()
        for df in _SESSION["cached"]:
            df.cache()
        s.sparkContext._jvm.System.gc()
    except Exception:  # a JVM that already died has nothing left to release
        pass


@pytest.fixture(scope="session")
def tiny_pdf():
    return gen_transcripts_pdf(n_conv=200, seed=42)


@pytest.fixture(scope="session")
def tiny_df(spark, tiny_pdf):
    from bitcoin_ledger_2es_spark.sources.synth import TRANSCRIPTS_DDL

    df = spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS_DDL).cache()
    _SESSION["cached"].append(df)
    return df
