"""Paths, environment and small helpers shared by the workloads."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# Spark cores: fixed so a figure means the same on any host with >= 2 cores.
# Two, not all: at these input sizes a build or query is bound by per-job
# and per-task overhead, not by parallel work, and the free cores keep the
# Spark driver's JIT compiler and collector threads from competing with tasks,
# which made figures on a 4-core host wander from run to run.
CORES = min(2, len(os.sched_getaffinity(0)))


def setup_env() -> None:
    """Keep Spark, the JVM and Python workers inside the work directory and
    let Python workers import the engine from the repository root."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    sys.path.insert(0, str(ROOT))


def source_hash() -> str:
    """Hash of the engine's and this benchmark's sources: cached indexes
    and oracles are keyed on it, so nothing built by a different source
    tree is ever served."""
    h = hashlib.sha256()
    for pkg in (ROOT / "bitcoin_ledger_2es_spark", ROOT / "perfbench"):
        for p in sorted(pkg.rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def start_session():
    """-> (spark, seconds): JVM launch, session creation and the first job
    (which pays executor start-up)."""
    t0 = time.perf_counter()
    from bitcoin_ledger_2es_spark.session import get_spark

    spark = get_spark(
        "perfbench", cores=CORES, shuffle_partitions=2 * CORES,
        extra={
            # a fixed-size heap, touched at start-up, so the JVM's resident
            # set does not depend on how far the collector has spread
            # promoted objects through the old generation
            "spark.driver.extraJavaOptions":
                "-XX:+UseParallelGC -Xms2g -Xmn512m -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    from pyspark import SparkContext

    from host import process_tree

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def tail_summary(xs: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (none below 20 samples), with the sample count."""
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None}
    if len(xs) >= 20:
        q = 1.0 - 10.0 / len(xs)
        out[f"p{round(100 * q)}"] = float(np.quantile(xs, q))
    return out


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def guarded(fn, errors: list[str], what: str):
    """Call ``fn``; on an exception record it and return None."""
    try:
        return fn()
    except Exception:
        errors.append(f"{what}: {traceback.format_exc()}")
        return None


def noop_job_s(spark, tr, index_path: Path, cfg) -> float:
    """Median of three no-op ``mapInPandas`` jobs over a pruned postings
    scan: the Spark job + Python task floor every query pays."""
    from pyspark.sql import functions as F

    from bitcoin_ledger_2es_spark import read_index

    postings = read_index(spark, str(index_path), cfg).postings
    probe = postings.filter(F.col("term_id").isin([0])).mapInPandas(
        lambda it: (b[["shard_id"]].iloc[:0] for b in it), schema="shard_id long")
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        with tr.span("session.noop_job"):
            probe.collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
