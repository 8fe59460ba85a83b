"""release_persisted_rdds: the between-measurements sweep bench.py and
q_probe use (localCheckpointed RDD blocks leak past the Python
DataFrame's lifetime — session.py documents the evidence)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from magicxml_spark.session import release_persisted_rdds


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_sweep_releases_localcheckpoint_blocks(spark):
    release_persisted_rdds(spark)  # start clean
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    ck = df.localCheckpoint(eager=True)
    assert ck.count() == 1000
    assert _n_persistent(spark) >= 1
    n = release_persisted_rdds(spark)
    assert n >= 1
    assert _n_persistent(spark) == 0


def test_rebuild_after_sweep_recomputes_from_source(spark):
    """The sweep's safety contract: a FRESH build after the sweep
    computes from its source unaffected (only re-execution of the
    already-checkpointed plan is forfeited — harnesses rebuild)."""
    release_persisted_rdds(spark)
    df = spark.range(100).withColumn("v", F.col("id") + 1)
    ck1 = df.localCheckpoint(eager=True)
    assert ck1.count() == 100
    release_persisted_rdds(spark)
    ck2 = df.localCheckpoint(eager=True)
    assert ck2.count() == 100
    assert ck2.agg(F.sum("v")).collect()[0][0] == 5050
    release_persisted_rdds(spark)


def test_default_driver_heap_fits_host_memory(spark):
    """The driver heap default must fit the host: a 32g default on a
    smaller box lets the local-mode JVM grow past physical RAM and get
    OOM-killed. SPARK_GRAFT_DRIVER_MEM, when set, is taken verbatim."""
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override is not None:
        assert conf == override
        return
    with open("/proc/meminfo") as fh:
        mem_total_kb = next(
            int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
        )
    to_bytes = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    assert to_bytes(conf) <= mem_total_kb * 1024
