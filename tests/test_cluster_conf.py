"""Cluster-sizing arithmetic: the partition math must scale with data,
fill whole waves, clamp at both ends, and produce confs a builder
accepts."""

import os

from jobx_spark.cluster import (
    MAX_SHUFFLE_PARTITIONS,
    MB,
    TB,
    cluster_conf,
)
from jobx_spark.session import driver_heap


def _parts(conf):
    return int(conf["spark.sql.shuffle.partitions"])


def test_partitions_scale_with_input():
    small = _parts(cluster_conf(1 * TB))
    big = _parts(cluster_conf(100 * TB))
    assert big > small
    # 100 TB at 0.5 shuffle fraction / 128 MB target ≈ 400k → clamped
    assert big == MAX_SHUFFLE_PARTITIONS


def test_partitions_are_full_waves():
    conf = cluster_conf(10 * TB, executors=1000, cores_per_executor=4)
    assert _parts(conf) % 4000 == 0


def test_floor_is_twice_total_cores():
    conf = cluster_conf(1 * MB, executors=10, cores_per_executor=4)
    assert _parts(conf) == 80  # 2 × 40 cores, tiny input


def test_broadcast_budget_capped():
    lo = int(cluster_conf(1 * TB, executor_mem_gb=4)[
        "spark.sql.autoBroadcastJoinThreshold"
    ])
    hi = int(cluster_conf(1 * TB, executor_mem_gb=64)[
        "spark.sql.autoBroadcastJoinThreshold"
    ])
    assert lo == 64 * MB  # 4 GB / 64
    assert hi == 256 * MB  # capped


def test_confs_apply_to_a_real_session(spark):
    # runtime-settable subset must be accepted verbatim
    conf = cluster_conf(1 * TB, executors=2, cores_per_executor=4)
    for key in (
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
    ):
        spark.conf.set(key, conf[key])
    assert spark.conf.get("spark.sql.shuffle.partitions") == conf[
        "spark.sql.shuffle.partitions"
    ]
    # restore the local tuning
    from jobx_spark.session import tune_for_session

    tune_for_session(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * MB))


def test_driver_heap_is_a_quarter_of_memory_clamped():
    gib = 2**30
    assert driver_heap(2 * gib) == "1g"  # floor
    assert driver_heap(15 * gib) == "3g"  # whole GiB, rounded down
    assert driver_heap(64 * gib) == "16g"
    assert driver_heap(512 * gib) == "16g"  # cap
    machine = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert driver_heap() == driver_heap(machine)
