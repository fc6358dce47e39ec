"""cold_pass_cpu_s counts the CPU the Python UDF workers spend, not only
the driver JVM and the driver Python."""

import os
import time

import run


def _own_cpu_s(pids):
    ticks = 0
    for pid in pids:
        fields = run._stat_fields(pid)
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def test_pandas_udf_cpu_shows_in_the_tree_total():
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    spark = (
        SparkSession.builder.master("local[1]")
        .appName("cpu-tree-test")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        pids = [spark._jvm.java.lang.ProcessHandle.current().pid(), os.getpid()]

        @pandas_udf("long")
        def burn(s: pd.Series) -> pd.Series:
            t0 = time.process_time()
            while time.process_time() - t0 < 1.5:
                pass
            return s + 1

        tree0, own0 = run._tree_cpu_s(os.getpid()), _own_cpu_s(pids)
        rows = spark.range(4, numPartitions=1).select(burn("id").alias("x")).collect()
        tree1, own1 = run._tree_cpu_s(os.getpid()), _own_cpu_s(pids)
    finally:
        spark.stop()
    assert sorted(r.x for r in rows) == [1, 2, 3, 4]
    # the 1.5 s the worker burned is in the tree total and not in the
    # driver JVM + driver Python figure
    assert (tree1 - tree0) - (own1 - own0) >= 1.2
