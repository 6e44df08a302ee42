"""Session defaults that are JVM launch options: they only take effect when
get_spark starts the JVM, so they are checked on the running one."""

from __future__ import annotations

import os

from sparkfulltextquery_spark.session import young_gen_opt


def test_young_gen_opt_is_an_eighth_of_the_heap():
    assert young_gen_opt("8g") == "-Xmn1048576k"
    assert young_gen_opt("16G") == "-Xmn2097152k"
    assert young_gen_opt("512m") == "-Xmn65536k"
    assert young_gen_opt("8gb") == "-Xmn1048576k"
    assert young_gen_opt("lots") == ""


def test_session_jvm_runs_with_a_fixed_young_generation(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    want = young_gen_opt(os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    assert want in args, args
