"""Pin the round-14 JVM/codegen session configuration.

Round 13 shipped ``-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize``
to rescue a 64-term generated kernel; under the driver's cold-JVM
protocol those flags made C2 chew giant generated methods for the whole
suite (18/19 bench queries 2x slower — VERDICT r13). Round 14 removed
the flags and replaced the kernel (the obj_obj pair stage now computes
distances in a vectorized Arrow kernel), so the DEFAULT session must
carry NO JVM flag overrides. These tests pin the removal so a session.py
edit cannot silently reintroduce a suite-wide tax.
"""

from __future__ import annotations

import os

import pytest


def test_no_jvm_flag_overrides_by_default(spark):
    """No -XX overrides ride the driver/executor JVMs unless a
    deployment explicitly passes SPARK_GRAFT_JVM_OPTS."""
    if os.environ.get("SPARK_GRAFT_JVM_OPTS", "").strip():
        pytest.skip("deployment supplied SPARK_GRAFT_JVM_OPTS")
    for role in ("driver", "executor"):
        try:
            opts = spark.conf.get(f"spark.{role}.extraJavaOptions")
        except Exception:
            opts = ""  # unset = exactly what we want
        assert "-XX:-DontCompileHugeMethods" not in (opts or ""), (role, opts)


def test_live_driver_jvm_has_no_huge_method_flag(spark):
    """The live driver JVM really launched without the r13 flag (they
    are launch-time options; this reads the JVM's input arguments)."""
    if os.environ.get("SPARK_GRAFT_JVM_OPTS", "").strip():
        pytest.skip("deployment supplied SPARK_GRAFT_JVM_OPTS")
    args = (
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    live = {args.get(i) for i in range(args.size())}
    assert "-XX:-DontCompileHugeMethods" not in live


def test_huge_method_limit_default_is_spark_default(spark):
    """The WSCG bytecode ceiling stays at Spark's default: the
    per-operator-fallback alternative measured 2x slower steady-state
    (r13 ledger section 8), so the default must not drift."""
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "65535"


def test_dataframe_call_site_capture_off(spark):
    """Column-method call-site capture costs ~4 py4j round trips per
    call while plans are built; the session turns it off at build time,
    which is when PySpark reads and caches the flag."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
