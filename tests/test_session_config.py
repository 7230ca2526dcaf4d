"""Pin the session configuration: the default session launches with no
``-XX`` JVM flag overrides. A deployment that needs launch-time JVM
options passes them through ``get_spark(extra_conf=...)`` or
``PYSPARK_SUBMIT_ARGS``.
"""

from __future__ import annotations

import re
from pathlib import Path


def test_no_jvm_flag_overrides_by_default(spark):
    """No -XX overrides ride the driver/executor JVMs by default."""
    for role in ("driver", "executor"):
        try:
            opts = spark.conf.get(f"spark.{role}.extraJavaOptions")
        except Exception:
            opts = ""  # unset = exactly what we want
        assert "-XX:-DontCompileHugeMethods" not in (opts or ""), (role, opts)


def test_live_driver_jvm_has_no_huge_method_flag(spark):
    """The live driver JVM really launched without the huge-method flag
    (a launch-time option; this reads the JVM's input arguments)."""
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


def test_program_env_knobs_are_deployment_only():
    """The program reads only deployment-sizing env vars: core count and
    driver memory. A knob that selects an implementation or carries JVM
    flags adds a configuration that no test or benchmark covers."""
    pkg = Path(__file__).resolve().parent.parent / "vlm_data_pipeline_spark"
    names = {
        m
        for f in pkg.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read_text())
    }
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}, names
