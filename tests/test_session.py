"""JIT profile of the driver JVM that ``get_spark`` starts (DESIGN §4.35).

A default session is short-lived: its driver JVM stops at C1 and keeps
the tiered code-cache size. ``long_lived=True`` sessions, such as the
one this suite shares, keep the tiered JIT.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def jvm_report(spark) -> dict:
    """JIT flags and input arguments of the session's driver JVM."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return {
        "TieredStopAtLevel": hotspot.getVMOption("TieredStopAtLevel").getValue(),
        "ReservedCodeCacheSize": hotspot.getVMOption("ReservedCodeCacheSize").getValue(),
        "args": list(mf.getRuntimeMXBean().getInputArguments()),
    }


PROBE = """
import json, sys
sys.path[:0] = [{root!r}, {tests!r}]
from stock_indicators_etl_spark.session import get_spark
from test_session import jvm_report
spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.driver.extraJavaOptions": "-Dsie.probe=1"}})
print("REPORT " + json.dumps(jvm_report(spark)))
spark.stop()
"""


def test_default_session_starts_c1_only_driver():
    """A fresh default session runs C1 only with a 240 MB code cache,
    and a caller's extraJavaOptions still reach the JVM."""
    code = PROBE.format(root=ROOT, tests=os.path.join(ROOT, "tests"))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-2000:]
    report = json.loads(lines[-1][len("REPORT "):])
    assert report["TieredStopAtLevel"] == "1"
    assert report["ReservedCodeCacheSize"] == str(240 * 1024 * 1024)
    assert "-Dsie.probe=1" in report["args"]


def test_long_lived_session_keeps_tiered_jit(spark):
    """The suite's session is long-lived: full tiered compilation."""
    assert jvm_report(spark)["TieredStopAtLevel"] == "4"
