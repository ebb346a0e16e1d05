"""The driver JVM runs with the JIT thresholds ``session._BASE_CONF`` sets.

The check reads the flags the running JVM took (``HotSpotDiagnosticMXBean``),
not the conf string: a conf that never reaches the JVM launch (set on
``spark.executor.*``, or with ``spark.conf.set`` after the JVM started)
leaves the JDK defaults in place and fails here.
"""

import pytest

# JDK 17 defaults: 5000, 600, 15000, 40000.
TIER4_X10 = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}


@pytest.mark.parametrize("flag", sorted(TIER4_X10))
def test_driver_jvm_tier4_thresholds(spark, flag):
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption(flag).getValue() == TIER4_X10[flag]
