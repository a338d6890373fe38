"""The session factory's JVM defaults reach the driver JVM it launches."""


def test_driver_jvm_uses_32mb_g1_regions(spark):
    """``session._G1_JAVA_OPTIONS`` is passed as
    ``spark.driver.defaultJavaOptions`` when the JVM starts: 4 MB
    broadcast chunks are then ordinary objects, not humongous ones that
    start G1 concurrent marks."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    assert bean.getVMOption("G1HeapRegionSize").getValue() == str(32 << 20)
    assert bean.getVMOption("UseG1GC").getValue() == "true"
