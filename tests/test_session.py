"""The session factory's JVM settings reach the running driver JVM."""

TIER_FLAG = "-XX:TieredStopAtLevel=1"


def test_driver_jvm_runs_c1_only(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert TIER_FLAG in args, args
    assert TIER_FLAG in spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
