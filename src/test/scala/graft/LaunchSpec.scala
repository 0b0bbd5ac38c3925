package graft

/** The session factory and the process knobs every main reads. */
class LaunchSpec extends SparkSpec {

  test("the shared session comes from the factory: local[4], 4 shuffle partitions, UTC, no UI") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("SPARK_GRAFT_CPUS: unset means every core, a positive count is taken, anything else throws") {
    assert(Launch.cpus(Map.empty[String, String]) == Runtime.getRuntime.availableProcessors)
    assert(Launch.cpus(Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
    Seq("0", "-1", "x").foreach { v =>
      val e = intercept[IllegalArgumentException](Launch.cpus(Map("SPARK_GRAFT_CPUS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_ONLY: unset selects all, a valid subset passes through, a typo throws") {
    val valid = Seq("q1", "q2", "q3")
    assert(Launch.only(valid, Map.empty).isEmpty)
    assert(Launch.only(valid, Map("SPARK_GRAFT_ONLY" -> "q3, q1")).contains(Set("q1", "q3")))
    val e = intercept[IllegalArgumentException](
      Launch.only(valid, Map("SPARK_GRAFT_ONLY" -> "q1,q4,qq")))
    assert(e.getMessage.contains("q4,qq"), e.getMessage)
  }
}
