package graft

/** Dev tool (the Profile* family): execute every registry query at
  * sf0.001 and report which FINAL adaptive plans still contain a
  * SortMergeJoin — the round-11 residual-spill sweep's audit surface.
  * An SMJ is not automatically wrong (fact⋈fact pair joins buffer
  * less under sort-merge), but every hit should be an explicit
  * decision, not an accident.
  *
  *   sbt "Test/runMain graft.PlanAudit [sfDir]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Launch.session("graft-planaudit", cpus = 8)
    spark.sparkContext.setLogLevel("ERROR")
    val hits = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try {
        val df = q(spark, sf)
        df.count() // drive AQE to the final plan
        val p = df.queryExecution.executedPlan.toString
        val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
        if (smj > 0) Some(name -> smj) else None
      } catch { case e: Throwable =>
        System.err.println(s"[planaudit] $name ERROR ${e.toString.take(120)}")
        None
      }
    }
    println("[planaudit] queries with SortMergeJoin in the FINAL plan:")
    hits.foreach { case (n, c) => println(f"[planaudit]   $n%-28s x$c") }
    println(s"[planaudit] total ${hits.size} of ${SparkEntry.queries.size}")
    spark.stop()
  }
}
