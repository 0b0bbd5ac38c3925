package graft

import java.nio.file.{Files, Paths}

/** Dev tool (round-14 optimization deliverable): dump
  * `explain("formatted")` for registry queries into plan files the
  * judge can diff (`plans/r14/<query>_{before,after}.txt`).
  *
  *   sbt "Test/runMain graft.PlanDump <suffix> [sfDir] [outDir] [q1,q2,...]"
  *
  * Runs under Bench's session (the factory's, here on local[32]) so the
  * dumped INITIAL plan matches what the bench executes; the dump also
  * executes each query once (Force.rows) and appends the FINAL adaptive
  * plan, where join-strategy rewrites and coalesced reads show up.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2) else "plans/r14"
    val only = if (args.length > 3)
      Some(args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val spark = Launch.session("graft-plandump", cpus = 32)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(out))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val initial = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // execute THIS DataFrame's physical plan (all partitions, all
        // columns — noop-sink-equivalent, guide §1.4) so the adaptive
        // plan reaches its final form; Force.rows / df.write would
        // wrap the query in a NEW plan and leave this one unexecuted
        val df2 = fn(spark, dir)
        val plan2 = df2.queryExecution.executedPlan
        plan2.execute().foreach(_ => ())
        val fin = plan2.toString
        Files.writeString(Paths.get(s"$out/${name}_$suffix.txt"),
          s"== $name ($suffix, $dir) ==\n\n--- explain(formatted), initial ---\n" +
            initial + "\n--- FINAL adaptive plan (after execution) ---\n" + fin)
        println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        println(s"[plandump] $name ERROR ${e.toString.take(160)}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
