package graft

import graft.obs.Probe
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

class ProbeSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val probe = Probe.attach(spark)

  override def afterAll(): Unit = try probe.detach() finally super.afterAll()

  private def window(body: => Unit) = {
    val before = probe.snapshot()
    body
    probe.snapshot().since(before)
  }

  private def grouped() =
    spark.range(0, 20000, 1, 4).groupBy(col("id") % 97).count().collect()

  private def mapped() =
    spark.range(0, 20000, 1, 4).select((col("id") * 2).as("x")).collect()

  test("a groupBy window shows shuffle write, a pure map window none") {
    val g = window(grouped())
    assert(g.shuffleWriteBytes > 0 && g.shuffleReadBytes > 0)
    assert(g.stages.size >= 2 && g.jobs.nonEmpty && g.jobsWallS >= 0)
    val m = window(mapped())
    assert(m.shuffleWriteBytes == 0 && m.shuffleReadBytes == 0)
    assert(m.memSpillBytes == 0 && m.diskSpillBytes == 0)
  }

  test("the task count equals the partition count") {
    val w = window(spark.range(0, 7000, 1, 7).select(col("id") + 1).collect())
    assert(w.stages.size == 1)
    assert(w.tasks == 7)
    assert(w.stages.head.maxTaskMs >= w.stages.head.medianTaskMs)
  }

  test("back-to-back windows do not bleed into each other") {
    val s0 = probe.snapshot()
    grouped()
    val s1 = probe.snapshot()
    val split = System.currentTimeMillis()
    mapped()
    val s2 = probe.snapshot()
    val first = s1.since(s0)
    val second = s2.since(s1)
    assert(first.shuffleWriteBytes > 0)
    assert(second.shuffleWriteBytes == 0 && second.tasks == 4)
    assert(first.stages.map(_.id).intersect(second.stages.map(_.id)).isEmpty)
    val both = s2.since(s0)
    assert(both.shuffleWriteBytes == first.shuffleWriteBytes)
    assert(both.tasks == first.tasks + second.tasks)
    // the batch split StreamBench relies on: stages by submit time
    assert(both.submittedIn(split, Long.MaxValue).stages == second.stages)
  }

  test("an action's window reports its planning phases") {
    val w = window(spark.range(100).filter(col("id") > 5).collect())
    assert(w.actions.map(_.name) == Seq("collect"))
    assert(Set("analysis", "optimization", "planning").subsetOf(w.phasesS.keySet),
      w.phasesS)
    assert(w.planningS >= 0)
    assert(w.json.startsWith("{\"planning_s\":"))
  }
}
