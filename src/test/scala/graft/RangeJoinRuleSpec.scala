package graft

import graft.plans.{GraftExtensions, RangeJoinRewrite}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def ev = Tables(spark, "/root/testdata/sf0.001", "events")
  private def err = ev.filter($"event_type" === "error").select(
    $"event_id".as("err_id"), $"ts".as("w_start"),
    ($"ts" + expr("INTERVAL 5 MINUTES")).as("w_end"))
  private def purch = ev.filter($"event_type" === "purchase")
    .select($"event_id".as("p_id"), $"ts".as("p_ts"))

  private def naive = err.join(purch, $"p_ts" >= $"w_start" && $"p_ts" <= $"w_end")

  private def withRule[A](body: => A): A = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ RangeJoinRewrite
    try body
    finally spark.experimental.extraOptimizations = prev
  }

  test("rule rewrites the naive band join away from a nested loop, same rows") {
    val expected = naive.select($"err_id", $"p_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    withRule {
      val df = naive
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        plan.take(3000))
      assert(plan.contains("__rj_bucket"), plan.take(3000))
      val got = df.select($"err_id", $"p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    }
    // without the rule the same query really is a nested loop
    val before = naive.queryExecution.executedPlan.toString
    assert(before.contains("BroadcastNestedLoop") || before.contains("CartesianProduct"),
      before.take(3000))
  }

  test("rule leaves joins with a cross-side equi key alone") {
    withRule {
      val dim = Seq((0L, "a"), (1L, "b")).toDF("err_mod", "tag")
      val df = err.join(dim, ($"err_id" % 2) === $"err_mod" &&
        $"w_start" >= lit("2024-01-01").cast("timestamp") &&
        $"w_start" <= lit("2024-12-31").cast("timestamp"))
      assert(!df.queryExecution.optimizedPlan.toString.contains("__rj_bucket"))
    }
  }

  test("mirrored operand order (point on the right side) still rewrites") {
    withRule {
      val df = purch.join(err, $"w_start" <= $"p_ts" && $"w_end" >= $"p_ts")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        plan.take(3000))
      val got = df.select($"err_id", $"p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = naive.select($"err_id", $"p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    }
  }

  test("inverted intervals yield zero rows, not a sequence error") {
    withRule {
      val bad = err.select($"err_id", $"w_end".as("w_start"), $"w_start".as("w_end"))
      val df = bad.join(purch, $"p_ts" >= $"w_start" && $"p_ts" <= $"w_end")
      assert(df.count() == 0)
    }
  }

  test("strict bounds (< / >) rewrite too, with the open residual enforced") {
    val strict = err.join(purch, $"p_ts" > $"w_start" && $"p_ts" < $"w_end")
    val expected = strict.select($"err_id", $"p_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    withRule {
      val plan = strict.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        plan.take(3000))
      assert(plan.contains("__rj_bucket"), plan.take(3000))
      val got = strict.select($"err_id", $"p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
      // and the open bound is genuinely enforced: a point AT the
      // boundary joins under <= but must not under <
      val boundary = err.select($"err_id".as("b_id"), $"w_start".as("b_ts"))
      val closedHit = err.join(boundary, $"b_ts" >= $"w_start" && $"b_ts" <= $"w_end")
        .filter($"err_id" === $"b_id")
      val openHit = err.join(boundary, $"b_ts" > $"w_start" && $"b_ts" < $"w_end")
        .filter($"err_id" === $"b_id")
      assert(closedHit.count() > 0 && openHit.count() == 0)
    }
  }

  test("SQL BETWEEN desugars into the band the rule rewrites") {
    withRule {
      err.createOrReplaceTempView("rj_err")
      purch.createOrReplaceTempView("rj_purch")
      val df = spark.sql(
        """SELECT err_id, p_id FROM rj_err JOIN rj_purch
          |ON p_ts BETWEEN w_start AND w_end""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__rj_bucket"), plan.take(3000))
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        plan.take(3000))
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = naive.select($"err_id", $"p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    }
  }

  test("DateType bands rewrite on epoch-day buckets, same rows") {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select($"l_orderkey", $"l_shipdate".cast("date").as("ship_d"))
      .filter($"l_orderkey" % 100 === 0)
    val ord = Tables(spark, "/root/testdata/sf0.001", "orders")
      .filter($"o_orderkey" % 500 === 0)
      .select($"o_orderkey",
        $"o_orderdate".cast("date").as("w_lo"),
        date_add($"o_orderdate".cast("date"), 30).as("w_hi"))
    val naiveD = ord.join(li, $"ship_d" >= $"w_lo" && $"ship_d" <= $"w_hi")
    val expected = naiveD.select($"o_orderkey", $"l_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    withRule {
      val plan = naiveD.queryExecution.executedPlan.toString
      assert(plan.contains("__rj_bucket"), plan.take(3000))
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        plan.take(3000))
      val got = naiveD.select($"o_orderkey", $"l_orderkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    }
  }

  test("cast-wrapped bands match once coercion lands both sides on one type") {
    // string literals coerced to timestamp: the band the rule sees is
    // Cast(...)-wrapped but TimestampType on both sides
    withRule {
      val df = err.join(purch,
        $"p_ts" >= $"w_start".cast("timestamp") && $"p_ts" <= $"w_end".cast("timestamp"))
      assert(df.queryExecution.optimizedPlan.toString.contains("__rj_bucket"))
    }
  }

  test("rule declines a mixed-type band (date bound against timestamp point is coerced, long is not)") {
    withRule {
      // LongType pseudo-times: no unix_micros/unix_date reading — the
      // rule must leave the join alone rather than mis-bucket it
      val p2 = purch.select($"p_id", unix_micros($"p_ts").as("p_us"))
      val e2 = err.select($"err_id",
        unix_micros($"w_start").as("s_us"), unix_micros($"w_end").as("e_us"))
      val df = e2.join(p2, $"p_us" >= $"s_us" && $"p_us" <= $"e_us")
      assert(!df.queryExecution.optimizedPlan.toString.contains("__rj_bucket"))
    }
  }

  test("GraftExtensions injects the rule at session build") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // `withExtensions` is the programmatic twin of
      // `spark.sql.extensions=graft.plans.GraftExtensions`; the
      // string conf is STATIC — read from the SparkContext's conf at
      // session build — so it cannot be exercised against this
      // suite's already-running context, while the builder path
      // applies the same GraftExtensions.apply
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      try {
        val e2 = Tables(s2, "/root/testdata/sf0.001", "events")
        val er = e2.filter(col("event_type") === "error").select(
          col("event_id").as("err_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("w_end"))
        val pu = e2.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
        val df = er.join(pu,
          col("p_ts") >= col("w_start") && col("p_ts") <= col("w_end"))
        assert(df.queryExecution.optimizedPlan.toString.contains("__rj_bucket"),
          df.queryExecution.optimizedPlan.toString.take(2000))
      } finally {
        // do NOT stop() s2 — that would stop the SHARED SparkContext;
        // Artifacts holds s2 (its Tables entry) until that context ends
      }
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
