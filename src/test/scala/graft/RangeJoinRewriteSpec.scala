package graft

import graft.plans.RangeJoinRewrite
import org.apache.spark.sql.functions._

/** The injected optimizer rule: naive `BETWEEN` joins stop planning as
  * nested loops and still return identical results. */
class RangeJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  /** The nested-loop reference. The shared session carries GraftExtensions,
    * so it plans with the rule unless this turns it off. */
  private def withoutRule[A](f: => A): A = {
    spark.conf.set("spark.graft.rangeJoin.enabled", "false")
    try f finally spark.conf.unset("spark.graft.rangeJoin.enabled")
  }

  private val pts = (0L to 500L).toDF("p")
  private val ivs = (0L until 40L).map(i => (i, i * 12, i * 12 + 9))
    .toDF("iv_id", "lo", "hi")

  test("BETWEEN join rewrites to a bin equi-join; results identical") {
    val naive = withoutRule(pts.join(ivs, $"p" >= $"lo" && $"p" <= $"hi")
      .select("p", "iv_id").as[(Long, Long)].collect().toSet)
    val df = pts.join(ivs, $"p" >= $"lo" && $"p" <= $"hi")
    val (rewritten, plan) = (df.select("p", "iv_id").as[(Long, Long)].collect().toSet,
      df.queryExecution.executedPlan.toString)
    assert(rewritten == naive && naive.nonEmpty)
    // the narrow branch is a bin equi-join (hash join on the synthesized key);
    // the union's wide arm keeps a nested-loop node but only sees intervals
    // wider than the bin cap (none here)
    assert(plan.contains("graft_range_bin"), plan)
    assert(plan.contains("HashJoin [graft_range_bin") ||
      plan.contains("SortMergeJoin [graft_range_bin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("strict bounds and reversed operand order also rewrite, exactly") {
    val naive = withoutRule(pts.join(ivs, $"lo" <= $"p" && $"p" < $"hi")
      .select("p", "iv_id").as[(Long, Long)].collect().toSet)
    val df = pts.join(ivs, $"lo" <= $"p" && $"p" < $"hi")
    val (rewritten, plan) = (df.select("p", "iv_id").as[(Long, Long)].collect().toSet,
      df.queryExecution.executedPlan.toString)
    assert(rewritten == naive)
    assert(plan.contains("graft_range_bin"), plan)
  }

  test("inverted intervals (lo > hi) match nothing instead of crashing") {
    val dirty = Seq((100L, 0L, 10L), (101L, 5L, 3L), (102L, 50L, 40L))
      .toDF("iv_id", "lo", "hi")
    val naive = withoutRule(pts.join(dirty, $"p" >= $"lo" && $"p" <= $"hi")
      .select("p", "iv_id").as[(Long, Long)].collect().toSet)
    val rewritten = pts.join(dirty, $"p" >= $"lo" && $"p" <= $"hi")
      .select("p", "iv_id").as[(Long, Long)].collect().toSet
    assert(rewritten == naive)
    assert(naive.map(_._2) == Set(100L)) // only the sane interval matches
  }

  test("intervals wider than the bin cap route through the union's nested-loop side") {
    val mixed = Seq((100L, 0L, 5L), (101L, -100000L, 100000L)) // narrow + huge
      .toDF("iv_id", "lo", "hi")
    val naive = withoutRule(pts.join(mixed, $"p".between($"lo", $"hi"))
      .select("p", "iv_id").as[(Long, Long)].collect().toSet)
    spark.conf.set("spark.graft.rangeJoin.maxBinsPerInterval", "4")
    val (rewritten, plan) = try {
      val df = pts.join(mixed, $"p".between($"lo", $"hi"))
      (df.select("p", "iv_id").as[(Long, Long)].collect().toSet, df.queryExecution.optimizedPlan)
    } finally spark.conf.unset("spark.graft.rangeJoin.maxBinsPerInterval")
    assert(rewritten == naive && naive.nonEmpty)
    assert(plan.toString.contains("Union"), plan)
    // one arm joins on the bin key, the other (wide intervals) without it; the
    // session's optimizer prunes the wide-arm marker column from the plan
    val joins = plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
      j.condition.map(_.toString).getOrElse("") }
    assert(joins.size == 2 && joins.count(_.contains("graft_range_bin")) == 1, plan)
  }

  test("joins with an equi key are left alone") {
    val l = Seq((1L, 5L), (2L, 20L)).toDF("k", "v")
    val r = Seq((1L, 0L, 10L), (2L, 0L, 10L)).toDF("k2", "lo", "hi")
    val df = l.join(r, $"k" === $"k2" && $"v".between($"lo", $"hi"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("graft_range_bin"), plan)
    assert(df.count() == 1)
  }

  test("extra cross-side conjuncts survive in the post-filter") {
    val naive = withoutRule(pts.join(ivs, $"p".between($"lo", $"hi") && $"p" =!= $"iv_id" * 12L)
      .select("p", "iv_id").as[(Long, Long)].collect().toSet)
    val rewritten = pts.join(ivs, $"p".between($"lo", $"hi") && $"p" =!= $"iv_id" * 12L)
      .select("p", "iv_id").as[(Long, Long)].collect().toSet
    assert(rewritten == naive)
  }

  test("converges alongside ColumnPruning (the production injectOptimizerRule batch)") {
    // in the production path the rule shares a fixed-point batch with
    // ColumnPruning, which strips the wide-arm marker column — the structural
    // width-guard check must stop re-firing without it
    import org.apache.spark.sql.catalyst.optimizer.ColumnPruning
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, LogicalPlan}
    val analyzed = pts.join(ivs, $"p".between($"lo", $"hi")).select("p", "iv_id")
      .queryExecution.analyzed
    def joins(p: LogicalPlan): Int = p.collect { case j: LJoin => j }.size
    var plan: LogicalPlan = RangeJoinRewrite(analyzed)
    val afterFirst = joins(plan)
    for (_ <- 1 to 5) plan = RangeJoinRewrite(ColumnPruning(plan))
    assert(joins(plan) == afterFirst,
      s"rule kept re-firing: ${joins(plan)} joins vs $afterFirst after first pass")
  }

  test("user filters matching the width-guard shape are conservatively skipped") {
    val filtered = ivs.where(($"hi" - $"lo") > 1000L)
    val plan = pts.join(filtered, $"p".between($"lo", $"hi"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("graft_range_bin"), plan)
  }

  test("disabled via conf") {
    val plan = withoutRule(pts.join(ivs, $"p".between($"lo", $"hi"))
      .queryExecution.optimizedPlan.toString)
    assert(!plan.contains("graft_range_bin"), plan)
  }

  test("SQL path through the injected extensions rewrites too") {
    pts.createOrReplaceTempView("rr_pts")
    ivs.createOrReplaceTempView("rr_ivs")
    val df = spark.sql("SELECT p, iv_id FROM rr_pts JOIN rr_ivs ON p BETWEEN lo AND hi")
    val (n, plan) = (df.count(), df.queryExecution.executedPlan.toString)
    assert(n == 400L) // 40 intervals x 10 covered points
    assert(plan.contains("graft_range_bin"), plan)
  }
}
