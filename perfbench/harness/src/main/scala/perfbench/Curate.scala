package perfbench

import graft.SparkEntry
import graft.functions.{BoilerplateExpr, HashExpressions, TextFunctions, TextStatsExpr}
import graft.operators._
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** LLM-data curation over the documents corpus: one `SparkEntry` query per
  * curation operator, each materialized through the noop sink. The warm-up
  * pass writes each result once instead, for the oracle check. The composed
  * crawl chain `c02`, DSIR weighting and the fingerprint-index increments are
  * timed in the traced run only: a run fits two passes of the queries below
  * and nothing slower (the chains take seconds each, and 15-30 s per DuckDB
  * oracle). */
object Curate extends Workload {
  /** `curate` passes are shorter and its JIT curve steeper than `ingest`'s:
    * with three timed passes its throughput spread 0.14 over ten seeds. */
  override def minPasses: Int = 4
  val queries: Seq[String] = Seq(
    "t23_boilerplate", // Boilerplate.extract
    "t22_language_id", // LangId.classify
    "t06_quality_filter", // Quality.flags
    "t15_lm_perplexity", // Quality.lmScore
    "t24_kn_trigram_lm", // Quality.knTrigramScore
    "t25_url_filter", // UrlFilter.flags
    "d02_dedup_fingerprint", // Dedup.byFingerprint
    "d03_minhash_pairs", // Dedup.minhashPairs
    "d07_dedup_clusters") // Dedup.ngramJaccardPairs + Components.clusters

  /** Traced runs: seconds spent forcing the executed plan, per timed pass. */
  private val planSeconds = mutable.Map[Int, Double]().withDefaultValue(0.0)

  def ops(ctx: Ctx): Seq[Op] = {
    val spark = ctx.spark
    val docs = Lake.table(spark, ctx.lake, "documents").count()
    val oracles = SparkEntry.oracleSql
    val resultRows = mutable.Map[String, Long]()
    queries.map { q =>
      val fn = SparkEntry.queries(q)
      Op(q, pass => {
        val df = fn(spark, ctx.lake)
        if (ctx.tracer.enabled && pass > 0)
          planSeconds(pass) += Layers.timed(ctx, s"$q.plan")(df.queryExecution.executedPlan)
        if (pass == 0) {
          val out = ctx.dir("check", q)
          val obs = Observation()
          df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite").parquet(out)
          resultRows(q) = obs.get("rows").asInstanceOf[Long]
          ctx.check(q, 0, "sql", "got" -> s"SELECT * FROM read_parquet('$out/*.parquet')",
            "want" -> oracles(q))
        } else df.write.format("noop").mode("overwrite").save()
        OpOut(docs, resultRows(q))
      })
    }
  }

  private val Html = Seq(
    "<html><body><nav><a href=\"/\">home</a> <a href=\"/a\">about</a> <a href=\"/c\">contact</a></nav><p>",
    "</p><div class=\"foot\"><a href=\"/t\">terms</a> <a href=\"/p\">privacy</a> all rights reserved</div></body></html>")

  def isolated(ctx: Ctx, opSeconds: Map[String, Double]): Map[String, Double] = {
    val spark = ctx.spark
    val m = mutable.Map[String, Double]()
    var chain: DataFrame = null
    m("operators.curate_plan_s") = Layers.timed(ctx, "c02.plan") {
      chain = SparkEntry.queries("c02_crawl_pipeline")(spark, ctx.lake)
    }
    m("operators.curate_exec_s") = Layers.noop(ctx, "c02.exec", chain)
    spark.catalog.clearCache()
    m("operators.increments_s") = Layers.noop(ctx, "i03_fingerprint_index",
      SparkEntry.queries("i03_fingerprint_index")(spark, ctx.lake))

    val docs = Lake.table(spark, ctx.lake, "documents").select("doc_id", "text", "lang", "source")
    val pages = docs.select(col("doc_id"), col("lang"), col("source"),
      concat(lit(Html(0)), col("text"), lit(Html(1))).as("html"))
    def noop(name: String, df: => DataFrame): Double = Layers.noop(ctx, name, df)
    m("operators.boilerplate_s") = noop("boilerplate", Boilerplate.extract(pages, "doc_id", "html"))
    m("operators.langid_s") = noop("langid",
      LangId.classify(docs.where(col("doc_id") % 5 =!= 0), docs.where(col("doc_id") % 5 === 0),
        "doc_id", "text", "lang"))
    m("operators.quality_s") = noop("quality", Quality.flags(docs, "text"))
    m("operators.kn_score_s") = noop("kn_score", Quality.knTrigramScore(docs, "doc_id", "text"))
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.4)
    m("operators.dedup_s") = noop("dedup", pairs)
    val pairsDone = pairs.localCheckpoint()
    m("operators.components_s") = noop("components", Components.clusters(pairsDone, "id_a", "id_b"))
    m("operators.dsir_s") = noop("dsir", Dsir.importanceWeights(docs,
      docs.where(col("doc_id") % 97 === 0), "doc_id", "text", buckets = 1024))
    // one step: the last third of the corpus against an index of the rest
    def step(b: Long) = FingerprintIndex.step(docs.where(col("doc_id") % 3 === b), "text",
      ctx.dir("isolated", "fpindex"), b, expectedHistoryRows = 1000000L, expectedBatchRows = 1000000L)
    step(0); step(1)
    m("operators.fp_index_s") = Layers.timed(ctx, "fp_index")(step(2))
    val urls = docs.select(col("doc_id"), concat(lit("https://www."), col("source"), lit("-"),
      (col("doc_id") % 50).cast("string"), lit(".com/docs/page-"), col("doc_id").cast("string")).as("url"))
    m("operators.url_filter_s") = noop("url_filter", UrlFilter.flags(urls, "doc_id", "url",
      UrlFilter.Rules(blockedTlds = Seq("xyz")), blockedHosts = None))

    m("functions.token_stats_s") = noop("token_stats",
      docs.select(TextFunctions.tokenStats(col("text")).as("s")))
    // a bigram model over the first documents' words, for the scorer's walk
    val model = new java.util.HashMap[UTF8String, java.lang.Long]()
    val words = docs.select("text").limit(20).collect().flatMap(_.getString(0).split(" ")).distinct.take(40)
    for (a <- words; b <- words) model.put(UTF8String.fromString(s"$a $b"), -1000L)
    val bc = spark.sparkContext.broadcast(model)
    m("functions.word_gram_score_s") = noop("word_gram_score",
      docs.select(TextStatsExpr.word_gram_score(col("text"), bc, 2).as("s")))
    m("functions.boilerplate_expr_s") = noop("boilerplate_expr",
      pages.select(BoilerplateExpr.boilerplate_extract(col("html"), 5, 7).as("s")))
    m("functions.minhash_sig_s") = noop("minhash_sig",
      docs.select(HashExpressions.minhash_sig(HashExpressions.word_shingles(col("text"), 3), 64).as("s")))

    m("plans.plan_s") = planSeconds.values.sum / planSeconds.size.max(1)
    m("sources.extract_s") = noop("scan.documents", Lake.table(spark, ctx.lake, "documents"))
    m.toMap
  }
}
