package perfbench

import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Per-layer metrics of a traced run. Every workload reports every name; a
  * layer the workload does not touch reads 0. */
object Layers {
  val names: Seq[String] = Seq(
    "sources.register_s", "sources.extract_s", "sources.jdbc_extract_s",
    "sources.scan_rows", "sources.scan_bytes", "sources.scan_rows_per_output_row",
    "transforms.apply_s",
    "sinks.parquet_write_s", "sinks.parquet_write_tasks", "sinks.ctl_s", "sinks.upload_s",
    "sinks.snapshot_write_s", "sinks.compact_s", "sinks.landed_files",
    "sinks.landed_bytes_per_row",
    "pipeline.run_self_s", "pipeline.increment_s",
    "streaming.ingest_s", "streaming.upsert_s", "streaming.batches",
    "operators.curate_plan_s", "operators.curate_exec_s", "operators.increments_s",
    "operators.boilerplate_s", "operators.langid_s", "operators.quality_s",
    "operators.kn_score_s", "operators.dedup_s", "operators.components_s",
    "operators.dsir_s", "operators.fp_index_s", "operators.url_filter_s",
    "functions.token_stats_s", "functions.word_gram_score_s",
    "functions.boilerplate_expr_s", "functions.minhash_sig_s",
    "plans.plan_s", "plans.exchanges", "plans.wscg_stages", "plans.non_codegen_nodes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_records", "spark.spill_bytes", "spark.gc_s",
    "spark.executor_cpu_s", "spark.executor_run_s", "spark.cpu_util", "spark.idle_s")

  /** Seconds taken by `body`, run as its own span. */
  def timed(ctx: Ctx, name: String)(body: => Any): Double = {
    val t0 = System.nanoTime()
    ctx.tracer.span(name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to materialize `df` through the noop sink, as its own span. */
  def noop(ctx: Ctx, name: String, df: => DataFrame): Double =
    timed(ctx, name)(df.write.format("noop").mode("overwrite").save())

  /** Counts are taken from the first timed pass, whose work is the same on
    * every run of a seed; times of operations are means over all passes. */
  def compute(tracer: Tracer, records: Seq[Map[String, Any]], spanOfOp: Map[(String, Int), Int],
              isolated: Map[String, Double], registerS: Double): collection.Map[String, Double] = {
    require(isolated.keySet.subsetOf(names.toSet), s"unknown layer metrics: ${isolated.keySet -- names}")
    val m = mutable.LinkedHashMap[String, Double]() ++ names.map(_ -> 0.0)
    m("sources.register_s") = registerS
    val pass1 = records.filter(_("pass") == 1)
    def sum(key: String): Double = pass1.map(r => r(key).asInstanceOf[Number].doubleValue).sum
    val spans = tracer.allSpans.map(s => s.id -> s).toMap
    val opIds = pass1.map(r => spanOfOp((r("name").asInstanceOf[String], 1)))
    val k = tracer.total(opIds.flatMap(tracer.subtree))
    val scanRows = k.scans.values.map(_._1).sum.toDouble
    m("sources.scan_rows") = scanRows
    m("sources.scan_bytes") = k.scans.values.map(_._2).sum.toDouble
    m("sources.scan_rows_per_output_row") = scanRows / math.max(1.0, sum("result_rows"))
    m("sinks.landed_files") = sum("landed_files")
    m("sinks.landed_bytes_per_row") = sum("landed_bytes") / math.max(1.0, sum("landed_rows"))
    m("streaming.batches") = k.c("streaming_batches").toDouble
    m("plans.exchanges") = k.c("exchanges").toDouble
    m("plans.wscg_stages") = k.c("wscg_stages").toDouble
    m("plans.non_codegen_nodes") = k.c("non_codegen_nodes").toDouble
    Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
      "shuffle_records", "spill_bytes").foreach(n => m(s"spark.$n") = k.c(n).toDouble)
    m("spark.gc_s") = k.c("gc_ms") / 1e3
    m("spark.executor_cpu_s") = k.c("executor_cpu_ns") / 1e9
    m("spark.executor_run_s") = k.c("executor_run_ms") / 1e3
    m("spark.cpu_util") = m("spark.executor_run_s") / math.max(1e-9, sum("seconds") * Main.Cores)
    m("spark.idle_s") = opIds.map { id =>
      val s = spans(id)
      Tracer.idleMs(s.startMs, s.endMs, tracer.total(tracer.subtree(id)).taskIntervals.toSeq)
    }.sum / 1e3
    m ++= isolated
  }
}
