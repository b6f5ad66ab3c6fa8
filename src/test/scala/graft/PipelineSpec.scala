package graft

import graft.config.{DatasetConfig, SourceConfig, TransformConfig}
import graft.pipeline.IngestionPipeline
import graft.sinks.CtlManifest
import org.apache.hadoop.fs.Path

import java.nio.file.Files
import java.time.{ZoneOffset, ZonedDateTime}

/** End-to-end: the SURVEY §7.2 minimum slice — parameterized SQL extraction over
  * the lake, cleansing + validation, single-file parquet + CTL, all atomic. */
class PipelineSpec extends SparkSpec {

  private val now = ZonedDateTime.of(2026, 8, 12, 12, 0, 0, 0, ZoneOffset.UTC)

  private def tradesConfig = DatasetConfig(
    datasetId = "trades-test",
    source = SourceConfig(extractionType = "Query",
      sqlText = """SELECT l_orderkey, l_shipdate, l_quantity, l_returnflag FROM lineitem
                  |WHERE l_shipdate BETWEEN :StartDate AND :EndDate""".stripMargin,
      parameters = Map("StartDate" -> "1996-01-01", "EndDate" -> "1996-12-31")),
    transformations = Seq(
      TransformConfig("DataCleansing", order = 1, config = Map("trimWhitespace" -> true)),
      TransformConfig("DataValidation", order = 2,
        config = Map("requiredColumns" -> List("l_orderkey", "l_shipdate")))))

  test("full pipeline: extract -> transform -> parquet + ctl, counts and checksum agree") {
    val dest = graft.util.Scratch.dir("graft-pipe").toString
    val ctx = IngestionPipeline.run(spark, tradesConfig, sf0001, dest, now = now)
    assert(ctx.errors.isEmpty, ctx.errors.mkString("; "))
    assert(!ctx.failed)
    assert(ctx.rowCount.exists(_ > 0))

    // data file exists with the templated name and the right row count
    val dataFile = new java.io.File(dest, ctx.dataFileName.get)
    assert(dataFile.exists())
    assert(spark.read.parquet(dataFile.toString).count() == ctx.rowCount.get)

    // ctl exists, recordCount matches, checksum matches an independent SHA-256
    val ctl = ctx.ctl.get
    assert(ctl.recordCount == ctx.rowCount.get)
    val fs = new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ctl.checksum == CtlManifest.sha256OfFile(fs, new Path(dataFile.toString)))
    assert(ctl.datasetName == "trades-test_20260812120000")
    val ctlFile = new java.io.File(dest, ctx.dataFileName.get.replace(".parquet", ".ctl"))
    assert(ctlFile.exists())
  }

  test("validation failure is Critical and aborts before any write") {
    val dest = graft.util.Scratch.dir("graft-pipe-fail").toString
    val bad = tradesConfig.copy(transformations = Seq(
      TransformConfig("DataValidation", order = 1,
        config = Map("requiredColumns" -> List("no_such_column")))))
    val ctx = IngestionPipeline.run(spark, bad, sf0001, dest, now = now)
    assert(ctx.failed)
    assert(ctx.errors.exists(e => e.stage == "Transformation" &&
      e.severity == IngestionPipeline.Severity.Critical))
    assert(ctx.writtenPath.isEmpty)
    assert(new java.io.File(dest).listFiles().forall(_.getName.startsWith(".tmp") == false),
      "no data files should be committed")
  }

  test("direct-write path honors overwriteExisting=false (the config default)") {
    val dest = graft.util.Scratch.dir("graft-pipe-ow").toString
    // no upload destination configured -> the write stage IS final placement
    val ctx1 = IngestionPipeline.run(spark, tradesConfig, sf0001, dest, now = now)
    assert(!ctx1.failed)
    val firstBytes = Files.readAllBytes(
      java.nio.file.Paths.get(dest, ctx1.dataFileName.get))
    // same templated name (same clock) + overwriteExisting=false -> refusal,
    // recorded as a Critical write-stage error; the existing file is untouched
    val ctx2 = IngestionPipeline.run(spark, tradesConfig, sf0001, dest, now = now)
    assert(ctx2.failed)
    assert(ctx2.errors.exists(e => e.stage == "ParquetWrite" &&
      e.message.contains("overwriteExisting=false")))
    assert(Files.readAllBytes(java.nio.file.Paths.get(dest, ctx1.dataFileName.get))
      .sameElements(firstBytes))
    // opting in to overwrite succeeds
    val ow = tradesConfig.copy(upload = tradesConfig.upload.copy(overwriteExisting = true))
    val ctx3 = IngestionPipeline.run(spark, ow, sf0001, dest, now = now)
    assert(!ctx3.failed, ctx3.errors.mkString("; "))
  }

  test("azureBlobConfig routes upload through the container URI template") {
    val dest = graft.util.Scratch.dir("graft-pipe-az-stage").toString
    val blobRoot = graft.util.Scratch.dir("graft-pipe-az-store").toString
    val cfg = tradesConfig.copy(upload = tradesConfig.upload.copy(
      provider = "AzureBlob",
      azureBlobConfig = Some(graft.config.AzureBlobConfig(
        containerName = "datalake", blobPath = "ingest/trades"))))
    // file:// stand-in for abfss://{container}@account... — same Hadoop-FS path
    val ctx = IngestionPipeline.run(spark, cfg, sf0001, dest, now = now,
      azureUriTemplate = s"file:$blobRoot/{container}")
    assert(!ctx.failed, ctx.errors.mkString("; "))
    val placedData = new java.io.File(
      s"$blobRoot/datalake/ingest/trades/${ctx.dataFileName.get}")
    val placedCtl = new java.io.File(
      s"$blobRoot/datalake/ingest/trades/${ctx.dataFileName.get.replace(".parquet", ".ctl")}")
    assert(placedData.exists(), s"blob data missing: $placedData")
    assert(placedCtl.exists(), s"blob ctl missing: $placedCtl")
    assert(spark.read.parquet(placedData.toString).count() == ctx.rowCount.get)
    // staging copies are cleaned up after placement
    assert(!new java.io.File(dest, ctx.dataFileName.get).exists())
  }

  test("merge-publish mode folds changelog runs into versioned snapshots + CTL") {
    val dest = graft.util.Scratch.dir("graft-pipe-merge").toString
    def cfg(sql: String) = DatasetConfig(
      datasetId = "cust-merge",
      source = SourceConfig(extractionType = "Query", sqlText = sql),
      merge = graft.config.MergeConfig(enabled = true,
        keyColumns = Seq("c_custkey"), sequenceColumn = "seq",
        operationColumn = "op"))
    // run 1: initial upserts for three customers
    val ctx1 = IngestionPipeline.run(spark, cfg(
      """SELECT c_custkey, c_name, 1 AS seq, 'U' AS op
        |FROM customer WHERE c_custkey BETWEEN 1 AND 3""".stripMargin),
      sf0001, dest, now = now)
    assert(!ctx1.failed, ctx1.errors.mkString("; "))
    assert(ctx1.rowCount.contains(3L))
    assert(ctx1.dataFileName.contains("v=0"))
    // run 2: update key 2, delete key 3, insert key 9
    val ctx2 = IngestionPipeline.run(spark, cfg(
      """SELECT c_custkey, upper(c_name) AS c_name, 2 AS seq,
        |  CASE WHEN c_custkey = 3 THEN 'D' ELSE 'U' END AS op
        |FROM customer WHERE c_custkey IN (2, 3, 9)""".stripMargin),
      sf0001, dest, now = now)
    assert(!ctx2.failed, ctx2.errors.mkString("; "))
    assert(ctx2.dataFileName.contains("v=1"))
    // the STORED snapshot retains the tombstone for key 3 (plus per-key
    // winning seq/op) so later runs can order against it; serving filters it
    val stored = spark.read.parquet(s"$dest/cust-merge_snapshot/v=1")
    assert(stored.select("c_custkey").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 9L))
    val snap = graft.operators.Merge.serve(stored)
    val keys = snap.select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(keys == Set(1L, 2L, 9L), keys.toString)
    // key 2 took the run-2 (uppercased) version; key 1 is untouched
    val names = snap.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(names(2L) == names(2L).toUpperCase)
    assert(names(1L) != names(1L).toUpperCase)
    // version 0 still intact for in-flight readers; per-version CTL written
    // (manifest counts STORED rows — what's actually in the files)
    assert(spark.read.parquet(s"$dest/cust-merge_snapshot/v=0").count() == 3)
    assert(ctx2.ctl.exists(_.recordCount == 4L))
    assert(new java.io.File(s"$dest/cust-merge_snapshot/v1.ctl").exists())

    // run 3: REPLAY of run 1's changelog (stale sequences). The persisted
    // winning seqs must hold: no resurrection of deleted key 3, no downgrade
    // of key 2 back to its seq-1 value.
    val ctx3 = IngestionPipeline.run(spark, cfg(
      """SELECT c_custkey, c_name, 1 AS seq, 'U' AS op
        |FROM customer WHERE c_custkey BETWEEN 1 AND 3""".stripMargin),
      sf0001, dest, now = now)
    assert(!ctx3.failed, ctx3.errors.mkString("; "))
    val served3 = graft.operators.Merge.serve(
      spark.read.parquet(s"$dest/cust-merge_snapshot/v=2"))
    assert(served3.select("c_custkey").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 9L))
    val names3 = served3.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(names3(2L) == names3(2L).toUpperCase, "stale replay downgraded key 2")
  }

  test("scheduled compaction job folds ingest increments into few files + one CTL") {
    val dest = graft.util.Scratch.dir("graft-pipe-compact").toString
    val tbl = s"$dest/events_tbl"
    // 5 small ingest increments drip 20 part files into one table directory
    (0 until 5).foreach { i =>
      spark.range(i * 1000L, i * 1000L + 1000L).selectExpr("id", "id * 2 AS v")
        .repartition(4).write.mode("append").parquet(tbl)
    }
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = graft.sinks.ParquetSink.listPartFiles(fs, new Path(tbl))
    assert(before.size == 20, s"expected 20 small files, got ${before.size}")
    val sumBefore = spark.read.parquet(tbl).selectExpr("sum(v)").first().getLong(0)

    // wire through the REAL scheduler: a maintenance dataset whose cron fire
    // runs the compaction pipeline (synchronous execute for determinism)
    val cfg = DatasetConfig(datasetId = "compact-events",
      cronExpression = "0 * * * * ?", // every minute at second 0
      maintenance = graft.config.MaintenanceConfig(enabled = true,
        compactDir = "events_tbl", targetFileBytes = 512L * 1024 * 1024))
    var ctx: IngestionPipeline.RunContext = null
    val sched = new graft.pipeline.DatasetScheduler(Seq(cfg),
      d => ctx = IngestionPipeline.run(spark, d, sf0001, dest, now = now),
      () => now)
    val launched = sched.tick(now, r => r.run())
    assert(launched == Seq("compact-events"))

    assert(ctx != null && !ctx.failed, Option(ctx).map(_.errors.mkString("; ")).getOrElse("no run"))
    // same rows, same content, far fewer files
    val after = graft.sinks.ParquetSink.listPartFiles(fs, new Path(tbl))
    assert(after.size <= 2, s"compaction left ${after.size} files")
    assert(ctx.rowCount.contains(5000L))
    assert(spark.read.parquet(tbl).count() == 5000L)
    assert(spark.read.parquet(tbl).selectExpr("sum(v)").first().getLong(0) == sumBefore)
    // one directory-level CTL beside the table, counting the stored rows
    val ctl = new java.io.File(dest, "events_tbl.ctl")
    assert(ctl.exists())
    assert(ctx.ctl.exists(_.recordCount == 5000L))
    // manifest checksum matches an independent recompute over the final files
    val expected = CtlManifest.forDirectory(spark, tbl, 5000L, "compact-events",
      "Maintenance", now)
    assert(ctx.ctl.exists(_.checksum == expected.checksum))
  }

  test("a compactDir given as a file: URI is compacted in place, not under destDir") {
    val dest = graft.util.Scratch.dir("graft-pipe-compact-uri").toString
    val tbl = s"$dest/uri_tbl"
    (0 until 3).foreach { i =>
      spark.range(i * 100L, i * 100L + 100L).toDF("id").repartition(2).write.mode("append").parquet(tbl)
    }
    val cfg = DatasetConfig(datasetId = "compact-uri",
      maintenance = graft.config.MaintenanceConfig(enabled = true, compactDir = s"file:$tbl"))
    val ctx = IngestionPipeline.run(spark, cfg, sf0001, s"$dest/elsewhere", now = now)
    assert(!ctx.failed, ctx.errors.mkString("; "))
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.sinks.ParquetSink.listPartFiles(fs, new Path(tbl)).size == 1)
    assert(spark.read.parquet(tbl).count() == 300L)
    assert(ctx.ctl.exists(_.recordCount == 300L))
    assert(new java.io.File(dest, "uri_tbl.ctl").exists())
    assert(!new java.io.File(s"$dest/elsewhere").exists())
  }

  test("environment gating skips non-matching transforms end to end") {
    val dest = graft.util.Scratch.dir("graft-pipe-env").toString
    val cfg = tradesConfig.copy(transformations = Seq(
      TransformConfig("DataValidation", order = 1, environments = Seq("Development"),
        config = Map("requiredColumns" -> List("no_such_column")))))
    // the failing validation step is gated to Development; Production run succeeds
    val ctx = IngestionPipeline.run(spark, cfg, sf0001, dest, environment = "Production", now = now)
    assert(!ctx.failed)
    assert(ctx.rowCount.exists(_ > 0))
  }
}
