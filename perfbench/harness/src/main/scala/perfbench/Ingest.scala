package perfbench

import graft.config._
import graft.pipeline.{Incremental, IngestionPipeline}
import graft.sinks.{CtlManifest, ParquetSink, SnapshotStore, Upload}
import graft.sources.{Jdbc, JdbcHarness, Lake}
import graft.streaming.{EventsStream, UpsertView}
import graft.transforms.Transforms
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.{Instant, LocalDate}
import java.time.temporal.ChronoUnit
import scala.collection.mutable

/** Every way data lands, run back to back: single-file dataset runs through
  * `IngestionPipeline.run` (with and without an upload destination, a
  * parameterized join with a masking/date/rename chain, a non-Snappy codec,
  * JDBC extraction), merge-publish into versioned snapshots, maintenance
  * compaction, high-watermark increments and the two streaming ingests. */
object Ingest extends Workload {
  override def setup(spark: SparkSession, lake: String): Unit =
    JdbcHarness.ensureCustomer(spark, lake)

  /** A single-file dataset and the DuckDB query its landed file must equal. */
  private final case class Single(cfg: DatasetConfig, oracle: String)

  private def quote(s: String): String = "'" + s.replace("'", "''") + "'"

  private def singles(ctx: Ctx): Seq[Single] = {
    val r = ctx.rng(1)
    val start = LocalDate.of(1995, 1, 1).plusDays(r.nextInt(700).toLong)
    val end = start.plusDays(730)
    val segment = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(r.nextInt(5))
    val minPrice = (50000 + r.nextInt(100000)).toDouble
    val skipType = Seq("click", "signup", "error", "view", "purchase")(r.nextInt(5))
    val minBal = r.nextInt(5000).toLong
    def cleansing(extra: (String, Any)*) =
      Seq(TransformConfig("DataCleansing", order = 1, config = Map[String, Any]("trimWhitespace" -> true) ++ extra))
    Seq(
      // the reference's end-to-end shape: all of lineitem, cleansed, Snappy
      Single(DatasetConfig("lineitem_full",
        source = SourceConfig(sqlText = "SELECT * FROM lineitem"),
        transformations = cleansing()),
        """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
          |  l_discount, l_tax, trim(l_returnflag) AS l_returnflag,
          |  trim(l_linestatus) AS l_linestatus, l_shipdate
          |FROM lineitem""".stripMargin),
      Single(DatasetConfig("orders_window",
        source = SourceConfig(
          sqlText = "SELECT * FROM orders WHERE o_orderdate >= :start AND o_orderdate < :end",
          parameters = Map("start" -> start, "end" -> end)),
        transformations = cleansing("removeEmptyStrings" -> true),
        upload = UploadConfig(fileSystemConfig = Some(FileSystemConfig(relativePath = "published")))),
        s"""SELECT o_orderkey, o_custkey,
           |  CASE WHEN length(trim(o_orderstatus)) = 0 THEN NULL ELSE trim(o_orderstatus) END AS o_orderstatus,
           |  o_totalprice, o_orderdate,
           |  CASE WHEN length(trim(o_orderpriority)) = 0 THEN NULL ELSE trim(o_orderpriority) END AS o_orderpriority
           |FROM orders WHERE o_orderdate >= DATE '$start' AND o_orderdate < DATE '$end'""".stripMargin),
      Single(DatasetConfig("order_chain",
        source = SourceConfig(
          sqlText =
            """SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name, c.c_mktsegment, n.n_name
              |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              |JOIN nation n ON c.c_nationkey = n.n_nationkey
              |WHERE o.o_totalprice >= :minPrice AND c.c_mktsegment = :segment""".stripMargin,
          parameters = Map("minPrice" -> minPrice, "segment" -> segment)),
        transformations = Seq(
          TransformConfig("DataMasking", order = 1,
            config = Map("columns" -> Seq("c_name"), "maskType" -> "partial", "keepLast" -> 4)),
          TransformConfig("DateFormat", order = 2,
            config = Map("columns" -> Seq("o_orderdate"), "format" -> "yyyy-MM-dd")),
          TransformConfig("ColumnMapping", order = 3,
            config = Map("mappings" -> Map("c_name" -> "customer_masked", "n_name" -> "nation"))))),
        s"""SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate, o.o_totalprice,
           |  '***' || right(c.c_name, 4) AS customer_masked, c.c_mktsegment, n.n_name AS nation
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |JOIN nation n ON c.c_nationkey = n.n_nationkey
           |WHERE o.o_totalprice >= $minPrice AND c.c_mktsegment = ${quote(segment)}""".stripMargin),
      Single(DatasetConfig("events_gzip",
        source = SourceConfig(
          sqlText = "SELECT event_id, user_id, event_type, value, props FROM events WHERE event_type <> :skip",
          parameters = Map("skip" -> skipType)),
        parquet = ParquetConfig(compressionCodec = "Gzip", rowGroupSize = 1000)),
        s"""SELECT event_id, user_id, event_type, value, props FROM events
           |WHERE event_type <> ${quote(skipType)}""".stripMargin),
      Single(DatasetConfig("jdbc_customers",
        source = SourceConfig(`type` = "Jdbc", connectionStringKey = "harness",
          sqlText = "SELECT \"c_custkey\", \"c_name\", \"c_acctbal\" FROM customer WHERE \"c_acctbal\" >= :MinBal",
          parameters = Map("MinBal" -> minBal)),
        transformations = cleansing()),
        s"""SELECT c_custkey, trim(c_name) AS c_name, c_acctbal FROM customer
           |WHERE c_acctbal >= $minBal""".stripMargin))
  }

  private val MergeSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + :seq AS o_totalprice,
      |  CAST(:seq AS BIGINT) AS seq,
      |  CASE WHEN (o_orderkey + :salt) % 9 = 0 THEN 'D' ELSE 'U' END AS op
      |FROM orders WHERE (o_orderkey * 7 + :salt) % 16 = :slot""".stripMargin

  private val EventsCheck = "event_id, user_id, event_type, epoch_us(ts) AS ts_us"

  /** Data files under `dir` with their sizes, in the order a directory CTL
    * manifest hashes them: every part or parquet file, sorted by path. */
  private def files(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(Path, Long)]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") && (n.endsWith(".parquet") || n.startsWith("part-")))
        out += f.getPath -> f.getLen
    }
    out.result().sortBy(_._1.toString).map { case (f, len) => f.toUri.getPath -> len }
  }

  private def errors(rc: IngestionPipeline.RunContext): Seq[String] =
    rc.errors.map(e => s"${e.stage}:${e.severity}:${e.message}")

  private def ctlCount(path: String): Long =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).get(1).split(",")(0).toLong

  def ops(ctx: Ctx): Seq[Op] = {
    val spark = ctx.spark
    val conns = Map("harness" -> JdbcHarness.ensureCustomer(spark, ctx.lake))
    val singleOps = singles(ctx).map { d =>
      Op(d.cfg.datasetId, pass => {
        val dest = ctx.dir("ingest", s"p$pass", d.cfg.datasetId)
        val rc = IngestionPipeline.run(spark, d.cfg, ctx.lake, dest, connectionStrings = conns)
        rc.writtenPath.foreach { w =>
          val file = new Path(w).toUri.getPath
          val ctl = file.stripSuffix(".parquet") + ".ctl"
          ctx.check(d.cfg.datasetId, pass, "sql", "got" -> s"SELECT * FROM read_parquet('$file')",
            "want" -> d.oracle)
          ctx.check(d.cfg.datasetId, pass, "ctl", "ctl" -> ctl, "files" -> Seq(file), "multi" -> false)
        }
        val n = rc.rowCount.getOrElse(0L)
        OpOut(n, n, n, rc.writtenBytes.getOrElse(0L), rc.writtenPath.size, errors(rc))
      })
    }

    val salt = ctx.rng(2).nextInt(1000)
    def slot(pass: Int): Int = ctx.rng(100 + pass).nextInt(16)
    def changelog(pass: Int): String =
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + ${pass + 1} AS o_totalprice,
         |  ${pass + 1} AS seq, CASE WHEN (o_orderkey + $salt) % 9 = 0 THEN 'D' ELSE 'U' END AS op
         |FROM orders WHERE (o_orderkey * 7 + $salt) % 16 = ${slot(pass)}""".stripMargin
    val merge = Op("orders_merge", pass => {
      val cfg = DatasetConfig("orders_merge",
        source = SourceConfig(sqlText = MergeSql,
          parameters = Map("seq" -> (pass + 1), "salt" -> salt, "slot" -> slot(pass))),
        merge = MergeConfig(enabled = true, keyColumns = Seq("o_orderkey"),
          sequenceColumn = "seq", operationColumn = "op"))
      val rc = IngestionPipeline.run(spark, cfg, ctx.lake, ctx.dir("ingest", "merge"))
      val landed = rc.writtenPath.map(w => files(spark, w)).getOrElse(Nil)
      rc.writtenPath.foreach { w =>
        val dir = new Path(w).toUri.getPath
        ctx.check("orders_merge", pass, "sql",
          "got" -> s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM read_parquet('$dir/*.parquet') WHERE graft_op <> 'D'",
          "want" -> s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM (
             |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC, (op = 'D') DESC) AS rn
             |  FROM (${(0 to pass).map(changelog).mkString("\nUNION ALL\n")}))
             |WHERE rn = 1 AND op <> 'D'""".stripMargin)
        ctx.check("orders_merge", pass, "ctl", "ctl" -> new Path(rc.ctlPath.get).toUri.getPath,
          "files" -> landed.map(_._1), "multi" -> true)
      }
      val n = rc.rowCount.getOrElse(0L)
      OpOut(n, n, n, landed.map(_._2).sum, landed.size, errors(rc))
    })

    val cutoff = Instant.parse("2024-01-01T00:00:00Z").plus(5L + ctx.rng(3).nextInt(20), ChronoUnit.DAYS)
    def incDir(pass: Int) = ctx.dir("ingest", s"p$pass", "increments")
    /** Two increments: events before the cutoff, then the rest. */
    def increments(pass: Int): Long = {
      val src = Lake.table(spark, ctx.lake, "events").select("event_id", "user_id", "event_type", "ts")
      val state = incDir(pass) + ".watermark"
      Incremental.runIncrement(src.where(col("ts") < lit(cutoff)), "ts", state, incDir(pass)) +
        Incremental.runIncrement(src, "ts", state, incDir(pass))
    }
    increments(-1) // the small files the warm-up pass compacts
    val increment = Op("increment", pass => {
      val n = increments(pass)
      val landed = files(spark, incDir(pass))
      ctx.check("increment", pass, "sql",
        "got" -> s"SELECT $EventsCheck FROM read_parquet('${incDir(pass)}/**/*.parquet')",
        "want" -> s"SELECT $EventsCheck FROM events")
      OpOut(n, n, n, landed.map(_._2).sum, landed.size)
    })

    // compacts the previous pass's increments, so no op of a pass waits on another
    val compaction = Op("compaction", pass => {
      val dir = incDir(pass - 1)
      val cfg = DatasetConfig("events_compact",
        maintenance = MaintenanceConfig(enabled = true, compactDir = dir))
      val rc = IngestionPipeline.run(spark, cfg, ctx.lake, ctx.dir("ingest"))
      val landed = files(spark, dir)
      ctx.check("compaction", pass, "sql",
        "got" -> s"SELECT $EventsCheck FROM read_parquet('$dir/**/*.parquet')",
        "want" -> s"SELECT $EventsCheck FROM events")
      rc.ctlPath.foreach(c => ctx.check("compaction", pass, "ctl",
        "ctl" -> new Path(c).toUri.getPath, "files" -> landed.map(_._1), "multi" -> true))
      val n = rc.rowCount.getOrElse(0L)
      OpOut(n, n, n, landed.map(_._2).sum, landed.size, errors(rc))
    })

    val streamIngest = Op("stream_ingest", pass => {
      val out = ctx.dir("ingest", s"p$pass", "stream")
      EventsStream.runIngestStream(spark, ctx.lake,
        ev => ev.select(col("event_id"), col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_s")),
        s"$out/data", s"$out/ckpt")
      val landed = files(spark, s"$out/data")
      ctx.check("stream_ingest", pass, "sql",
        "got" -> s"SELECT * FROM read_parquet('$out/data/*.parquet')",
        "want" -> graft.SparkEntry.oracleSql("st06_stream_ingest"))
      landed.foreach { case (f, _) => ctx.check("stream_ingest", pass, "ctl",
        "ctl" -> (f.stripSuffix(".parquet") + ".ctl"), "files" -> Seq(f), "multi" -> false) }
      val n = landed.map(f => ctlCount(f._1.stripSuffix(".parquet") + ".ctl")).sum
      OpOut(n, n, n, landed.map(_._2).sum, landed.size)
    })

    val upsert = Op("upsert_stream", pass => {
      val out = ctx.dir("ingest", s"p$pass", "upsert")
      UpsertView.runUpsertStream(spark, ctx.lake, s"$out/snap", s"$out/ckpt")
      val latest = new Path(SnapshotStore.versions(spark, s"$out/snap").last._2).toUri.getPath
      ctx.check("upsert_stream", pass, "sql",
        "got" -> s"SELECT user_id, event_id, value FROM read_parquet('$latest/*.parquet') WHERE op <> 'D'",
        "want" -> graft.SparkEntry.oracleSql("st07_stream_upsert"))
      OpOut(0, 0)
    })

    singleOps ++ Seq(merge, increment, compaction, streamIngest, upsert)
  }

  def isolated(ctx: Ctx, opSeconds: Map[String, Double]): Map[String, Double] = {
    val spark = ctx.spark
    val m = mutable.Map[String, Double]().withDefaultValue(0.0)
    val conns = Map("harness" -> JdbcHarness.ensureCustomer(spark, ctx.lake))
    val iso = ctx.dir("isolated")
    val writeSpans = mutable.ArrayBuffer[Int]()
    singles(ctx).foreach { d =>
      val id = d.cfg.datasetId
      val src = d.cfg.source
      def extracted: DataFrame =
        if (src.`type` == "Jdbc") Jdbc.extract(spark, src, conns("harness"))
        else spark.sql(src.sqlText, src.parameters)
      if (src.`type` == "Jdbc")
        m("sources.jdbc_extract_s") += Layers.noop(ctx, s"$id.jdbc_extract", extracted)
      else m("sources.extract_s") += Layers.noop(ctx, s"$id.extract", extracted)
      val in = extracted
      var out: DataFrame = null
      val apply = Layers.timed(ctx, s"$id.apply") { out = Transforms.applyAll(in, d.cfg.transformations) }
      m("plans.plan_s") += Layers.timed(ctx, s"$id.plan")(out.queryExecution.executedPlan)
      var written: ParquetSink.WriteResult = null
      val t0 = System.nanoTime()
      ctx.tracer.spanWithId(s"$id.parquet_write") { span =>
        writeSpans += span
        written = ParquetSink.writeSingleFile(out, s"$iso/$id", "data.parquet",
          compression = d.cfg.parquet.compressionCodec)
      }
      val write = (System.nanoTime() - t0) / 1e9
      val ctl = Layers.timed(ctx, s"$id.ctl") {
        val rec = CtlManifest.forFile(spark, written.path, 0L, id, src.`type`)
        CtlManifest.write(spark, s"$iso/$id", "data.ctl", rec)
      }
      val upload = if (d.cfg.upload.fileSystemConfig.isEmpty) 0.0
        else Layers.timed(ctx, s"$id.upload")(
          Upload.place(spark, written.path, s"$iso/$id/published", "data.parquet", d.cfg.upload))
      m("transforms.apply_s") += apply
      m("sinks.parquet_write_s") += write
      m("sinks.ctl_s") += ctl
      m("sinks.upload_s") += upload
      m("pipeline.run_self_s") += opSeconds(id) - (apply + write + ctl + upload)
    }
    ctx.tracer.drain()
    m("sinks.parquet_write_tasks") =
      ctx.tracer.total(writeSpans.flatMap(ctx.tracer.subtree)).c("tasks").toDouble
    val changes = spark.sql(MergeSql, Map("seq" -> 1, "salt" -> 0, "slot" -> 0))
    m("sinks.snapshot_write_s") =
      Layers.timed(ctx, "snapshot_write")(SnapshotStore.write(changes, s"$iso/snapshot", 0L))
    val events = Lake.table(spark, ctx.lake, "events").select("event_id", "user_id", "event_type", "ts")
    Incremental.runIncrement(events, "ts", s"$iso/increments.watermark", s"$iso/increments")
    m("sinks.compact_s") =
      Layers.timed(ctx, "compact")(ParquetSink.compact(spark, s"$iso/increments"))
    m("pipeline.increment_s") = opSeconds("increment")
    m("streaming.ingest_s") = opSeconds("stream_ingest")
    m("streaming.upsert_s") = opSeconds("upsert_stream")
    m.toMap
  }
}
