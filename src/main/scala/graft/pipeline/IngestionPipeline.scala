package graft.pipeline

import graft.config.{DatasetConfig, FileNameTemplate}
import graft.sinks.{CtlManifest, ParquetSink}
import graft.sources.Lake
import graft.transforms.Transforms
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.time.{ZonedDateTime, ZoneOffset}

/** The reference's five-stage chain-of-responsibility pipeline
  * (Extraction → Transformation → ParquetGeneration → CtlGeneration → Upload;
  * `/root/reference/src/Core/Pipeline/DataPipeline.cs:20-26`) re-expressed as a
  * sequence of pure stage functions over a `RunContext`.
  *
  * Severity semantics mirror `BasePipelineHandler.cs:24-82`: a stage failure is
  * recorded with a severity; `Critical` aborts the chain, `Warning`/`Error` let it
  * continue (`:27-36`). Per-stage metrics mirror `:86-94`.
  *
  * Spark-first difference: "extraction" does not materialize anything — it produces
  * a lazy DataFrame; transform stages compose onto the same logical plan; the first
  * (and only) action is the parquet write. The reference's copy-everything memory
  * model (`PipelineContext.cs:11-13`) disappears entirely.
  */
object IngestionPipeline {

  sealed trait Severity
  object Severity {
    case object Warning extends Severity
    case object Error extends Severity
    case object Critical extends Severity
  }

  final case class StageError(stage: String, severity: Severity, message: String,
                              cause: Option[Throwable] = None)
  final case class StageMetric(stage: String, durationMs: Long,
                               rowCount: Option[Long] = None,
                               fileSizeBytes: Option[Long] = None)

  final case class RunContext(
      config: DatasetConfig,
      environment: String,
      startTime: ZonedDateTime,
      data: Option[DataFrame] = None,
      dataFileName: Option[String] = None,
      writtenPath: Option[String] = None,
      writtenBytes: Option[Long] = None,
      rowCount: Option[Long] = None,
      ctl: Option[CtlManifest.CtlRecord] = None,
      ctlPath: Option[String] = None,
      errors: Seq[StageError] = Nil,
      metrics: Seq[StageMetric] = Nil) {
    def failed: Boolean = errors.exists(_.severity == Severity.Critical)
  }

  type Stage = RunContext => RunContext

  /** Wrap a stage body with the reference's catch/record/abort-on-critical contract. */
  private def stage(name: String, severityOnFail: Severity)(body: RunContext => RunContext): Stage =
    ctx => {
      if (ctx.failed) ctx // prior Critical → skip, BasePipelineHandler.cs:27-36
      else {
        val t0 = System.nanoTime()
        try {
          val out = body(ctx)
          out.copy(metrics = out.metrics :+
            StageMetric(name, (System.nanoTime() - t0) / 1000000, out.rowCount, out.writtenBytes))
        } catch {
          case e: Throwable =>
            ctx.copy(errors = ctx.errors :+
              StageError(name, severityOnFail, Option(e.getMessage).getOrElse(e.toString), Some(e)))
        }
      }
    }

  /** Stage 1 — Extraction (`ExtractionHandler.cs:23-86`).
    *
    * Source dispatch mirrors `DataSourceFactory.cs:19-27`: `SqlServer` /
    * `Oracle` / `Jdbc` sources extract over JDBC ([[graft.sources.Jdbc]] — text
    * queries through Spark's JDBC relation, stored procs / packages through a
    * CallableStatement), with the connection-string template looked up by
    * `connectionStringKey` (the reference's appsettings `ConnectionStrings`
    * map, `DataIngestionJob.cs:62-81`) and `{vault:...}` placeholders resolved
    * through the [[graft.sources.SecretResolver]] seam.
    *
    * `Parquet` (lake) sources run `Query` extraction as SQL text over the
    * registered lake views — the Spark analogue of the reference shipping SQL
    * text to the source DB — with parameters bound via Spark's named-parameter
    * API, matching the reference's `@name` / `:name` binding
    * (`SqlServerDataSource.cs:47-59`, `OracleDataSource.cs:153-168`). */
  def extract(spark: SparkSession, lakeDir: String,
              connectionStrings: Map[String, String] = Map.empty,
              secrets: graft.sources.SecretResolver = graft.sources.SecretResolver.FromEnv): Stage =
    stage("Extraction", Severity.Critical) { ctx =>
      val src = ctx.config.source
      val df = src.`type`.toLowerCase match {
        case "sqlserver" | "oracle" | "jdbc" =>
          val template = connectionStrings.getOrElse(src.connectionStringKey,
            throw new IllegalArgumentException(
              s"No connection string configured for key '${src.connectionStringKey}'"))
          val connStr = new graft.sources.ConnectionStringBuilder(secrets).build(template)
          graft.sources.Jdbc.extract(spark, src, connStr)
        case _ =>
          Lake.registerAll(spark, lakeDir)
          src.extractionType.toLowerCase match {
            case "query" =>
              val sql =
                if (src.sqlText.nonEmpty) src.sqlText
                else scala.io.Source.fromFile(src.sqlFilePath).mkString
              if (src.parameters.nonEmpty) spark.sql(sql, src.parameters) else spark.sql(sql)
            case "table" => // lake-engine extension: whole-table extraction
              Lake.table(spark, lakeDir, src.procedureName)
            case other =>
              // StoredProcedure / Package target a live RDBMS (reference
              // OracleDataSource.cs:53-138) — not reachable against the parquet lake.
              throw new UnsupportedOperationException(
                s"extractionType=$other requires a JDBC source (source.type = " +
                  "SqlServer/Oracle/Jdbc); the lake engine supports Query/Table")
          }
      }
      ctx.copy(data = Some(df))
    }

  /** Stage 2 — Transformation (`TransformationHandler.cs:23-104`). */
  def transform: Stage =
    stage("Transformation", Severity.Critical) { ctx =>
      ctx.copy(data = ctx.data.map(
        Transforms.applyAll(_, ctx.config.transformations, ctx.environment)))
    }

  /** Does this config route outputs through a separate Upload stage? When it
    * does, the write stage's placement is only staging; when it doesn't, the
    * write IS final placement and must honor `overwriteExisting`. */
  private[pipeline] def hasUploadDestination(cfg: DatasetConfig): Boolean =
    cfg.upload.fileSystemConfig.exists(f =>
      f.basePath.nonEmpty || f.relativePath.nonEmpty) ||
      cfg.upload.azureBlobConfig.exists(_.containerName.nonEmpty)

  /** The config's `rowGroupSize` declares *rows* (`DatasetConfiguration.cs:58`,
    * default 5000) while `parquet.block.size` is *bytes*; the bridge assumes an
    * estimated 256 B/row (TPC-H-ish wide rows land 100-300 B encoded). This is
    * an estimate by design — deriving exact bytes/row would need a pre-pass over
    * the data. Divergence from the reference (which ignores the knob entirely,
    * `ParquetWriterService.cs:44`) is recorded in SURVEY §7.4(6). */
  private val EstimatedBytesPerRow = 256L

  /** Stages 3+5 — Parquet write placed directly at the destination
    * (`ParquetGenerationHandler.cs:23-84` + `UploadHandler.cs:22-126` /
    * `FileSystemUploadProvider.cs:23-106` collapse into one atomic write: Spark
    * streams to storage, so generate-then-upload-bytes is unnecessary). */
  def write(destDir: String): Stage =
    stage("ParquetWrite", Severity.Critical) { ctx =>
      val df0 = ctx.data.getOrElse(throw new IllegalStateException("no data"))
      val cfg = ctx.config.parquet
      val fileName = FileNameTemplate.render(cfg.fileNamePattern, ctx.startTime)
      // row count observed during the write action itself — one scan, not two
      // (the reference counts the materialized DataTable, CtlGenerationHandler.cs:59-60)
      val obs = org.apache.spark.sql.Observation()
      val df = df0.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
      // A staging write (an Upload stage follows) may always overwrite its own
      // scratch; a final-placement write must honor overwriteExisting
      // (the refusal lives in ParquetSink.writeSingleFile).
      val overwrite = hasUploadDestination(ctx.config) || ctx.config.upload.overwriteExisting
      val res = ParquetSink.writeSingleFile(df, destDir, fileName,
        compression = cfg.compressionCodec,
        rowGroupSize = math.max(cfg.rowGroupSize.toLong * EstimatedBytesPerRow, 1L << 20),
        overwrite = overwrite)
      val n = obs.get("rows").asInstanceOf[Long]
      ctx.copy(dataFileName = Some(fileName), writtenPath = Some(res.path),
        writtenBytes = Some(res.bytes), rowCount = Some(n))
    }

  /** Stage 4 — CTL manifest (`CtlGenerationHandler.cs:27-126`), written next to the
    * data file with the same base name + `.ctl`. */
  def ctl(destDir: String): Stage =
    stage("CtlGeneration", Severity.Error) { ctx =>
      val record = CtlManifest.forFile(
        ctx.data.map(_.sparkSession).get,
        ctx.writtenPath.getOrElse(throw new IllegalStateException("no written file")),
        ctx.rowCount.getOrElse(0L),
        ctx.config.datasetId,
        ctx.config.source.`type`,
        ctx.startTime)
      val ctlName = ctx.dataFileName.get.replaceAll("\\.parquet$", "") + ".ctl"
      val path = CtlManifest.write(ctx.data.map(_.sparkSession).get, destDir, ctlName, record)
      ctx.copy(ctl = Some(record), ctlPath = Some(path))
    }

  /** Stage 5 — Upload (`UploadHandler.cs:22-126`): when the config declares a
    * FileSystem or AzureBlob destination, place the committed parquet + CTL
    * there with the declared retry/overwrite/local-copy semantics. With no
    * configured destination the write stage's placement already IS the final
    * location.
    *
    * AzureBlob maps onto the same Hadoop-FS seam: `azureBlobConfig` resolves to
    * an `abfss://container@.../blobPath` URI (see [[graft.sinks.Upload.azureContainerUri]])
    * and the reference provider's semantics carry over — container auto-create ≈
    * `mkdirs`, always-overwrite (`AzureBlobStorageProvider.cs:33,39`). */
  def upload(stagingDir: String,
             azureUriTemplate: String = graft.sinks.Upload.defaultAzureUriTemplate): Stage =
    stage("Upload", Severity.Error) { ctx =>
      val dest: Option[(String, graft.config.UploadConfig)] =
        ctx.config.upload.fileSystemConfig match {
          case Some(fsCfg) if fsCfg.basePath.nonEmpty || fsCfg.relativePath.nonEmpty =>
            Some((
              if (fsCfg.basePath.nonEmpty) s"${fsCfg.basePath}/${fsCfg.relativePath}"
              else s"$stagingDir/${fsCfg.relativePath}",
              ctx.config.upload))
          case _ =>
            ctx.config.upload.azureBlobConfig match {
              case Some(abCfg) if abCfg.containerName.nonEmpty =>
                val containerUri =
                  graft.sinks.Upload.azureContainerUri(azureUriTemplate, abCfg.containerName)
                val d = if (abCfg.blobPath.nonEmpty) s"$containerUri/${abCfg.blobPath}"
                        else containerUri
                // blob uploads always overwrite (AzureBlobStorageProvider.cs:39)
                Some((d, ctx.config.upload.copy(overwriteExisting = true)))
              case _ => None
            }
        }
      dest match {
        case Some((destDir, uploadCfg)) =>
          val spark = ctx.data.map(_.sparkSession).get
          val dataName = ctx.dataFileName.get
          val ctlName = dataName.replaceAll("\\.parquet$", "") + ".ctl"
          val placed = graft.sinks.Upload.place(spark, ctx.writtenPath.get, destDir,
            dataName, uploadCfg)
          graft.sinks.Upload.place(spark, ctx.ctlPath.get, destDir, ctlName,
            uploadCfg)
          // the staging copies served their purpose; the destination is canonical
          val fs = graft.sinks.Upload.hadoopFs(spark, stagingDir)
          fs.delete(new org.apache.hadoop.fs.Path(ctx.writtenPath.get), false)
          fs.delete(new org.apache.hadoop.fs.Path(ctx.ctlPath.get), false)
          ctx.copy(writtenPath = Some(placed.destination))
        case None => ctx
      }
    }

  /** Merge-publish write stage (config.merge.enabled): the extracted rows are
    * a changelog; fold them into the next version of a latest-state snapshot
    * via [[graft.operators.Merge.snapshot]] + the versioned
    * [[graft.sinks.SnapshotStore]] commit protocol (fresh `v=<n>` dir per run
    * — crash-safe on plain parquet, readers of the prior version undisturbed).
    * Emits a directory-level CTL manifest (manifest-of-part-files) for the new
    * version, mirroring the single-file CTL contract.
    *
    * Sequencing across runs follows the changelog's OWN sequence column (not
    * run order): the stored snapshot persists each key's winning sequence and
    * retains tombstones (`Merge.snapshotState`), so a replayed or out-of-order
    * changelog with stale sequences cannot regress rows or resurrect deleted
    * keys. Readers filter tombstones via `Merge.serve`. */
  def mergeWrite(destDir: String): Stage =
    stage("MergeWrite", Severity.Critical) { ctx =>
      val m = ctx.config.merge
      require(m.keyColumns.nonEmpty && m.sequenceColumn.nonEmpty &&
        m.operationColumn.nonEmpty,
        "merge mode needs keyColumns, sequenceColumn, operationColumn")
      val changes = ctx.data.getOrElse(throw new IllegalStateException("no data"))
      val spark = changes.sparkSession
      val snapDir = s"$destDir/${ctx.config.datasetId}_snapshot"
      val payload = changes.columns.filterNot(c =>
        c == m.sequenceColumn || c == m.operationColumn)
      val latest = graft.sinks.SnapshotStore.latest(spark, snapDir)
      val base = latest
        .map { case (_, p) => graft.sinks.SnapshotStore.read(spark, p) }
        .getOrElse(changes.selectExpr(payload.toIndexedSeq: _*)
          .where(org.apache.spark.sql.functions.lit(false)))
      val next = graft.operators.Merge.snapshotState(base, changes,
        m.keyColumns, m.sequenceColumn, m.operationColumn, m.deleteOperation)
      val obs = org.apache.spark.sql.Observation()
      val observed = next.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
      val versionId = latest.map(_._1 + 1).getOrElse(0L)
      val path = graft.sinks.SnapshotStore.write(observed, snapDir, versionId)
      val n = obs.get("rows").asInstanceOf[Long]
      val record = CtlManifest.forDirectory(spark, path, n,
        ctx.config.datasetId, ctx.config.source.`type`, ctx.startTime)
      val ctlPath = CtlManifest.write(spark, snapDir, f"v$versionId.ctl", record)
      ctx.copy(writtenPath = Some(path), rowCount = Some(n),
        dataFileName = Some(s"v=$versionId"), ctl = Some(record),
        ctlPath = Some(ctlPath))
    }

  /** Maintenance run (config.maintenance.enabled): instead of extracting, the
    * scheduled "run" compacts a parquet directory's accumulated small files
    * into ~targetFileBytes files ([[graft.sinks.ParquetSink.compact]]) and
    * emits a refreshed directory-level CTL manifest (manifest-of-parts — the
    * same contract [[mergeWrite]] stamps on snapshot versions) as
    * `<dirName>.ctl` next to the directory. Scheduled like any dataset, the
    * no-overlap gate means a slow compaction is skipped-not-overlapped by its
    * next cron fire; at 100 TB this is the job that keeps scan planning and
    * file-listing cost flat as streaming/incremental ingestion drips files. */
  def compactWrite(spark: SparkSession, destDir: String): Stage =
    stage("Compaction", Severity.Critical) { ctx =>
      val m = ctx.config.maintenance
      require(m.compactDir.nonEmpty, "maintenance mode needs compactDir")
      // absolute as a Hadoop path: a URI (file:/…, abfss://…) counts too
      val dir =
        if (new org.apache.hadoop.fs.Path(m.compactDir).isAbsolute) m.compactDir
        else s"$destDir/${m.compactDir}"
      val res = graft.sinks.ParquetSink.compact(spark, dir, m.targetFileBytes,
        ctx.config.parquet.compressionCodec)
      val rows = spark.read.parquet(dir).count()
      val record = CtlManifest.forDirectory(spark, dir, rows,
        ctx.config.datasetId, "Maintenance", ctx.startTime)
      val dirName = new org.apache.hadoop.fs.Path(dir).getName
      // the CTL lives BESIDE the directory (a stray .ctl inside it would trip
      // the next plain parquet read of the table)
      val parent = new org.apache.hadoop.fs.Path(dir).getParent.toString
      val ctlPath = CtlManifest.write(spark, parent, s"$dirName.ctl", record)
      ctx.copy(writtenPath = Some(res.path), writtenBytes = Some(res.bytes),
        rowCount = Some(rows), dataFileName = Some(dirName),
        ctl = Some(record), ctlPath = Some(ctlPath))
    }

  /** Run the full chain for one dataset config. */
  def run(spark: SparkSession, config: DatasetConfig, lakeDir: String, destDir: String,
          environment: String = "Production",
          now: ZonedDateTime = ZonedDateTime.now(ZoneOffset.UTC),
          azureUriTemplate: String = graft.sinks.Upload.defaultAzureUriTemplate,
          connectionStrings: Map[String, String] = Map.empty,
          secrets: graft.sources.SecretResolver = graft.sources.SecretResolver.FromEnv): RunContext = {
    val stages: Seq[Stage] =
      if (config.maintenance.enabled)
        // maintenance dataset: the run IS the compaction (no extraction)
        Seq(compactWrite(spark, destDir))
      else if (config.merge.enabled)
        // merge publish: the snapshot version + its CTL are final placement
        Seq(extract(spark, lakeDir, connectionStrings, secrets), transform,
          mergeWrite(destDir))
      else
        Seq(extract(spark, lakeDir, connectionStrings, secrets), transform,
          write(destDir), ctl(destDir), upload(destDir, azureUriTemplate))
    stages.foldLeft(RunContext(config, environment, now))((ctx, s) => s(ctx))
  }
}
