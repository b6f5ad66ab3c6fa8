package graft

import graft.config._
import graft.pipeline.{Incremental, IngestionPipeline}
import graft.sources.Lake
import graft.streaming.{EventsStream, UpsertView}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Every way data lands on `file:` paths, under a flight recording of the
  * processes the JVM starts: through [[graft.sinks.LocalFs]] no file-system
  * call starts one. Hadoop's own local filesystem starts `chmod`, `ls` and
  * `readlink` for its permission and link calls, hundreds across these runs. */
class ChildProcessSpec extends SparkSpec {

  test("landing files starts no child process: datasets, merge, compaction, increments, streams") {
    val base = graft.util.Scratch.dir("graft-forks").toString
    val events = Lake.table(spark, sf0001, "events").select("event_id", "user_id", "event_type", "ts")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val runs = try {
      Seq(
        IngestionPipeline.run(spark, DatasetConfig("orders_up",
          source = SourceConfig(sqlText = "SELECT o_orderkey, o_totalprice FROM orders"),
          upload = UploadConfig(fileSystemConfig = Some(FileSystemConfig(relativePath = "published")))),
          sf0001, s"$base/single"),
        IngestionPipeline.run(spark, DatasetConfig("orders_merge",
          source = SourceConfig(sqlText = "SELECT o_orderkey, o_orderstatus, 1 AS seq, 'U' AS op FROM orders"),
          merge = MergeConfig(enabled = true, keyColumns = Seq("o_orderkey"),
            sequenceColumn = "seq", operationColumn = "op")),
          sf0001, s"$base/merge")) ++ {
        Incremental.runIncrement(events, "ts", s"$base/inc.watermark", s"$base/inc")
        EventsStream.runIngestStream(spark, sf0001, ev => ev.select(col("event_id")),
          s"$base/stream/data", s"$base/stream/ckpt").count()
        UpsertView.runUpsertStream(spark, sf0001, s"$base/upsert/snap", s"$base/upsert/ckpt").count()
        Seq(IngestionPipeline.run(spark, DatasetConfig("inc_compact",
          maintenance = MaintenanceConfig(enabled = true, compactDir = "inc")), sf0001, base))
      }
    } finally rec.stop()
    runs.foreach(rc => assert(!rc.failed, rc.errors.mkString("; ")))
    assert(new java.io.File(s"$base/single/published").list().count(_.endsWith(".ctl")) == 1)

    val file = java.nio.file.Paths.get(s"$base/forks.jfr")
    rec.dump(file)
    rec.close()
    val started = RecordingFile.readAllEvents(file).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map { e =>
        val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        (e.getString("command"), frames)
      }
    // Spark's own housekeeping (a one-time `getconf PAGESIZE`, `rm -rf` of an
    // expired session's artifacts) starts processes at times no run controls;
    // a process started from Hadoop code is a file-system call's
    val fromHadoop = started.filter(_._2.exists(_.startsWith("org.apache.hadoop.")))
    assert(fromHadoop.isEmpty, s"${fromHadoop.size} of ${started.size} child processes from Hadoop:\n" +
      fromHadoop.take(10).map { case (cmd, at) => s"$cmd at ${at.take(12).mkString(" < ")}" }.mkString("\n"))
  }
}
