package perfbench

import graft.sources.Lake
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import java.nio.file.Paths
import scala.collection.mutable

/** What one operation reports: rows it processed (the workload's unit for
  * `rows_per_s`), rows it returned, what it landed, and any failure it saw. */
final case class OpOut(rows: Long, resultRows: Long, landedRows: Long = 0, landedBytes: Long = 0,
                       landedFiles: Int = 0, errors: Seq[String] = Nil)

/** An operation of a workload; `run` receives the pass number (timed passes
  * count from 1; 0 is the untimed warm-up pass). */
final case class Op(name: String, run: Int => OpOut)

/** An output check, run after the JVM exits by `check.py` in DuckDB. */
final case class Check(op: String, pass: Int, kind: String, args: Map[String, Any])

final class Ctx(val spark: SparkSession, val lake: String, val work: String,
                val seed: Long, val tracer: Tracer) {
  val checks: mutable.ArrayBuffer[Check] = mutable.ArrayBuffer()
  def check(op: String, pass: Int, kind: String, args: (String, Any)*): Unit =
    checks.synchronized(checks += Check(op, pass, kind, args.toMap))
  /** A random stream for one purpose, fixed by the seed. */
  def rng(purpose: Int): java.util.Random = new java.util.Random(seed * 1000003L + purpose)
  def dir(parts: String*): String = (work +: parts).mkString("/")
}

trait Workload {
  /** Per-session set-up beyond lake registration; counted in `setup_s`. */
  def setup(spark: SparkSession, lake: String): Unit = ()
  /** Timed passes per run at the least. The JIT is still speeding passes up
    * after the warm-up, so runs that time different numbers of passes differ
    * by more than the host's noise: `run_seconds` is kept below this many
    * passes' time, so every run times exactly this many. */
  def minPasses: Int = 3
  def ops(ctx: Ctx): Seq[Op]
  /** Traced run only, after the timed window: isolated calls into single
    * layers. `opSeconds` is each operation's mean duration in the window. */
  def isolated(ctx: Ctx, opSeconds: Map[String, Double]): Map[String, Double]
}

/** One benchmark run in one JVM: set-up, an untimed warm-up pass, then timed
  * passes over the workload's operations, one client in a closed loop, in an
  * order the seed picks, until at least `minPasses` are done and `--seconds`
  * have elapsed. Writes everything it measured to `--out`. */
object Main {
  /** Task slots and shuffle partitions. Half of a 4-CPU host: the other two
    * CPUs keep the driver, JIT and GC threads off the task threads; this ran
    * faster than `local[4]` and slowed less under a competing CPU load. */
  val Cores = 2
  /** Set-up rounds per run; `setup_s` is their median. */
  val SetupRounds = 3
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val lake = a("lake")
    val work = a("work")

    val workload: Workload = workloadName match {
      case "ingest" => Ingest
      case "curate" => Curate
      case other => sys.error(s"unknown workload $other")
    }
    // Set-up rounds: build a session, register the lake, run the workload's
    // own set-up. The first round starts with the JVM; each later one stops
    // the previous session first and uses another spelling of the lake path,
    // so no per-path memo turns it into a no-op. The last session runs the
    // workload.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val rounds = (0 until SetupRounds).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$Cores]")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.ui.enabled", "false")
        // room for every class the workload generates: with the default 100
        // entries, repeated passes re-compiled 60-80 classes each, and the
        // fresh classes kept the JIT busy on two of the four CPUs
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t1 = System.nanoTime()
      val sessionS = if (i == 0) (System.currentTimeMillis() - jvmStart) / 1e3 else (t1 - t0) / 1e9
      val dir = lake + "/." * i
      Lake.registerAll(spark, dir)
      val t2 = System.nanoTime()
      workload.setup(spark, dir)
      (sessionS, (t2 - t1) / 1e9, (System.nanoTime() - t2) / 1e9)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val registerS = median(rounds.map(_._2))
    val setupS = median(rounds.map(r => r._1 + r._2 + r._3))

    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, lake, work, seed, tracer)
    val ops = workload.ops(ctx)
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val spanOfOp = mutable.Map[(String, Int), Int]()
    def runOp(op: Op, pass: Int): Unit = {
      val start = tracer.nowMs
      val t0 = System.nanoTime()
      val out = tracer.spanWithId(op.name) { id =>
        spanOfOp((op.name, pass)) = id
        try op.run(pass)
        catch { case e: Throwable => OpOut(0, 0, errors = Seq(s"${e.getClass.getName}: ${e.getMessage}")) }
      }
      val dur = (System.nanoTime() - t0) / 1e9
      if (pass > 0) records += Map("name" -> op.name, "pass" -> pass, "start_ms" -> start,
        "seconds" -> dur, "rows" -> out.rows, "result_rows" -> out.resultRows, "landed_rows" -> out.landedRows,
        "landed_bytes" -> out.landedBytes, "landed_files" -> out.landedFiles,
        "errors" -> out.errors)
    }

    val warmupStart = System.nanoTime()
    ops.foreach(runOp(_, 0))
    val warmupS = (System.nanoTime() - warmupStart) / 1e9
    // per pass: Janino compilations and JIT compile time so far, to tell
    // a pass slowed by code generation or compilation from one slowed by work
    val compilation = java.lang.management.ManagementFactory.getCompilationMXBean
    def compileStats(pass: Int): Map[String, Any] = Map("pass" -> pass,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "jit_ms" -> compilation.getTotalCompilationTime)
    val passStats = mutable.ArrayBuffer(compileStats(0))
    val windowStart = System.nanoTime()
    var pass = 0
    while (pass < workload.minPasses || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      pass += 1
      new scala.util.Random(ctx.rng(1000 + pass)).shuffle(ops).foreach(runOp(_, pass))
      passStats += compileStats(pass)
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS, "session_rounds_s" -> rounds.map(_._1),
      "register_rounds_s" -> rounds.map(_._2), "workload_setup_rounds_s" -> rounds.map(_._3),
      "warmup_s" -> warmupS, "window_s" -> windowS, "passes" -> pass, "pass_stats" -> passStats, "ops" -> records,
      "checks" -> ctx.checks.map(c => Map("op" -> c.op, "pass" -> c.pass, "kind" -> c.kind) ++ c.args))

    if (trace) {
      tracer.drain()
      val opSeconds = records.groupBy(_("name").asInstanceOf[String]).map { case (n, rs) =>
        n -> rs.map(_("seconds").asInstanceOf[Double]).sum / rs.size }
      val isoStart = System.nanoTime()
      val iso = workload.isolated(ctx, opSeconds)
      result("isolated_s") = (System.nanoTime() - isoStart) / 1e9
      tracer.drain()
      result("layers") = Layers.compute(tracer, records.toSeq, spanOfOp.toMap, iso, registerS)
      result("spans") = tracer.allSpans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      result("counters") = spanOfOp.toSeq.filter(_._1._2 == 1).sortBy(_._1._1).map {
        case ((name, _), id) =>
          val k = tracer.total(tracer.subtree(id))
          name -> (k.c ++ k.scans.flatMap { case (t, (r, b)) =>
            Seq(s"scan_rows.$t" -> r, s"scan_bytes.$t" -> b) })
      }.toMap
    }
    result("peak_rss_mb") = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    Json.write(Paths.get(a("out")), result)
    spark.stop()
  }
}
