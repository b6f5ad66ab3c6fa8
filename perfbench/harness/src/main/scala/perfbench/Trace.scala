package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One timed interval of the benchmark: an operation, or a call into one
  * layer made from inside an operation. `op` is the operation's span id. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Double, endMs: Double)

/** Spark work attributed to one span. */
final class Counters {
  val c: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
    "jobs" -> 0L, "stages" -> 0L, "tasks" -> 0L,
    "input_rows" -> 0L, "input_bytes" -> 0L, "output_rows" -> 0L, "output_bytes" -> 0L,
    "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L, "shuffle_records" -> 0L,
    "spill_bytes" -> 0L, "gc_ms" -> 0L, "executor_cpu_ns" -> 0L, "executor_run_ms" -> 0L,
    "executions" -> 0L, "exchanges" -> 0L, "wscg_stages" -> 0L, "non_codegen_nodes" -> 0L,
    "streaming_batches" -> 0L)
  /** table -> (rows, bytes) read by file scans */
  val scans: mutable.Map[String, (Long, Long)] = mutable.TreeMap()
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()
  def add(k: String, v: Long): Unit = synchronized(c(k) = c(k) + v)
}

/** Spans kept in memory, and a listener owned by the benchmark that files
  * every Spark job, stage, task, SQL execution and streaming batch under the
  * span that caused it. A span sets the Spark job group to its id; streaming
  * queries run under their own job group (the run id), which is mapped back
  * to the span that started the query. When disabled, `span` only runs its
  * body: nothing is registered and no job group is set. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new InheritableThreadLocal[List[(Int, Int)]] { // (span, op)
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private var nextId = 0
  private val counters = mutable.HashMap[Int, Counters]()
  private val groupToSpan = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val stageToSpan = mutable.HashMap[Int, Int]()
  private val executionToSpan = mutable.HashMap[Long, Int]()

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def countersOf(span: Int): Counters = synchronized(counters.getOrElseUpdate(span, new Counters))

  private def spanOfProps(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(groupToSpan.get(g))).map(_.intValue)

  /** Run `body` as a span named `name`, child of the calling thread's span.
    * A span with no parent is an operation. */
  def span[T](name: String)(body: => T): T = spanWithId(name)(_ => body)

  /** As [[span]], handing the span's id to the body (0 when disabled). */
  def spanWithId[T](name: String)(body: Int => T): T =
    if (!enabled) body(0)
    else {
      val outer = stack.get()
      val id = synchronized { nextId += 1; nextId }
      val op = outer.headOption.map(_._2).getOrElse(id)
      val group = s"pb-$id"
      groupToSpan.put(group, id)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(group, name)
      stack.set((id, op) :: outer)
      val start = nowMs
      try body(id)
      finally {
        val end = nowMs
        synchronized(spans += Span(id, name, outer.headOption.map(_._1).getOrElse(0), op, start, end))
        stack.set(outer)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = spanOfProps(e.properties).foreach { s =>
      val k = countersOf(s)
      k.add("jobs", 1)
      Tracer.this.synchronized {
        e.stageIds.foreach(stageToSpan(_) = s)
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(_.toLongOption).foreach(x => executionToSpan.getOrElseUpdate(x, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized(stageToSpan.get(e.stageInfo.stageId))
        .foreach(s => countersOf(s).add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized(stageToSpan.get(e.stageId)).foreach { s =>
        val k = countersOf(s)
        k.synchronized {
          k.add("tasks", 1)
          k.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          Option(e.taskMetrics).foreach { m =>
            k.add("input_rows", m.inputMetrics.recordsRead)
            k.add("input_bytes", m.inputMetrics.bytesRead)
            k.add("output_rows", m.outputMetrics.recordsWritten)
            k.add("output_bytes", m.outputMetrics.bytesWritten)
            k.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
            k.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
            k.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
            k.add("spill_bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
            k.add("gc_ms", m.jvmGCTime)
            k.add("executor_cpu_ns", m.executorCpuTime)
            k.add("executor_run_ms", m.executorRunTime)
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val s = Tracer.this.synchronized(executionToSpan.remove(end.executionId))
        for (span <- s; qe <- Bridge.queryExecution(end))
          Tracer.planStats(qe.executedPlan, countersOf(span))
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // delivered on the query's own thread, which inherits the span stack of
    // the thread that started it
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      stack.get().headOption.foreach(s => groupToSpan.put(e.runId.toString, s._1))
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Option(groupToSpan.get(e.progress.runId.toString))
        .foreach(s => countersOf(s.intValue).add("streaming_batches", 1))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every queued listener event, so counters are complete. */
  def drain(): Unit = if (enabled) Bridge.drainListeners(sc)

  def allSpans: Seq[Span] = synchronized(spans.sortBy(_.id).toSeq)

  /** Counters summed over the given spans. */
  def total(ids: Iterable[Int]): Counters = {
    val out = new Counters
    ids.flatMap(i => synchronized(counters.get(i))).foreach { k =>
      k.synchronized {
        k.c.foreach { case (n, v) => out.add(n, v) }
        k.scans.foreach { case (t, (r, b)) =>
          val (r0, b0) = out.scans.getOrElse(t, (0L, 0L))
          out.scans(t) = (r0 + r, b0 + b)
        }
        out.taskIntervals ++= k.taskIntervals
      }
    }
    out
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Seq[Int] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    def go(i: Int): Seq[Int] = i +: kids.getOrElse(i, Nil).flatMap(s => go(s.id))
    go(root)
  }
}

object Tracer {
  /** Milliseconds of [startMs, endMs] during which no task ran. */
  def idleMs(startMs: Double, endMs: Double, tasks: Seq[(Long, Long)]): Double = {
    var busy = 0.0
    var reach = startMs
    tasks.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a.toDouble, reach)
      val hi = math.min(b.toDouble, endMs)
      if (hi > lo) { busy += hi - lo; reach = hi }
    }
    (endMs - startMs) - busy
  }

  /** Count exchanges, whole-stage-codegen stages and operators left outside
    * codegen, and file-scan rows and bytes per table, in an executed plan. */
  def planStats(plan: SparkPlan, k: Counters): Unit = k.synchronized {
    k.add("executions", 1)
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
        case q: QueryStageExec => walk(q.plan, inCodegen = false)
        case w: WholeStageCodegenExec =>
          k.add("wscg_stages", 1)
          walk(w.child, inCodegen = true)
        case i: InputAdapter => walk(i.child, inCodegen = false)
        case _: ReusedExchangeExec =>
        case x: Exchange =>
          k.add("exchanges", 1)
          walk(x.child, inCodegen = false)
        case other =>
          if (!inCodegen) k.add("non_codegen_nodes", 1)
          other match {
            case s: DataSourceScanExec =>
              val table = s match {
                case f: FileSourceScanExec => f.relation.location.rootPaths.headOption
                  .map(_.getName.stripSuffix(".parquet")).getOrElse(f.nodeName)
                case o => o.nodeName
              }
              def m(n: String): Long = s.metrics.get(n).map(_.value).getOrElse(0L)
              val (r0, b0) = k.scans.getOrElse(table, (0L, 0L))
              k.scans(table) = (r0 + m("numOutputRows"),
                b0 + math.max(m("filesSize"), m("staticFilesSize")))
            case _ =>
          }
          other.children.foreach(walk(_, inCodegen))
      }
      p.subqueries.foreach(walk(_, inCodegen = false))
    }
    walk(plan, inCodegen = false)
  }
}
