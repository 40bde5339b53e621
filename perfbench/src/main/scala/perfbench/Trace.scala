package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Maps the call-site details Spark records for a SQL execution (the long
  * form: one stack frame per line, innermost first) to the program module
  * that issued it.
  */
object Attribution {
  private val Packages = Set("pipeline", "sources", "operators", "functions", "streaming")
  private val Frame = """graft\.([A-Za-z0-9_]+)\.([A-Za-z0-9_]+)""".r

  /** `operators.<Object>` for operator objects, the package name otherwise. */
  def module(details: String): Option[String] =
    details.linesIterator.flatMap(l => Frame.findFirstMatchIn(l)).collectFirst {
      case m if Packages(m.group(1)) =>
        if (m.group(1) == "operators") s"operators.${m.group(2).stripSuffix("$")}" else m.group(1)
    }
}

/** Counters summed over one SQL execution, or over the jobs of a span that
  * ran outside any SQL execution (RDD actions such as `localCheckpoint`).
  */
final class Counters {
  val v: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, x: Double): Unit = v(k) += x
}

final class Exec(val id: Long, val root: Long, val startMs: Long, val module: String) {
  var endMs: Long = -1L
  val c = new Counters
}

/** One benchmark call span: a public entry point plus the collect of its result. */
final class Span(val name: String, val module: String, val startMs: Long) {
  var endMs: Long = -1L
  val execs: mutable.ArrayBuffer[Exec] = mutable.ArrayBuffer.empty
  /** Jobs not under a SQL execution, plus span-level counts (GC, codegen, plan). */
  val c = new Counters

  def durationMs: Double = (endMs - startMs).toDouble

  /** Span time not covered by any child SQL execution. */
  def selfMs: Double = {
    val iv = execs.map(e => (math.max(e.startMs, startMs), math.min(if (e.endMs < 0) endMs else e.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b } else curB = math.max(curB, b)
    }
    covered += curB - curA
    durationMs - covered
  }

  def total(k: String): Double = c.v(k) + execs.map(_.c.v(k)).sum
}

/** Records spans from outside the program: a SparkListener for SQL
  * executions, jobs, stages and tasks, a QueryExecutionListener for the
  * planning phases, and Spark's SQL status store for written files. Events
  * arrive on Spark's listener bus; `end` drains the bus before closing a
  * span, so each event lands in the span that was open when its work ran.
  * Spans stay in memory until `dump`.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var current: Option[Span] = None
  private val execs = mutable.Map.empty[Long, Exec]
  private val stageTarget = mutable.Map.empty[Int, Counters]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def attach(): Unit = { spark.sparkContext.addSparkListener(this); spark.listenerManager.register(this) }
  def detach(): Unit = { spark.sparkContext.removeSparkListener(this); spark.listenerManager.unregister(this) }

  def begin(name: String, module: String): Span = {
    val s = new Span(name, module, System.currentTimeMillis())
    current = Some(s); s
  }

  def end(s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    org.apache.spark.BusAccess.drain(spark.sparkContext)
    synchronized { current = None; stageTarget.clear(); stageSubmitted.clear(); execs.clear() }
    // the SQL status store holds each execution's plan metrics once the bus is drained
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore
    for (e <- s.execs; ui <- store.execution(e.id)) {
      val values = store.executionMetrics(e.id)
      ui.metrics.filter(_.name == "number of written files").foreach { m =>
        values.get(m.accumulatorId).foreach(v => e.c.add("files_written", v.replace(",", "").trim.toDouble))
      }
    }
    spans += s
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart => current.foreach { s =>
        val x = new Exec(e.executionId, e.rootExecutionId.getOrElse(e.executionId), e.time,
          Attribution.module(e.details).getOrElse(s.module))
        s.execs += x; execs(e.executionId) = x
      }
      case e: SparkListenerSQLExecutionEnd => execs.get(e.executionId).foreach(_.endMs = e.time)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.foreach { s =>
      val target = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execs.get(id.toLong)).map(_.c).getOrElse(s.c)
      target.add("jobs", 1)
      e.stageIds.foreach(stageTarget(_) = target)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTarget.get(e.stageInfo.stageId).foreach { t =>
      t.add("stages", 1)
      e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (t <- stageTarget.get(e.stageId); m <- Option(e.taskMetrics)) {
      val run = m.executorRunTime.toDouble
      t.add("tasks", 1)
      t.add("task_ms", run)
      t.add("bytes_read", m.inputMetrics.bytesRead)
      t.add("rows_read", m.inputMetrics.recordsRead)
      if (m.inputMetrics.recordsRead > 0) t.add("read_task_ms", run)
      t.add("bytes_written", m.outputMetrics.bytesWritten)
      if (m.outputMetrics.bytesWritten > 0) t.add("write_task_ms", run)
      t.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      t.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      t.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      t.v("peak_exec_mem") = math.max(t.v("peak_exec_mem"), m.peakExecutionMemory.toDouble)
      stageSubmitted.get(e.stageId).foreach(sub => t.add("sched_wait_ms", e.taskInfo.launchTime - sub))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    current.foreach { s =>
      val phases = qe.tracker.phases
      s.c.add("plan_ms", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** All spans as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    def obj(c: Counters) = c.v.toSeq.sortBy(_._1).map { case (k, x) => s""""$k":$x""" }.mkString("{", ",", "}")
    val lines = spans.map { s =>
      val ex = s.execs.map(e =>
        s"""{"id":${e.id},"root":${e.root},"module":"${e.module}","start":${e.startMs},"end":${e.endMs},"counters":${obj(e.c)}}""")
      s"""{"span":"${s.name}","module":"${s.module}","start":${s.startMs},"end":${s.endMs},"counters":${obj(s.c)},"executions":${ex.mkString("[", ",", "]")}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}
