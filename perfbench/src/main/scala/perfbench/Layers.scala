package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run: each is the mean over the traced
  * operations of a per-operation value (see perfbench/README.md for the
  * layer each belongs to and the end-to-end metric it should move).
  */
object Layers {

  /** Modules whose share of executor time is reported. */
  val Modules: Seq[String] =
    Seq("pipeline", "sources", "operators.Analytics", "operators.Quality", "operators.TextOps")

  def perSpan(s: Span, inputBytes: Long): Seq[(String, Double, String)] = {
    val taskMs = s.total("task_ms")
    def share(x: Double) = if (taskMs > 0) 100.0 * x / taskMs else 0.0
    // jobs outside any SQL execution belong to the module of the span itself
    def moduleMs(m: String) = s.execs.filter(_.module == m).map(_.c.v("task_ms")).sum +
      (if (s.module == m) s.c.v("task_ms") else 0.0)
    val peak = (s.c.v("peak_exec_mem") +: s.execs.map(_.c.v("peak_exec_mem")).toSeq).max
    Seq(
      ("pipeline.self_ms", s.selfMs, "ms"),
      ("pipeline.actions", s.execs.count(e => e.root == e.id).toDouble, "count"),
      ("sources.read_ms", s.total("read_task_ms"), "ms"),
      ("sources.bytes_read", s.total("bytes_read"), "bytes"),
      ("sources.rows_read", s.total("rows_read"), "count"),
      ("sources.read_amplification", s.total("bytes_read") / inputBytes, "ratio"),
      ("sources.rows_per_result", s.total("rows_read") / math.max(1.0, s.c.v("result_rows")), "ratio"),
      ("sources.write_share_pct", share(s.total("write_task_ms")), "%"),
      ("sources.bytes_written", s.total("bytes_written"), "bytes"),
      ("sources.files_written", s.total("files_written"), "count"),
      ("operators.task_ms", taskMs, "ms")) ++
    Modules.map(m => (s"$m.task_share_pct", share(moduleMs(m)), "%")) ++ Seq(
      ("operators.shuffle_bytes", s.total("shuffle_bytes"), "bytes"),
      ("operators.spill_bytes", s.total("spill_bytes"), "bytes"),
      ("operators.peak_exec_mem_mb", peak / 1048576.0, "MB"),
      ("spark.plan_ms", s.c.v("plan_ms"), "ms"),
      ("spark.codegen_ms", s.c.v("codegen_ms"), "ms"),
      ("spark.codegen_compiles", s.c.v("codegen_compiles"), "count"),
      ("spark.jobs", s.total("jobs"), "count"),
      ("spark.stages", s.total("stages"), "count"),
      ("spark.tasks", s.total("tasks"), "count"),
      ("spark.sched_wait_ms", s.total("sched_wait_ms"), "ms"),
      ("spark.shuffle_fetch_wait_pct", share(s.total("fetch_wait_ms")), "%"),
      ("spark.gc_ms", s.c.v("gc_ms"), "ms"))
  }

  def metrics(spans: Seq[Span], inputBytes: Long): Seq[(String, Double, String)] = {
    val per = spans.map(perSpan(_, inputBytes))
    per.head.indices.map { j =>
      val (name, _, unit) = per.head(j)
      (name, per.map(_(j)._2).sum / per.length, unit)
    }
  }
}

/** Heap occupancy right after garbage collections, from the JVM's GC
  * notifications (every collector, every heap pool): the peak over the
  * run's own collections, and the occupancy after one explicit full
  * collection at the end.
  */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  @volatile private var peak = 0L
  @volatile private var explicit = -1L
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized {
        if (info.getGcCause == "System.gc()") explicit = used else peak = math.max(peak, used)
      }
    }

  /** Runs one full collection and returns the heap it leaves occupied. */
  def afterFullGcMb(): Double = {
    explicit = -1L
    System.gc()
    // the notification arrives on a JVM service thread shortly after the collection
    val deadline = System.nanoTime() + 5000000000L
    while (explicit < 0 && System.nanoTime() < deadline) Thread.sleep(10)
    require(explicit >= 0, "no notification for the explicit collection")
    explicit / 1048576.0
  }

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(this))
  def peakMb: Double = peak / 1048576.0
}
