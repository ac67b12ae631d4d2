package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One timed call into a layer. Spans of one lap share `lap`. */
final case class Span(id: Long, parent: Long, lap: Long, name: String,
    layer: String, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into each module. Recording is off
  * unless `on`; spans stay in memory until `write` at run end.
  */
object Trace {
  @volatile var on = false
  /** The engine counters of the traced window, when one is open. */
  @volatile var engine: EngineStats = _
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** Runs `body` inside a span; `lap = true` starts a new lap id. */
  def span[T](layer: String, name: String, lap: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val parent = outer.headOption.fold(0L)(_._1)
      val lapId = if (lap || outer.isEmpty) id else outer.head._2
      stack.set((id, lapId) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, lapId, name, layer, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self seconds per layer: each span's duration minus the part of it
    * its child spans cover.
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { sp =>
        val covered = union(kids.getOrElse(sp.id, Nil).map(k =>
          (math.max(k.startNs, sp.startNs), math.min(k.endNs, sp.endNs))))
        (sp.endNs - sp.startNs - covered) / 1e9
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) total += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) total += hi - lo
    total
  }

  /** Writes the spans as JSON lines, in start order. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try all.sortBy(_.startNs).foreach(s => w.println(Serialization.write(s)(DefaultFormats)))
    finally w.close()
  }
}

/** Engine-side counters for one measurement window, read from Spark's own
  * listeners: scheduler and task metrics, planning phases, scan metrics.
  */
final class EngineStats extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  @volatile private var worstSkew = 1.0

  private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)

  def reset(): Unit = { c.clear(); stageTasks.clear(); worstSkew = 1.0 }

  def get(k: String): Double = Option(c.get(k)).fold(0.0)(_.doubleValue)

  def skew: Double = worstSkew

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    add("tasks", 1)
    add("task_ms", info.duration.toDouble)
    stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long])
      .add(info.duration)
    val m = e.taskMetrics
    if (m != null) {
      add("cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime).toDouble)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val q = stageTasks.remove(e.stageInfo.stageId)
    if (q != null && q.size >= 2) {
      val d = q.asScala.toSeq.sorted
      val med = math.max(1L, d(d.size / 2))
      worstSkew = math.max(worstSkew, d.last.toDouble / med)
    }
  }

  /** Planning phases of one executed query. A DataFrame is analyzed when
    * it is built, so its own QueryExecution holds the analysis phase, and
    * the sink command that runs it holds optimization and planning.
    */
  def addPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (p, s) => add(s"${p}_ms", s.durationMs.toDouble) }

  /** Planning phases of every query, and the file-scan metrics of the
    * collected ones (query and panel results, not sink writes).
    */
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    addPhases(qe)
    if (funcName == "collect") {
      add("collected", 1)
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach { s =>
          s.metrics.get("numFiles").foreach(m => add("files_read", m.value.toDouble))
          s.metrics.get("metadataTime").foreach(m => add("metadata_ms", m.value.toDouble))
        }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = add("qe_failed", 1)
}

/** Peak heap in use after a collection (the driver JVM's live set), from
  * the collector's notifications: no collection is forced, so the timed
  * work runs as it would unobserved. `reset` starts a new window.
  */
object Heap {
  private val peak = new AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools.contains(pool) => u.getUsed
        }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0L)

  def peakMb: Double = peak.get / 1048576.0
}

/** Peak RDD storage (cached and locally checkpointed blocks) above the
  * level at `start`, sampled every 100 ms.
  */
final class StorageSampler(spark: SparkSession) {
  @volatile private var running = false
  @volatile private var peak = 0L
  private var base = 0L
  private var thread: Thread = _

  private def now(): Long = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum

  def start(): Unit = {
    base = now(); peak = base; running = true
    thread = new Thread(() => {
      while (running) {
        peak = math.max(peak, now())
        Thread.sleep(100)
      }
    })
    thread.setDaemon(true)
    thread.start()
  }

  def stopMb(): Double = {
    running = false
    thread.join()
    math.max(0L, peak - base) / 1048576.0
  }
}
