package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span at a layer boundary: what ran, when (epoch ms, with ns
  * resolution), which span caused it, and which op it belongs to. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, op: Int)

/** Spark-side counts for one job group (one phase of one op). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Job intervals (submit, end) in epoch ms. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one job. */
  def jobWallMs: Long = {
    val iv = jobIntervals.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Plan-phase durations of one QueryExecution, stamped with the end of
  * its last phase so it can be attributed to the op that ran it. */
final case class PlanPhases(endMs: Long, analyzeMs: Long, optimizeMs: Long, physicalMs: Long)

/** The traced run's recorder. Every Spark job the harness starts carries a
  * job group naming its op and phase; a SparkListener and a
  * QueryExecutionListener (both registered here, outside the engine's
  * sources) count per group. Spans are kept in memory and written when the
  * run ends. With tracing off the harness never creates one. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobSubmit = new ConcurrentHashMap[Int, Long]()
  private val endedMarkers = ConcurrentHashMap.newKeySet[String]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanPhases]()
  private val spanSeq = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      jobGroup.put(e.jobId, g)
      jobSubmit.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.put(s, g))
      stats(g).synchronized { stats(g).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = jobGroup.getOrDefault(e.jobId, "none")
      val s = stats(g)
      s.synchronized { s.jobIntervals += ((jobSubmit.getOrDefault(e.jobId, e.time), e.time)) }
      if (g.startsWith("marker-")) endedMarkers.add(g)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      stageSubmit.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      val s = stats(stageGroup.getOrDefault(id, "none"))
      s.synchronized { s.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stats(stageGroup.getOrDefault(e.stageId, "none"))
      val m = e.taskMetrics
      val info = e.taskInfo
      s.synchronized {
        s.tasks += 1
        if (info.failed || info.killed) s.failedTasks += 1
        s.taskWaitMs += math.max(0L, info.launchTime - stageSubmit.getOrDefault(e.stageId, info.launchTime))
        if (m != null) {
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(n: String) = ph.get(n).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      plans.add(PlanPhases(end, d("analysis"), d("optimization"), d("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Record a span for `body`. */
  def span[T](name: String, parent: Int, op: Int)(body: => T): T = {
    val id = nextId()
    val s0 = Tracer.nowMs()
    try body
    finally addSpan(Span(id, name, s0, Tracer.nowMs(), parent, op))
  }

  def nextId(): Int = spanSeq.incrementAndGet().toInt

  def addSpan(sp: Span): Unit = spans.synchronized { spans += sp }

  /** Stats of one group (empty stats when no job ran in it). */
  def group(g: String): GroupStats = groups.getOrDefault(g, new GroupStats)

  /** Plan phases of every query execution that ended inside [fromMs, toMs]. */
  def plansBetween(fromMs: Double, toMs: Double): Seq[PlanPhases] =
    plans.asScala.filter(p => p.endMs >= fromMs - 1 && p.endMs <= toMs + 1).toSeq

  /** Block until every event posted before this call has been delivered:
    * run a one-task marker job and wait for its end event, which the bus
    * delivers after everything queued before it. */
  def drain(timeoutMs: Long = 30000): Unit = {
    val g = s"marker-${System.nanoTime()}"
    sc.setJobGroup(g, "trace drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!endedMarkers.contains(g) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    if (!endedMarkers.contains(g))
      throw new IllegalStateException(s"listener bus did not drain within $timeoutMs ms")
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch milliseconds from the monotonic clock (sub-ms resolution). */
  def nowMs(): Double = (System.nanoTime() + epochOffsetNs) / 1e6
}
