package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call from the benchmark into one layer's public
  * API. Times are epoch milliseconds (the clock Spark's listener events
  * use), so job intervals and spans share one axis. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Double, var end: Double = Double.NaN) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Double = end - start
}

/** Spark work attributed to one span through its job group. */
final class Counters {
  var jobs = 0
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var physicalMs = 0L
  val jobIntervals = ArrayBuffer[(Double, Double)]()
}

/** Span recorder plus the SparkListener / QueryExecutionListener that
  * attribute Spark's counters to spans. Single client thread: spans nest
  * strictly, the open span's id is the thread's Spark job group, and every
  * job, stage and task of that group is charged to it. Query planning
  * phases (QueryPlanningTracker) are charged to the innermost span open at
  * the phase's start. Spans are kept in memory; the report is computed
  * once at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Double)]()
  private val Group = "graftbench-span-"

  def countersOf(spanId: Int): Counters =
    counters.computeIfAbsent(spanId, _ => new Counters)

  def span[T](name: String, op: Int)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), op, now)
    spans += s
    open = s :: open
    sc.setJobGroup(Group + s.id, name)
    try body
    finally {
      s.end = now
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(Group + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until every event of the work done so far has been attributed. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  private def innermostAt(t: Double): Int = {
    var best = -1
    var i = spans.length - 1
    while (i >= 0 && best < 0) {
      val s = spans(i)
      if (s.start <= t && (s.end.isNaN || t <= s.end)) best = s.id
      i -= 1
    }
    // spans nest, so the latest-started containing span is the innermost
    best
  }

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val id = if (g.startsWith(Group)) g.drop(Group.length).toInt else -1
      jobSpan.put(e.jobId, (id, e.time.toDouble))
      e.stageIds.foreach(st => stageSpan.put(st, id))
      val c = countersOf(id)
      c.synchronized { c.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { case (id, t0) =>
        val c = countersOf(id)
        c.synchronized { c.jobIntervals += ((t0, e.time.toDouble)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = countersOf(Option(stageSpan.get(e.stageId)).fold(-1)(_.intValue))
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        }
      }
    }
  })

  private val planned = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]()))

  /** Charge a query's planning phases to the innermost span open when they
    * began, once per query execution. Actions arrive through the listener;
    * checkpointed stage outputs are charged by the caller. */
  def chargePlanning(qe: QueryExecution): Unit = if (planned.add(qe)) {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).fold(0L)(p => p.endTimeMs - p.startTimeMs)
    val t = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    val c = countersOf(innermostAt(t))
    c.synchronized {
      c.analysisMs += ms("analysis")
      c.optimizerMs += ms("optimization")
      c.physicalMs += ms("planning")
    }
  }

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = chargePlanning(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = chargePlanning(qe)
  })

  def allCounters: Map[Int, Counters] = counters.asScala.toMap
}

object Intervals {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, reach)
      val b = math.min(b0, hi)
      if (b > a) { total += b - a; reach = b }
    }
    total
  }
}
