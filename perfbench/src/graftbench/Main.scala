package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

object Stats {
  /** Median (mean of the middle pair for an even count); 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
  /** The latency at the highest percentile that still has at least ten
    * samples beyond it, but never below p90 (nearest rank): with fewer
    * than 101 samples no percentile at or above p90 has ten beyond it, and
    * p90 stands in, so the tail does not jump as the op count of a run
    * moves. (value, percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val i = math.max(s.length - 11, math.ceil(0.9 * s.length).toInt - 1)
    (s(i), 100.0 * (i + 1) / s.length, s.length - 1 - i)
  }
}

/** CPU time of the whole machine, in jiffies: `steal` is the time the
  * hypervisor ran another guest while a CPU of this machine had work. */
final case class Ticks(steal: Long, busy: Long, total: Long) {
  def -(o: Ticks): Ticks = Ticks(steal - o.steal, busy - o.busy, total - o.total)
  /** Share of the machine's CPU time stolen. */
  def stealShare: Double = steal.toDouble / math.max(1L, total)
  /** Share of the time a thread that had work could not run because the
    * hypervisor ran another guest. */
  def lostShare: Double = if (steal + busy > 0) steal.toDouble / (steal + busy) else 0.0
}

/** Times a stretch of work. On a shared host the hypervisor runs other
  * guests on this machine's CPUs, and a thread with work then waits: its
  * wall time grows by a share that depends on the neighbours, not on the
  * program. `seconds` takes that share out: the wall time times (1 -
  * the share of busy CPU time that was stolen). With no steal it is the
  * wall time. */
final class Stopwatch {
  private val t0 = System.nanoTime()
  private val k0 = Mem.ticks
  def lap(): Lap = Lap((System.nanoTime() - t0) / 1e9, Mem.ticks - k0)
}
final case class Lap(wall: Double, ticks: Ticks) {
  def seconds: Double = wall * (1.0 - ticks.lostShare)
}

object Mem {
  private def status(key: String): Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith(key + ":")).getOrElse(s"$key: 0 kB")
    line.split("\\s+")(1).toLong * 1024L
  }
  def rss: Long = status("VmRSS")
  /** Jiffies of all CPUs from the first line of /proc/stat (user nice
    * system idle iowait irq softirq steal ...). */
  def ticks: Ticks = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail
      .map(_.toLong).padTo(8, 0L)
    Ticks(steal = f(7), busy = f(0) + f(1) + f(2) + f(5) + f(6), total = f.take(8).sum)
  }
  def hwm: Long = status("VmHWM")
  /** Restart the VmHWM peak at the current RSS (Linux clear_refs "5"). */
  def resetPeak(): Unit = Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val afterGcPeak = new AtomicLong(0L)
  // every collection reports the heap it left behind: an upper estimate of
  // the program's live heap, which RSS of a fixed-size heap cannot show
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    _.asInstanceOf[NotificationEmitter].addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        afterGcPeak.accumulateAndGet(used, math.max(_, _))
      }, null, null)
  }
  /** Largest heap occupancy a collection left since the last reset. */
  def heapAfterGcPeak: Long = afterGcPeak.get
  def resetHeapAfterGcPeak(): Unit = afterGcPeak.set(0L)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process user + system CPU time, seconds. */
  def cpuS: Double = os.getProcessCpuTime / 1e9
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU seconds of the process's live Java threads: the client, Spark's
    * task, stage and service threads. The JVM's JIT compiler and GC
    * threads are not among them. */
  def javaCpuS: Double = threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum / 1e9
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => str(s.toString)
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Runs the client thread with the class loader the local executor's
  * SQL tasks use. Spark caches compiled generated classes by (context
  * class loader, code). In local mode the threads that plan a query (the
  * client thread and the stage threads it starts) and the task threads
  * have different loaders, so each whole-stage class is compiled and
  * cached twice: d11's 56 generated classes took 84 of the cache's 100
  * entries, kept in 4 segments of 25. Whether one segment overflowed
  * depended on the loaders' identity hashes, which differ from JVM to
  * JVM: in about 4 of 10 runs every op recompiled some 20 classes (2.9-3.3
  * s per op against 2.2-2.7 s), so a run measured a coin toss. With one
  * loader each class is cached once and every run measures the same
  * cache state. */
object TaskLoader {
  @volatile private var seen: ClassLoader = _
  def adopt(spark: SparkSession): Unit = {
    spark.range(1).coalesce(1).foreachPartition((_: Iterator[java.lang.Long]) =>
      seen = Thread.currentThread.getContextClassLoader)
    Thread.currentThread.setContextClassLoader(seen)
  }
}

/** One op's record from the closed loop: its latency with the
  * hypervisor's steal taken out (`seconds`, see Stopwatch) and as the
  * wall clock read it, and the CPU time the process's Java threads spent
  * while it ran. */
final case class OpRec(id: Int, label: String, seconds: Double, wall: Double,
                       cpuS: Double, ok: Boolean, inputBytes: Long)

/** The benchmark client: one process, one SparkSession from
  * graft.Engine.session(nproc), one closed-loop client thread. */
object Main {
  private final case class Args(workload: String, seed: Long, seconds: Int,
                                trace: Boolean, work: String, heap: String,
                                python: String, oracle: String, traceOut: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("heap"), m("python"), m("oracle"), m("trace-out"))
  }

  private def say(s: String): Unit = println(s)
  private val born = System.nanoTime()
  /** Phase timeline on stderr, for sizing the run against its time budget. */
  private def phase(s: String): Unit =
    System.err.println(f"[bench] ${(System.nanoTime() - born) / 1e9}%7.2fs $s")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val clock = new Stopwatch
    val spark = graft.Engine.session(cores)
    TaskLoader.adopt(spark)
    val sessionS = clock.lap().seconds
    val idleRss = Mem.rss
    phase("session")
    val w = Workload(a.workload, spark, a.work, a.seed)
    val oracle = new Oracle(a.python, a.oracle, s"${a.work}/oracle")
    try {
      val verdict = run(a, spark, cores, sessionS, idleRss, w, oracle)
      println("RESULT " + verdict)
    } finally spark.stop()
  }

  private val SetupReps = 3

  private def run(a: Args, spark: SparkSession, cores: Int, sessionS: Double,
                  idleRss: Long, w: Workload, oracle: Oracle): String = {
    // ---- set-up: input generation + one warm-up op, repeated; median
    val warmLabel = w.pass(0).head
    val setupRuns = (1 to SetupReps).map { r =>
      val clock = new Stopwatch
      w.generate()
      try w.run(warmLabel)
      catch { case e: Throwable => System.err.println(s"[bench] warm-up op failed: ${e.getMessage}") }
      val dt = clock.lap().seconds
      phase(s"setup rep $r")
      dt
    }
    // the oracle reads the last set-up's tables (every set-up writes the
    // same bytes) while the untimed result pass and warm-up run
    if (w.oracleSql.nonEmpty) oracle.expect(s"${a.work}/data", w.oracleSql)
    val setupS = sessionS + Stats.median(setupRuns)
    // every op label once more, untimed, keeping the outputs the gate checks
    w.pass(0).distinct.foreach { l =>
      try w.result(l)
      catch { case e: Throwable => System.err.println(s"[bench] result op $l failed: ${e.getMessage}") }
    }
    phase("result pass")
    stamp(a, spark, cores, w)

    // a fixed op count, not a duration, so every run enters the timed loop
    // at the same point of the JIT's warm-up whatever the machine's speed
    (1 to w.warmupOps).foreach { _ =>
      try w.run(warmLabel)
      catch { case e: Throwable => System.err.println(s"[bench] warm-up op failed: ${e.getMessage}") }
    }
    phase(s"warm-up: ${w.warmupOps} ops")
    oracle.await()
    phase("oracle answers")
    val secs = if (a.trace) a.seconds / 2.0 else a.seconds.toDouble
    val Loop(recs, wall, _, peak, heapAfterGc, steal, _, _) = loop(w, secs, None)
    val gate =
      try w.gate(oracle.compare)
      catch { case e: Throwable => Map(w.name -> Seq(s"gate error: ${e.getMessage}")) }
    phase("timed loop and gate")
    val failedLabels = gate.collect { case (l, errs) if errs.nonEmpty => l }.toSet
    gate.foreach { case (l, errs) =>
      say(s"# gate $l: ${if (errs.isEmpty) "ok" else errs.mkString("; ")}")
    }
    val good = recs.filter(r => r.ok && !failedLabels.contains(r.label) &&
      !failedLabels.contains(w.name))
    val goodIds = good.map(_.id).toSet
    val attempted = recs.length
    val failed = attempted - good.length
    // a failed or wrong op misses every latency limit
    val lat = recs.map(r => if (goodIds(r.id)) r.seconds else Double.PositiveInfinity)
    val (tailV, tailP, tailN) = Stats.tail(lat)
    val e2e = Seq(
      // the loop is closed, so the timed time is the sum of the op times
      ("ops_per_s", good.length / recs.map(_.seconds).sum, "1/s"),
      ("op_p50_s", Stats.median(lat), "s"),
      ("op_tail_s", tailV, "s"),
      ("cpu_s_per_op", if (good.nonEmpty) Stats.median(good.map(_.cpuS)) else Double.NaN, "s"),
      ("peak_rss_mb", peak / 1048576.0, "MB"),
      // growth over the idle engine (RSS right after session start) per
      // byte of one op's input: the measured counterpart of the 7x model
      ("mem_x_input", (peak - idleRss).toDouble / Stats.median(recs.map(_.inputBytes.toDouble)), "ratio"),
      ("setup_s", setupS, "s"))
    val correct = failed == 0
    say(f"# ${w.name}: correct=$correct attempted=$attempted failed=$failed " +
      f"failed_share=${failed.toDouble / math.max(1, attempted)}%.4f wall=$wall%.3fs")
    e2e.foreach { case (n, v, u) => say(f"# ${w.name} $n%-14s ${Json.num(v)}%s $u") }
    say(f"# ${w.name} op_tail_s is p$tailP%.1f of $attempted ops ($tailN beyond it" +
      (if (attempted < 101) "; under 101 ops p90 stands in)" else ")"))
    val rawLat = recs.map(r => if (goodIds(r.id)) r.wall else Double.PositiveInfinity)
    say(f"# ${w.name} steal_share ${steal.stealShare}%.4f of the machine's CPU time and " +
      f"${steal.lostShare}%.4f of its busy time during the timed loop; by the wall clock " +
      s"ops_per_s ${Json.num(good.length / wall)} op_p50_s ${Json.num(Stats.median(rawLat))} " +
      s"op_tail_s ${Json.num(Stats.tail(rawLat)._1)}")
    say(f"# ${w.name} heap_after_gc_mb ${heapAfterGc / 1048576.0}%.1f MB (largest heap a collection left in the timed loop)")
    say(s"# ${w.name} setup runs ${setupRuns.map(x => f"$x%.3f").mkString(" ")} s + session $sessionS s")

    val metrics =
      if (!a.trace) e2e.map { case (n, v, u) => n -> (v, u) }
      else {
        val tr = new Tracer(spark)
        val traced = loop(w, secs, Some(tr))
        val report = Layers.report(tr, w, traced.recs, traced.wall, cores, Stats.median(lat),
          Map("engine.jit_s" -> traced.jitS / math.max(1, traced.recs.length),
            "engine.heap_after_gc_mb" -> traced.heapAfterGc / 1048576.0,
            "plans.codegen_compiles" -> traced.codegen.toDouble / math.max(1, traced.recs.length)))
        writeSpans(a, tr)
        report.map { case (n, (v, u)) => say(f"# ${w.name} $n%-36s ${Json.num(v)}%s $u"); n -> (v, u) }
      }
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }

  /** What one timed loop measured. `peak` is VmHWM, `heapAfterGc` the
    * largest heap a collection left, `steal` the machine's CPU
    * ticks over the loop; `jitS` and `codegen` are the JVM's
    * JIT compile time and Spark's Janino compile count over the loop. */
  private final case class Loop(recs: Seq[OpRec], wall: Double, cpu: Double,
                                peak: Long, heapAfterGc: Long, steal: Ticks,
                                jitS: Double, codegen: Long)

  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def codegen: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Closed loop for at least `seconds`, in whole passes. */
  private def loop(w: Workload, seconds: Double, tr: Option[Tracer]): Loop = {
    val recs = ArrayBuffer[OpRec]()
    Mem.resetPeak()
    Mem.resetHeapAfterGcPeak()
    val (cpu0, jit0, cg0, ticks0) = (Mem.cpuS, jitS, codegen, Mem.ticks)
    val start = System.nanoTime()
    var p = 0
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      for (label <- w.pass(p)) {
        val input = w.inputBytes(label)
        val c = Mem.javaCpuS
        val pc = Mem.cpuS
        val clock = new Stopwatch
        val ok = try {
          tr match {
            case None => w.run(label)
            case Some(x) => w.runTraced(label, recs.length, x)
          }
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] op ${recs.length} ($label) failed: " +
              e.getMessage.linesIterator.take(2).mkString(" "))
            false
        }
        val lap = clock.lap()
        val dc = Mem.javaCpuS - c
        phase(f"op ${recs.length} $label ${lap.seconds}%.3fs (wall ${lap.wall}%.3fs, lost ${lap.ticks.lostShare}%.3f) " +
          f"cpu $dc%.2fs pcpu ${Mem.cpuS - pc}%.2fs (jit total ${jitS}%.1fs, gc total ${gcS}%.2fs)")
        recs += OpRec(recs.length, label, lap.seconds, lap.wall, dc, ok, input)
      }
      p += 1
    }
    val l = Loop(recs.toSeq, (System.nanoTime() - start) / 1e9, Mem.cpuS - cpu0, Mem.hwm,
      Mem.heapAfterGcPeak, Mem.ticks - ticks0, jitS - jit0, codegen - cg0)
    phase(f"loop: ${l.recs.length} ops in ${l.wall}%.2fs, cpu ${l.cpu}%.2fs, steal ${l.steal.stealShare}%.3f, " +
      f"jit ${l.jitS}%.2fs, janino compiles ${l.codegen}")
    l
  }

  /** The traced run's spans, written once at the end with the Spark
    * counters charged to each. */
  private def writeSpans(a: Args, tr: Tracer): Unit = {
    val cs = tr.allCounters
    val spans = tr.spans.map { s =>
      val c = cs.getOrElse(s.id, new Counters)
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
        "task_ms" -> c.taskMs.toString, "shuffle_write_bytes" -> c.shuffleWrite.toString,
        "shuffle_read_bytes" -> c.shuffleRead.toString, "spill_bytes" -> c.spill.toString))
    }
    val out = Paths.get(a.traceOut)
    Files.createDirectories(out.getParent)
    Files.writeString(out, Json.obj(Seq("workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString, "spans" -> spans.mkString("[", ",\n", "]"))) + "\n")
    say(s"# spans written to ${a.traceOut}")
  }

  private def stamp(a: Args, spark: SparkSession, cores: Int, w: Workload): Unit = {
    val confs = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.memory.offHeap.enabled",
      "spark.memory.offHeap.size", "spark.sql.extensions")
      .map(k => k -> spark.conf.getOption(k).getOrElse(""))
    val kv = Seq("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> cores, "jvm_heap" -> a.heap,
      "jvm_max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version) ++ confs ++ w.stamps
    say("# stamp " + Json.obj(kv.map { case (k, v) => k -> Json.value(v) }))
  }
}
