package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters for one job group (one span, or everything else). */
final class Engine {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var inputBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  def add(o: Engine): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
  def copy(): Engine = { val e = new Engine; e.add(this); e }
  def minus(o: Engine): Engine = {
    val e = new Engine
    e.jobs = jobs - o.jobs; e.stages = stages - o.stages; e.tasks = tasks - o.tasks
    e.cpuNs = cpuNs - o.cpuNs; e.inputBytes = inputBytes - o.inputBytes
    e.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes; e.spillBytes = spillBytes - o.spillBytes
    e
  }
}

/** A finished job: its group, call site ("collect at Appender.scala:196")
  * and wall time. */
final case class JobRec(group: String, site: String, ms: Long)

/** Attributes every Spark job, stage and task to the job group of the
  * thread that submitted it. The harness sets the group to a span id
  * around each traced call; jobs of streaming queries and untraced code
  * land in the "" group. */
final class EngineListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Engine]
  private val started = mutable.Map.empty[Int, (String, String, Long)]
  private val finished = mutable.ArrayBuffer.empty[JobRec]

  private def of(g: String): Engine = byGroup.getOrElseUpdate(g, new Engine)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup(s) = g)
    of(g).jobs += 1
    // the result stage is named after the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    started(e.jobId) = (g, site, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (g, site, t0) => finished += JobRec(g, site, e.time - t0) }
  }

  /** Finished jobs of a group. */
  def jobsOf(g: String): Seq[JobRec] = synchronized(finished.filter(_.group == g).toVector)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def group(g: String): Engine = synchronized(byGroup.get(g).map(_.copy()).getOrElse(new Engine))
  def total(): Engine = synchronized { val t = new Engine; byGroup.values.foreach(t.add); t }
}

/** Counters at one instant. */
final case class Mark(engine: Engine, gcMs: Long, jitMs: Long)

/** One timed region. `op` is the id of the root span of the client
  * operation the span belongs to; `parent` is 0 for a root span. */
final case class Span(id: Long, op: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long)

/** Spans around client operations (roots) and around the harness's
  * calls into a layer's public functions (children). With tracing off
  * every method just runs its body. Spans stay in memory until
  * [[report]]. */
final class Recorder(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  // always registered: untraced runs read its task-CPU total, and job
  // groups (hence per-span numbers) exist only when tracing
  val listener = new EngineListener
  sc.addSparkListener(listener)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, Long)] = Nil // (span id, op id), innermost first
  private var nextId = 1L

  /** Run `body` as a span named `name` in `layer` (a root span when no
    * span is open on this thread). */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val (parent, op) = stack.headOption.fold((0L, id))(h => (h._1, h._2))
      stack = (id, op) :: stack
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some((p, _)) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None         => sc.clearJobGroup()
        }
        spans.synchronized(spans += Span(id, op, parent, name, layer, t0, t1))
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  /** Executor CPU of every task finished so far, seconds. */
  def taskCpuS(): Double = { drain(); listener.total().cpuNs / 1e9 }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time (span minus its direct children) in ms, per span id. */
  def selfMs: Map[Long, Double] = {
    val s = all
    val childNs = s.filter(_.parent != 0).groupBy(_.parent).view.mapValues(_.map(x => x.end - x.start).sum).toMap
    s.map(x => x.id -> (x.end - x.start - childNs.getOrElse(x.id, 0L)) / 1e6).toMap
  }

  /** Engine counters of the jobs submitted inside a span (not its children). */
  def engineOf(id: Long): Engine = listener.group(s"span-$id")

  /** Finished jobs submitted inside a span (not its children). */
  def jobsOf(id: Long): Seq[JobRec] = listener.jobsOf(s"span-$id")

  /** Engine and JVM counters now (for bracketing a measured phase). */
  def mark(): Mark = { drain(); Mark(listener.total(), Jvm.gcMs(), Jvm.jitMs()) }

  /** The engine per-layer metrics between two marks, per round. */
  def engineMetrics(from: Mark, to: Mark, rounds: Int): Map[String, Double] = {
    val e = to.engine.minus(from.engine)
    val n = math.max(1, rounds).toDouble
    Map(
      "spark.jobs" -> e.jobs / n, "spark.stages" -> e.stages / n, "spark.tasks" -> e.tasks / n,
      "spark.task_cpu_s" -> e.cpuNs / 1e9 / n, "spark.input_mb" -> e.inputBytes / 1048576.0 / n,
      "spark.shuffle_write_mb" -> e.shuffleWriteBytes / 1048576.0 / n,
      "spark.spill_mb" -> e.spillBytes / 1048576.0 / n,
      "jvm.gc_s" -> (to.gcMs - from.gcMs) / 1e3 / n, "jvm.jit_s" -> (to.jitMs - from.jitMs) / 1e3 / n)
  }

  /** Share of the root spans' time spent in their child (layer) spans. */
  def layerShare(): Double = {
    val s = all
    val roots = s.filter(_.parent == 0).map(x => x.end - x.start).sum
    val kids = s.filter(_.parent != 0).map(x => x.end - x.start).sum
    if (roots == 0) 0.0 else kids.toDouble / roots
  }

  /** Span table as JSON lines, with self time and own engine counters. */
  def report(path: String): Unit = if (enabled) {
    drain()
    val self = selfMs
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      val e = engineOf(s.id)
      w.println(f"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"self_ms":${self(s.id)}%.3f,"jobs":${e.jobs},""" +
        f""""stages":${e.stages},"tasks":${e.tasks},"task_cpu_ms":${e.cpuNs / 1e6}%.3f,""" +
        jobsOf(s.id).map(j => s"\"${j.site.replace("\"", "'")}:${j.ms}\"").mkString("\"job_ms\":[", ",", "]}"))
    } finally w.close()
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** JVM-wide clocks sampled around a measured phase. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
