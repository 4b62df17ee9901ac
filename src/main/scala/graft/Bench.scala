package graft

import graft.util.{MemoCost, ProcStat}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The query sweep: times every gate query and reports the numbers. It
  * measures; it does not judge. Regressions are found by the same-window
  * A/B comparator in `perfbench/`, which interleaves parent and change
  * runs with fixed bounds.
  *
  * Stdout ends with one compact JSON line (`summaryLine`); the complete
  * per-query record goes to `bench_detail.json`. */
object Bench {

  /** Per-query timing: wall seconds + process-CPU seconds. CPU seconds
    * are the steal-immune cost (see [[graft.util.ProcStat]]); wall
    * seconds are the headline. */
  final case class T(wall: Double, cpu: Double)

  /** JSON string escape (same contract as Verify's). */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def jmap(m: Map[String, Double]): String =
    m.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  /** Cumulative JIT-compiler milliseconds (C1+C2) — the fresh-JVM churn
    * that dominates the cold pass's process CPU. Whichever query runs
    * while C2 is busy absorbs it, so per-query cold gaps are run-random
    * and only the bracketed total is attributable. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The stdout summary line. The driver keeps only a bounded ~2000-char
    * tail of stdout and parses the JSON from it, so the line carries the
    * scalars, the 12 slowest warm queries and at most 3 short errors —
    * a mass failure cannot push the scalars out of the window. */
  def summaryLine(sfDir: String, warm: Map[String, T], cold: Map[String, T],
                  errors: Seq[(String, String)], memoTotal: Double,
                  stealWarm: Double, stealCold: Double, cdsLoaded: Boolean): String = {
    val slowest = warm.toSeq.sortBy(-_._2.wall).take(12)
      .map { case (k, v) => q(k) + ":" + r3(v.wall) }.mkString("{", ",", "}")
    val errs = errors.take(3)
      .map { case (k, v) => q(k) + ":" + q(v.take(100)) }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${r3(warm.values.map(_.wall).sum)},"unit":"sec","sf":${q(sfDir)},"n_queries":${warm.size},"n_errors":${errors.size},"cds_archive_loaded":$cdsLoaded,"cold_total":${r3(cold.values.map(_.wall).sum)},"memo_total_s":${r3(memoTotal)},"cpu_total":${r3(warm.values.map(_.cpu).sum)},"steal_warm_pct":${r3(stealWarm)},"steal_cold_pct":${r3(stealCold)},"queries":$slowest,"errors":$errs,"detail":"bench_detail.json"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // dev: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val queries = only.fold(SparkEntry.queries)(ns => SparkEntry.queries.filter(kv => ns(kv._1)))

    def pass(record: Boolean): Map[String, T] =
      queries.keys.flatMap { name =>
        val w0 = System.nanoTime(); val c0 = ProcStat.cpuNs()
        try {
          queries(name)(spark, sfDir).count()
          Some(name -> T((System.nanoTime() - w0) / 1e9, (ProcStat.cpuNs() - c0) / 1e9))
        } catch {
          case e: Throwable =>
            // a failed query must NOT look like a fast success: record the
            // error and emit NO timing row, so failures stay out of the
            // totals and the min-of-2
            if (record) errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
            None
        }
      }.toMap

    // one untimed cold pass (JIT + codegen + memo builds), then TWO warm
    // passes reporting the per-query MIN of wall and of CPU independently.
    // /proc/stat steal brackets each phase so a stolen window is visible.
    val steal0 = ProcStat.stealJiffies()
    val jit0 = jitMs(); val gc0 = gcMs()
    val cold = pass(record = false)
    val coldJitS = (jitMs() - jit0) / 1e3
    val coldGcS = (gcMs() - gc0) / 1e3
    // the cold pass builds every per-(session, sf-dir) memo as a side
    // effect; the ledger splits cold_total into one-time memo builds vs
    // first-run query cost
    val memoCosts = MemoCost.snapshot
    val steal1 = ProcStat.stealJiffies()
    val t1 = pass(record = true)
    val t2 = pass(record = true)
    val steal2 = ProcStat.stealJiffies()
    val warm: Map[String, T] = t1.map { case (k, v) =>
      val o = t2.getOrElse(k, v)
      k -> T(math.min(v.wall, o.wall), math.min(v.cpu, o.cpu))
    }
    val stealCold = ProcStat.stealPct(steal0, steal1)
    val stealWarm = ProcStat.stealPct(steal1, steal2)
    // whether the graft CDS archive actually MAPPED into this JVM:
    // -Xshare:auto ignores a stale archive silently, so only the .jsa
    // mapping proves the cold path had it (the JDK's own classes.jsa is
    // always mapped, hence the name match)
    val cdsLoaded =
      try scala.io.Source.fromFile("/proc/self/maps").getLines()
        .exists(l => l.contains("graft-cds") && l.contains(".jsa"))
      catch { case _: Throwable => false }
    val memoTotal = memoCosts.values.sum
    val total = warm.values.map(_.wall).sum
    val errs = errors.map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":${q(sfDir)},"queries":${jmap(warm.map { case (k, v) => k -> v.wall })},"queries_cpu":${jmap(warm.map { case (k, v) => k -> v.cpu })},"errors":$errs,"n_errors":${errors.size},"cpu_total":${warm.values.map(_.cpu).sum},"cold_total":${cold.values.map(_.wall).sum},"cold_cpu_total":${cold.values.map(_.cpu).sum},"cold_jit_s":$coldJitS,"cold_gc_s":$coldGcS,"cold_queries":${jmap(cold.map { case (k, v) => k -> v.wall })},"cold_queries_cpu":${jmap(cold.map { case (k, v) => k -> v.cpu })},"memo_build_s":${jmap(memoCosts)},"memo_total_s":$memoTotal,"cds_archive_loaded":$cdsLoaded,"steal_warm_pct":$stealWarm,"steal_cold_pct":$stealCold}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // detail dump is best-effort
    spark.stop()
    // last line on stdout, after Spark's shutdown chatter (which goes to
    // stderr) — the driver parses this line (showSuccess := false keeps
    // sbt from printing "[success] ..." after it)
    System.out.println(summaryLine(sfDir, warm, cold, errors.toSeq, memoTotal,
      stealWarm, stealCold, cdsLoaded))
    System.out.flush()
  }
}
