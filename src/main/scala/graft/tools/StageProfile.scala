package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool: per-stage metrics for one or more gate queries — where a
  * query's time actually goes (guide §1: measure first). For each named
  * query, runs one warmup + one measured pass and prints every stage the
  * measured pass scheduled: task count, executor run/CPU time, input
  * bytes, shuffle read/write bytes, spill. The stage list is the
  * empirical mirror of the plan's Exchange structure: more stages than
  * expected = hidden shuffles or re-executed subtrees.
  *
  * `sbt "runMain graft.tools.StageProfile <q1,q2,...> <sfDir>"`
  * (honors SPARK_GRAFT_CPUS; one Spark session for the whole list.) */
object StageProfile {
  final case class StageRow(id: Int, name: String, tasks: Int,
                            runMs: Long, cpuMs: Long, inBytes: Long,
                            srBytes: Long, swBytes: Long, spill: Long)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val buf = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        buf.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    })

    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warmup: JIT + memo builds out of the measured pass
      fn(spark, sfDir).count()
      buf.clear()
      val w0 = System.nanoTime(); val g0 = gcMs(); val j0 = jitBean.getTotalCompilationTime
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      val gcS = (gcMs() - g0) / 1e3; val jitS = (jitBean.getTotalCompilationTime - j0) / 1e3
      // listener bus is async (and private) — settle briefly before draining
      Thread.sleep(600)
      val rows = {
        val it = buf.iterator(); val b = Seq.newBuilder[StageRow]
        while (it.hasNext) b += it.next(); b.result().sortBy(_.id)
      }
      println(f"%n=== $name: $n rows, $wall%.2fs wall, ${rows.size} stages, " +
        f"${rows.map(_.runMs).sum / 1e3}%.2f task-run-s, ${rows.map(_.cpuMs).sum / 1e3}%.2f task-cpu-s, " +
        f"gc $gcS%.2fs, jit $jitS%.2fs ===")
      println(f"${"stage"}%6s ${"tasks"}%5s ${"run_s"}%8s ${"cpu_s"}%8s ${"input"}%10s ${"sh_read"}%10s ${"sh_write"}%10s ${"spill"}%8s  name")
      rows.foreach { r =>
        def mb(v: Long) = f"${v / 1048576.0}%.1fM"
        println(f"${r.id}%6d ${r.tasks}%5d ${r.runMs / 1e3}%8.2f ${r.cpuMs / 1e3}%8.2f " +
          f"${mb(r.inBytes)}%10s ${mb(r.srBytes)}%10s ${mb(r.swBytes)}%10s ${mb(r.spill)}%8s  ${r.name}")
      }
    }
    spark.stop()
  }
}
