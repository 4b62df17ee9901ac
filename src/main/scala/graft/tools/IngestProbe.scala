package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Append/ingest-path throughput probe — measures the scale-out story the
 * LogSink scaladoc claims but round 8 never measured: dense
 * position/revision assignment is inherently a per-sequence sequential
 * fold, so ONE log's sink is driver-bounded by design; throughput is
 * supposed to come from partitioning the log
 * ([[graft.log.PartitionedLog]]: hash-bucketed stream families, one
 * dense sequence PER BUCKET, one independent sink each).
 *
 * The probe ingests the sf events table (as proposed events: stream =
 * user id, uuid = event id) through [[graft.streaming.LogSink.applyBatch]]
 * micro-batches into
 *
 *  1. a SINGLE log (one dense global sequence), and
 *  2. `nBuckets` bucketed logs, one applyBatch PER BUCKET PER
 *     MICRO-BATCH, buckets running CONCURRENTLY (separate driver
 *     threads — exactly the one-sink-per-bucket topology, where each
 *     bucket's dense sequence is independent so no coordination exists
 *     between them),
 *
 * across three regimes: small triggers (latency-bound: per-trigger fixed
 * cost — 2 precondition jobs + 1 collect + 1 parquet commit — is
 * identical for every sink, so bucketing can't beat ~1x there), large
 * triggers, and a 10x-volume large-trigger point (throughput-bound: the
 * per-row work — driver-side sequential fold, parquet encode, log scans
 * — splits nBuckets ways and runs concurrently; this is the shape a
 * real deployment's triggers sit in). Each regime runs in a FRESH
 * SparkSession — an earlier probe draft shared one JVM-wide session and
 * the 10x regime inherited enough block-manager/GC pollution from the
 * earlier regimes to flip its result; isolation is what makes the
 * artifact trustworthy.
 *
 * Writes `ingest_probe.json`; [[graft.Bench]] embeds it into
 * `bench_detail.json` (key "ingest").
 */
object IngestProbe {

  private def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-ingest").toString

  /** One regime's measurements: wall + process-CPU seconds per topology,
    * plus the host steal percentage over the whole regime run (the
    * r10 16-bucket ladder point was uninterpretable without these). */
  final case class Regime(singleSecs: Double, bucketSecs: Double, n: Long,
                          singleCpu: Double, bucketCpu: Double, stealPct: Double)

  /** Measurements for one regime, in its own session. `includeSingle =
    * false` skips the single-sink half (for the bucket ladder, where the
    * single-sink time is bucket-count-independent and already measured
    * by the main regime). */
  private def regime(sfDir: String, nBuckets: Int, nMicroBatches: Int,
                     copies: Int, includeSingle: Boolean = true): Regime = {
    val steal0 = graft.util.ProcStat.stealJiffies()
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // proposed-event shape from the fixture's raw events; ord = event id
      // gives deterministic within-stream order and contiguous micro-batch
      // ranges (the trigger windows of a real sink). `copies` > 1 mirrors
      // the corpus with fresh uuids (same streams — their dense sequences
      // just get longer).
      val base = graft.log.Fixture.eventsNoRevision(spark, sfDir)
        .select(col("stream"), concat(lit("evt-"), col("event_id")).as("uuid"),
          col("event_type"), coalesce(col("props"), lit("{}")).as("data"),
          col("event_id").as("ord"))
      val src = (if (copies == 1) base
      else (0 until copies).map { c =>
        base.select(col("stream"), concat(col("uuid"), lit(s"-c$c")).as("uuid"),
          col("event_type"), col("data"), (col("ord") * copies + c).as("ord"))
      }.reduce(_ unionAll _)).localCheckpoint()
      val n = src.count()
      val hi = src.agg(max(col("ord"))).head().getLong(0)
      val bucketed = (0 until nBuckets).map { b =>
        b -> src.filter(
          pmod(call_function("graft_polyhash", col("stream")), lit(nBuckets.toLong)) === b.toLong)
          .localCheckpoint()
      }.toMap

      val trace = sys.env.contains("SPARK_GRAFT_INGEST_TRACE")
      def timed[A](tag: String)(body: => A): A =
        if (!trace) body
        else {
          val t = System.nanoTime(); val r = body
          System.err.println(f"[ingest-trace] $tag ${(System.nanoTime() - t) / 1e9}%.2fs")
          r
        }
      val step = hi / nMicroBatches + 1L
      def window(df: DataFrame, i: Int): DataFrame =
        df.filter(col("ord") >= i * step && col("ord") < (i + 1) * step)

      val singleDir = freshDir()
      val t0 = System.nanoTime(); val c0 = graft.util.ProcStat.cpuNs()
      if (includeSingle) (0 until nMicroBatches).foreach { i =>
        timed(s"single mb$i") {
          graft.streaming.LogSink.applyBatch(spark, s"$singleDir/log", window(src, i), "ord")
        }
      }
      val singleSecs = (System.nanoTime() - t0) / 1e9
      val singleCpu = (graft.util.ProcStat.cpuNs() - c0) / 1e9

      val bucketDir = freshDir()
      val t1 = System.nanoTime(); val c1 = graft.util.ProcStat.cpuNs()
      (0 until nMicroBatches).foreach { i =>
        val threads = (0 until nBuckets).map { b =>
          val th = new Thread(() => timed(s"bucket$b mb$i") {
            graft.streaming.LogSink.applyBatch(spark, s"$bucketDir/b$b",
              window(bucketed(b), i), "ord")
          })
          th.start(); th
        }
        threads.foreach(_.join())
      }
      val bucketSecs = (System.nanoTime() - t1) / 1e9
      val bucketCpu = (graft.util.ProcStat.cpuNs() - c1) / 1e9

      // sanity: no events lost
      val gotSingle =
        if (includeSingle) spark.read.parquet(s"$singleDir/log").count() else n
      val gotBuckets = (0 until nBuckets)
        .map(b => spark.read.parquet(s"$bucketDir/b$b").count()).sum
      require(gotSingle == n && gotBuckets == n,
        s"ingest lost rows: single=$gotSingle buckets=$gotBuckets expected=$n")
      Regime(singleSecs, bucketSecs, n, singleCpu, bucketCpu,
        graft.util.ProcStat.stealPct(steal0, graft.util.ProcStat.stealJiffies()))
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "ingest_probe.json"
    val nBuckets = 4
    val only10 = sys.env.get("SPARK_GRAFT_INGEST_ONLY").contains("10x")

    // min-of-2 independent sessions per regime: this VM's hypervisor
    // steal lands multi-second stalls on random runs (observed 9s-28s
    // for the identical bucketed 10x workload); the min is the
    // steady-state number, the same discipline Bench uses. CPU seconds
    // and the per-run steal bracket ride along so a ladder point taken
    // in a stolen window is identifiable as such.
    def best2(nmb: Int, copies: Int): Regime = {
      val r1 = regime(sfDir, nBuckets, nmb, copies)
      val r2 = regime(sfDir, nBuckets, nmb, copies)
      Regime(math.min(r1.singleSecs, r2.singleSecs),
        math.min(r1.bucketSecs, r2.bucketSecs), r1.n,
        math.min(r1.singleCpu, r2.singleCpu),
        math.min(r1.bucketCpu, r2.bucketCpu),
        math.max(r1.stealPct, r2.stealPct))
    }
    val empty = Regime(1.0, 1.0, 0L, 1.0, 1.0, 0.0)
    val lat = if (only10) empty else best2(nmb = 8, copies = 1)
    val thr = if (only10) empty else best2(nmb = 2, copies = 1)
    val big = best2(nmb = 2, copies = 10)
    val (bigS, n10) = (big.singleSecs, big.n)
    val n = lat.n

    // bucket LADDER at the 10x throughput regime: does the speedup keep
    // growing with bucket count, and where does it saturate against the
    // Amdahl ceiling + the shared local[N] core pool? The single-sink
    // side is bucket-count-independent (bigS above); only the bucketed
    // half re-runs per nb, min-of-2 fresh sessions each. Wall picks the
    // min; its CPU and the worst steal bracket ride along.
    def bestBucketed2(nb: Int): (Double, Double, Double) = {
      val r1 = regime(sfDir, nb, nMicroBatches = 2, copies = 10, includeSingle = false)
      val r2 = regime(sfDir, nb, nMicroBatches = 2, copies = 10, includeSingle = false)
      val pick = if (r1.bucketSecs <= r2.bucketSecs) r1 else r2
      (pick.bucketSecs, pick.bucketCpu, math.max(r1.stealPct, r2.stealPct))
    }
    val ladder = Seq(2, 4, 8, 16).map { nb =>
      val (b, bc, st) =
        if (nb == nBuckets) (big.bucketSecs, big.bucketCpu, big.stealPct)
        else bestBucketed2(nb)
      System.err.println(
        s"[ingest] ladder nb=$nb: ${f(b)}s wall / ${f(bc)} cpu-s, steal ${f(st)}% (speedup ${f(bigS / b)}x)")
      (nb, b, bc, st)
    }
    val ladderJson = ladder.map { case (nb, b, bc, st) =>
      s""""$nb":{"bucketed_secs":${f(b)},"bucketed_cpu_s":${f(bc)},"steal_pct":${f(st)},"bucketed_eps":${f(n10 / b)},"speedup_vs_single":${f(bigS / b)}}"""
    }.mkString("{", ",", "}")

    def part(tag: String, total: Long, nmb: Int, r: Regime): String =
      s""""$tag":{"n_events":$total,"micro_batches":$nmb,"single_sink_secs":${f(r.singleSecs)},"single_sink_cpu_s":${f(r.singleCpu)},"single_sink_eps":${f(total / r.singleSecs)},"bucketed_secs":${f(r.bucketSecs)},"bucketed_cpu_s":${f(r.bucketCpu)},"bucketed_eps":${f(total / r.bucketSecs)},"speedup":${f(r.singleSecs / r.bucketSecs)},"steal_pct":${f(r.stealPct)}}"""
    val json =
      s"""{"n_events":$n,"n_buckets":$nBuckets,${part("small_triggers", n, 8, lat)},${part("large_triggers", n, 2, thr)},${part("volume10x_large_triggers", n10, 2, big)},"bucket_ladder_10x":$ladderJson,"note":"single sink = one dense global sequence (driver-bounded by contract); bucketed = PartitionedLog-style bucket sinks with independent dense sequences running concurrently per trigger; each regime min-of-2 fresh SparkSessions; bucket_ladder_10x sweeps nBuckets at the 10x regime against the same single-sink time; cpu_s = process-CPU (steal-immune), steal_pct = worst /proc/stat steal bracket over the regime's runs. Bottleneck accounting: after batching the precondition checks (2 jobs per trigger instead of 3 per touched stream) and distributing the parquet encode (parallelize, not a LocalRelation plan), the encode/write half of the sink is parallel in BOTH topologies, so bucketing now only multiplies the remaining sequential-per-sink work (collect deserialization + the dense-assignment fold) - Amdahl caps the ratio below the naive nBuckets x while absolute single-sink throughput roughly doubled; on this box both topologies are further flattened by one shared local[N] core pool, which a real cluster's one-driver-per-bucket deployment does not share. Ladder saturation (read cpu_s next to wall): total CPU work is roughly bucket-count-independent until per-sink fixed cost (trigger precondition jobs + collect deserialization per sink) starts adding CPU with bucket count while the shared core pool caps concurrency - where cpu_s rises and wall stops falling, the ladder has hit the fixed-cost floor, not steal"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), (json + "\n").getBytes("UTF-8"))
    System.err.println(
      s"[ingest] small single ${f(lat.singleSecs)}s vs bucketed ${f(lat.bucketSecs)}s; large single ${f(thr.singleSecs)}s vs bucketed ${f(thr.bucketSecs)}s; 10x single ${f(bigS)}s vs bucketed ${f(big.bucketSecs)}s -> $out")
  }
}
