package graft.tools

import org.apache.spark.sql.functions._

/**
 * Bucketed-TwinStore read-path probe — the evidence for the r12 store
 * refactor: merge-on-read RESOLUTION cost must track the buckets an
 * update TOUCHES, not total state mass ([[graft.streaming.ParquetTwinStore]]
 * hash-buckets each merged table; untouched buckets serve from their
 * cached resolution or base files).
 *
 * Construction: one merged table, default fanout. Every trigger lands
 * two merges —
 *
 *  1. a GROWTH merge: `growPerTrigger` brand-new keys, pre-filtered to
 *     hash AWAY from bucket 0 (the table's standing mass grows
 *     linearly, spread over the other 15 buckets);
 *  2. a timed HOT-UPDATE merge: the SAME `hotKeys` keys (all hashing
 *     into bucket 0) re-upserted — the fixed-size update against the
 *     growing table.
 *
 * With the pre-r12 whole-table resolution the hot merge would re-read
 * and re-window the ENTIRE table (cost ∝ trigger number); with
 * bucket-local INCREMENTAL resolution (r13: the arriving delta folds
 * into the cached prior via one broadcast anti-join — no file re-read,
 * no merge-on-read window) it touches only bucket 0, whose mass is
 * constant — so the hot-update series must stay FLAT while the table
 * grows 30×. The growth merges are recorded too: their parquet write is
 * delta-sized and their fold re-checkpoints only their touched buckets'
 * prior state. A final SPRAY merge (same update size, keys across all
 * buckets) probes the former worst case: before r13 it re-windowed
 * table mass (9.75s at 150k rows vs 0.74s hot); with the incremental
 * fold its extra cost over a hot update is one pass over the cached
 * prior state — the probe pins it within ~2× of the hot update. A
 * second spray row at fanout 64 ([[graft.streaming.ParquetTwinStore
 * .fanoutFor]]'s 16 GiB sizing point) shows the knob's effect on
 * per-bucket mass and compaction granularity.
 *
 * Writes `twinstore_probe.json`; `Bench` embeds it into
 * `bench_detail.json` (key "twinstore").
 *
 * Usage: `sbt "runMain graft.tools.TwinStoreProbe [nTriggers out]"`
 */
object TwinStoreProbe {

  private def f(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)

  def main(args: Array[String]): Unit = {
    val nTriggers = if (args.length > 0) args(0).toInt else 30
    val out = if (args.length > 1) args(1) else "twinstore_probe.json"
    val growPerTrigger = 5000
    val hotSize = 500
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.streaming.ParquetTwinStore

    val fanout = ParquetTwinStore.NumBuckets
    // id pools by destination bucket, via the store's own routing hash
    val pool = spark.range(0, (nTriggers * growPerTrigger + hotSize) * 3L)
      .select(col("id"), pmod(xxhash64(col("id")), lit(fanout.toLong)).as("b"))
    val hotKeys = pool.filter(col("b") === 0).limit(hotSize)
      .select("id").as[Long].collect()
    require(hotKeys.length == hotSize, "id pool too small for the hot set")
    val growKeys = pool.filter(col("b") =!= 0)
      .limit(nTriggers * growPerTrigger).select("id").as[Long].collect()
    require(growKeys.length == nTriggers * growPerTrigger, "id pool too small")

    val root = java.nio.file.Files.createTempDirectory("graft-tsprobe").toString
    val st = new ParquetTwinStore(root)
    def df(ids: Array[Long], tag: String) =
      ids.toSeq.toDF("id").withColumn("v", concat(lit(tag), col("id")))

    def timed(thunk: => Unit): (Double, Double) = {
      val c0 = graft.util.ProcStat.cpuNs(); val t0 = System.nanoTime()
      thunk
      ((System.nanoTime() - t0) / 1e9, (graft.util.ProcStat.cpuNs() - c0) / 1e9)
    }

    val steal0 = graft.util.ProcStat.stealJiffies()
    val hotT = Array.ofDim[(Double, Double)](nTriggers)
    val growT = Array.ofDim[(Double, Double)](nTriggers)
    for (t <- 0 until nTriggers) {
      val slice = growKeys.slice(t * growPerTrigger, (t + 1) * growPerTrigger)
      growT(t) = timed { st.merge("t", Seq("id"), df(slice, s"g$t-"), None): Unit }
      val growPh = st.drainPhaseSeconds().toSeq.sortBy(-_._2)
        .map { case (k, v) => f"$k ${v}%.2f" }.mkString(", ")
      hotT(t) = timed { st.merge("t", Seq("id"), df(hotKeys, s"h$t-"), None): Unit }
      st.drainPhaseSeconds(): Unit
      System.err.println(f"[tsprobe] trigger $t: grow ${growT(t)._1}%.2fs ($growPh), hot ${hotT(t)._1}%.2fs (table ${(t + 1) * growPerTrigger + hotSize} rows)")
    }
    // former worst case: same update size but keys sprayed across every
    // bucket — with incremental resolution this must sit near the hot
    // cost (one pass over the cached prior + update mass)
    val sprayKeys = growKeys.take(hotSize)
    val spray = timed { st.merge("t", Seq("id"), df(sprayKeys, "spray-"), None): Unit }
    val sprayPhases = st.drainPhaseSeconds()

    // the FANOUT COST CURVE: the same total state mass at fanout 32, 64
    // (ParquetTwinStore.fanoutFor's 16 GiB sizing point) and 128, same
    // spray update, with the per-merge PHASE breakdown kept per point —
    // the curve names the per-bucket fixed term (place renames + staged
    // partition dirs + per-bucket file listings) that dominates once
    // buckets outnumber update rows' natural clustering, and is the
    // measured basis for fanoutFor's cap note
    def sprayAt(fo: Int): (Double, Double, Map[String, Double]) = {
      val r = java.nio.file.Files.createTempDirectory(s"graft-tsprobe$fo").toString
      val s2 = new ParquetTwinStore(r, fo)
      s2.merge("t", Seq("id"), df(growKeys, "seed-"), None): Unit
      s2.merge("t", Seq("id"), df(hotKeys, "seed-"), None): Unit
      s2.drainPhaseSeconds(): Unit
      val (w, c) = timed { s2.merge("t", Seq("id"), df(sprayKeys, "spray-"), None): Unit }
      (w, c, s2.drainPhaseSeconds())
    }
    val curve: Seq[(Int, Double, Double, Map[String, Double])] =
      Seq(32, 64, 128).map { fo =>
        val (w, c, ph) = sprayAt(fo); (fo, w, c, ph)
      }
    val spray64 = curve.find(_._1 == 64).map(e => (e._2, e._3)).get

    // ---- ADVERSARIAL OVERFLOW SHAPES (r15 verdict item 6) ----
    // The flat fanout curve prices one small spray mass; these two rows
    // price (a) the DRAIN BOUNDARY — the merge that crosses MaxDeltas
    // live overflow deltas with every delta near its size cap, paying
    // the all-buckets compaction fold — and (b) INTERLEAVED spray/bulk
    // merges, where overflow placement and per-bucket re-splits
    // alternate on one table. A shrunk overflowBytes knob (256 KiB)
    // keeps the probe's absolute mass laptop-sized while preserving the
    // boundary GEOMETRY (deltas sized to ~90% of the placement cap).
    val ovfCap = 256L << 10
    // ~200 incompressible bytes per row (salted md5 concat — constant
    // padding would snappy-compress away and miss the byte gates)
    def rdf(lo: Long, n: Long, tag: String) = {
      val pads = (0 until 6).map(j =>
        md5(concat(col("id").cast("string"), lit(s"-$j-$tag"))))
      spark.range(lo, lo + n).select(col("id"), concat(pads: _*).as("v"))
    }
    val drainRow = {
      val r = java.nio.file.Files.createTempDirectory("graft-tsdrain").toString
      val s3 = new ParquetTwinStore(r, overflowBytes = ovfCap)
      s3.merge("t", Seq("id"), rdf(0, 100000, "seed"), None): Unit
      s3.drainPhaseSeconds(): Unit
      // each delta ~90% of the overflow placement cap (cap = ovfCap ×
      // touched buckets; md5-padded rows land ~200 B/row in parquet).
      // The drain merge is identified by its COMPACT phase, not by
      // index: the bulk-path seed leaves one per-bucket delta, so the
      // per-bucket (ds + odsK >= MaxDeltas) rule crosses one merge
      // before the shared-file count alone would
      val perDelta = (0.9 * ovfCap * ParquetTwinStore.NumBuckets / 200).toLong
      val runs = (0 until ParquetTwinStore.MaxDeltas).map { i =>
        val t = timed { s3.merge("t", Seq("id"),
          rdf(200000L + i * perDelta, perDelta, s"d$i"), None): Unit }
        (t, s3.drainPhaseSeconds())
      }
      val di = runs.indices.maxBy(i => runs(i)._2.getOrElse("compact", 0.0))
      val pre = runs.indices.filterNot(_ == di).map(runs(_)._1)
      val preW = pre.map(_._1).sum / pre.size
      val preC = pre.map(_._2).sum / pre.size
      (preW, preC, runs(di)._1._1, runs(di)._1._2, runs(di)._2, perDelta)
    }
    val interleavedRow = {
      val r = java.nio.file.Files.createTempDirectory("graft-tsmix").toString
      val s4 = new ParquetTwinStore(r, overflowBytes = ovfCap)
      s4.merge("t", Seq("id"), rdf(0, 100000, "seed"), None): Unit
      s4.drainPhaseSeconds(): Unit
      val bulkRows = (2.0 * ovfCap * ParquetTwinStore.NumBuckets / 200).toLong
      val sprayT = Array.ofDim[(Double, Double)](6)
      val bulkT = Array.ofDim[(Double, Double)](6)
      val phases = scala.collection.mutable.Map.empty[String, Double]
      def addPh(): Unit = s4.drainPhaseSeconds().foreach { case (k, v) =>
        phases(k) = phases.getOrElse(k, 0.0) + v }
      for (i <- 0 until 6) {
        sprayT(i) = timed { s4.merge("t", Seq("id"),
          rdf(500000L + i * 800L, 800L, s"s$i"), None): Unit }
        addPh()
        bulkT(i) = timed { s4.merge("t", Seq("id"),
          rdf(600000L + i * bulkRows, bulkRows, s"b$i"), None): Unit }
        addPh()
      }
      (sprayT.toSeq, bulkT.toSeq, phases.toMap, bulkRows)
    }
    val stealPct = graft.util.ProcStat.stealPct(steal0, graft.util.ProcStat.stealJiffies())
    def phJson(ph: Map[String, Double]): String =
      ph.toSeq.sortBy(-_._2).map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val curveJson = ((16, spray._1, spray._2, sprayPhases) +: curve).map {
      case (fo, w, c, ph) =>
        s"""{"fanout":$fo,"spray_s":${f(w)},"spray_cpu_s":${f(c)},"phases":${phJson(ph)}}"""
    }.mkString("[", ",", "]")

    // flat-ness: mean of the last 5 hot updates over the mean of hot
    // updates 3..7 (skip the cold-start triggers); bucket 0 compacts
    // every MaxDeltas-th hot merge, so compare non-compaction triggers
    val cN = ParquetTwinStore.MaxDeltas
    val steady = (3 until nTriggers).filter(i => (i + 1) % cN != 0)
    val early = steady.take(5).map(hotT(_)._1)
    val late = steady.takeRight(5).map(hotT(_)._1)
    val earlyC = steady.take(5).map(hotT(_)._2)
    val lateC = steady.takeRight(5).map(hotT(_)._2)
    def mean(xs: Seq[Double]) = xs.sum / xs.length

    val drainJson = {
      val (pw, pc, dw, dc, ph, perDelta) = drainRow
      s"""{"fanout":${ParquetTwinStore.NumBuckets},"overflow_bytes":$ovfCap,"rows_per_delta":$perDelta,"pre_drain_mean_s":${f(pw)},"pre_drain_mean_cpu_s":${f(pc)},"drain_merge_s":${f(dw)},"drain_merge_cpu_s":${f(dc)},"drain_phases":${phJson(ph)},"note":"deltas sized to ~90% of the overflow placement cap; the MaxDeltas-th merge crosses the drain threshold and pays the all-buckets compaction fold in its compact phase — the worst single-trigger cost the overflow path can schedule"}"""
    }
    val mixJson = {
      val (sp, bk, ph, bulkRows) = interleavedRow
      def mean(xs: Seq[Double]) = xs.sum / xs.length
      s"""{"overflow_bytes":$ovfCap,"bulk_rows":$bulkRows,"spray_s":[${sp.map(p => f(p._1)).mkString(",")}],"bulk_s":[${bk.map(p => f(p._1)).mkString(",")}],"spray_mean_s":${f(mean(sp.map(_._1)))},"spray_mean_cpu_s":${f(mean(sp.map(_._2)))},"bulk_mean_s":${f(mean(bk.map(_._1)))},"bulk_mean_cpu_s":${f(mean(bk.map(_._2)))},"phases_total":${phJson(ph)},"note":"spray (overflow-delta) and bulk (per-bucket re-split) placements alternating on one table: both paths' files share the table-wide sequence, so the LWW window and compaction stay exact while each merge takes its size-appropriate placement"}"""
    }
    val json =
      s"""{"n_triggers":$nTriggers,"fanout":$fanout,"grow_rows_per_trigger":$growPerTrigger,"hot_update_rows":$hotSize,"final_table_rows":${nTriggers * growPerTrigger + hotSize},"hot_update_s":[${hotT.map(p => f(p._1)).mkString(",")}],"hot_update_cpu_s":[${hotT.map(p => f(p._2)).mkString(",")}],"grow_merge_s":[${growT.map(p => f(p._1)).mkString(",")}],"hot_early_mean_s":${f(mean(early))},"hot_late_mean_s":${f(mean(late))},"hot_growth":${f(mean(late) / mean(early))},"hot_growth_cpu":${f(mean(lateC) / mean(earlyC))},"spray_update_s":${f(spray._1)},"spray_update_cpu_s":${f(spray._2)},"spray_update_fanout64_s":${f(spray64._1)},"spray_update_fanout64_cpu_s":${f(spray64._2)},"fanout_curve":$curveJson,"overflow_drain":$drainJson,"interleaved_bulk":$mixJson,"steal_pct":${f(stealPct)},"note":"hot updates re-upsert a FIXED key set confined to bucket 0 while growth merges inflate the other 15 buckets ${nTriggers}x: flat hot_update_s (hot_growth ~1) = resolve cost tracks touched-bucket mass, not table mass. spray_update_s is the all-buckets-touched case: with r13's incremental fold (cached-prior anti-join, no file re-read/re-window) it must sit within ~2x of a hot update; spray_update_fanout64_s repeats it on a 64-bucket table (the fanoutFor 16GiB sizing point) over the same state mass."}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    System.out.println(json)
    spark.stop()
  }
}
