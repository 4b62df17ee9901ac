package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.queries._

/**
 * `analytics_sweep`: a fixed subset of `SparkEntry.queries` over a
 * generated fixture, in one session. The set-up is a cold pass (plans,
 * codegen, the per-session memo builds) that also checks every query's
 * row count and order-insensitive digest against the values recorded
 * from the parent commit; each measured round is one warm pass in a
 * seed-permuted order, timing each query's `.collect()` and checking
 * its rows against the cold pass.
 *
 * The fixture does not depend on `--seed` (it is generated from a fixed
 * seed) so that the recorded digests hold for every run; the seed
 * permutes the query order of every pass.
 */
object AnalyticsSweep {
  val FixtureSf = 0.01
  val FixtureSeed = 42L

  val packs: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "log" -> LogQueries.queries, "relational" -> RelationalQueries.queries,
    "analytics" -> AnalyticsQueries.queries, "series" -> SeriesQueries.queries,
    "projection" -> ProjectionQueries.queries, "text" -> TextQueries.queries,
    "dedup" -> DedupQueries.queries, "sim" -> SimQueries.queries, "corpus" -> CorpusQueries.queries,
    "multimodal" -> MultimodalQueries.queries, "store" -> StoreQueries.queries)

  /** The measured subset: every pack, plus every query ROADMAP.md names
    * as a target. */
  val subset: Seq[String] = Seq(
    "read_all_backward", // log
    "join_asof_native", // relational
    "agg_hll_rolling", // analytics
    "ts_acf", "anomaly_seasonal", "agg_rolling_wau_sketch", // series
    "proj_js_source", // projection
    "text_tfidf", // text
    "dedup_lsh_recall", "dedup_threshold_curve", "graph_label_prop", // dedup
    "sim_kmeans", // sim
    "corpus_adaptive_quality", // corpus
    "mm_frame_dedup", // multimodal
    "twinstore_resolve") // store

  private val mc = new java.math.MathContext(9)

  /** Canonical text of a value: doubles to 9 significant digits (sums
    * may differ in the last bits between runs), maps by sorted key. */
  def canon(v: Any): String = v match {
    case null                        => "~"
    case d: Double if d.isNaN        => "NaN"
    case d: Double if d.isInfinite   => d.toString
    case d: Double                   => if (d == 0.0) "0" else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString
    case f: Float                    => canon(f.toDouble)
    case r: Row                      => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]  => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte]              => b.map("%02x".format(_)).mkString
    case x                           => x.toString
  }

  /** Order-insensitive digest: the sum of the rows' 32-bit hashes. */
  def digest(rows: Array[Row]): Long =
    rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong & 0xffffffffL).sum

  private def readExpected(path: String): Map[String, (Long, Long)] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, d) = l.split("\t")
        n -> (rows.toLong, d.toLong)
      }.toMap
      finally src.close()
    }
  }

  def run(spark: SparkSession, o: Opts, rec: Recorder): Outcome = {
    val all = packs.flatMap { case (p, qs) => qs.map { case (n, f) => n -> (p, f) } }.toMap
    val names = subset
    names.filterNot(all.contains).foreach(n => throw new IllegalArgumentException(s"unknown query $n"))
    val sfDir = s"${o.work}/sf"
    Gen.sfTables(spark, sfDir, FixtureSf, FixtureSeed)
    Main.note("fixture written")

    val mism = mutable.ArrayBuffer.empty[String]
    var attempted = 0L; var failed = 0L
    def fail(msg: String): Unit = { failed += 1; mism += msg }
    val expected = readExpected(o.expected)
    val rnd = new scala.util.Random(o.seed)

    // set-up: the cold pass, with the output checks
    val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val s0 = System.nanoTime()
    rnd.shuffle(names).foreach { n =>
      attempted += 1
      try {
        val t0 = System.nanoTime()
        val rows = all(n)._2(spark, sfDir).collect()
        observed(n) = (rows.length.toLong, digest(rows))
        Main.note(f"cold $n ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      } catch { case e: Exception => fail(s"$n (cold): ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}") }
    }
    val setup = (System.nanoTime() - s0) / 1e9
    if (o.record) {
      val w = new java.io.PrintWriter(o.expected, "UTF-8")
      try {
        w.println(s"# query\trows\tdigest (fixture sf=$FixtureSf seed=$FixtureSeed)")
        names.sorted.foreach(n => observed.get(n).foreach { case (c, d) => w.println(s"$n\t$c\t$d") })
      } finally w.close()
    } else names.foreach { n =>
      (expected.get(n), observed.get(n)) match {
        case (None, _)                 => fail(s"$n: no recorded digest")
        case (Some(e), Some(g)) if e != g => fail(s"$n: rows/digest $g, recorded $e")
        case _                         => ()
      }
    }

    val rounds, roundCpu, roundTaskCpu, ops = mutable.ArrayBuffer.empty[Double]
    val packS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val mark0 = rec.mark()
    var measured = 0.0
    while (rounds.isEmpty || measured < o.seconds) {
      val w0 = System.nanoTime(); val c0 = Jvm.cpuNs(); val tc0 = rec.taskCpuS()
      rnd.shuffle(names).foreach { n =>
        attempted += 1
        val (pack, q) = all(n)
        val t0 = System.nanoTime()
        try {
          val rows = rec.span("op.query", "client") {
            rec.span(s"$n.collect", s"graft.queries.$pack")(q(spark, sfDir).collect())
          }
          val ms = (System.nanoTime() - t0) / 1e6
          val got = (rows.length.toLong, digest(rows))
          if (!observed.get(n).contains(got)) fail(s"$n: warm rows/digest $got, cold ${observed.get(n)}")
          else { ops += ms; packS(pack) += ms / 1e3 }
        } catch { case e: Exception => fail(s"$n (warm): ${e.getClass.getSimpleName}") }
      }
      val wall = (System.nanoTime() - w0) / 1e9
      Main.note(f"pass ${rounds.size} $wall%.2f s")
      rounds += wall; roundCpu += (Jvm.cpuNs() - c0) / 1e9; roundTaskCpu += rec.taskCpuS() - tc0
      measured += wall
    }
    val mark1 = rec.mark()

    val detail = Seq(
      ("sweep_s", Stats.median(rounds.toSeq), "s"), ("sweep_cpu_s", Stats.median(roundCpu.toSeq), "s"),
      ("query_p50_ms", Stats.quantile(ops.toSeq, 0.5), "ms"), ("query_p90_ms", Stats.quantile(ops.toSeq, 0.9), "ms"),
      ("queries", names.size.toDouble, "count"))
    val layers: Map[String, Double] = if (!rec.enabled) Map.empty else {
      packs.map { case (p, _) => s"queries.${p}_s" -> packS(p) / rounds.size }.toMap ++ Map(
        "memo.build_s" -> graft.util.MemoCost.snapshot.values.sum,
        "trace.round_s" -> Stats.median(rounds.toSeq),
        "trace.layer_share" -> rec.layerShare()
      ) ++ rec.engineMetrics(mark0, mark1, rounds.size)
    }
    Outcome(attempted, failed, mism.toSeq, Seq(setup), rounds.toSeq, roundCpu.toSeq, roundTaskCpu.toSeq,
      ops.toSeq, detail, layers)
  }
}
