package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same rows:
  * every generator draws from its own `scala.util.Random(seed)` in a
  * fixed order on the driver. */
object Gen {

  /** A client-proposed event (the append side of the log schema). */
  final case class Ev(stream: String, uuid: String, eventType: String, data: String)

  val eventTypes: Array[String] = Array("signup", "click", "error", "purchase", "view")

  /** Zipf(s = 1) sampler over `n` ranks (rank 0 most frequent). */
  final class Zipf(n: Int, rnd: scala.util.Random) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def streamName(i: Int): String = f"user-$i%05d"

  def uuid(rnd: scala.util.Random): String =
    new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString

  /** `n` proposed events over `streams` Zipf-skewed streams. */
  def events(seed: Long, n: Int, streams: Int): Array[Ev] = {
    val rnd = new scala.util.Random(seed)
    val zipf = new Zipf(streams, rnd)
    Array.fill(n) {
      Ev(streamName(zipf.next()), uuid(rnd), eventTypes(rnd.nextInt(eventTypes.length)),
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  /** The analytics fixture: the ten tables `SparkEntry.queries` read
    * (`events`, a TPC-H-like star, `documents`, `embeddings`), one
    * parquet file each under `dir`, shaped like the repository's
    * documented fixture (FIXTURES.md §B). Row counts follow `sf` the
    * way the documented scale factors do. */
  def sfTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def money(lo: Double, hi: Double): Double = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(fromYear: Int, days: Int): Timestamp =
      Timestamp.valueOf(java.time.LocalDate.of(fromYear, 1, 1).plusDays(rnd.nextInt(days)).atStartOfDay())

    val nEvents = math.max(1000, (100000 * sf).toInt)
    val nUsers = math.max(15, (15000 * sf).toInt)
    val nCust = math.max(150, (150000 * sf).toInt)
    val nOrders = nCust * 10
    val nPart = math.max(200, (200000 * sf).toInt)
    val nSupp = math.max(10, (10000 * sf).toInt)

    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val meanGapUs = 30L * 86400L * 1000000L / nEvents
    var tsUs = t0
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (0 until nEvents).map { i =>
        tsUs += 1L + (-math.log(1.0 - rnd.nextDouble()) * meanGapUs).toLong
        val ts = new Timestamp(tsUs / 1000L)
        ts.setNanos((tsUs % 1000000L).toInt * 1000)
        Row(i.toLong, ts, rnd.nextInt(nUsers).toLong, eventTypes(rnd.nextInt(eventTypes.length)),
          math.round(-math.log(1.0 - rnd.nextDouble()) * 5000) / 100.0,
          s"""{"k": ${rnd.nextInt(100)}}""")
      })

    write("region", StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25), money(-999, 9999),
        segments(rnd.nextInt(segments.length)))))
    write("supplier", StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(-999, 9999))))
    val adjs = Array("blue", "red", "hot", "cold", "small", "old", "new", "big")
    val nouns = Array("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut")
    val ptypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    write("part", StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${adjs(rnd.nextInt(adjs.length))} ${nouns(rnd.nextInt(nouns.length))}",
        s"Brand#${1 + rnd.nextInt(25)}", ptypes(rnd.nextInt(ptypes.length)), 1 + rnd.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val statuses = Array("F", "O", "P")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDates = Array.fill(nOrders)(day(1995, 2400))
    write("orders", StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong, statuses(rnd.nextInt(3)),
        money(1000, 500000), orderDates(i), prios(rnd.nextInt(prios.length)))))
    val flags = Array("A", "N", "R")
    write("lineitem", StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
      (0 until nOrders * 4).map { _ =>
        val o = rnd.nextInt(nOrders)
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(o.toLong, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong, 1 + rnd.nextInt(7), qty,
          math.round(qty * (900 + rnd.nextInt(1100)) * 100) / 100.0, rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, flags(rnd.nextInt(3)), if (rnd.nextBoolean()) "F" else "O",
          new Timestamp(orderDates(o).getTime + (1 + rnd.nextInt(120)) * 86400000L))
      })

    val vocab = Array("the", "a", "fast", "slow", "key", "order", "sort", "table", "scan", "merge", "part",
      "window", "small", "big", "hash", "join", "batch", "stream", "spark", "dup", "group", "query", "row",
      "data", "filter", "customer", "line", "value", "agg", "column", "vector")
    val langs = Array("en", "en", "en", "de", "fr", "es", "zh")
    write("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
      {
        // one document in twenty is a near-duplicate of an earlier one
        // (one word replaced), so the dedup kernels find real pairs
        val texts = mutable.ArrayBuffer.empty[Array[String]]
        (0 until 500).map { i =>
          val words =
            if (i > 0 && rnd.nextInt(20) == 0) {
              val w = texts(rnd.nextInt(i)).clone()
              w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length))
              w
            } else Array.fill(10 + rnd.nextInt(80))(vocab(rnd.nextInt(vocab.length)))
          texts += words
          val text = words.mkString(" ")
          Row(i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}", text.length.toLong)
        }
      })
    val centroids = Array.fill(10, 64)(rnd.nextGaussian())
    write("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType))),
      (0 until 500).map { i =>
        val label = rnd.nextInt(10)
        val v = centroids(label).map(_ + rnd.nextGaussian() * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
