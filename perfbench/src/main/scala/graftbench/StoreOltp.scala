package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.append.{Appender, ProposedEvent}
import graft.log.EventLog
import graft.model._
import graft.streaming.Subscriptions

/**
 * `store_oltp`, the second phase of the `event_store` workload: the
 * event-store client. One client thread in a closed
 * loop (the appender's single-writer contract) issues a seeded mix of
 * single-event `Appender.append` calls with `ExactRevision` (a fixed
 * share deliberately stale), `Backwards`/`FromEnd` stream reads and
 * filtered `Forwards` `$all` reads, while one live `$all` subscription
 * stamps the arrival of every appended uuid.
 *
 * A round stages a fresh log (the set-up), runs the fixed op sequence
 * and waits for the last delivery. An in-memory model of the log checks
 * every result, every read and every delivery.
 */
object StoreOltp {
  val Events = 100000
  val Streams = 1500
  val StageFiles = 5
  val Appends = 15
  val StreamReads = 7
  val AllReads = 7
  /** Every `StaleEvery`-th append of a round expects a stale revision. */
  val StaleEvery = 5
  val Prefixes: Seq[Seq[String]] = Seq(Seq("c"), Seq("p", "s"), Seq("e", "v"), Seq("cl", "pu"))
  val DeliveryTimeoutMs = 60000L

  def meta(tpe: String) = Map("type" -> tpe, "content-type" -> "application/json")

  /** The model: events in position order (index = position - 1) and
    * each stream's positions in revision order. */
  final class Model(base: Array[Gen.Ev]) {
    val log: mutable.ArrayBuffer[Gen.Ev] = mutable.ArrayBuffer.from(base)
    val byStream: mutable.Map[String, mutable.ArrayBuffer[Long]] = mutable.Map.empty
    for ((e, i) <- base.iterator.zipWithIndex) byStream.getOrElseUpdate(e.stream, mutable.ArrayBuffer.empty) += i + 1L
    def revision(stream: String): Long = byStream.get(stream).fold(-1L)(_.size - 1L)
    def append(e: Gen.Ev): Long = {
      log += e
      byStream.getOrElseUpdate(e.stream, mutable.ArrayBuffer.empty) += log.size.toLong
      log.size.toLong
    }
  }

  /** Write the base events as `StageFiles` position-range files, one
    * sequential write each, so arrival order is position order. */
  def stage(spark: SparkSession, logDir: String, base: Array[Gen.Ev]): Unit = {
    val revs = mutable.Map.empty[String, Long]
    val rows = base.iterator.zipWithIndex.map { case (e, i) =>
      val r = revs.getOrElse(e.stream, -1L) + 1L
      revs(e.stream) = r
      Row(e.stream, e.uuid, e.eventType, e.data, meta(e.eventType) + ("created" -> "0"), null, r, i + 1L)
    }.toVector
    rows.grouped((rows.size + StageFiles - 1) / StageFiles).foreach { part =>
      spark.createDataFrame(spark.sparkContext.parallelize(part, 1), Subscriptions.eventSchema)
        .write.mode("append").parquet(logDir)
    }
  }

  def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).fold(0)(_.count(_.getName.endsWith(".parquet")))
}

/** The store_oltp rounds, as one phase of [[EventStore]]. */
final class StorePhase(spark: SparkSession, o: Opts, rec: Recorder) {
  import StoreOltp._

  val base = Gen.events(o.seed, Events, Streams)
  val mism = mutable.ArrayBuffer.empty[String]
  var attempted = 0L; var failed = 0L
  val setups = mutable.ArrayBuffer.empty[Double]
  val rounds = mutable.ArrayBuffer.empty[Double]
  val roundCpu = mutable.ArrayBuffer.empty[Double]
  val roundTaskCpu = mutable.ArrayBuffer.empty[Double]
  val appendMs = mutable.ArrayBuffer.empty[Double]
  val streamMs = mutable.ArrayBuffer.empty[Double]
  val allMs = mutable.ArrayBuffer.empty[Double]
  val deliverMs = mutable.ArrayBuffer.empty[Double]
  val lagMs = mutable.ArrayBuffer.empty[Double]
  val subTriggerMs = mutable.ArrayBuffer.empty[Double]
  var subTriggers = 0L; var subEmpty = 0L
  var staleInjected = 0L; var staleRejected = 0L; var appendCalls = 0L
  var filesAdded = 0L; var filesAtEnd = 0L
  val appendSpans = mutable.ArrayBuffer.empty[Long]
  val streamSpans = mutable.ArrayBuffer.empty[Long]
  val allSpans = mutable.ArrayBuffer.empty[Long]

  /** One round; round 0 is the untimed warm-up. */
  def round(r: Int): Unit = {
    val warm = r == 0
    Main.note(s"round $r start")
    val dir = s"${o.work}/store/round-$r"
    val logDir = s"$dir/log"
    // the warm-up round stages a fifth of the log
    val staged = if (warm) base.take(Events / 5) else base
    val model = new Model(staged)
    // delivery bookkeeping, written by the subscription's batch thread
    val arrivals = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val deliveredPos = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val duplicates = new java.util.concurrent.atomic.AtomicLong()

    val s0 = System.nanoTime()
    stage(spark, logDir, staged)
    val sub: StreamingQuery = Subscriptions
      .subscribe(spark, logDir, ReadOptions(AllStreams, from = FromEnd))
      .writeStream
      .option("checkpointLocation", s"$dir/sub-ckpt")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = df.select("uuid", "position").collect()
        val t = System.nanoTime()
        got.foreach { row =>
          if (arrivals.putIfAbsent(row.getString(0), t) != null) duplicates.incrementAndGet()
          deliveredPos.put(row.getString(0), row.getLong(1))
        }
      }
      .start()
    sub.processAllAvailable()
    if (!warm) setups += (System.nanoTime() - s0) / 1e9
    val files0 = parquetFiles(logDir)

    val rnd = new scala.util.Random(o.seed * 1000003L + r)
    val zipf = new Gen.Zipf(Streams, rnd)
    // the warm-up round runs half the mix
    val scale = if (warm) 2 else 1
    val ops = rnd.shuffle(Seq.fill(Appends / scale)('a') ++ Seq.fill(StreamReads / scale)('s') ++
      Seq.fill(AllReads / scale)('r'))
    var appendIdx = 0
    val sent = mutable.ArrayBuffer.empty[(String, Long, Long, Long)] // uuid, t0, t1, position
    val w0 = System.nanoTime(); val c0 = Jvm.cpuNs(); val tc0 = rec.taskCpuS()
    def fail(msg: String): Unit = { failed += 1; mism += msg }
    ops.foreach { kind =>
      attempted += 1
      kind match {
        case 'a' =>
          val stream = Gen.streamName(zipf.next())
          val cur = model.revision(stream)
          appendIdx += 1
          val stale = appendIdx % StaleEvery == 0 && cur >= 0
          val e = Gen.Ev(stream, Gen.uuid(rnd), Gen.eventTypes(rnd.nextInt(Gen.eventTypes.length)),
            s"""{"k": ${rnd.nextInt(100)}}""")
          val expected = ExactRevision(if (stale) cur - 1 else cur)
          val t0 = System.nanoTime()
          val res = rec.span("op.append", "client") {
            rec.span("Appender.append", "graft.append") {
              try Right(Appender.append(spark, logDir, stream,
                Seq(ProposedEvent(e.uuid, e.eventType, e.data, meta(e.eventType))), expected))
              catch { case w: WrongExpectedRevision => Left(w) }
            }
          }
          val t1 = System.nanoTime()
          if (rec.enabled && !warm) appendSpans += rec.all.last.id
          if (!warm) {
            appendCalls += 1
            if (stale) staleInjected += 1
          }
          res match {
            case Left(w) if stale && w.current.contains(cur) => if (!warm) staleRejected += 1
            case Left(w) => fail(s"append to $stream rejected: ${w.getMessage}")
            case Right(ar) if stale => fail(s"stale append to $stream accepted: $ar")
            case Right(ar) =>
              val pos = model.append(e)
              if (ar != graft.append.AppendResult(cur + 1, cur + 1, pos, pos))
                fail(s"append to $stream returned $ar, model expects rev ${cur + 1} pos $pos")
              else {
                sent += ((e.uuid, t0, t1, pos))
                if (!warm) appendMs += (t1 - t0) / 1e6
              }
          }
        case 's' =>
          val stream = Gen.streamName(zipf.next())
          val t0 = System.nanoTime()
          val rows = rec.span("op.read_stream", "client") {
            rec.span("EventLog.read+collect", "graft.log") {
              EventLog.read(Appender.readLog(spark, logDir),
                ReadOptions(OneStream(stream), Backwards, FromEnd, Some(10)))
                .select("uuid", "revision").collect()
            }
          }
          val t1 = System.nanoTime()
          if (rec.enabled && !warm) streamSpans += rec.all.last.id
          val ps = model.byStream.get(stream).fold(Seq.empty[Long])(_.toSeq)
          val want = ps.indices.reverse.take(10).map(i => (model.log(ps(i).toInt - 1).uuid, i.toLong))
          val got = rows.map(x => (x.getString(0), x.getLong(1))).toSeq
          if (got != want) fail(s"stream read $stream: got ${got.take(3)}..., model ${want.take(3)}...")
          else if (!warm) streamMs += (t1 - t0) / 1e6
        case _ =>
          val from = 1L + rnd.nextInt(model.log.size)
          val prefixes = Prefixes(rnd.nextInt(Prefixes.size))
          val t0 = System.nanoTime()
          val rows = rec.span("op.read_all", "client") {
            rec.span("EventLog.read+collect", "graft.log") {
              EventLog.read(Appender.readLog(spark, logDir),
                ReadOptions(AllStreams, Forwards, From(from), Some(100),
                  Some(PrefixFilter(OnEventType, prefixes))))
                .select("uuid", "position").collect()
            }
          }
          val t1 = System.nanoTime()
          if (rec.enabled && !warm) allSpans += rec.all.last.id
          val want = (from.toInt to model.log.size).iterator
            .filter(p => prefixes.exists(model.log(p - 1).eventType.startsWith))
            .take(100).map(p => (model.log(p - 1).uuid, p.toLong)).toSeq
          val got = rows.map(x => (x.getString(0), x.getLong(1))).toSeq
          if (got != want) fail(s"all-streams read from $from $prefixes: got ${got.size} rows, model ${want.size}")
          else if (!warm) allMs += (t1 - t0) / 1e6
      }
    }
    // the round ends when the subscriber has seen every accepted append
    val deadline = System.currentTimeMillis() + DeliveryTimeoutMs
    while (sent.exists(s => !arrivals.containsKey(s._1)) && System.currentTimeMillis() < deadline && sub.isActive)
      Thread.sleep(1)
    val wall = (System.nanoTime() - w0) / 1e9
    val cpu = (Jvm.cpuNs() - c0) / 1e9
    val tc = rec.taskCpuS() - tc0
    sub.stop()
    sent.foreach { case (u, t0, t1, pos) =>
      Option(arrivals.get(u)) match {
        case None => fail(s"uuid $u (position $pos) never delivered")
        case Some(t) =>
          if (deliveredPos.get(u) != pos) fail(s"uuid $u delivered at ${deliveredPos.get(u)}, appended at $pos")
          else if (!warm) { deliverMs += (t - t0) / 1e6; lagMs += (t - t1) / 1e6 }
      }
    }
    if (duplicates.get() > 0) fail(s"${duplicates.get()} uuids delivered more than once")
    val unexpected = arrivals.size() - sent.size
    if (unexpected > 0) fail(s"$unexpected uuids delivered that no accepted append wrote")
    if (!warm) {
      rounds += wall; roundCpu += cpu; roundTaskCpu += tc
      Main.note(f"round $r wall $wall%.3f s cpu $cpu%.2f s")
      val progress = sub.recentProgress.toSeq
      subTriggers += progress.size
      subEmpty += progress.count(_.numInputRows == 0)
      subTriggerMs ++= progress.filter(_.numInputRows > 0)
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
      filesAtEnd = parquetFiles(logDir)
      filesAdded += filesAtEnd - files0
    }
    graft.util.TempRoots.rm(dir)
  }

  /** The measured rounds' results (engine metrics excluded). */
  def outcome(): Outcome = {
    val q = Stats.quantile _
    val detail = Seq(
      ("append_p50_ms", q(appendMs.toSeq, 0.5), "ms"), ("append_p90_ms", q(appendMs.toSeq, 0.9), "ms"),
      ("read_stream_p50_ms", q(streamMs.toSeq, 0.5), "ms"), ("read_stream_p90_ms", q(streamMs.toSeq, 0.9), "ms"),
      ("read_all_p50_ms", q(allMs.toSeq, 0.5), "ms"), ("read_all_p90_ms", q(allMs.toSeq, 0.9), "ms"),
      ("deliver_p50_ms", q(deliverMs.toSeq, 0.5), "ms"), ("deliver_p90_ms", q(deliverMs.toSeq, 0.9), "ms"))
    if (staleRejected != staleInjected) mism += s"$staleRejected stale appends rejected, $staleInjected injected"

    val layers: Map[String, Double] = if (!rec.enabled) Map.empty else {
      val self = rec.selfMs
      def childOf(root: Long): Seq[Span] = rec.all.filter(_.parent == root)
      def selfOfChildren(roots: Seq[Long]): Seq[Double] = roots.flatMap(childOf).map(s => self(s.id))
      def engine(roots: Seq[Long]): Seq[Engine] = roots.flatMap(childOf).map(s => rec.engineOf(s.id))
      val reads = streamSpans ++ allSpans
      val readEngines = engine(reads.toSeq)
      Map(
        "append.call_ms" -> Stats.median(selfOfChildren(appendSpans.toSeq)),
        "append.jobs_per_call" -> Stats.mean(engine(appendSpans.toSeq).map(_.jobs.toDouble)),
        "append.files_per_call" -> filesAdded.toDouble / math.max(1L, appendSpans.size),
        "append.stale_reject_frac" -> staleRejected.toDouble / math.max(1L, appendCalls),
        "log.read_stream_ms" -> Stats.median(selfOfChildren(streamSpans.toSeq)),
        "log.read_all_ms" -> Stats.median(selfOfChildren(allSpans.toSeq)),
        "log.jobs_per_read" -> Stats.mean(readEngines.map(_.jobs.toDouble)),
        "log.input_kb_per_read" -> Stats.mean(readEngines.map(_.inputBytes / 1024.0)),
        "log.files_at_end" -> filesAtEnd.toDouble,
        "streaming.deliver_lag_ms" -> Stats.median(lagMs.toSeq),
        "streaming.sub_trigger_ms" -> Stats.median(subTriggerMs.toSeq),
        "streaming.sub_empty_trigger_frac" -> subEmpty.toDouble / math.max(1L, subTriggers))
    }
    Outcome(attempted, failed, mism.toSeq, setups.toSeq, rounds.toSeq, roundCpu.toSeq, roundTaskCpu.toSeq,
      appendMs.toSeq, detail, layers)
  }
}
