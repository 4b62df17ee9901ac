package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.proj.{JsProjection, LocalRunner, ProjEvent, ProjectionService}
import graft.streaming.{LogSink, ProjectionPump}

/**
 * `ingest_catchup`, the first phase of the `event_store` workload:
 * bulk writes, then bulk reads of the same log.
 *
 *  1. Ingest: the seeded events go into an empty log through
 *     `LogSink.applyBatch` (-> `Appender.batchAppend`) in fixed-size
 *     micro-batches.
 *  2. Catch-up: two projections stored through `ProjectionService` catch
 *     up from that log through the pump with `availableNow`: a JSON
 *     descriptor counting per stream (`ProjectionPump.start`, bounded
 *     files per trigger) and a JS source with an order-bearing state
 *     (`ProjectionService.startPump`).
 *
 * A round registers the projections in a fresh service dir (the set-up),
 * then ingests and catches up. Every position and revision the log
 * holds, and each pump's final state, is checked against a driver-side
 * model (`LocalRunner` folds in position order).
 */
object IngestCatchup {
  val Events = 12000
  val Streams = 180
  val BatchSize = 3000
  val FilesPerTrigger = 2

  val JsonSource: String =
    """{"name":"per_stream","from":["$all"],"partitionBy":"stream",
      |"state":["n"],"when":{"$any":[{"op":"inc","field":"n"}]},
      |"outputState":true}""".stripMargin

  val JsSource: String =
    """
    fromAll()
      .foreachStream()
      .when({
        $init: function() { return { n: 0, first: '', last: '', h: 0 } },
        $any: function(state, event) {
          state.n += 1
          if (state.n <= 3) { state.first = state.first + event.eventType + ';' }
          state.last = event.eventType
          state.h = (state.h * 31 + event.body.k) % 1000003
        }
      })
      .outputState()
    """

  val batchSchema = StructType(Seq(
    StructField("stream", StringType), StructField("uuid", StringType),
    StructField("event_type", StringType), StructField("data", StringType), StructField("ord", LongType)))

  /** Positions and revisions the sink must assign: within a micro-batch
    * streams are appended in name order, each stream's events in `ord`
    * order (LogSink's contract). Returns uuid -> (stream, revision,
    * position) and the events in position order. */
  def expected(events: Array[Gen.Ev]): (Map[String, (String, Long, Long)], Seq[Gen.Ev]) = {
    val revs = mutable.Map.empty[String, Long]
    var pos = 0L
    val out = mutable.Map.empty[String, (String, Long, Long)]
    val ordered = mutable.ArrayBuffer.empty[Gen.Ev]
    events.grouped(BatchSize).foreach { b =>
      b.groupBy(_.stream).toSeq.sortBy(_._1).foreach { case (s, es) =>
        es.foreach { e =>
          val r = revs.getOrElse(s, -1L) + 1L
          revs(s) = r; pos += 1
          out(e.uuid) = (s, r, pos)
          ordered += e
        }
      }
    }
    (out.toMap, ordered.toSeq)
  }

  def projEvents(ordered: Seq[Gen.Ev]): Seq[ProjEvent] =
    ordered.zipWithIndex.map { case (e, i) =>
      ProjEvent(e.stream, e.eventType, isJson = true, e.data,
        Map("type" -> e.eventType, "content-type" -> "application/json"), "", -1L, i + 1L)
    }

  /** A round's input and the model's answers for it. */
  final class Input(val events: Array[Gen.Ev], jsProj: graft.proj.Projection[JsProjection.JsVal]) {
    val (want, ordered) = expected(events)
    val jsonWant: Map[String, Long] = ordered.groupBy(_.stream).view.mapValues(_.size.toLong).toMap
    val jsWant: Map[String, String] = {
      val runner = new LocalRunner(jsProj)
      runner.run(projEvents(ordered))
      runner.states.view.mapValues(JsProjection.JsVal.toJson).toMap
    }
    val batches: Seq[Seq[Row]] = events.grouped(BatchSize).toSeq.zipWithIndex.map { case (b, bi) =>
      b.toSeq.zipWithIndex.map { case (e, i) =>
        Row(e.stream, e.uuid, e.eventType, e.data, bi.toLong * BatchSize + i)
      }
    }
  }
}

/** The ingest_catchup rounds, as one phase of [[EventStore]]. */
final class IngestPhase(spark: SparkSession, o: Opts, rec: Recorder) {
  import IngestCatchup._

  val events = Gen.events(o.seed, Events, Streams)
  val jsProj = JsProjection.compile(JsSource, "order_js").projection
  val full = new Input(events, jsProj)
  // the warm-up round ingests half the micro-batches
  val warmInput = new Input(events.take(Events / 2), jsProj)

  val mism = mutable.ArrayBuffer.empty[String]
  var attempted = 0L; var failed = 0L
  def fail(msg: String): Unit = { failed += 1; mism += msg }
  val setups, rounds, roundCpu, roundTaskCpu, batchMs, ingestEps, catchupEps = mutable.ArrayBuffer.empty[Double]
  val jsonS, jsS, pumpTriggerMs, stateRows, stateMb, pumpTriggers = mutable.ArrayBuffer.empty[Double]
  val batchSpans = mutable.ArrayBuffer.empty[Long]

  def progressOf(q: StreamingQuery): Unit = {
    val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    pumpTriggers += ps.size
    pumpTriggerMs ++= ps.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
    ps.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      stateRows += s.numRowsTotal; stateMb += s.memoryUsedBytes / 1048576.0
    }
  }

  /** One round; round 0 is the untimed warm-up. */
  def round(r: Int): Unit = {
    val warm = r == 0
    val in = if (warm) warmInput else full
    Main.note(s"round $r start")
    val dir = s"${o.work}/ingest/round-$r"
    val logDir = s"$dir/log"
    val svc = s"$dir/svc"

    val s0 = System.nanoTime()
    ProjectionService.create(spark, svc, "per_stream", JsonSource)
    ProjectionService.create(spark, svc, "order_js", JsSource)
    val frames = in.batches.map(b => spark.createDataFrame(spark.sparkContext.parallelize(b, 1), batchSchema))
    if (!warm) setups += (System.nanoTime() - s0) / 1e9

    val w0 = System.nanoTime(); val c0 = Jvm.cpuNs(); val tc0 = rec.taskCpuS()
    frames.foreach { df =>
      attempted += 1
      val t0 = System.nanoTime()
      rec.span("op.micro_batch", "client") {
        rec.span("LogSink.applyBatch", "graft.streaming") { LogSink.applyBatch(spark, logDir, df, "ord") }
      }
      if (rec.enabled && !warm) batchSpans += rec.all.last.id
      if (!warm) batchMs += (System.nanoTime() - t0) / 1e6
    }
    val w1 = System.nanoTime()

    attempted += 1
    val (ckpt, out) = ProjectionService.pumpDirs(spark, svc, "per_stream")
    val jsonP = ProjectionService.compiled(spark, svc, "per_stream")
    val j0 = System.nanoTime()
    val qJson = rec.span("op.pump_json", "client") {
      rec.span("ProjectionPump.start", "graft.proj") {
        import spark.implicits._
        val q = ProjectionPump.start(spark, jsonP, logDir, out, ckpt, availableNow = true,
          sourceOptions = Map("maxFilesPerTrigger" -> FilesPerTrigger.toString))
        q.awaitTermination(); q
      }
    }
    val j1 = System.nanoTime()
    attempted += 1
    val qJs = rec.span("op.pump_js", "client") {
      rec.span("ProjectionService.startPump", "graft.proj") {
        val q = ProjectionService.startPump(spark, svc, "order_js", logDir, availableNow = true)
        q.awaitTermination(); q
      }
    }
    val j2 = System.nanoTime()
    val wall = (j2 - w0) / 1e9
    val cpu = (Jvm.cpuNs() - c0) / 1e9
    val tc = rec.taskCpuS() - tc0

    // checks: the log against the model, each pump's final state
    // against the LocalRunner fold
    val got = spark.read.parquet(logDir).select("uuid", "stream", "revision", "position").collect()
      .map(x => x.getString(0) -> (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    if (got != in.want) {
      val bad = in.want.count { case (u, v) => !got.get(u).contains(v) }
      fail(s"log after ingest: ${got.size} rows, $bad differ from the model's positions/revisions")
    }
    val jsonGot = spark.read.parquet(s"$out/${jsonP.resultStream}")
      .selectExpr("partition", "state['n'] as n").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).max).toMap
    if (jsonGot != in.jsonWant) fail(s"JSON pump: ${jsonGot.size} partitions, model ${in.jsonWant.size}; states differ")
    val (_, jsOut) = ProjectionService.pumpDirs(spark, svc, "order_js")
    val nOf = """"n":(\d+)""".r
    val jsGot = spark.read.parquet(s"$jsOut/${jsProj.resultStream}").collect()
      .map(x => x.getString(0) -> x.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(s => nOf.findFirstMatchIn(s).fold(-1L)(_.group(1).toLong)))
      .toMap
    if (jsGot != in.jsWant) fail(s"JS pump: ${jsGot.size} partitions, model ${in.jsWant.size}; states differ")

    if (!warm) {
      rounds += wall; roundCpu += cpu; roundTaskCpu += tc
      Main.note(f"round $r wall $wall%.3f s cpu $cpu%.2f s")
      ingestEps += Events / ((w1 - w0) / 1e9)
      catchupEps += 2.0 * Events / ((j2 - w1) / 1e9)
      jsonS += (j1 - j0) / 1e9; jsS += (j2 - j1) / 1e9
      progressOf(qJson); progressOf(qJs)
    }
    graft.util.TempRoots.rm(dir)
  }

  /** The measured rounds' results (engine metrics excluded). */
  def outcome(): Outcome = {
    val detail = Seq(
      ("ingest_eps", Stats.median(ingestEps.toSeq), "1/s"),
      ("catchup_eps", Stats.median(catchupEps.toSeq), "1/s"))
    val layers: Map[String, Double] = if (!rec.enabled) Map.empty else {
      val self = rec.selfMs
      val calls = batchSpans.toSeq.flatMap(root => rec.all.filter(_.parent == root))
      // batchAppend runs inside applyBatch, after LogSink has collected
      // the micro-batch: LogSink's share of a call is its collect job,
      // the rest of the call (and every other job) is batchAppend's
      val sinkJobs = calls.map(s => rec.jobsOf(s.id).filter(_.site.startsWith("collect at LogSink.scala")))
      val sinkMs = sinkJobs.map(_.map(_.ms.toDouble).sum)
      Map(
        "append.batch_call_ms" -> Stats.median(calls.zip(sinkMs).map { case (s, l) => self(s.id) - l }),
        "append.batch_jobs_per_call" ->
          Stats.mean(calls.zip(sinkJobs).map { case (s, l) => (rec.engineOf(s.id).jobs - l.size).toDouble }),
        "streaming.logsink_batch_ms" -> Stats.median(sinkMs),
        "streaming.pump_trigger_ms" -> Stats.median(pumpTriggerMs.toSeq),
        "streaming.pump_triggers" -> pumpTriggers.sum / math.max(1, rounds.size),
        "streaming.pump_state_rows" -> Stats.median(stateRows.toSeq),
        "streaming.pump_state_mb" -> Stats.median(stateMb.toSeq),
        "proj.pump_json_s" -> Stats.median(jsonS.toSeq),
        "proj.pump_js_s" -> Stats.median(jsS.toSeq))
    }
    Outcome(attempted, failed, mism.toSeq, setups.toSeq, rounds.toSeq, roundCpu.toSeq, roundTaskCpu.toSeq,
      batchMs.toSeq, detail, layers)
  }
}
