package graftbench

import org.apache.spark.sql.SparkSession

/**
 * `event_store`: the event store's write, streaming and serving paths in
 * one round of two phases, each on its own fresh log:
 *
 *  1. `ingest_catchup` ([[IngestPhase]]): LogSink micro-batches into an
 *     empty log, then two stored projections catch up through the pump;
 *  2. `store_oltp` ([[StorePhase]]): one client's appends and reads on a
 *     staged log under a live subscription.
 *
 * A round's set-up, wall and CPU are the sums of its phases'; the op is
 * the accepted single-event append. Round 0 is the untimed warm-up.
 */
object EventStore {

  def run(spark: SparkSession, o: Opts, rec: Recorder): Outcome = {
    val ingest = new IngestPhase(spark, o, rec)
    val store = new StorePhase(spark, o, rec)
    var mark0: Mark = null
    var measured = 0.0
    var r = 0
    while (r == 0 || measured < o.seconds) {
      if (r == 1) mark0 = rec.mark()
      ingest.round(r)
      store.round(r)
      if (r > 0) measured += ingest.rounds.last + store.rounds.last
      r += 1
    }
    val mark1 = rec.mark()

    val (i, s) = (ingest.outcome(), store.outcome())
    def sum(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x + y }
    val rounds = sum(i.rounds, s.rounds)
    val layers =
      if (!rec.enabled) Map.empty[String, Double]
      else i.layers ++ s.layers ++ rec.engineMetrics(mark0, mark1, rounds.size) ++ Map(
        "trace.round_s" -> Stats.median(rounds), "trace.layer_share" -> rec.layerShare())
    Outcome(i.attempted + s.attempted, i.failed + s.failed, i.mismatches ++ s.mismatches,
      sum(i.setups, s.setups), rounds, sum(i.roundCpu, s.roundCpu), sum(i.roundTaskCpu, s.roundTaskCpu),
      s.ops, s.detail ++ i.detail ++ Seq(
        ("micro_batch_p50_ms", Stats.median(i.ops), "ms"), ("ingest_round_s", Stats.median(i.rounds), "s"),
        ("store_round_s", Stats.median(s.rounds), "s")),
      layers)
  }
}
