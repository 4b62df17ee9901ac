package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.append.{Appender, ProposedEvent}
import graft.log.EventLog
import graft.model._
import graft.proj.ProjectionService
import graft.streaming.{PersistentSubscriptions => PS}

/**
 * Cross-module integration: one parquet log written by the appender is
 * consumed by the bounded read path, a consumer group, and a stored
 * projection — the canonical schema (incl. custom_metadata) must flow
 * through every surface unchanged.
 */
class EndToEndSpec extends SparkSpec {

  private def ev(i: Int, tpe: String): ProposedEvent =
    ProposedEvent(s"u-$tpe-$i", tpe, s"""{"k":$i}""",
      Map("type" -> tpe, "content-type" -> "application/json"),
      customMetadata = Some(s"""{"src":"e2e-$i"}"""))

  test("append → bounded read → consumer group → stored projection over one log") {
    val logDir = Files.createTempDirectory("graft-e2e-log").toString
    val svcDir = Files.createTempDirectory("graft-e2e-svc").toString
    val psDir = Files.createTempDirectory("graft-e2e-ps").toString

    // ingest: two streams, one global position sequence
    Appender.batchAppend(spark, logDir, Seq(
      ("orders", (1 to 4).map(ev(_, "created")), NoStream),
      ("users", (1 to 3).map(ev(_, "signed-up")), NoStream)
    ), nowNanos = 1000L)
    Appender.append(spark, logDir, "orders", Seq(ev(5, "shipped")), ExactRevision(3), nowNanos = 2000L)

    val log = Appender.readLog(spark, logDir)
    assert(log.count() == 8)

    // bounded read: orders backwards from end, limit 2 → shipped then created#4
    val last2 = EventLog.read(log, ReadOptions(OneStream("orders"), Backwards, FromEnd, count = Some(2)))
      .select("event_type", "revision").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(last2.toSeq == Seq(("shipped", 4L), ("created", 3L)))
    // custom_metadata survived the round-trip
    assert(log.filter(col("custom_metadata").contains("e2e-5")).count() == 1)

    // consumer group over $all: read 5, ack, the rest follows
    PS.create(spark, psDir, "g", None, strategy = PS.DispatchToSingle, nowNanos = 1L)
    val batch1 = PS.read(spark, psDir, log, "g", "c1", 5)
      .select("position").collect().map(_.getLong(0))
    assert(batch1.toSeq == (1L to 5L))
    PS.ack(spark, psDir, "g", "c1", batch1.toSeq, nowNanos = 2L)
    val batch2 = PS.read(spark, psDir, log, "g", "c1", 5)
      .select("position").collect().map(_.getLong(0))
    assert(batch2.toSeq == (6L to 8L))

    // stored projection: sum the JSON k per stream, from the same log
    ProjectionService.create(spark, svcDir, "sumk",
      """{"name":"sumk","from":["$all"],"partitionBy":"stream",
        |"state":["k"],
        |"when":{"$any":[{"op":"addJsonInt","field":"k","key":"k"}]}}""".stripMargin,
      nowNanos = 1L)
    val st = ProjectionService.state(spark, svcDir, "sumk", log)
      .collect().map(r => r.getString(0) -> r.getMap[String, Long](1)("k")).toMap
    assert(st == Map("orders" -> (1 + 2 + 3 + 4 + 5L), "users" -> (1 + 2 + 3L)))
  }

  test("the engine session carries the GraftSession conf") {
    // static conf lands in the SparkConf at session creation
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "20000")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
