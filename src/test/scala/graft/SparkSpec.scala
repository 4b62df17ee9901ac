package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; specs must
  * not stop it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the engine conf at a fixed local[4], so results do not depend on
    // the host's core count
    val s = GraftSession.builder(cpus = 4)
      .appName("graft-test")
      // managed (bucketed) test tables land in a throwaway warehouse
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
