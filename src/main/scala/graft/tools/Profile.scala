package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: time one gate query and print its physical plan.
  * `sbt "runMain graft.tools.Profile <queryName> <sfDir> [explain]"` */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      if (name == "entry") (s, _) => graft.SparkEntry.entry(s)
      else graft.SparkEntry.queries(name)
    if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
    if (args.contains("show")) fn(spark, sfDir).show(100, false)
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[profile] $name run$i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    spark.stop()
  }
}
