package graft

import org.apache.spark.sql.SparkSession

/** The one engine session configuration. Every main, tool and the test
  * harness build their session here, so the conf cannot drift between
  * them; callers add static conf (warehouse dir, app name) on the
  * returned builder before `getOrCreate()`. */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS` (default 4): the mains' local parallelism. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def builder(cpus: Int = envCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // tolerate either fixture encoding of `ts`: timestamp[us] loads
      // natively; legacy int64 epoch-nanos loads as long and Fixture.raw
      // normalizes it to µs TimestampType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the hot kernels resolve via call_function("graft_...")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the generated-class cache (default 100 entries) is far under the
      // suite's working set (~250 queries x O(10) codegen units), so every
      // warm pass re-ran Janino + fresh C2 JIT for every stage: measured
      // on the 45 slowest gates, 100 -> 20000 entries read 74.7s -> 52.5s
      // warm / 185.9 -> 110.3 cpu-s (same window, r17). Entries are
      // source-keyed compiled classes, tens of MB here. Static conf, so
      // it must land at session creation.
      .config("spark.sql.codegen.cache.maxEntries", "20000")
}
