package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a session is built: every main and the test session start
  * here, so they all run the same semantics and differ only in thread and
  * shuffle-partition counts.
  *
  * Design notes (100 TB north star):
  *  - AQE stays on (Spark 4 default): runtime partition coalescing, skew-join
  *    splitting and dynamic broadcast decisions replace hand-tuned shuffle
  *    partition counts on a real cluster.
  *  - `spark.sql.ansi.enabled=false`: the reference semantics are pandas-style
  *    "coerce, don't throw" (`pd.to_numeric(errors="coerce")`,
  *    /root/reference/src/etl_weather/transform.py:79-80), i.e. invalid cast
  *    -> null. Non-ANSI cast has exactly those semantics.
  *  - Session timezone pinned UTC and timestamps kept NTZ: the reference's
  *    timestamps are city-local wall clock with no offset
  *    (tests/fixtures/weather_min.json:3); values must never shift.
  *  - `nanosAsLong`: `events.ts` is parquet TIMESTAMP(NANOS), which Spark
  *    reads only as a long (`Tables.events` converts it).
  */
object GraftSession {
  /** A `local[cores]` session with `partitions` shuffle partitions. The
    * defaults (all cores, `$SPARK_GRAFT_CPUS` or 32 partitions) are the
    * CLIs' session. */
  def local(appName: String = "graft", cores: String = "*",
            partitions: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
