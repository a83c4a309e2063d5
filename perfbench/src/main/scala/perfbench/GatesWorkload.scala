package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.CacheScope
import graft.queries.{RelationalQueries, WeatherQueries}

/** `gates`: the relational and weather gates of the query inventory over
  * fixed generated tables. Closed loop, one caller. Each gate gets one
  * untimed warm run (which also collects the rows for the output check),
  * then one run to the `noop` sink that is timed, with the full GC and
  * cache sweep `Bench` does around them. The seed permutes the gate order.
  */
final class GatesWorkload(seed: Long, expected: Path, traceOut: Path)
    extends Main.Workload {
  import GatesWorkload._

  val names: Seq[String] = (RelationalQueries.all ++ WeatherQueries.all).map(_._1)

  def setup(spark: SparkSession, dir: Path): Unit = {
    Tables.write(spark, dir.resolve("tables"), Tables.All)
    // one small gate end to end: session-level planning and codegen warm-up
    SparkEntry.inventory.toMap.apply("q_a5_global_summary").fn(spark, dir.resolve("tables").toString)
      .write.format("noop").mode("overwrite").save()
  }

  def measure(spark: SparkSession, dir: Path, out: Main.Outcome): Unit = {
    val timings = runGates(spark, dir.resolve("tables").toString, new Random(seed).shuffle(names),
      expected, traceOut, out)
    val secs = timings.map(_._2)
    out.endToEnd("batch_wall_s") = (secs.sum, "s")
    out.endToEnd("op_latency_ms") = (Stats.median(secs) * 1000, "ms")
  }

  def layers(spark: SparkSession, dir: Path, out: Main.Outcome): Unit = queryLayers(out)
}

object GatesWorkload {

  /** Run each gate the way `Bench` does: a full GC, the gate's prewarm, one
    * untimed warm run, a cache sweep, prewarm again, one timed run to the
    * `noop` sink, and a sweep. The warm run collects the rows, whose count
    * and content hash must match `expected/gates.json` (recorded from the
    * seed commit); what was observed is written to
    * `traceOut/gates_observed.json`. A gate whose
    * timed run throws is a failed operation and has no timing. Returns
    * (gate, seconds) of the timed runs and records the gate metrics. */
  def runGates(spark: SparkSession, tables: String, order: Seq[String], expected: Path,
               traceOut: Path, out: Main.Outcome): Seq[(String, Double)] = {
    val want = readExpected(expected.resolve("gates.json"))
    val inventory = SparkEntry.inventory.toMap
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    val observed = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
    val timings = order.flatMap { name =>
      val q = inventory(name)
      Trace.span("core.sweep")(System.gc())
      q.prewarm.foreach(f => f(spark, tables))
      val rows = Trace.span("queries.warm") {
        CacheScope.beginGate()
        try scala.util.Try(q.fn(spark, tables).collect()) finally CacheScope.endGate()
      }
      Trace.span("core.sweep")(sweep())
      rows.foreach(r => observed(name) = digest(r))
      q.prewarm.foreach(f => f(spark, tables))
      val t0 = System.nanoTime()
      val timed = out.op(s"gate $name")(Trace.span("queries.timed") {
        CacheScope.beginGate()
        try q.fn(spark, tables).write.format("noop").mode("overwrite").save()
        finally CacheScope.endGate()
      })()
      val dt = (System.nanoTime() - t0) / 1e9
      Trace.span("core.sweep")(sweep())
      out.check(s"gate $name rows and content hash") {
        rows.isSuccess && want.get(name).contains(observed(name))
      }
      timed.map(_ => name -> dt)
    }
    Files.createDirectories(traceOut)
    Files.writeString(traceOut.resolve("gates_observed.json"), observed.toSeq.sortBy(_._1).map { case (n, (c, h)) =>
      s"""  ${Json.str(n)}: [$c, ${Json.str(h)}]""" }.mkString("{\n", ",\n", "\n}\n"))
    val secs = timings.map(_._2)
    out.named("gates_total_s") = (secs.sum, "s")
    out.named("gates_geomean_ms") = (Stats.geomean(secs) * 1000, "ms")
    out.named("gates_timed") = (secs.size.toDouble, "count")
    def family(p: String => Boolean) = timings.collect { case (n, s) if p(n) => s }.sum
    val weather = WeatherQueries.all.map(_._1).toSet
    out.layer("queries.tpch_s") = (family(_.startsWith("q_tpch_")), "s")
    out.layer("queries.weather_s") = (family(weather), "s")
    out.layer("queries.relational_s") = (family(n => !n.startsWith("q_tpch_") && !weather(n)), "s")
    timings
  }

  /** The `queries` layer: Spark work of the timed gate runs. */
  def queryLayers(out: Main.Outcome): Unit = {
    import Layers._
    val timed = named("queries.timed")
    val js = jobsUnder(timed)
    out.layer("queries.jobs") = (js.size.toDouble, "count")
    out.layer("queries.stages") = (js.map(_.stages).sum.toDouble, "count")
    out.layer("queries.task_ms") = (js.map(_.taskMs).sum, "ms")
    out.layer("queries.cpu_ms") = (js.map(_.cpuMs).sum, "ms")
    out.layer("queries.gc_ms") = (js.map(_.gcMs).sum, "ms")
    out.layer("queries.wait_ms") = (js.map(_.fetchWaitMs).sum, "ms")
    out.layer("queries.shuffle_mb") = (mb(js.map(_.shuffleWriteBytes).sum), "MB")
    out.layer("queries.input_mb") = (mb(js.map(_.inputBytes).sum), "MB")
    out.layer("queries.driver_ms") = (Trace.driverMs(timed, js), "ms")
  }

  /** Row count and an order-insensitive content hash of a gate's output:
    * the wrapping sum of a 64-bit hash per rendered row. */
  def digest(rows: Array[Row]): (Long, String) = {
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val s = r.toSeq.map(String.valueOf).mkString("\u0001")
      acc + ((MurmurHash3.stringHash(s, 17).toLong << 32) ^ (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL))
    }
    (rows.length.toLong, f"$sum%016x")
  }

  def readExpected(p: Path): Map[String, (Long, String)] = {
    val entry = "\"([^\"]+)\": \\[(\\d+), \"([0-9a-f]+)\"\\]".r
    entry.findAllMatchIn(Files.readString(p)).map(m =>
      m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  /** Deterministic TPC-H-shaped tables plus `events`, with the schemas and
    * value ranges of the engine's test data, at [[Tables.Lineitem]] rows.
    * Every value is a hash of the row id, so the tables are identical on
    * every run and every machine; the seed never touches them. */
  object Tables {
    val Lineitem = 60000
    val Orders = 15000
    val Customers = 1500
    val Parts = 2000
    val Suppliers = 100
    val Events = 10000

    private def r(salt: String, n: Long): Column =
      pmod(xxhash64(col("id"), lit(salt)), lit(n))
    private def pick(salt: String, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (r(salt, xs.size.toLong) + 1).cast("int"))
    private def day(base: String, salt: String, span: Int): Column =
      date_add(lit(base).cast("date"), r(salt, span.toLong).cast("int")).cast("timestamp_ntz")

    val All = Set("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

    /** Write the tables named in `only` under `dir`. */
    def write(spark: SparkSession, dir: Path, only: Set[String]): Unit = {
      def save(name: String, df: => DataFrame): Unit =
        if (only(name)) df.write.parquet(dir.resolve(s"$name.parquet").toString)
      def ids(n: Long) = spark.range(0, n, 1, 1)
      save("region", ids(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")))
      save("nation", ids(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
      save("customer", ids(Customers).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        r("cn", 25).cast("int").as("c_nationkey"),
        ((r("cb", 1100000) - 100000) / 100.0).as("c_acctbal"),
        pick("cs", Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")).as("c_mktsegment")))
      save("supplier", ids(Suppliers).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        r("sn", 25).cast("int").as("s_nationkey"),
        ((r("sb", 1100000) - 100000) / 100.0).as("s_acctbal")))
      save("part", ids(Parts).select(col("id").as("p_partkey"),
        concat_ws(" ", pick("pc", Seq("large", "hot", "blue", "red", "small", "green")),
          pick("pn", Seq("ring", "bolt", "nut", "gear", "pipe", "valve"))).as("p_name"),
        concat(lit("Brand#"), r("pb", 25) + 1).as("p_brand"),
        pick("pt", Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")).as("p_type"),
        (r("ps", 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
      save("orders", ids(Orders).select(col("id").as("o_orderkey"),
        r("oc", Customers).as("o_custkey"),
        pick("os", Seq("F", "O", "P")).as("o_orderstatus"),
        ((r("ot", 49899128) + 100191) / 100.0).as("o_totalprice"),
        day("1995-01-01", "od", 2404).as("o_orderdate"),
        pick("op", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
      save("lineitem", ids(Lineitem).select(r("lo", Orders).as("l_orderkey"),
        r("lp", Parts).as("l_partkey"), r("ls", Suppliers).as("l_suppkey"),
        (r("ln", 7) + 1).cast("int").as("l_linenumber"),
        (r("lq", 50) + 1).cast("double").as("l_quantity"),
        ((r("le", 10400000) + 90068) / 100.0).as("l_extendedprice"),
        (r("ld", 11) / 100.0).as("l_discount"), (r("lt", 9) / 100.0).as("l_tax"),
        pick("lr", Seq("A", "N", "R")).as("l_returnflag"),
        pick("lk", Seq("F", "O")).as("l_linestatus"),
        day("1995-01-02", "lsd", 2498).as("l_shipdate")))
      val spacing = 30L * 86400L * 1000000L / Events
      save("events", ids(Events).select(col("id").as("event_id"),
        (lit("2024-01-01 00:00:00").cast("timestamp_ntz") +
          make_dt_interval(lit(0), lit(0), lit(0),
            ((col("id") * spacing + r("ej", spacing)) / 1e6).cast("decimal(18,6)"))).as("ts"),
        r("eu", 150).as("user_id"),
        pick("ee", Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
        (r("ev", 50000) / 100.0).as("value"),
        concat(lit("{\"k\": "), r("ek", 100), lit("}")).as("props")))
    }
  }
}
