package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.countDistinct
import org.scalatest.BeforeAndAfterAll

import graft.core.Tables
import graft.queries.Q

/** The scale experiment's two halves on sf0.001: the replication writes
  * every table (facts 10x with distinct ids, dimensions as they are), and a
  * gate that throws gets a `FAILED` row instead of a timing while the run
  * goes on. */
class ScaleCheckSpec extends SparkSpec with BeforeAndAfterAll {

  private val base = "/root/testdata/sf0.001"

  private val out = Files.createTempDirectory("graft-scale-spec").toString

  override def beforeAll(): Unit = ScaleCheck.replicate(spark, base, out)

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))

  private def table(dir: String, name: String) = Tables.load(spark, dir, name)

  test("each fact table has 10x the rows and 10x the distinct ids") {
    ScaleCheck.facts.foreach { case (name, id) =>
      val (src, rep) = (table(base, name), table(out, name))
      def ids(df: DataFrame) = df.agg(countDistinct(id)).head.getLong(0)
      assert(src.count() > 0, name)
      assert(rep.count() == ScaleCheck.shards * src.count(), name)
      assert(ids(rep) == ScaleCheck.shards * ids(src), name)
    }
  }

  test("each dimension table is copied with the source's rows") {
    ScaleCheck.dimensions.foreach { name =>
      assert(table(out, name).count() == table(base, name).count(), name)
    }
  }

  test("a clean gate gets a ratio row and a throwing gate a FAILED row") {
    val gates = Seq(
      "clean" -> Q((s, d) => s.read.parquet(s"$d/region.parquet")),
      "boom" -> Q((_, _) => throw new IllegalStateException("boom")))
    val Seq(clean, boom) = ScaleCheck.scale(spark, gates, base, out)
    assert(clean.t1.isDefined && clean.t10.isDefined && !clean.failed)
    assert(clean.line.matches("""SCALE \| clean +\| +[0-9.]+ s \| +[0-9.]+ s \| +[0-9.]+x \|"""),
      clean.line)
    assert(boom.failed)
    assert(boom.line.matches("""SCALE \| boom +\| +FAILED \| +FAILED \| +FAILED \|"""), boom.line)
    assert(GateRunner.sweep(spark).isEmpty)
  }
}
