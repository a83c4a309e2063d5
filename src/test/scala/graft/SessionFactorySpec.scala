package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every session is built by `core.GraftSession`: a hand-rolled builder
  * anywhere else in the sources would run its own semantics (ANSI, timezone,
  * nanos) and its own partition count unnoticed. */
class SessionFactorySpec extends SparkSpec {

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only GraftSession calls the SparkSession builder") {
    val call = "SparkSession" + ".builder("
    val callers = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(f => Files.readString(f).contains(call))
      .map(_.toString.replace('\\', '/'))
    assert(callers == Seq("src/main/scala/graft/core/GraftSession.scala"))
  }

  test("the test session keeps its master, partitions and semantics") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.ansi.enabled") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
