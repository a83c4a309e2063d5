package graft

import graft.core.GraftSession

/** Scratch: print one inventory query's formatted plan. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("explain-one", cores = "4")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(args(0))(spark, "/root/testdata/sf0.001").explain("formatted")
    spark.stop()
  }
}
