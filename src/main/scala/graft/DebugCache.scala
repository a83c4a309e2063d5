package graft

import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Scratch: check cache substitution in the trainFold/scoreFold chain. */
object DebugCache {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("debug-cache", cores = "8")
      .config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = "/root/testdata/sf0.01"
    graft.core.CacheScope.beginGate()
    import graft.operators.QualityClassifier
    val docs = graft.core.Tables.documents(spark, d)
    val labels = graft.core.Parallelism.fanOut(docs).select(col("doc_id"),
        (graft.functions.TextFunctions.qualityScore(col("text")) >= 0.6)
          .as("is_pos"))
    val labP = graft.core.CacheScope.gatePersist(labels)
    val fold = QualityClassifier.tokenFold(docs, "doc_id", "text", 4096, ":nb1")
    val foldP = graft.core.CacheScope.gatePersist(fold)
    foldP.count()
    def hasIMR(df: org.apache.spark.sql.DataFrame, nm: String): Unit = {
      val p = df.queryExecution.executedPlan.toString
      val n = "InMemoryTableScan".r.findAllIn(p).length
      val scans = "Scan parquet".r.findAllIn(p).length
      println(s"$nm: InMemoryTableScan=$n ScanParquet=$scans")
    }
    val joined = foldP.join(labP, Seq("doc_id"))
    val agg = joined.groupBy("b")
      .agg(sum(when(col("is_pos"), col("cnt"))
        .otherwise(lit(0).cast("decimal(10,0)"))).as("cp"),
        sum(when(col("is_pos"), lit(0).cast("decimal(10,0)"))
          .otherwise(col("cnt"))).as("cn"))
    hasIMR(agg.agg(sum("cp"), sum("cn")), "tots")
    hasIMR(agg.select(col("b"),
      round(log((col("cp").cast("double") + lit(1.0)) / lit(100.0) /
        ((col("cn").cast("double") + lit(1.0)) / lit(100.0))), 9)
        .cast("decimal(19,9)").as("llr")), "llr-select")
    hasIMR(labP.agg(count(when(col("is_pos"), lit(1)))), "dc")
    val m = QualityClassifier.trainFold(foldP, labP, 4096, ":nb1")
    hasIMR(m.llr, "m.llr(localized)")
    val out = QualityClassifier.scoreFold(docs, "doc_id", foldP, m)
    out.write.format("noop").mode("overwrite").save()
    val fin = out.queryExecution.executedPlan.toString
    println(s"scoreFold FINAL: InMemoryTableScan=" +
      "InMemoryTableScan".r.findAllIn(fin).length +
      " ScanParquetLines=" + fin.linesIterator.count(_.contains("Scan parquet")))
    println(fin.linesIterator.filter(l => l.contains("Scan parquet") ||
      l.contains("InMemoryTableScan") || l.contains("Generate") ||
      l.contains("HashAggregate")).take(24).mkString("\n"))
    // self-join cache substitution check
    import graft.operators.Dedup
    val sig = Dedup.minhashSig(docs, "doc_id", "text", 32,
      t => array_distinct(graft.functions.TextFunctions.shingles(t, 3)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sig.count()
    val bands = Dedup.minhashBands(sig, 32, 4).hint("shuffle_hash")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    hasIMR(cand, "bands-self-join")
    cand.write.format("noop").mode("overwrite").save()
    val finc = cand.queryExecution.executedPlan.toString
    println("bands-self-join FINAL IMR=" +
      "InMemoryTableScan".r.findAllIn(finc).length)
    sig.unpersist()
    graft.core.CacheScope.endGate()
    spark.stop()
  }
}
