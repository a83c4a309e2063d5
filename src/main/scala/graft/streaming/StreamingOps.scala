package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.TextFunctions
import graft.operators.Dedup

/** The live ingest path (SURVEY §2.9): the reference's raw zone is
  * append-only (snapshot dual-write, fetch.py:101-105), which is exactly a
  * streaming file source. [[graft.IngestCli]] runs this pipeline over each
  * arrival batch.
  */
object StreamingOps {

  /** One foreachBatch pipeline composing the incremental dedup chain end
    * to end, the streaming twin of the batch corpus capstones: per
    * micro-batch,
    *
    *  1. EXACT dedup: drop documents whose content hash matches the stored
    *     corpus index (`corpusHashes`) or an earlier row of the same batch;
    *  2. NEAR-DUP edges: probe the stored LSH band index
    *     ([[graft.operators.Dedup.minhashLshIncrementIndexed]]) — verified
    *     (survivor, corpus) pairs become component edges;
    *  3. CLUSTER update: fold those edges into the persisted labeling with
    *     [[graft.operators.Dedup.componentsIncrement]] (projected
    *     increment-bounded graph, zero corpus shuffles); edge-less
    *     survivors enter as their own singleton components;
    *  4. persist: survivors append to `stateDir/docs`, the updated labeling
    *     temp-swaps `stateDir/labels` (a partitioned overwrite cannot read
    *     its own input).
    *
    * Seed `stateDir/labels` with the corpus labeling (id, comp) before
    * starting. Per-batch cost scales with the batch: the corpus appears
    * only behind stream-static index probes and the label scan inside
    * componentsIncrement. Delivery is at-least-once per batch content (a
    * replayed batch re-appends survivors);
    * the labeling update itself is idempotent (re-folding the same edges
    * changes nothing). */
  def ingestDedupPipeline(docs: DataFrame, corpusHashes: DataFrame,
                          corpusBands: DataFrame, corpusSets: DataFrame,
                          stateDir: String, idCol: String, textCol: String,
                          k: Int, rowsPerBand: Int, threshold: Double,
                          tokens: Column => Column = TextFunctions.tokenSet)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val survivors = batch.toDF()
            .withColumn("content_hash", md5(col(textCol)))
            .join(corpusHashes, Seq("content_hash"), "left_anti")
            .dropDuplicates("content_hash")
            .drop("content_hash")
            .persist()
          survivors.count()
          try {
            val edges = Dedup.minhashLshIncrementIndexed(survivors,
                corpusBands, corpusSets, idCol, textCol, k, rowsPerBand,
                threshold, tokens)
              .select(col("id_new").as("id_a"), col("id_corpus").as("id_b"))
            val labels = spark.read.parquet(s"$stateDir/labels")
            val updated = Dedup.componentsIncrement(labels, edges)
            // edge-less survivors are their own components by definition.
            // Derived against the EDGE frame, not the updated labeling —
            // survivor ids are fresh by the global-uniqueness contract, so
            // "no edge" is exactly "not labeled yet", and the anti-join
            // stays increment-bounded instead of scanning the corpus.
            val singletons = survivors.select(col(idCol).as("id"))
              .join(edges.select(col("id_a").as("id")).distinct(),
                Seq("id"), "left_anti")
              .select(col("id"), col("id").as("comp"), lit(true).as("is_keeper"))
            val tmp = s"$stateDir/labels__updating"
            updated.unionByName(singletons)
              .write.mode("overwrite").parquet(tmp)
            val fs = org.apache.hadoop.fs.FileSystem.get(
              new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
            val dst = new org.apache.hadoop.fs.Path(s"$stateDir/labels")
            fs.delete(dst, true)
            require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
              s"labels rename into $dst failed")
            survivors.write.mode("append").parquet(s"$stateDir/docs")
          } finally survivors.unpersist()
        }
      }
}
