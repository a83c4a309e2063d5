package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Parallelism
import graft.operators.{Sampling, Similarity}

/** Trained PQ codebooks for the specs of the PQ encode, search and retrain
  * paths. The gates build theirs deterministically (exact hash-bucket
  * subvector means, which the oracle can reproduce); the specs use real
  * per-subspace k-means instead. */
object PqTraining {

  /** One k-means per subspace over a deterministic hash sample (the
    * sampling discipline of [[Similarity.buildIvf]]'s coarse quantizer:
    * codebook quality needs subvector diversity, not the full corpus, and
    * the m fits run on the SAME bounded sample). */
  def trainPq(corpus: DataFrame, m: Int, nCodes: Int = 256,
              seed: Long = 42L): Similarity.PqCodebooks = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c = Parallelism.fanOut(
      corpus.select(col("vec_id").as("nbr_id"),
        col("embedding").cast("array<double>").as("nbr_v")))
    val dim = c.select(size(col("nbr_v"))).head.getInt(0)
    val sub = dim / m
    val n = c.count()
    val targetRows = nCodes.toLong * 100L
    val pct = math.min(100, math.max(1,
      math.ceil(targetRows * 100.0 / math.max(n, 1L)).toInt))
    val train = Sampling.sampleByHash(c, col("nbr_id"), pct, salt = s"pq$seed")
      .select(col("nbr_v")).repartition(4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    train.count()
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = (0 until m).flatMap { j =>
      val model = new KMeans().setK(nCodes).setSeed(seed + j).setMaxIter(5)
        .setInitMode("random")
        .fit(train.select(
          array_to_vector(slice(col("nbr_v"), j * sub + 1, sub)).as("features")))
      model.clusterCenters.toIndexedSeq.zipWithIndex.map {
        case (cent, i) => (j, i, cent.toArray.toSeq)
      }
    }
    train.unpersist()
    Similarity.PqCodebooks(m, dim, nCodes, rows.toDF("subspace", "code", "codeword"))
  }
}
