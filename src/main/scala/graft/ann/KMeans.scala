package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Hashing

/** Deterministic distributed k-means over an embedding column — the
  * clustering primitive of a training-data pipeline (cluster-balanced
  * sampling, SemDeDup-style cluster-scoped near-dup search, IVF coarse
  * quantization).
  *
  * Design for scale:
  *   - init is the same hash-even deterministic sample as [[Ann.ivfTopK]]
  *     (min id per hash bucket — stable under any partitioning; no
  *     Math.random, so runs are replayable)
  *   - each Lloyd iteration is ONE narrow corpus pass: mapPartitions
  *     accumulates per-centroid (sum vector, count) into a k x d dense
  *     local buffer, then a Dataset.reduce merges the k x d partials —
  *     the corpus is never shuffled, only k*d doubles per partition move
  *   - assignment metric is cosine (scale-invariant, so centroid means
  *     need no re-normalization) — the metric the ANN/dedup family uses
  *   - empty clusters keep their previous centroid (deterministic, no
  *     re-seeding roulette)
  * Compute per iteration is O(N*k*d / tasks); iterations are bounded by
  * the caller (coarse quantizers want 1-3, not convergence).
  */
object KMeans {

  final case class Model(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length

    /** Index of the max-cosine centroid (ties -> smallest index). */
    def assign(v: Array[Float]): Int = {
      var best = 0
      var bestScore = Double.MinValue
      var i = 0
      while (i < centroids.length) {
        val s = Ann.cosineOf(v, centroids(i))
        if (s > bestScore) { bestScore = s; best = i }
        i += 1
      }
      best
    }
  }

  /** Deterministic hash-even initial centroids: min id per hash bucket,
    * fetched by one broadcast semi-join (the [[Ann.ivfTopK]] pattern).
    */
  def initCentroids(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String, k: Int): Array[Array[Float]] = {
    import spark.implicits._
    val corp = df.select(col(idCol).cast("long"), col(vecCol))
      .where(col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
    val repIds = corp
      .map { case (id, _) => (Hashing.toRange(Hashing.mix64(id), k), id) }
      .toDF("cell", "id")
      .groupBy(col("cell"))
      .agg(min(col("id")).as("id"))
    corp
      .toDF("id", "v")
      .join(broadcast(repIds), Seq("id"))
      .select(col("cell"), col("v"))
      .as[(Int, Array[Float])]
      .collect()
      .sortBy(_._1)
      .map(_._2)
  }

  def fit(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): Model = {
    import spark.implicits._
    var cents = initCentroids(spark, df, idCol, vecCol, k)
    if (cents.isEmpty) return Model(Array.empty)
    // null embeddings carry no signal and would NPE the assignment.
    // The iteration input is persisted for the duration of the fit
    // (the standard iterative-ML pattern — MLlib's KMeans does the
    // same): without it every iteration re-scans the source and
    // re-decodes the vectors through the encoder, `iters` + 1 times.
    // MEMORY_AND_DISK so a corpus bigger than storage spills instead
    // of failing; unpersisted on every exit, failure included.
    val corp = df.select(col(vecCol)).where(col(vecCol).isNotNull).as[Array[Float]]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val d = cents.head.length
    try {
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(Model(cents))
        // one narrow pass: k x d partial sums + counts per partition.
        // Partials are COLLECTED (ordered by partition id) and merged on
        // the driver in that fixed order — Dataset.reduce would merge in
        // task-completion order, making the float sums (and so the
        // centroids) vary in ulps run to run. k x d x P doubles is
        // driver-trivial for any sane quantizer size.
        val partials = corp
          .mapPartitions { rows =>
            val m = bc.value
            val acc = Array.fill(m.k)(new Array[Double](d))
            val cnt = new Array[Long](m.k)
            rows.foreach { v =>
              val c = m.assign(v)
              val a = acc(c)
              var j = 0
              val n = math.min(d, v.length)
              while (j < n) { a(j) += v(j); j += 1 }
              cnt(c) += 1L
            }
            Iterator.single((acc, cnt))
          }
          .collect()
        val sums = Array.fill(cents.length)(new Array[Double](d))
        val counts = new Array[Long](cents.length)
        for ((acc, cnt) <- partials) {
          var i = 0
          while (i < sums.length) {
            var j = 0
            while (j < d) { sums(i)(j) += acc(i)(j); j += 1 }
            counts(i) += cnt(i)
            i += 1
          }
        }
        cents = Array.tabulate(cents.length) { i =>
          if (counts(i) == 0L) cents(i) // empty cluster: keep previous
          else Array.tabulate(d)(j => (sums(i)(j) / counts(i)).toFloat)
        }
        bc.destroy()
        it += 1
      }
    } finally corp.unpersist()
    Model(cents)
  }

  /** Cluster id per row — a narrow map against the broadcast model. */
  def assignClusters(spark: SparkSession, df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, bc.value.assign(v)) }
      .toDF(idCol, "cluster")
  }
}
