package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.Dedup
import graft.text.TextOps

class DedupAnnSpec extends SparkSpec {

  private val docs = "/root/testdata/sf0.001/documents.parquet"
  private val embs = "/root/testdata/sf0.001/embeddings.parquet"

  /** corpus with clipped near-dup copies, as in SparkEntry.q_dedup_minhash */
  private def corpusWithClips = {
    val d = spark.read.parquet(docs).select(col("doc_id"), col("text"))
    val clipped = d
      .where(col("doc_id") % 4 === 0)
      .select(
        (col("doc_id") + 200000).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), lit(1), greatest(size(split(col("text"), " ")) - 3, lit(1))))
          .as("text")
      )
    d.union(clipped)
  }

  test("minhash near-dup pairs: no false positives, recall >= 0.95 vs exact jaccard") {
    import spark.implicits._
    val c = corpusWithClips
    val got = Dedup
      .minhashNearDupPairs(spark, c, "doc_id", "text", 3, 0.6)
      .select($"id_a", $"id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    val want = Dedup
      .exactJaccardPairs(spark, c, "doc_id", "text", 3, 0.6)
      .select($"id_a", $"id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(want.nonEmpty, "fixture produced no true near-dup pairs")
    assert(got.subsetOf(want), s"false positives: ${(got -- want).take(5)}")
    val recall = (got & want).size.toDouble / want.size
    info(f"lsh pairs=${got.size} exact pairs=${want.size} recall=$recall%.4f")
    assert(recall >= 0.95)
  }

  test("simhash blocking has 100% recall at its hamming radius (pigeonhole)") {
    import spark.implicits._
    val c = corpusWithClips
    val got = Dedup
      .simhashNearDupPairs(spark, c, "doc_id", "text", 3)
      .as[(Long, Long, Int)]
      .collect()
    // brute-force oracle over all signature pairs
    val sigs = c
      .as[(Long, String)]
      .collect()
      .map { case (id, t) => (id, TextOps.simhash64(t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)) }
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = TextOps.hamming64(sa, sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(got.toSet == want, s"got=${got.length} want=${want.size}")
    assert(want.nonEmpty)
  }

  test("ann lsh top-k achieves recall >= 0.6 vs brute force (multi-probe)") {
    import spark.implicits._
    val emb = spark.read.parquet(embs)
    val queries = emb.where(col("label") === 0).orderBy(col("vec_id")).limit(10)
      .select(col("vec_id"), col("embedding"))
    val exact = Ann
      .bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val approx = Ann
      .lshTopK(spark, queries, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ann lsh recall=$recall%.3f (${approx.size} approx vs ${exact.size} exact)")
    assert(recall >= 0.6) // multi-probe SRP at 8 planes; knob documented in Ann
  }

  test("ann ivf top-k achieves recall >= 0.5 vs brute force") {
    import spark.implicits._
    val emb = spark.read.parquet(embs)
    val queries = emb.where(col("label") === 0).orderBy(col("vec_id")).limit(10)
      .select(col("vec_id"), col("embedding"))
    val exact = Ann
      .bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val approx = Ann
      .ivfTopK(spark, queries, emb, "vec_id", "embedding", 5, numLists = 8, nProbe = 4)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ann ivf recall=$recall%.3f")
    // random-sample centroids on near-uniform vectors: probing half the
    // lists bounds expected recall near nProbe/numLists + top-k skew
    assert(recall >= 0.5)
    // determinism
    val again = Ann.ivfTopK(spark, queries, emb, "vec_id", "embedding", 5, numLists = 8, nProbe = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(again == approx)
    // Lloyd-refined quantizer: still deterministic, recall not degraded
    val refined = Ann
      .ivfTopK(spark, queries, emb, "vec_id", "embedding", 5, numLists = 8, nProbe = 4, kmeansIters = 2)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val refinedRecall = (exact & refined).size.toDouble / exact.size
    info(f"ann ivf kmeans-refined recall=$refinedRecall%.3f")
    assert(refinedRecall >= 0.5)
  }

  test("kmeans: recovers separated direction clusters; deterministic under partitioning") {
    import spark.implicits._
    import graft.ann.KMeans
    // three well-separated directions in 6-d, 40 points each with tiny
    // deterministic jitter
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f)
    )
    val rows = (0 until 120).map { i =>
      val g = i % 3
      val v = dirs(g).clone()
      v((g + 1) % 6) = 0.05f * ((i % 7) - 3) // jitter off-axis
      (i.toLong, v)
    }
    val df = rows.toDF("id", "vec")
    val model = KMeans.fit(spark, df, "id", "vec", k = 3, iters = 3)
    assert(model.k == 3)
    val assigned = KMeans.assignClusters(spark, df, "id", "vec", model)
      .as[(Long, Int)].collect().toMap
    // all members of a ground-truth group land in ONE cluster, and the
    // three groups land in THREE distinct clusters
    val byGroup = rows.groupBy(_._1 % 3).map { case (g, rs) =>
      g -> rs.map(r => assigned(r._1)).distinct
    }
    assert(byGroup.values.forall(_.size == 1), byGroup.toString)
    assert(byGroup.values.flatten.toSet.size == 3)
    // partition invariance (exact on this fixture; in general the
    // per-partition double sums can differ in ulps across partitionings
    // — run-to-run determinism is guaranteed by the ordered driver
    // merge, cross-partitioning equality is fixture-verified)
    val model2 = KMeans.fit(spark, df.repartition(7), "id", "vec", k = 3, iters = 3)
    assert(model2.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq)
  }

  test("prefix-filtered exact Jaccard join equals the crossJoin oracle exactly") {
    import spark.implicits._
    val c = corpusWithClips
    for (t <- Seq(0.4, 0.6, 0.8)) {
      val got = Dedup.jaccardPairsExact(spark, c, "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      val want = Dedup.exactJaccardPairs(spark, c, "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(want.nonEmpty, s"t=$t fixture empty")
      assert(got == want, s"t=$t: missing=${(want diff got).take(3)} extra=${(got diff want).take(3)}")
    }
  }

  test("tiled cosinePairs equals the crossJoin oracle exactly (pairs AND scores)") {
    import spark.implicits._
    val emb = spark.read.parquet(embs)
    val want = Dedup
      .cosinePairsBrute(emb, "vec_id", "embedding", 0.25)
      .as[(Long, Long, Double)]
      .collect()
      .toSet
    assert(want.nonEmpty)
    // several tilings, including one forcing many blocks and the
    // degenerate single-block case — pair set must be tiling-invariant
    for (bs <- Seq(7, 64, 100000)) {
      val got = Dedup
        .cosinePairs(emb, "vec_id", "embedding", 0.25, blockSize = bs)
        .as[(Long, Long, Double)]
        .collect()
        .toSet
      assert(got == want, s"blockSize=$bs: ${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("SRP-blocked approx cosine pairs: precision 1.0, high recall at tight threshold") {
    import spark.implicits._
    val emb = spark.read.parquet(embs)
    // this corpus tops out at cosine ~0.51 (angle 60°) — far from the
    // near-parallel regime the default knobs (8 planes) target, so set
    // the banding for the test threshold: p=3, L=16 gives theoretical
    // recall 1-(1-0.648^3)^16 = 0.994 at t=0.45 (Charikar collision
    // prob 1 - theta/pi = 0.648)
    val t = 0.45
    val want = Dedup.cosinePairsBrute(emb, "vec_id", "embedding", t)
      .as[(Long, Long, Double)].collect().toSet
    val got = Dedup.cosinePairsApprox(emb, "vec_id", "embedding", t, numPlanes = 3, numTables = 16)
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty)
    assert(got.subsetOf(want), "residual exact filter must kill every false positive")
    val recall = (got & want).size.toDouble / want.size
    info(f"approx cosine recall=$recall%.3f (${got.size}/${want.size})")
    assert(recall >= 0.7)
  }

  test("semdedup cluster-scoped pairs == brute-force pairs restricted to same cluster") {
    import spark.implicits._
    import graft.ann.KMeans
    import graft.dedup.Dedup
    val emb = spark.read.parquet(embs)
    val model = KMeans.fit(spark, emb, "vec_id", "embedding", k = 8, iters = 2)
    val assigned = KMeans.assignClusters(spark, emb, "vec_id", "embedding", model)
    val brute = Dedup.cosinePairsBrute(emb, "vec_id", "embedding", 0.25)
    val expected = brute
      .join(assigned.select($"vec_id".as("id_a"), $"cluster".as("ca")), Seq("id_a"))
      .join(assigned.select($"vec_id".as("id_b"), $"cluster".as("cb")), Seq("id_b"))
      .where($"ca" === $"cb")
      .select($"id_a", $"id_b", $"cosine")
      .as[(Long, Long, Double)].collect().toSet
    // small blockSize exercises the intra-cluster sub-tiling
    val sem = Dedup
      .cosinePairsSemDeDup(emb, "vec_id", "embedding", 0.25, numClusters = 8, kmeansIters = 2, blockSize = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(sem == expected)
    assert(sem.nonEmpty)
  }

  test("exact + normalized dedup survivors are originals and idempotent") {
    import spark.implicits._
    val d = spark.read.parquet(docs).select(col("doc_id"), col("text"))
    val copy = d.select((col("doc_id") + 100000).as("doc_id"), upper(col("text")).as("text"))
    val survivors = Dedup.normalizedExact(d.union(copy), "doc_id", "text")
    assert(survivors.count() == d.count())
    assert(survivors.where(col("doc_id") >= 100000).count() == 0)
    // idempotence
    assert(Dedup.normalizedExact(survivors, "doc_id", "text").count() == d.count())
  }

  test("text ops are deterministic and sane") {
    assert(TextOps.fingerprint64("a b c") == TextOps.fingerprint64("a b c"))
    assert(TextOps.simhash64(Seq("x", "y")) == TextOps.simhash64(Seq("x", "y")))
    assert(TextOps.hamming64(0L, -1L) == 64)
    // near-dup token lists give close simhashes
    val t1 = (1 to 100).map(i => s"tok$i")
    val t2 = t1.dropRight(2) :+ "tokX"
    assert(TextOps.hamming64(TextOps.simhash64(t1), TextOps.simhash64(t2)) <= 12)
  }

  test("near-dup clusters are transitive; quality survivor keeps the best copy, not the oldest") {
    import spark.implicits._
    // chain A~B, B~C with A!~C, plus an isolated doc D
    val docs = Seq(
      (1L, "a", 0.5), (2L, "b", 0.9), (3L, "c", 0.7), (9L, "d", 0.1)
    ).toDF("doc_id", "text", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(spark, docs, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
    // pairwise smaller-id-wins keeps doc 1 (quality 0.5); the
    // quality policy keeps doc 2 (0.9) — and the singleton survives
    val byId = Dedup.nearDupSurvivorsFromPairs(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(byId == Set(1L, 9L))
    val best = Dedup.nearDupSurvivorsByQuality(spark, docs, pairs, "doc_id", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(best == Set(2L, 9L))
    // quality tie falls back to min id
    val tied = docs.withColumn("quality", org.apache.spark.sql.functions.lit(0.5))
    val tieBest = Dedup.nearDupSurvivorsByQuality(spark, tied, pairs, "doc_id", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(tieBest == Set(1L, 9L))
    // a null or NaN quality is a broken score, not a best document —
    // it loses to any real score (doc 1: NaN, doc 2: null, doc 3: 0.1)
    val broken = Seq[(Long, String, java.lang.Double)](
      (1L, "a", Double.NaN), (2L, "b", null), (3L, "c", 0.1), (9L, "d", 0.2)
    ).toDF("doc_id", "text", "quality")
    val cleanWins = Dedup.nearDupSurvivorsByQuality(spark, broken, pairs, "doc_id", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(cleanWins == Set(3L, 9L))
  }

  test("quality survivor matches the window reference on a planted giant chained cluster") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // transitive chaining builds ONE mega component out of 3000 docs
    // that are each similar only to their neighbors — the shape the
    // narrow argmax plan exists for (no text on the cluster exchange,
    // no single-task cluster) — plus scattered singletons
    val n = 3000
    val chained = (0 until n).map(i => (i.toLong, s"text $i", (i * 2654435761L % 1000) / 1000.0))
    val singles = (100000 until 100050).map(i => (i.toLong, s"solo $i", 0.42))
    val docs = (chained ++ singles).toDF("doc_id", "text", "quality")
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupSurvivorsByQuality(spark, docs, pairs, "doc_id", "quality")
      .select("doc_id").as[Long].collect().toSet
    // reference: the old single-window form over the same clusters
    val clusters = Dedup.nearDupClusters(spark, docs.select(col("doc_id")), pairs, "doc_id")
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("quality").desc, col("doc_id").asc)
    val want = docs.join(clusters, Seq("doc_id"))
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("_rn") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(got == want)
    assert(got.size == 1 + 50) // one winner for the mega cluster + the singletons
  }

  test("operators compose with their own output: caller columns named cluster_id/_rn survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", 0.5, 77L, "keep"), (2L, "b", 0.9, 88L, "keep"), (3L, "c", 0.7, 99L, "keep")
    ).toDF("doc_id", "text", "quality", "cluster_id", "_rn")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.nearDupSurvivorsByQuality(spark, docs, pairs, "doc_id", "quality")
    // no ambiguous-column analysis error, caller columns untouched
    assert(out.columns.toSeq == Seq("doc_id", "text", "quality", "cluster_id", "_rn"))
    assert(out.select("doc_id", "cluster_id", "_rn").as[(Long, Long, String)].collect().toSet ==
      Set((2L, 88L, "keep"), (3L, 99L, "keep")))
  }

  test("maxClusterSize splits a chained component into contiguous id-ranked sub-clusters") {
    import spark.implicits._
    // a 23-member chain (pairwise-similar neighbors only) with sparse,
    // unordered ids + a singleton; rankChunkSize=4 forces the
    // two-phase rank through many chunks
    val ids = Seq(5L, 900L, 17L, 42L, 3L, 1000L, 77L, 8L, 250L, 61L, 999L, 12L,
      400L, 2L, 88L, 301L, 9L, 150L, 33L, 700L, 56L, 21L, 500L)
    val docs = (ids :+ 123456L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val sorted = ids.sorted
    val pairs = sorted.zip(sorted.tail).toDF("id_a", "id_b") // one chained component
    val cap = 5
    val got = Dedup
      .nearDupClusters(spark, docs, pairs, "doc_id", maxClusterSize = Some(cap), rankChunkSize = 4)
      .as[(Long, Long)].collect().toMap
    // expected: contiguous runs of 5 in id order, labeled by each run's min
    val expected = sorted.zipWithIndex.map { case (id, r) => id -> sorted(r / cap * cap) }.toMap +
      (123456L -> 123456L)
    assert(got == expected)
    assert(got.groupBy(_._2).values.map(_.size).max <= cap)
    // a cap at least the component size reproduces the uncapped labels
    val uncapped = Dedup.nearDupClusters(spark, docs, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    val bigCap = Dedup
      .nearDupClusters(spark, docs, pairs, "doc_id", maxClusterSize = Some(ids.size), rankChunkSize = 4)
      .as[(Long, Long)].collect().toMap
    assert(bigCap == uncapped)
  }
}
