package graft

import graft.link.Linker

/** The driver-local linking fast path must produce the SAME link set as
  * the distributed plan — they share blockingKeys/scorer, so any drift
  * is a bug in one of the two plumbing layers.
  */
class LinkerLocalSpec extends SparkSpec {

  test("linkEdgesLocal == linkEdges on dictionary fixtures (several sizes/seeds)") {
    import spark.implicits._
    for ((seed, n) <- Seq((11L, 60), (42L, 200), (7L, 400))) {
      val dict = graft.kg.Dictionary.build(seed, n)
      val pairs = dict.map(s => (s.surfaceId, s.surface))
      val local = Linker
        .linkEdgesLocal(pairs)
        .map(e => (e.src, e.dst, e.score))
        .toSet
      val dictDf = spark.createDataset(pairs).toDF("id", "surface")
      val dist = Linker
        .linkEdges(spark, dictDf)
        .map(e => (e.src, e.dst, e.score))
        .collect()
        .toSet
      assert(local == dist,
        s"seed=$seed n=$n: localOnly=${(local diff dist).take(3)} distOnly=${(dist diff local).take(3)}")
      assert(local.nonEmpty, s"seed=$seed n=$n fixture produced no links")
    }
  }

  /** Both paths' edges on `pairs`; the distributed ones as a list, so
    * a pair scored twice shows up.
    */
  private def bothPaths(pairs: Seq[(Long, String)], cfg: Linker.LshConfig) = {
    import spark.implicits._
    val local = Linker.linkEdgesLocal(pairs, cfg).map(e => (e.src, e.dst, e.score))
    val dist = Linker
      .linkEdges(spark, spark.createDataset(pairs).toDF("id", "surface"), cfg)
      .map(e => (e.src, e.dst, e.score))
      .collect()
      .toSeq
    (local, dist)
  }

  test("the hot-bucket cap drops the same buckets on both paths") {
    val pairs = graft.kg.Dictionary.build(42L, 200).map(s => (s.surfaceId, s.surface))
    val (local, dist) = bothPaths(pairs, Linker.LshConfig(maxBucketSize = 3))
    assert(local.toSet == dist.toSet,
      s"localOnly=${(local diff dist).take(3)} distOnly=${(dist diff local).take(3)}")
    assert(dist.size == dist.distinct.size, "a pair was scored twice")
    val uncapped = Linker.linkEdgesLocal(pairs).size
    assert(local.nonEmpty && local.size < uncapped, s"cap 3 kept ${local.size} of $uncapped links")
  }

  test("a pair colliding in several bands is scored once on both paths") {
    // case and spacing variants are shingle-identical: they share every
    // band key and the prefix key
    val pairs = Seq((1L, "Falcon Systems"), (2L, "FALCON  systems"), (3L, "Yarrow Labs"))
    val (local, dist) = bothPaths(pairs, Linker.LshConfig())
    assert(local == Seq((1L, 2L, 1.0)))
    assert(dist == local)
  }

  test("single-token surfaces link identically through the local path") {
    val surfaces = Seq((1L, "Google"), (2L, "Google Inc"), (3L, "Yarrow Systems"), (4L, "Yarrow Systems Inc"))
    val got = Linker.linkEdgesLocal(surfaces).map(e => (e.src, e.dst)).toSet
    assert(got.contains((1L, 2L)) && got.contains((3L, 4L)))
  }
}
