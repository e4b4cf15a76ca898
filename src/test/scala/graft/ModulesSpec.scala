package graft

import org.apache.spark.sql.functions._

import graft.analytics.EntityAggregates
import graft.graph.Materialize
import graft.path.EntityPaths

class ModulesSpec extends SparkSpec {

  private def edgesFixture = {
    import spark.implicits._
    // entity graph: 1-2-3-4 chain + isolated 5-6, multiple convs
    Seq(
      (1L, "works_at", 2L, "c1", 0),
      (2L, "uses", 3L, "c1", 1),
      (3L, "uses", 4L, "c2", 0),
      (1L, "works_at", 2L, "c2", 1),
      (5L, "founded", 6L, "c3", 0)
    ).toDF("subj", "pred", "obj", "conv_id", "turn_idx")
  }

  test("BFS shortest path: local and distributed agree") {
    import spark.implicits._
    val e = edgesFixture
    assert(EntityPaths.shortestPathLocal(spark, e, 1L, 4L).contains(Seq(1L, 2L, 3L, 4L)))
    assert(EntityPaths.shortestPathLocal(spark, e, 1L, 6L).isEmpty)
    assert(EntityPaths.shortestPathLocal(spark, e, 5L, 5L).contains(Seq(5L)))
    // driver-local dispatch (default threshold) vs forced-distributed
    // (threshold 0) must agree on (id, dist, parent) exactly
    val local = EntityPaths.bfsDistances(spark, e, 1L)
      .as[(Long, Int, Long)].collect().toSet
    val dist = EntityPaths.bfsDistances(spark, e, 1L, driverLocalThreshold = 0L)
      .as[(Long, Int, Long)].collect().toSet
    assert(local == Set((1L, 0, 1L), (2L, 1, 1L), (3L, 2, 2L), (4L, 3, 3L)))
    assert(dist == local)
  }

  test("BFS parent tie-break is min predecessor id; shortestPath dispatches both regimes") {
    import spark.implicits._
    // diamond: 1->{2,3}->4 — node 4 has two dist-1 predecessors; the
    // deterministic parent is min(2,3) = 2 on both execution paths
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("subj", "obj")
    for (thr <- Seq(1000000L, 0L)) {
      val rows = EntityPaths.bfsDistances(spark, e, 1L, driverLocalThreshold = thr)
        .as[(Long, Int, Long)].collect().map { case (id, d, p) => id -> ((d, p)) }.toMap
      assert(rows(4L) == (2, 2L), s"threshold $thr")
      assert(EntityPaths.shortestPath(spark, e, 1L, 4L, driverLocalThreshold = thr)
        .contains(Seq(1L, 2L, 4L)), s"threshold $thr")
    }
    assert(EntityPaths.shortestPath(spark, e, 1L, 99L).isEmpty)
  }

  test("pathToFarthest: deterministic target + parent walk, both regimes") {
    import spark.implicits._
    val e = edgesFixture
    for (thr <- Seq(1000000L, 0L)) {
      val p = EntityPaths.pathToFarthest(spark, e, 1L, driverLocalThreshold = thr)
        .as[(Int, Long)].collect().sortBy(_._1).toSeq
      assert(p == Seq((0, 1L), (1, 2L), (2, 3L), (3, 4L)), s"threshold $thr")
    }
  }

  test("entity co-occurrence counts distinct conversations") {
    import spark.implicits._
    val co = EntityAggregates
      .coOccurrence(edgesFixture, 2L)
      .as[(Long, Long, Long, Long)]
      .collect()
    assert(co.toSeq == Seq((1L, 2L, 2L, 2L))) // pair (1,2) in c1+c2
  }

  test("entity profile: counts, roles, dominant predicate") {
    import spark.implicits._
    val p = EntityAggregates
      .entityProfile(edgesFixture)
      .where($"entity_id" === 2L)
      .select($"n_assertions", $"n_as_subject", $"n_convs", $"top_pred")
      .head()
    // entity 2: obj in two works_at rows, subj in one uses row
    assert(p.getLong(0) == 3 && p.getLong(1) == 1 && p.getLong(2) == 2)
    assert(p.getString(3) == "works_at")
  }

  test("predicate transitions follow turn order within conv") {
    import spark.implicits._
    val tr = EntityAggregates
      .predicateTransitions(edgesFixture)
      .as[(String, String, Long)]
      .collect()
      .toSet
    assert(tr == Set(("works_at", "uses", 1L), ("uses", "works_at", 1L), ("founded", "founded", 0L)).filter(_._3 > 0))
  }

  test("oriented paths: 4 endpoint tests match brute force; reversal-requiring path found") {
    import spark.implicits._
    import graft.path.OrientedPaths
    // zig-zag chain: A forward ends near B's END (so B must be traversed
    // REVERSED), B's start is near C's START (C forward) — ~11m gaps, 50m tol
    val segs = Seq(
      (1L, 0.0000, 0.0, 0.0100, 0.0), // A
      (2L, 0.0200, 0.0, 0.0101, 0.0), // B
      (3L, 0.0201, 0.0, 0.0300, 0.0) // C
    )
    val df = segs.toDF("seg_id", "slat", "slon", "elat", "elon")
    val edges = OrientedPaths
      .orientedEdges(df, "seg_id", "slat", "slon", "elat", "elon", tolM = 50.0)
      .select($"src", $"dst").as[(Long, Long)].collect().toSet

    // brute-force oracle: all 4 head/tail tests per ordered pair
    def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val dLat = math.toRadians(lat2 - lat1); val dLon = math.toRadians(lon2 - lon1)
      val a = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
      2 * 6371000.0 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
    }
    val expected = (for {
      (i, is1, io1, ie1, ie2) <- segs
      (j, js1, jo1, je1, je2) <- segs if i != j
      oi <- Seq(0, 1); oj <- Seq(0, 1)
      (hLat, hLon) = if (oi == 0) (ie1, ie2) else (is1, io1)
      (tLat, tLon) = if (oj == 0) (js1, jo1) else (je1, je2)
      if hav(hLat, hLon, tLat, tLon) <= 50.0
    } yield (OrientedPaths.nodeId(i, oi), OrientedPaths.nodeId(j, oj))).toSet
    assert(edges == expected)
    assert(edges == Set(
      (OrientedPaths.nodeId(1, 0), OrientedPaths.nodeId(2, 1)),
      (OrientedPaths.nodeId(2, 1), OrientedPaths.nodeId(3, 0)),
      (OrientedPaths.nodeId(2, 0), OrientedPaths.nodeId(1, 1)),
      (OrientedPaths.nodeId(3, 1), OrientedPaths.nodeId(2, 0))
    ))

    val full = OrientedPaths.orientedEdges(df, "seg_id", "slat", "slon", "elat", "elon", 50.0)
    for (thr <- Seq(1000000L, 0L)) {
      val p = OrientedPaths.shortestOrientedPath(spark, full, 1L, 3L, driverLocalThreshold = thr)
      assert(p.contains(Seq((1L, 0), (2L, 1), (3L, 0))), s"threshold $thr") // B reversed
      val back = OrientedPaths.shortestOrientedPath(spark, full, 3L, 1L, driverLocalThreshold = thr)
      assert(back.contains(Seq((3L, 1), (2L, 0), (1L, 1))), s"threshold $thr")
    }
    // orientation-blind traversal would also connect A->C, but the
    // DIRECTED oriented graph must not offer a forward-only chain
    assert(!edges.contains((OrientedPaths.nodeId(1, 0), OrientedPaths.nodeId(2, 0))))
  }

  test("materialize: incompatible edge layouts fail fast; heal is standalone") {
    import spark.implicits._
    val edges = Seq(("c1", 1L, 2L), ("c2", 2L, 3L)).toDF("conv_id", "src", "dst")

    val batched = java.nio.file.Files.createTempDirectory("graft_layout_b").toString
    Materialize.appendEdgesBatch(spark, edges, batched, batchId = 0L, numBuckets = 2)
    assert(Materialize.tableLayout(spark, batched).contains(Materialize.LayoutBatched))
    intercept[IllegalArgumentException] {
      Materialize.writeEdges(spark, edges, batched, numBuckets = 2)
    }
    intercept[IllegalArgumentException] {
      Materialize.upsertColumns(spark, batched,
        edges.select($"conv_id", $"src", lit("x").as("pred")),
        keyCols = Seq("conv_id", "src"), updateCols = Seq("pred"), numBuckets = 2)
    }

    val bucketed = java.nio.file.Files.createTempDirectory("graft_layout_k").toString
    Materialize.writeEdges(spark, edges, bucketed, numBuckets = 2)
    assert(Materialize.tableLayout(spark, bucketed).contains(Materialize.LayoutBucketed))
    intercept[IllegalArgumentException] {
      Materialize.appendEdgesBatch(spark, edges, bucketed, batchId = 1L, numBuckets = 2)
    }

    // batch appends must share the table's bucket modulus
    intercept[IllegalArgumentException] {
      Materialize.appendEdgesBatch(spark, edges, batched, batchId = 2L, numBuckets = 4)
    }

    // simulate a crash between move-aside and move-in: the bucket is
    // hidden behind _bak_; a standalone heal restores it for readers
    val edgesDir = new org.apache.hadoop.fs.Path(s"$bucketed/edges")
    val fs = edgesDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketDir = fs.listStatus(edgesDir).map(_.getPath)
      .filter(_.getName.startsWith(Materialize.BucketCol + "=")).head
    fs.rename(bucketDir, new org.apache.hadoop.fs.Path(edgesDir, "_bak_" + bucketDir.getName))
    assert(Materialize.healBucketSwaps(spark, bucketed) == 1)
    assert(spark.read.parquet(s"$bucketed/edges").count() == 2)
    assert(Materialize.healBucketSwaps(spark, bucketed) == 0) // idempotent
  }

  test("materialize: lineage resume skips completed buckets, counts preserved") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_mat").toString
    val edges = (0 until 1000)
      .map(i => (i.toLong, "p", (i + 1).toLong, s"conv_${i % 50}", i))
      .toDF("subj", "pred", "obj", "conv_id", "turn_idx")

    val n1 = Materialize.writeEdges(spark, edges, out, numBuckets = 8)
    assert(n1 == 8)
    val total1 = spark.read.parquet(s"$out/edges").count()
    assert(total1 == 1000)

    // resume: nothing pending -> no buckets rewritten, data unchanged
    val n2 = Materialize.writeEdges(spark, edges, out, numBuckets = 8)
    assert(n2 == 0)
    assert(spark.read.parquet(s"$out/edges").count() == 1000)

    // lineage counters sum to the row count
    val lineage = spark.read.parquet(s"$out/_lineage")
    assert(lineage.agg(sum($"rows")).head().getLong(0) == 1000)
  }

  test("materialize: column-level upsert backfills selected rows, idempotently") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val edges = (0 until 500)
      .map(i => (i.toLong, "p", (i + 1).toLong, s"conv_${i % 20}", i))
      .toDF("subj", "pred", "obj", "conv_id", "turn_idx")
    Materialize.writeEdges(spark, edges, out, numBuckets = 8)

    // backfill pred on 40 keyed rows (the weather-backfill MERGE shape)
    val updates = (0 until 500 by 13)
      .map(i => (s"conv_${i % 20}", i, "p_backfilled"))
      .toDF("conv_id", "turn_idx", "pred")
    val touched = Materialize.upsertColumns(
      spark, out, updates, keyCols = Seq("conv_id", "turn_idx"), updateCols = Seq("pred"), numBuckets = 8)
    assert(touched > 0)

    def readBack() = spark.read.parquet(s"$out/edges")
      .select($"subj", $"pred", $"obj", $"conv_id", $"turn_idx")
    val after = readBack().collect()
    assert(after.length == 500, "row count preserved")
    val updatedKeys = (0 until 500 by 13).toSet
    after.foreach { r =>
      val i = r.getAs[Int]("turn_idx")
      val wantPred = if (updatedKeys.contains(i)) "p_backfilled" else "p"
      assert(r.getAs[String]("pred") == wantPred, s"turn_idx=$i")
      assert(r.getAs[Long]("subj") == i.toLong, "non-updated columns untouched")
    }

    // idempotent re-run: same updates -> identical table. Deliberately
    // passes the WRONG numBuckets default — the table's recorded bucket
    // count (_table_meta.json) must override it, otherwise pruning
    // reads the wrong partitions and silently no-ops
    Materialize.upsertColumns(
      spark, out, updates, keyCols = Seq("conv_id", "turn_idx"), updateCols = Seq("pred"))
    assert(readBack().collect().sortBy(_.getAs[Long]("subj")).sameElements(
      after.sortBy(_.getAs[Long]("subj"))))
    assert(Materialize.tableNumBuckets(spark, out).contains(8))

    // upsert lineage rows were appended
    val lineage = spark.read.parquet(s"$out/_lineage")
    assert(lineage.count() > 8)

    // duplicate update keys are a MERGE multiple-match error
    val dupUpdates = updates.union(updates)
    intercept[IllegalArgumentException] {
      Materialize.upsertColumns(
        spark, out, dupUpdates, keyCols = Seq("conv_id", "turn_idx"), updateCols = Seq("pred"), numBuckets = 8)
    }

    // crash-window heal: simulate a swap interrupted between move-aside
    // and move-in (live dir missing, only the _bak_ copy exists)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/edges"))
      .map(_.getPath).find(_.getName.startsWith("part_bucket=")).get
    val bak = new org.apache.hadoop.fs.Path(live.getParent, "_bak_" + live.getName)
    fs.rename(live, bak)
    Materialize.upsertColumns(
      spark, out, updates, keyCols = Seq("conv_id", "turn_idx"), updateCols = Seq("pred"), numBuckets = 8)
    assert(readBack().count() == 500, "healed bucket restored before the merge read")
    assert(readBack().collect().sortBy(_.getAs[Long]("subj")).sameElements(
      after.sortBy(_.getAs[Long]("subj"))))
  }
}
