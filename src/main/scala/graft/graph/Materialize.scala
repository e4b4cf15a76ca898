package graft.graph

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Property-graph materialization: vertices + edges as partitioned
  * Parquet in Iceberg-compatible layout (partition columns + a manifest
  * /lineage sidecar we own — the sandbox has no Iceberg runtime jar,
  * see SURVEY.md §7.0), with per-partition lineage + counter metrics
  * and idempotent resume.
  *
  * Graft of the reference's Neo4j bulk sinks
  * (/root/reference/examples/saveToNeo4j.jl:14-49) and its crude
  * resume ledger `processed_files.txt`
  * (/root/reference/examples/updateWeatherNeo4j.jl:244-270): MERGE
  * idempotency becomes dynamic partition overwrite; the ledger becomes
  * a lineage Parquet table ANTI-joined on restart (SO4 in SURVEY §2.7).
  */
object Materialize {

  val BucketCol = "part_bucket"

  /** Deterministic partition bucket from the provenance key: co-locates
    * a conversation's edges and bounds partition count independently of
    * |conv_id| cardinality.
    */
  def withBucket(df: DataFrame, numBuckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(xxhash64(col("conv_id")), lit(numBuckets)).cast("int"))

  private def lineagePath(outDir: String) = s"$outDir/_lineage"
  private def metaPath(outDir: String) = s"$outDir/_table_meta.json"

  /** The two incompatible edges/ layouts. [[writeEdges]]/[[upsertColumns]]
    * lay out `edges/part_bucket=B/`; [[appendEdgesBatch]] lays out
    * `edges/batch_id=N/part_bucket=B/`. Mixing them under one dir breaks
    * partition discovery, so the layout kind is recorded in
    * `_table_meta.json` at first write and every writer fails fast when
    * pointed at the other kind.
    */
  val LayoutBucketed = "bucketed"
  val LayoutBatched = "batched"

  /** Persist the layout kind + bucket count at first write; consumers
    * (the upsert) must bucket with the SAME count or their partition
    * pruning silently reads the wrong dirs.
    */
  private def writeTableMeta(
      fs: org.apache.hadoop.fs.FileSystem,
      outDir: String,
      numBuckets: Int,
      layout: String
  ): Unit = {
    val p = new org.apache.hadoop.fs.Path(metaPath(outDir))
    if (!fs.exists(p)) {
      val os = fs.create(p, true)
      os.write(("{\"num_buckets\":" + numBuckets + ",\"layout\":\"" + layout + "\"}").getBytes("UTF-8"))
      os.close()
    }
  }

  private def readTableMeta(spark: SparkSession, outDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(metaPath(outDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      var n = in.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      in.close()
      Some(buf.toString("UTF-8"))
    }
  }

  /** Bucket count the table was written with (None before first write). */
  def tableNumBuckets(spark: SparkSession, outDir: String): Option[Int] =
    readTableMeta(spark, outDir).flatMap(txt =>
      raw""""num_buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt))

  /** Layout kind the table was written with. Tables written before the
    * layout field existed can only have come from the bucketed writers
    * (they were the only meta writers), so a meta without the field
    * reads as bucketed.
    */
  def tableLayout(spark: SparkSession, outDir: String): Option[String] =
    readTableMeta(spark, outDir).map(txt =>
      raw""""layout"\s*:\s*"(\w+)"""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse(LayoutBucketed))

  private def requireLayout(spark: SparkSession, outDir: String, expected: String, op: String): Unit = {
    tableLayout(spark, outDir).foreach(l =>
      require(l == expected,
        s"$op requires a $expected-layout table, but $outDir was written as $l " +
          "(edges/part_bucket=B vs edges/batch_id=N/part_bucket=B are incompatible layouts)"))
    // Directory-shape backstop for legacy tables written before the meta
    // file carried a layout field: the top-level dir names under edges/
    // identify the layout even with no meta, and stamping the wrong kind
    // over such a table would create exactly the mixed layout the guard
    // exists to prevent.
    val edgesDir = new org.apache.hadoop.fs.Path(s"$outDir/edges")
    val fs = edgesDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(edgesDir)) {
      val foreignPrefix = if (expected == LayoutBucketed) "batch_id=" else s"$BucketCol="
      require(!fs.listStatus(edgesDir).exists(_.getPath.getName.startsWith(foreignPrefix)),
        s"$op requires a $expected-layout table, but $edgesDir contains $foreignPrefix dirs")
    }
  }

  /** Buckets already written successfully (empty DF on first run). */
  def completedBuckets(spark: SparkSession, outDir: String): DataFrame =
    completedBucketsAt(spark, lineagePath(outDir))

  private def completedBucketsAt(spark: SparkSession, ledgerDir: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(ledgerDir).select($"bucket")
    else Seq.empty[Int].toDF("bucket")
  }

  /** THE ledger-write core both resumable bucketed sinks share (the
    * edge sink and the generic table sink) — one definition of the
    * idempotence-critical protocol so the two cannot drift: anti-join
    * away completed buckets, co-locate each pending bucket into one
    * task, dynamic-partition-overwrite the data (a crashed bucket is
    * cleanly redone), THEN append the per-bucket counter rows to the
    * ledger (a bucket whose data landed but whose ledger row didn't is
    * rewritten with identical content on the next run).
    *
    * @param counters derives the ledger rows from the pending data
    *        (must carry a `bucket` column; the two sinks keep their
    *        historical counter schemas: convs vs keys)
    * @return number of buckets written this invocation
    */
  private def writePendingBuckets(
      spark: SparkSession,
      bucketed: DataFrame, // carries BucketCol
      dataDir: String,
      ledgerDir: String,
      partitionCols: Seq[String],
      numBuckets: Int,
      counters: DataFrame => DataFrame
  ): Long = {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val done = completedBucketsAt(spark, ledgerDir)
    // persisted for the duration: consumed by the data write AND the
    // lineage counters, and its upstream may be a whole pipeline
    val pending = bucketed
      .join(done.withColumnRenamed("bucket", BucketCol), Seq(BucketCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // co-locate each bucket into one task before the partitioned
      // write: without this every task writes to every bucket dir
      // (tasks x buckets small files — the classic partitionBy file
      // explosion)
      pending
        .repartition(numBuckets, col(BucketCol))
        .write
        .mode(SaveMode.Overwrite)
        .partitionBy((partitionCols :+ BucketCol): _*)
        .parquet(dataDir)
      val rows = counters(pending)
      val n = rows.count()
      if (n > 0) rows.write.mode(SaveMode.Append).parquet(ledgerDir)
      n
    } finally pending.unpersist()
  }

  /** Write `edges` partitioned by bucket, skipping buckets recorded in
    * the lineage table (idempotent resume), then append lineage rows
    * with row counters. Dynamic partition overwrite means a crashed
    * write of bucket b is cleanly redone — never duplicated.
    *
    * @return number of buckets written this invocation
    */
  def writeEdges(
      spark: SparkSession,
      edges: DataFrame,
      outDir: String,
      numBuckets: Int = 32
  ): Long = {
    import spark.implicits._
    val fsMeta = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireLayout(spark, outDir, LayoutBucketed, "writeEdges")
    tableNumBuckets(spark, outDir).foreach(n =>
      require(n == numBuckets, s"table at $outDir was written with num_buckets=$n, got $numBuckets"))
    writeTableMeta(fsMeta, outDir, numBuckets, LayoutBucketed)

    // lineage + counter metrics per partition (north_rule)
    writePendingBuckets(
      spark, withBucket(edges, numBuckets), s"$outDir/edges", lineagePath(outDir),
      Nil, numBuckets,
      pending =>
        pending
          .groupBy(col(BucketCol).as("bucket"))
          .agg(count(lit(1)).as("rows"), countDistinct($"conv_id").as("convs"))
          .withColumn("written_at", current_timestamp()))
  }

  def writeVertices(vertices: DataFrame, outDir: String): Unit =
    vertices.write.mode(SaveMode.Overwrite).parquet(s"$outDir/vertices")

  /** Generic resumable bucketed table write — [[writeEdges]]'s ledger
    * pattern (SO4) for ANY table keyed by a hashable column; the
    * curated-corpus sink uses it so a killed 100-TB curation resumes
    * at bucket granularity instead of restarting. Rows bucket on
    * xxhash64(keyCol) mod numBuckets; completed buckets are recorded
    * in the append-only `_lineage` sidecar and anti-joined away on
    * re-run; dynamic partition overwrite redoes a crashed bucket
    * cleanly (a bucket whose data landed but whose ledger row didn't
    * is rewritten with identical content — idempotent). `partitionCols`
    * (e.g. a strata column) lay out ABOVE the bucket layer, so
    * stratum readers still prune. The bucket modulus is pinned in
    * `_table_meta.json` exactly like the edge sink.
    *
    * Resume contract: a re-run must present the SAME input and config
    * (the ledger keys on bucket id only); to rebuild from different
    * inputs, write to a fresh dir (or clear it first).
    *
    * @return number of buckets written this invocation
    */
  def writeBucketedResumable(
      spark: SparkSession,
      df: DataFrame,
      dir: String,
      keyCol: String,
      numBuckets: Int = 32,
      partitionCols: Seq[String] = Nil
  ): Long = {
    require(!df.columns.contains(BucketCol),
      s"df already carries a $BucketCol column — rename it before the resumable write")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    tableNumBuckets(spark, dir).foreach(n =>
      require(n == numBuckets, s"table at $dir was written with num_buckets=$n, got $numBuckets"))
    writeTableMeta(fs, dir, numBuckets, LayoutBucketed)

    writePendingBuckets(
      spark,
      df.withColumn(BucketCol, pmod(xxhash64(col(keyCol)), lit(numBuckets)).cast("int")),
      dir, lineagePath(dir), partitionCols, numBuckets,
      pending =>
        pending
          .groupBy(col(BucketCol).as("bucket"))
          .agg(count(lit(1)).as("rows"), countDistinct(col(keyCol)).as("keys"))
          .withColumn("written_at", current_timestamp()))
  }

  /** Streaming-sink append with per-BATCH idempotence — the foreachBatch
    * counterpart of [[writeEdges]]. The batch ledger (`_batches`) keys
    * on batch_id: a replayed micro-batch (restart from checkpoint
    * re-offers the last uncommitted batch) is skipped wholesale, so the
    * sink is exactly-once per batch. Rows land under
    * `edges/batch_id=N/part_bucket=B/` — batch subdirs keep replays
    * from colliding with committed data, and the bucket layer keeps the
    * conversation co-location of the batch layout. The ledger row is
    * written AFTER the data: a crash between the two replays the batch,
    * whose directory is then overwritten in place (same path, same
    * data).
    *
    * @return rows written (0 if the batch was already committed)
    */
  def appendEdgesBatch(
      spark: SparkSession,
      edges: DataFrame,
      outDir: String,
      batchId: Long,
      numBuckets: Int = 32
  ): Long = {
    import spark.implicits._
    val ledger = s"$outDir/_batches"
    val lp = new org.apache.hadoop.fs.Path(ledger)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireLayout(spark, outDir, LayoutBatched, "appendEdgesBatch")
    // same bucket-count consistency contract as writeEdges: batches of
    // one table must share the modulus or readers that bucket-prune
    // would read the wrong dirs
    tableNumBuckets(spark, outDir).foreach(n =>
      require(n == numBuckets, s"table at $outDir was written with num_buckets=$n, got $numBuckets"))
    writeTableMeta(fs, outDir, numBuckets, LayoutBatched)
    val committed =
      if (fs.exists(lp))
        spark.read.parquet(ledger).where(col("batch_id") === batchId).limit(1).count() > 0
      else false
    if (committed) return 0L

    val bucketed = withBucket(edges, numBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bucketed
        .repartition(numBuckets, col(BucketCol))
        .write
        .mode(SaveMode.Overwrite)
        .partitionBy(BucketCol)
        .parquet(s"$outDir/edges/batch_id=$batchId")
      val n = bucketed.count()
      Seq((batchId, n))
        .toDF("batch_id", "rows")
        .withColumn("written_at", current_timestamp())
        .write.mode(SaveMode.Append).parquet(ledger)
      n
    } finally bucketed.unpersist()
  }

  /** S9 column-level upsert — the reference's weather-backfill MERGE
    * (/root/reference/examples/updateWeatherNeo4j.jl:117-138) over the
    * materialized edge layout: update selected columns on existing rows
    * keyed by `keyCols`, touching ONLY the buckets that contain updated
    * keys (partition-pruned read-modify-write — the Iceberg
    * copy-on-write MERGE shape without the runtime jar).
    *
    * `updates` must carry keyCols + updateCols, and keyCols MUST
    * include conv_id (the bucketing key) — otherwise bucket pruning
    * would be unsound: a key that doesn't determine the bucket could
    * match rows in unaffected (unread) buckets. Updates must be UNIQUE
    * on keyCols (checked; MERGE's multiple-match is an error, exactly
    * like Delta/Iceberg MERGE INTO — a duplicate update key would fan
    * out the join and duplicate edge rows). Plan: bucket the updates,
    * collect the affected bucket ids (tiny), read only those
    * partitions, LEFT join the updates on the keys (update side is the
    * small side — broadcast-eligible), coalesce(new, old) per update
    * column, rewrite those buckets via a staging dir + per-bucket
    * move-aside swap, and append an 'upsert' lineage row per bucket.
    * Re-running the same upsert is a no-op by value (coalesce of
    * identical values), so the operator is idempotent.
    *
    * Crash safety: each bucket swap is (1) rename live dir aside to
    * `_bak_<dir>` (the leading underscore hides it from Spark's file
    * listing, so a crashed swap never corrupts partition discovery),
    * (2) rename staging dir in, (3) delete the bak. Every run first
    * HEALS interrupted swaps via [[healBucketSwaps]] — a bak with no
    * live dir is restored (crash between 1 and 2); a bak beside a live
    * dir is stale and deleted (crash between 2 and 3). No step ever
    * leaves the only copy of a bucket in a directory a re-run
    * overwrites.
    *
    * CONCURRENCY CONTRACT (single writer, quiesced readers): between
    * steps 1 and 2 the bucket is briefly ABSENT from the live listing —
    * a reader scanning exactly then sees the table short one bucket,
    * and a crash in that window leaves it short until the next
    * [[healBucketSwaps]]/upsert runs. Run upserts from one writer with
    * readers drained, or have readers call [[healBucketSwaps]] before a
    * scan that must be complete (the Iceberg-with-runtime equivalent
    * would get this from snapshot isolation; this layout trades that
    * for zero dependencies).
    *
    * @return number of rows in the rewritten buckets
    */
  def upsertColumns(
      spark: SparkSession,
      outDir: String,
      updates: DataFrame,
      keyCols: Seq[String],
      updateCols: Seq[String],
      numBuckets: Int = 32
  ): Long = {
    import spark.implicits._
    require(keyCols.contains("conv_id"),
      "keyCols must include conv_id (the bucketing key) for sound bucket pruning")
    requireLayout(spark, outDir, LayoutBucketed, "upsertColumns")
    val edgesPath = s"$outDir/edges"
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the table's RECORDED bucket count wins over the parameter — an
    // upsert bucketing with a different modulus would prune the wrong
    // partitions and silently no-op the updates
    val buckets = tableNumBuckets(spark, outDir).getOrElse(numBuckets)

    // heal interrupted swaps from any previous run BEFORE reading
    healBucketSwaps(spark, outDir)

    val upd = withBucket(updates, buckets)
    // one pre-flight action instead of two: the duplicate-key witness
    // (as sentinel -1, impossible for a pmod bucket) unions with the
    // affected-bucket set, so the dup check and the bucket probe share
    // a job and schedule concurrently
    val preflight = upd
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_c"))
      .where(col("_c") > 1)
      .limit(1)
      .select(lit(-1).as(BucketCol))
      .unionAll(upd.select(col(BucketCol)).distinct())
      .as[Int]
      .collect()
    require(!preflight.contains(-1), "updates must be unique on keyCols (MERGE multiple-match)")
    val affected = preflight.filter(_ >= 0).distinct.sorted
    if (affected.isEmpty) return 0L

    val existing = spark.read.parquet(edgesPath)
      .where(col(BucketCol).isin(affected.map(Integer.valueOf): _*))

    val renamedUpd = updateCols.foldLeft(
      upd.select((keyCols.map(col) ++ updateCols.map(col)): _*)
    )((d, c) => d.withColumnRenamed(c, s"_upd_$c"))
    val merged0 = existing.join(broadcast(renamedUpd), keyCols, "left")
    val merged = updateCols
      .foldLeft(merged0)((d, c) => d.withColumn(c, coalesce(col(s"_upd_$c"), col(c))))
      .drop(updateCols.map(c => s"_upd_$c"): _*)
      .select(existing.columns.map(col): _*)

    val staging = s"$outDir/_staging_upsert"
    merged.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(staging)
    affected.foreach { b =>
      val dst = new org.apache.hadoop.fs.Path(s"$edgesPath/$BucketCol=$b")
      val bak = new org.apache.hadoop.fs.Path(s"$edgesPath/_bak_$BucketCol=$b")
      val src = new org.apache.hadoop.fs.Path(s"$staging/$BucketCol=$b")
      if (fs.exists(src)) {
        if (fs.exists(dst)) fs.rename(dst, bak)
        fs.rename(src, dst)
        if (fs.exists(bak)) fs.delete(bak, true)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)

    val counters = spark.read.parquet(edgesPath)
      .where(col(BucketCol).isin(affected.map(Integer.valueOf): _*))
      .groupBy(col(BucketCol).as("bucket"))
      .agg(count(lit(1)).as("rows"), countDistinct(col("conv_id")).as("convs"))
      .withColumn("written_at", current_timestamp())
    val total = counters.agg(sum(col("rows"))).head().getLong(0)
    counters.write.mode(SaveMode.Append).parquet(lineagePath(outDir))
    total
  }

  /** Repair step for interrupted [[upsertColumns]] bucket swaps —
    * callable standalone by readers/stats before a scan that must see
    * every bucket (see the concurrency contract on upsertColumns). A
    * `_bak_<dir>` with no live sibling is restored (crash between
    * move-aside and move-in); a bak beside a live dir is a stale copy
    * and is deleted. Idempotent.
    *
    * @return number of bak dirs resolved (restored + deleted)
    */
  def healBucketSwaps(spark: SparkSession, outDir: String): Int = {
    val edgesDir = new org.apache.hadoop.fs.Path(s"$outDir/edges")
    val fs = edgesDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(edgesDir)) 0
    else {
      var healed = 0
      fs.listStatus(edgesDir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("_bak_")) {
          val live = new org.apache.hadoop.fs.Path(edgesDir, name.stripPrefix("_bak_"))
          if (!fs.exists(live)) fs.rename(st.getPath, live)
          else fs.delete(st.getPath, true)
          healed += 1
        }
      }
      healed
    }
  }

  /** S10: CSV sink for case-study outputs
    * (/root/reference/examples/main.jl:188-189) — debug/interchange
    * only; Parquet is the real format.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Iceberg-style snapshot manifest (the sandbox has no Iceberg
    * runtime jar — SURVEY §7.0 — so the layout carries its own
    * manifest): data files + row counters per table, one JSON per
    * snapshot. Readers can diff manifests for incremental consumption.
    * A caller that already computed [[stats]] passes them as
    * `precomputedStats`, which skips a second heal pass and the two
    * count jobs.
    */
  def writeManifest(
      spark: SparkSession,
      outDir: String,
      precomputedStats: Option[(Long, Long)] = None
  ): String = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(sub: String): Seq[(String, Long)] = {
      val p = new org.apache.hadoop.fs.Path(s"$outDir/$sub")
      if (!fs.exists(p)) Seq.empty
      else {
        val it = fs.listFiles(p, true)
        val b = Seq.newBuilder[(String, Long)]
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet"))
            b += ((f.getPath.toString, f.getLen))
        }
        b.result()
      }
    }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val (v, e) = precomputedStats.getOrElse(stats(spark, outDir))
    val snapshotId = System.currentTimeMillis()
    val json =
      s"""{"snapshot_id":$snapshotId,"vertices_rows":$v,"edges_rows":$e,""" +
        s""""files":[${(files("vertices") ++ files("edges"))
          .map { case (p, len) => s"""{"path":${q(p)},"bytes":$len}""" }
          .mkString(",")}]}"""
    val out = new org.apache.hadoop.fs.Path(s"$outDir/_manifest/snapshot-$snapshotId.json")
    val os = fs.create(out, true)
    os.write(json.getBytes("UTF-8"))
    os.close()
    out.toString
  }

  /** Graph counter metrics (reference: nv/ne at
    * /root/reference/examples/saveToNeo4j.jl:52).
    */
  def stats(spark: SparkSession, outDir: String): (Long, Long) = {
    healBucketSwaps(spark, outDir) // counters must see every bucket
    val v = spark.read.parquet(s"$outDir/vertices").count()
    val e = spark.read.parquet(s"$outDir/edges").count()
    (v, e)
  }
}
