package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.link.Linker
import graft.text.TextOps
import graft.util.Hashing

/** Deduplication suite for training-data pipelines: exact,
  * normalized-exact, MinHash-LSH near-dup, SimHash near-dup,
  * n-gram-Jaccard pair scoring, embedding-cosine near-dup. Each
  * variant keeps the same output contract: either a survivors table
  * (keep min id per group) or a pair table (id_a < id_b, score).
  *
  * Scale notes: exact dedup is one hash shuffle on the key; LSH
  * variants shuffle the (band, hash) key over the corpus (narrow rows:
  * id + signature); cosine near-dup blocks on SimHash-style
  * sign-random-projection buckets to avoid the quadratic pair space.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical key column.
    *
    * Shuffle-narrow plan: at transcript scale the key IS the payload (a
    * whole document), so partitioning a window on the key column would
    * hash-ship every document string through the exchange. Instead the
    * winner per key is decided on a 128-bit content fingerprint — two
    * independently-seeded xxhash64 values, collision probability
    * ~n²/2^129, below any hardware error rate — so only (id, h1, h2)
    * rides the group-by exchange, and survivors are restored by a
    * left-semi join on the narrow id. Same answer, ~half the shuffled
    * bytes of the window form at document-sized keys.
    *
    * Contract: `idCol` must be a UNIQUE, NON-NULL row id (the usual
    * primary key — every caller in this library passes one). With
    * duplicate ids the semi-join keeps every row carrying a winning
    * id; with all-null ids a key group has no min and vanishes.
    */
  def exact(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val winners = df
      .select(
        col(idCol).as("_win_id"),
        xxhash64(col(keyCol)).as("_kh1"),
        xxhash64(col(keyCol), lit(0x9e3779b97f4a7c15L)).as("_kh2"))
      .groupBy("_kh1", "_kh2")
      .agg(min(col("_win_id")).as("_win_id"))
      .select(col("_win_id"))
    df.join(winners, col(idCol) === col("_win_id"), "left_semi")
  }

  /** Exact dedup after normalization (case / punctuation / whitespace
    * folding) — catches trivially-mutated copies.
    */
  def normalizedExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(df.withColumn("_norm", TextOps.normalized(col(textCol))), idCol, "_norm")
      .drop("_norm")

  /** Word n-gram shingles of a text (the unit for Jaccard/MinHash).
    * Delegates to the single kernel shared with the codegen expression
    * [[graft.functions.TextExpressions.word_shingles]] — one
    * definition, two call forms.
    */
  def wordShingles(text: String, n: Int): Array[Long] =
    graft.functions.TextExpressions.wordShinglesArr(text, n)

  /** MinHash-LSH near-duplicate pairs: texts whose word-shingle Jaccard
    * >= threshold. Blocking + exact re-scoring (no false positives;
    * recall = LSH banding recall).
    */
  def minhashNearDupPairs(
      spark: SparkSession,
      df: DataFrame, // (id, text)
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.7,
      numBands: Int = 16,
      rowsPerBand: Int = 4
  ): DataFrame = {
    import spark.implicits._
    val cfg = Linker.LshConfig(
      shingleK = shingleN,
      numBands = numBands,
      rowsPerBand = rowsPerBand,
      jaccardThreshold = threshold
    )
    // Shuffle-narrow plan: the shingle arrays (the wide payload — a
    // document's whole shingle set) NEVER ride a shuffle. The band
    // explode and the candidate self-join move only (band, bh, id);
    // surviving candidate pairs (few) re-fetch shingles via two hash
    // joins on the long id. The previous shape duplicated each shingle
    // set x numBands into the band shuffle and again through the pair
    // shuffle.
    //
    // Deliberate tradeoff: `shingled` (re-fetch side) and `banded`
    // (signature side) each shingle the corpus once — ~2x shingling CPU
    // instead of persisting the shingle sets between consumers. A
    // persist would pin |corpus| wide array rows in executor storage
    // through Spark's slow non-columnar cache path (measured ~10x a
    // recompute for nested rows — the reason KGPipeline.run does not
    // cache its extraction either); at 10^12-doc scale the right form
    // is a staging parquet of (id, shingles) that both branches scan.
    // Shingling itself is a narrow codegen-adjacent map, so recompute
    // stays the default here.
    val shingled = df.select(
      col(idCol).cast("long").as("id"),
      graft.functions.TextExpressions
        .word_shingles(col(textCol).cast("string"), cfg.shingleK).as("sh"))

    // signing runs as the minhash_band_keys codegen expression +
    // posexplode (band id = position) — the mapPartitions form paid an
    // encoder round-trip per row and split the scan's codegen span
    val banded = df
      .select(
        col(idCol).cast("long").as("id"),
        posexplode(graft.functions.TextExpressions
          .minhash_band_keys(col(textCol).cast("string"), cfg)))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))

    val candidates = banded
      .select($"band", $"bh", $"id".as("id_a"))
      .join(banded.select($"band", $"bh", $"id".as("id_b")), Seq("band", "bh"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b")
      .distinct() // a pair colliding in several bands scores once

    // codegen'd exact verification: the typed-map formulation
    // deserialized both shingle arrays through the encoder per
    // candidate; JaccardDistinct reads them off the unsafe row inside
    // whole-stage codegen (same semantics — distinct-element Jaccard)
    candidates
      .join(shingled.select($"id".as("id_a"), $"sh".as("sh_a")), Seq("id_a"))
      .join(shingled.select($"id".as("id_b"), $"sh".as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", graft.functions.VectorExpressions.jaccard_distinct($"sh_a", $"sh_b"))
      .where($"jaccard" >= cfg.jaccardThreshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** EXACT word-shingle Jaccard similarity join via prefix filtering
    * (Chaudhuri/Ganti/Kaushik SSJoin, ICDE'06; Bayardo/Ma/Srikant
    * AllPairs, WWW'07): under any fixed total order on shingles, a pair
    * with J >= t must share a shingle among the first
    * p = |S| - ceil(t*|S|) + 1 ordered shingles of EACH side — so
    * exploding only the prefixes into narrow (token, id) rows and
    * equi-joining on the token is recall-complete, and the exact
    * scorer runs only on candidates. Unlike MinHash banding this loses
    * NO pairs; unlike the crossJoin it never materializes the pair
    * space (candidate volume shrinks as t rises).
    *
    * The order is plain ascending hash order. The AllPairs
    * rarest-first (document-frequency) order cut sf0.1 candidates 1.6x
    * (697k -> 439k) but its df-count pass, broadcast and re-sort made
    * it a net loss where verification is not the bottleneck.
    */
  def jaccardPairsExact(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double
  ): DataFrame = {
    import spark.implicits._

    // shingling + ordering + prefix explode are all native codegen
    // expressions — no encoder round-trips, the whole pre-join side is
    // one WholeStageCodegen span over the scan
    val shingled = df.select(
      col(idCol).cast("long").as("id"),
      array_sort(graft.functions.TextExpressions
        .word_shingles(col(textCol).cast("string"), shingleN)).as("sh"))

    // prefix length p = |S| - ceil(t*|S|) + 1 (the -1e-9 guards float
    // noise on exact integers; a LONGER prefix is always still
    // recall-complete), min 1 — a scan-side posexplode over the slice
    val pLen = greatest(
      (size($"sh") - ceil(lit(threshold) * size($"sh") - lit(1e-9)).cast("int") + lit(1)),
      lit(1))
    val prefixes = shingled
      .select($"id", size($"sh").as("len"), posexplode(slice($"sh", lit(1), pLen)))
      .select(col("col").as("tok"), $"id", $"len", col("pos"))

    // Two recall-free pruning filters on the narrow candidate rows
    // before the wide shingle fetch:
    //  - AllPairs length filter: J >= t implies min(|A|,|B|)/max >= t
    //  - PPJoin positional filter (Xiao et al., WWW'08): at the FIRST
    //    shared token (positions i, j in the common order) the overlap
    //    is at most 1 + min(|A|-1-i, |B|-1-j), and J >= t requires
    //    overlap >= t/(1+t) * (|A|+|B|). Qualifying pairs always pass
    //    at their first meeting (kept if ANY meeting passes).
    val alphaNeeded = lit(threshold / (1.0 + threshold)) * ($"len_a" + $"len_b")
    val ubound = lit(1) +
      least($"len_a" - lit(1) - $"pos_a", $"len_b" - lit(1) - $"pos_b")
    val candidates = prefixes
      .select($"tok", $"id".as("id_a"), $"len".as("len_a"), $"pos".as("pos_a"))
      .join(
        prefixes.select($"tok", $"id".as("id_b"), $"len".as("len_b"), $"pos".as("pos_b")),
        Seq("tok")
      )
      .where(
        $"id_a" < $"id_b" &&
          $"len_a" * lit(threshold) <= $"len_b" &&
          $"len_b" * lit(threshold) <= $"len_a" &&
          ubound + lit(1e-9) >= alphaNeeded
      )
      .select($"id_a", $"id_b")
      .distinct()

    // codegen'd exact verification (see minhashNearDupPairs note)
    candidates
      .join(shingled.select($"id".as("id_a"), $"sh".as("sh_a")), Seq("id_a"))
      .join(shingled.select($"id".as("id_b"), $"sh".as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", graft.functions.VectorExpressions.jaccard_distinct($"sh_a", $"sh_b"))
      .where($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** Near-dup dedup SURVIVORS under the pairwise smaller-id-wins
    * policy: drop every document that has an above-threshold pair with
    * a smaller id. (The transitive-closure policy is CC + min-id — the
    * KG pipeline's canonicalization; this pairwise policy is the common
    * streaming-friendly variant, and is exactly SQL-expressible.) Takes
    * an already-computed pair table (id_a < id_b), e.g. from
    * [[jaccardPairsExact]], so callers that also consume the pairs run
    * the expensive join once: one distinct + one anti-join here.
    */
  def nearDupSurvivorsFromPairs(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val dominated = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(dominated, df(idCol).cast("long") === dominated(idCol), "left_anti")
  }

  /** Near-dup CLUSTER ids: connected components of the pair graph
    * (transitive closure — A~B and B~C cluster A,B,C even when A,C
    * never paired), labeled by the cluster's min id; docs in no pair
    * are their own singleton cluster. Reuses the KG pipeline's
    * large-star/small-star CC (driver-local union-find under the
    * usual threshold); the dedup-cluster view is the same algorithm
    * the canonicalization stage already ships.
    *
    * Chaining control (`maxClusterSize`): transitive closure CHAINS —
    * on a boilerplate-heavy corpus, docs that are pairwise similar
    * only to their neighbors merge into one giant component whose far
    * ends share nothing (the same order-dependent-accept concern the
    * reference's greedy overlap dedup handles at
    * /root/reference/src/OverlappingSegmentsUtils.jl:229-240). With a
    * cap, each component is split into deterministic sub-clusters of
    * at most `maxClusterSize` members (contiguous runs of the
    * component's id-ranked members; each sub-cluster relabeled by its
    * min id, so the first sub-cluster keeps the component's label).
    * The rank is computed with the two-phase chunked scan (bounded
    * tasks — no per-component window), see [[splitClusters]].
    */
  def nearDupClusters(
      spark: SparkSession,
      df: DataFrame,
      pairs: DataFrame, // (id_a, id_b), id_a < id_b
      idCol: String,
      maxClusterSize: Option[Int] = None,
      rankChunkSize: Int = 1 << 20
  ): DataFrame = {
    require(idCol != "cluster_id", "idCol must not be named cluster_id (the output label column)")
    val cId = graft.util.Cols.fresh(Set(idCol, "cluster_id"), "_cc_id")
    val cComp = graft.util.Cols.fresh(Set(idCol, "cluster_id", cId), "_cc_comp")
    val cc = graft.canon.ConnectedComponents
      .run(spark, pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id").as(cId), col("component").as(cComp))
    val base = df.select(col(idCol).cast("long").as(idCol))
      .join(cc, col(idCol) === col(cId), "left")
      .select(col(idCol), coalesce(col(cComp), col(idCol)).as("cluster_id"))
    maxClusterSize.fold(base) { cap =>
      require(cap >= 1, s"maxClusterSize must be >= 1, got $cap")
      splitClusters(base, idCol, cap, rankChunkSize)
    }
  }

  /** Split every cluster into sub-clusters of at most `cap` members:
    * members ranked by id within their cluster, sub-cluster =
    * floor((rank-1)/cap), relabeled by the sub-cluster's min id.
    *
    * Scale shape: the exact per-cluster rank uses the two-phase
    * chunked scan ([[graft.sampling.Sampling.tokenBudgetCap]]'s
    * pattern) instead of one row_number window per cluster — phase 1
    * ranks within (cluster, floor(id/chunkSize)), whose tasks are
    * bounded by chunkSize because ids are unique; phase 2 adds each
    * chunk's exclusive member-count offset via a running sum over the
    * narrow per-chunk totals (worst case one 3-column row per member
    * when a giant cluster's ids are maximally sparse — narrow-row
    * skew, not document-row skew). The sub-bucket labels are then one
    * hash aggregation + a narrow join back.
    */
  private def splitClusters(
      clusters: DataFrame, // (idCol, cluster_id)
      idCol: String,
      cap: Int,
      chunkSize: Int
  ): DataFrame = {
    import graft.util.Cols.{floorDivLong, fresh}
    var names = clusters.columns.toSet
    def f(base: String): String = { val n = fresh(names, base); names += n; n }
    val cChunk = f("_ncc_chunk")
    val cWithin = f("_ncc_within")
    val cCl2 = f("_ncc_cl2")
    val cChunk2 = f("_ncc_chunk2")
    val cOffset = f("_ncc_offset")
    val cSub = f("_ncc_sub")
    val cCl3 = f("_ncc_cl3")
    val cSub3 = f("_ncc_sub3")
    val cLabel = f("_ncc_label")

    val chunked = clusters.withColumn(cChunk, floorDivLong(col(idCol), chunkSize))
    val wIn = Window.partitionBy(col("cluster_id"), col(cChunk)).orderBy(col(idCol).asc)
    val within = chunked.withColumn(cWithin, row_number().over(wIn))
    val totals = chunked
      .groupBy(col("cluster_id").as(cCl2), col(cChunk).as(cChunk2))
      .agg(count(lit(1)).as(cOffset))
    val wOff = Window
      .partitionBy(col(cCl2))
      .orderBy(col(cChunk2))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn(cOffset, coalesce(sum(col(cOffset)).over(wOff), lit(0L)))
      .select(col(cCl2), col(cChunk2), col(cOffset))
    val ranked = within
      .join(offsets, col("cluster_id") <=> col(cCl2) && col(cChunk) <=> col(cChunk2))
      .withColumn(cSub, floorDivLong(col(cWithin) + col(cOffset) - 1, cap))
    val labels = ranked
      .groupBy(col("cluster_id").as(cCl3), col(cSub).as(cSub3))
      .agg(min(col(idCol)).as(cLabel))
    ranked
      .join(labels, col("cluster_id") <=> col(cCl3) && col(cSub) <=> col(cSub3))
      .select(col(idCol), col(cLabel).as("cluster_id"))
  }

  /** Quality-aware survivor policy: per near-dup CLUSTER keep the
    * highest-quality document (tie: min id; a null or NaN quality
    * ranks below every real score) — the policy a production pipeline
    * actually wants (the pairwise smaller-id-wins form keeps the
    * OLDEST copy; this keeps the BEST).
    *
    * Scale shape: clusters are transitive ([[nearDupClusters]]) and
    * transitive closure CHAINS — a template-spam family can merge a
    * large fraction of the corpus into ONE component, so the obvious
    * `row_number() OVER (PARTITION BY cluster_id)` after joining the
    * full document rows would (a) ship every document's text through
    * the cluster exchange and (b) land a whole mega-cluster in one
    * task. Instead the argmax is computed NARROWLY: only (id, quality)
    * ride the cluster exchange, the per-cluster winner is one hash
    * aggregation (`min_by` with map-side partial aggregation — no
    * single task ever holds a cluster), and the full rows are restored
    * by a left-semi join on the id. Same answer, no text movement, no
    * mega-partition straggler. `maxClusterSize` passes through to the
    * clustering stage.
    *
    * Contract: `idCol` is a unique non-null row id (the library-wide
    * key contract, see [[exact]]).
    */
  def nearDupSurvivorsByQuality(
      spark: SparkSession,
      df: DataFrame, // carries idCol + qualityCol
      pairs: DataFrame,
      idCol: String,
      qualityCol: String,
      maxClusterSize: Option[Int] = None
  ): DataFrame = {
    import graft.util.Cols.fresh
    val names = df.columns.toSet
    val cId = fresh(names, "_ndq_id")
    val cWin = fresh(names + cId, "_ndq_win")
    val narrow = df.select(col(idCol).cast("long").as(cId), col(qualityCol))
    val clusters = nearDupClusters(spark, narrow.select(col(cId)), pairs, cId, maxClusterSize)
    // ascending-min rank = (quality DESC NULLS LAST, id ASC): an
    // invalid flag first so a null OR NaN quality loses to any real
    // score (a NaN score is a broken metric, not a best document —
    // the old window form accidentally ranked NaN above everything
    // because Spark sorts NaN greater than any double), then the
    // negated quality, then the unique id — total order, so min_by is
    // deterministic
    val invalid = col(qualityCol).isNull || isnan(col(qualityCol).cast("double"))
    val rank = struct(
      when(invalid, lit(1)).otherwise(lit(0)).as("nullq"),
      when(invalid, lit(0.0)).otherwise(-col(qualityCol)).as("negq"),
      col(cId).as("id"))
    val winners = narrow
      .join(clusters, Seq(cId))
      .groupBy(col("cluster_id"))
      .agg(min_by(col(cId), rank).as(cWin))
      .select(col(cWin))
    df.join(winners, col(idCol).cast("long") === col(cWin), "left_semi")
  }

  /** Brute-force n-gram Jaccard pairs (the small-scale oracle for the
    * LSH variant; O(n^2) — test scale only).
    */
  def exactJaccardPairs(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double
  ): DataFrame = {
    import spark.implicits._
    val sh = df
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, t) => (id, wordShingles(t, shingleN)) }
      .toDF("id", "sh")
    sh.select($"id".as("id_a"), $"sh".as("sh_a"))
      .crossJoin(sh.select($"id".as("id_b"), $"sh".as("sh_b")))
      .where($"id_a" < $"id_b")
      .as[(Long, Array[Long], Long, Array[Long])]
      .map { case (a, sa, b, sb) => (a, b, Linker.exactJaccard(sa, sb)) }
      .toDF("id_a", "id_b", "jaccard")
      .where($"jaccard" >= threshold)
  }

  /** SimHash near-duplicate pairs: hamming distance <= maxBits over
    * 64-bit signatures. Blocking: split the signature into
    * (maxBits + 1) chunks — by pigeonhole, any pair within maxBits
    * agrees exactly on at least one chunk -> equi-join per chunk,
    * exact hamming residual. 100% recall, no crossJoin.
    */
  def simhashNearDupPairs(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxBits: Int = 3
  ): DataFrame = {
    import spark.implicits._
    val chunks = maxBits + 1
    val bits = 64 / chunks
    // the simhash64 codegen expression replaces the typed map (and
    // lowercases with Locale.ROOT like the rest of the tokenizers)
    val sigs = df
      .select(
        col(idCol).cast("long").as("id"),
        graft.functions.TextExpressions.simhash64(col(textCol).cast("string")).as("sig"))
    val banded = sigs.select(
      $"id",
      $"sig",
      explode(
        expr(
          s"transform(sequence(0, ${chunks - 1}), " +
            s"c -> struct(c as chunk, shiftright(sig, c * $bits) & ${(1L << bits) - 1} as ck))"
        )
      ).as("bk")
    ).select($"id", $"sig", $"bk.chunk", $"bk.ck")
    banded
      .select($"chunk", $"ck", $"id".as("id_a"), $"sig".as("sig_a"))
      .join(banded.select($"chunk", $"ck", $"id".as("id_b"), $"sig".as("sig_b")), Seq("chunk", "ck"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b", $"sig_a", $"sig_b")
      .distinct()
      // hamming64(a, b) IS bit_count(a ^ b) — the built-in replaces
      // the typed map's encoder round-trip per candidate
      .select($"id_a", $"id_b", bit_count($"sig_a".bitwiseXOR($"sig_b")).as("hamming"))
      .where($"hamming" <= maxBits)
  }

  /** Embedding cosine near-duplicate pairs — EXACT, via a tiled block
    * self-join (the distributed dense similarity-join plan; cf. the
    * block-matrix formulation in Zadeh & Carlsson, "Dimension
    * Independent Matrix Square", and FAISS's brute tiling).
    *
    * Why not LSH blocking as the default: recall-complete blocking for
    * a cosine threshold over dense vectors does not exist (measured on
    * the driver corpus: 1,750 pairs sit within ±0.001 of the 0.25
    * threshold at sf0.1 — any SRP banding drops some). Exact means
    * quadratic COMPUTE; the plan's job is to make the data movement
    * linear and the compute cache-friendly:
    *   - ids hash into G = ceil(N / blockSize) blocks; each block is one
    *     packed row (ids + primitive vectors)
    *   - the G*(G+1)/2 block pairings are enumerated as narrow rows and
    *     joined to the packed blocks — each block moves G times, so
    *     shuffle volume is N*G rows, NOT N^2 (the Catalyst row-pair
    *     crossJoin materialized every pair through the join)
    *   - each pairing scores its tile in a tight primitive loop
    *     (double-accumulated dot, same arithmetic as the codegen'd
    *     VectorDot expression), emitting only qualifying pairs
    * At cluster scale pick blockSize so G ~ a few x the task count;
    * compute is O(N^2 d / tasks) — inherent to exactness. For loose
    * thresholds the OUTPUT itself is Omega(N^2) (2.2% of all pairs
    * qualify at 0.25 here), so no plan can beat this by more than the
    * constant. For realistic near-dup thresholds (>= ~0.7) where the
    * output is sparse, `cosinePairsApprox` is the sub-quadratic path.
    */
  def cosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      blockSize: Int = 1024
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
    // one narrow count to size the tiling (scan of the id column only)
    val n = df.select(col(idCol)).count()
    val g = math.max(1, math.ceil(n.toDouble / blockSize).toInt)

    val blocks = src
      .groupByKey { case (id, _) => ((Hashing.mix64(id) % g + g) % g).toInt }
      .mapGroups { (b, it) => (b, it.toArray.sortBy(_._1)) }
      .toDF("blk", "rows")

    val pairings = spark
      .createDataset(for { i <- 0 until g; j <- i until g } yield (i, j))
      .toDF("bi", "bj")

    pairings
      .join(blocks.select($"blk".as("bi"), $"rows".as("rows_a")), Seq("bi"))
      .join(blocks.select($"blk".as("bj"), $"rows".as("rows_b")), Seq("bj"))
      .select($"bi", $"bj", $"rows_a", $"rows_b")
      .as[(Int, Int, Array[(Long, Array[Float])], Array[(Long, Array[Float])])]
      .flatMap { case (bi, bj, xs, ys) =>
        scoreTile(xs, ys, diagonal = bi == bj, threshold)
      }
      .toDF("id_a", "id_b", "cosine")
  }

  /** Score one tile: every cross pair (id-ordered), rounded cosine >=
    * threshold. Norms are computed once per side; the dot is a double-
    * accumulated index-order loop — bit-identical to the VectorDot
    * Catalyst expression (and to DuckDB's ::DOUBLE[] left fold), and
    * the rounding replicates Spark's round() (BigDecimal HALF_UP).
    */
  private def scoreTile(
      xs: Array[(Long, Array[Float])],
      ys: Array[(Long, Array[Float])],
      diagonal: Boolean,
      threshold: Double
  ): Iterator[(Long, Long, Double)] = {
    def norms(a: Array[(Long, Array[Float])]): Array[Double] =
      a.map { case (_, v) =>
        var acc = 0.0; var i = 0
        while (i < v.length) { val d = v(i).toDouble; acc += d * d; i += 1 }
        math.sqrt(acc)
      }
    val nx = norms(xs)
    val ny = if (diagonal) nx else norms(ys)
    val out = Iterator.tabulate(xs.length) { i =>
      val (ida, va) = xs(i)
      val jStart = if (diagonal) i + 1 else 0
      Iterator.range(jStart, ys.length).flatMap { j =>
        val (idb, vb) = ys(j)
        if (ida == idb) Iterator.empty
        else {
          var dot = 0.0
          var k = 0
          val len = math.min(va.length, vb.length)
          while (k < len) { dot += va(k).toDouble * vb(k).toDouble; k += 1 }
          // zero-norm vectors have undefined cosine — define it as 0
          // (never emitted at positive thresholds). BigDecimal.valueOf
          // would otherwise THROW on the 0/0 NaN.
          val denom = nx(i) * ny(j)
          val c = if (denom == 0.0) 0.0 else dot / denom
          val r = java.math.BigDecimal
            .valueOf(c)
            .setScale(6, java.math.RoundingMode.HALF_UP)
            .doubleValue()
          if (r >= threshold) {
            if (ida < idb) Iterator.single((ida, idb, r)) else Iterator.single((idb, ida, r))
          } else Iterator.empty
        }
      }
    }
    out.flatten
  }

  /** Brute-force crossJoin cosine pairs — the small-scale oracle for
    * `cosinePairs` (O(n^2) rows through the join; test scale only).
    * Zero-norm vectors are excluded up front to match the tiled path's
    * cosine-undefined-means-0 convention (Spark would otherwise treat
    * the 0/0 NaN as larger than any threshold).
    */
  def cosinePairsBrute(df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    import graft.functions.VectorExpressions._
    val a = df
      .select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
      .withColumn("n_a", vec_norm(col("v_a")))
      .where(col("n_a") > 0)
    val b = df
      .select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
      .withColumn("n_b", vec_norm(col("v_b")))
      .where(col("n_b") > 0)
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosineWithNorms(col("v_a"), col("v_b"), col("n_a"), col("n_b")), 6))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Cluster-scoped exact cosine pairs — the SemDeDup execution shape
    * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540): k-means the
    * corpus ([[graft.ann.KMeans]], deterministic), then run the exact
    * tiled cosine self-join INSIDE each cluster only. Semantics are
    * intra-cluster by definition (pairs straddling a cluster boundary
    * are not emitted — at web scale that is the operating point the
    * paper argues for); within a cluster the scorer, rounding and
    * threshold are identical to [[cosinePairs]], so every emitted pair
    * is exact.
    *
    * This is the 100-TB template for LOOSE thresholds, where the global
    * exact join's O(N^2 d) compute is the bottleneck and SRP banding
    * can't block (near-threshold pairs are everywhere): compute drops
    * to sum over clusters of O(n_c^2 d), a k-fold saving for balanced
    * clusters, and every cluster is independently parallel. Oversized
    * clusters are sub-blocked with the same tiling as the global join,
    * so no task ever materializes more than blockSize^2 candidates.
    */
  def cosinePairsSemDeDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numClusters: Int = 64,
      kmeansIters: Int = 2,
      blockSize: Int = 1024
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import graft.ann.KMeans
    val model = KMeans.fit(spark, df, idCol, vecCol, numClusters, kmeansIters)
    if (model.k == 0) return spark.emptyDataset[(Long, Long, Double)].toDF("id_a", "id_b", "cosine")
    val bc = spark.sparkContext.broadcast(model)
    val assigned = df
      .select(col(idCol).cast("long"), col(vecCol))
      .where(col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .map { case (id, v) => (bc.value.assign(v), id, v) }
      .toDF("cluster", "id", "v")
    // cluster sizes: numClusters narrow rows -> sub-block counts
    val sizes = assigned.groupBy($"cluster").agg(count(lit(1)).as("n")).as[(Int, Long)].collect()
    val subBlocks = sizes.map { case (c, n) =>
      c -> math.max(1, math.ceil(n.toDouble / blockSize).toInt)
    }.toMap
    val bcSub = spark.sparkContext.broadcast(subBlocks)
    val blocks = assigned
      .as[(Int, Long, Array[Float])]
      .groupByKey { case (c, id, _) =>
        val g = bcSub.value(c)
        (c, ((graft.util.Hashing.mix64(id) % g + g) % g).toInt)
      }
      .mapGroups { (key: (Int, Int), it: Iterator[(Int, Long, Array[Float])]) =>
        (key._1, key._2, it.map(t => (t._2, t._3)).toArray.sortBy(_._1))
      }
      .toDF("cluster", "blk", "rows")
    val pairings = spark
      .createDataset(subBlocks.toSeq.sorted.flatMap { case (c, g) =>
        for { i <- 0 until g; j <- i until g } yield (c, i, j)
      })
      .toDF("cluster", "bi", "bj")
    pairings
      .join(blocks.select($"cluster", $"blk".as("bi"), $"rows".as("rows_a")), Seq("cluster", "bi"))
      .join(blocks.select($"cluster", $"blk".as("bj"), $"rows".as("rows_b")), Seq("cluster", "bj"))
      .select($"bi", $"bj", $"rows_a", $"rows_b")
      .as[(Int, Int, Array[(Long, Array[Float])], Array[(Long, Array[Float])])]
      .flatMap { case (bi, bj, xs, ys) => scoreTile(xs, ys, diagonal = bi == bj, threshold) }
      .toDF("id_a", "id_b", "cosine")
  }

  /** SRP-blocked approximate cosine pairs — the sub-quadratic path for
    * realistic near-dup thresholds (>= ~0.7), where qualifying pairs
    * are near-parallel and sign-random-projection collisions are dense.
    * L independent tables of p hyperplanes each; a pair is a candidate
    * iff it shares a bucket in ANY table (recall 1-(1-(1-theta/pi)^p)^L
    * per Charikar 2002); exact rounded cosine is the residual filter,
    * so precision is 1.0 and recall is the banding recall. Data
    * movement: N*L narrow (table, bucket, id) rows + shingle-free
    * vector re-fetch of survivors by id.
    */
  def cosinePairsApprox(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 8,
      numTables: Int = 12,
      dim: Int = -1, // <= 0: infer from the first vector (a truncated
      // plane silently ignores the tail dimensions and degrades recall)
      seed: Long = 42L
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import graft.ann.Ann
    val d =
      if (dim > 0) dim
      else
        df.select(col(vecCol)).limit(1).as[Seq[Float]].collect()
          .headOption.map(_.length).getOrElse(1) // empty input -> empty result
    // same plane formula as Ann's SRP tables (shared helper)
    val planes = Array.tabulate(numTables, numPlanes)((t, p) =>
      Ann.hyperplane(seed, t * numPlanes + p, d)
    )
    val bc = spark.sparkContext.broadcast(planes)
    val src = df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
    val bucketed = src
      .flatMap { case (id, v) =>
        bc.value.indices.iterator.map(t => (t, Ann.srpBucket(v, bc.value(t)), id))
      }
      .toDF("table", "bucket", "id")
    val candidates = bucketed
      .select($"table", $"bucket", $"id".as("id_a"))
      .join(bucketed.select($"table", $"bucket", $"id".as("id_b")), Seq("table", "bucket"))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b")
      .distinct()
    import graft.functions.VectorExpressions._
    val va = df.select(col(idCol).cast("long").as("id_a"), col(vecCol).as("v_a"))
    val vb = df.select(col(idCol).cast("long").as("id_b"), col(vecCol).as("v_b"))
    candidates
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      // zero-norm cosine is undefined -> 0, the same convention as the
      // exact tiled join (scoreTile); without nanvl the 0/0 NaN would
      // PASS the >= filter (Spark orders NaN above every number) and
      // break precision-vs-exact containment
      .withColumn("cosine", round(nanvl(cosine(col("v_a"), col("v_b")), lit(0.0)), 6))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
