package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.{Decontam, Dedup, SpanDedup}
import graft.functions.Geo
import graft.kg.Dictionary
import graft.ops.{Blocks, Sequences, Stats}
import graft.sampling.Sampling
import graft.pipeline.{Curation, KGPipeline}
import graft.synth.{GenConfig, TranscriptGen}
import graft.text.TextOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry maps a SURVEY §2 operator (or a
  * training-data-pipeline operator) onto the driver's parquet tables;
  * entries with a DuckDB-expressible semantics carry an `oracleSql`
  * mirror (identical aliases + identical rounding, since the driver
  * hash-compares values after sorting columns by name).
  */
object SparkEntry {

  /** Corpus size scaled like the driver's sf dirs. */
  def genConfigFor(sfDir: String): GenConfig = {
    val sf = raw"sf([\d.]+)".r
      .findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble)
      .getOrElse(0.001)
    GenConfig(
      seed = 42L,
      numConvs = math.max(50, (sf * 40000).toInt),
      numEntities = math.max(40, (sf * 8000).toInt)
    )
  }

  /** Flagship: full KG construction (synth transcripts -> mentions ->
    * triples -> LSH link -> CC canonicalize -> canonical edge table)
    * on a smoke-scale corpus; driver checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = genConfigFor("sf0.001")
    val dict = Dictionary.build(cfg.seed, cfg.numEntities)
    val turns = TranscriptGen.transcripts(spark, cfg)
    KGPipeline.run(spark, turns, dict).edges.toDF()
  }

  private def read(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** The re-lined corpus plus injected cross-document footers: a
    * case-varying newsletter line on every %2 doc (df ~ n/2) and a
    * rare footer on every %100==1 doc (df ~ n/100) — the line-dedup
    * queries' shared input (mirrored by the footerCtes oracle
    * fragment).
    */
  private def footeredDocs(s: SparkSession, dir: String): DataFrame = {
    val foot = lit("  subscribe to our newsletter  ")
    val f1 = when(col("doc_id") % 4 === 0, upper(foot)).otherwise(foot)
    relinedDocs(s, dir).select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 2 === 0, concat(lit("\n"), f1)).otherwise(lit("")),
        when(col("doc_id") % 100 === 1, lit("\nrare footer line")).otherwise(lit(""))
      ).as("text"),
      col("lang"))
  }

  /** Deterministic intra-document repetition injection (every %3 doc
    * gets its first 12 words appended again; every %7 doc its whole
    * text doubled) — the corpus has no natural duplicated 5..10-grams,
    * so the full-n-gram-family query (q_gopher_ngrams) runs over this
    * mutation to make the dup rules decide both ways. Mirrored by the
    * ngram oracle's ndocs CTE.
    */
  private def injectedRepeats(s: SparkSession, dir: String): DataFrame = {
    val head12 = concat_ws(" ", slice(split(col("text"), " "), 1, 12))
    val r1 = when(col("doc_id") % 3 === 0, concat(col("text"), lit(" "), head12))
      .otherwise(col("text"))
    val r2 = when(col("doc_id") % 7 === 0, concat(r1, lit(" "), r1)).otherwise(r1)
    read(s, dir, "documents").select(col("doc_id"), r2.as("text"), col("lang"))
  }

  /** Deterministic re-lining of the single-line documents corpus into
    * a multi-line one (3-word lines; every doc_id%3==0 doc gets its
    * lines bulleted, every %4==0 doc ellipsis-terminated line endings,
    * every %5==0 doc its whole line block doubled) — the shared input
    * of the line-rule queries (q_gopher_lines, q_curate_gopher_lines),
    * built so each line rule decides both ways. Mirrored by the
    * relineCtes oracle fragment.
    */
  private def relinedDocs(s: SparkSession, dir: String): DataFrame = {
    val nl = regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n")
    val bul = when(col("doc_id") % 3 === 0,
      concat(lit("- "), regexp_replace(nl, "\n", "\n- "))).otherwise(nl)
    val ell = when(col("doc_id") % 4 === 0,
      concat(regexp_replace(bul, "\n", "...\n"), lit("..."))).otherwise(bul)
    val mlt = when(col("doc_id") % 5 === 0, concat(ell, lit("\n"), ell)).otherwise(ell)
    read(s, dir, "documents").select(col("doc_id"), mlt.as("text"), col("lang"))
  }

  /** IVF recall@5 floor (q_ann_ivf_recall_guard). Measured sweep
    * (tools/ApproxParityProbe at commit 5b261a9, shipped
    * nProbe=8/kmeansIters=5 config): recall plateaus ~0.8 on both
    * sf0.01 and sf0.1 corpora — the synthetic embeddings have weak cluster
    * structure, the worst case for a coarse quantizer. Floor set with
    * headroom below the measured minimum so the row guards regressions,
    * not sampling noise.
    */
  private val IvfRecallFloor = 0.75

  /** HLL max per-cell relative-error bound (q_hotspot_approx_guard),
    * over threshold-regime cells (exact >= 20). Spark's
    * approx_count_distinct default rsd is 0.05 (HLL++, Heule et al.
    * 2013); the max over the ~dozens of independent per-cell estimates
    * is a max of ~|N(0, 0.05)| draws, so 3 sigma = 0.15 bounds it with
    * overwhelming probability. Measured (tools/ApproxParityProbe at
    * commit 5b261a9): 0.054 at sf0.01, 0.092 at sf0.1 — inside the
    * bound with headroom.
    * (Unrestricted over all cells the metric is meaningless: tiny cells
    * hit 0.25 from single-integer estimate granularity.)
    */
  private val HllMaxRelErr = 0.15

  /** One KG-pipeline run per sf dir, shared by the kg_* queries (a
    * user materializes vertices+edges in one job; the memo mirrors
    * that instead of rebuilding the pipeline per output table).
    */
  // keyed by (applicationId, dir): cached DataFrames are bound to the
  // SparkContext that created them — a dir-only key breaks (or silently
  // misbehaves) when a later SparkSession in the same JVM asks for the
  // same dir. Entries whose owning SparkContext has STOPPED are pruned
  // on each lookup (the session rides along in the value for exactly
  // this check), so a JVM that churns sessions doesn't pin dead object
  // graphs — while two concurrently LIVE sessions keep their own
  // entries instead of thrashing each other out of the cache.
  private type Memo[T] = scala.collection.concurrent.TrieMap[(String, String), (SparkSession, T)]
  private def memoized[T](cache: Memo[T], s: SparkSession, dir: String)(build: => T): T = {
    val app = s.sparkContext.applicationId
    cache.filterInPlace { case (_, (sess, _)) => !sess.sparkContext.isStopped }
    cache.getOrElseUpdate((app, dir), (s, build))._2
  }

  private val kgCache: Memo[KGPipeline.Result] = scala.collection.concurrent.TrieMap.empty
  private def kgResult(s: SparkSession, dir: String): KGPipeline.Result =
    memoized(kgCache, s, dir) {
      val cfg = genConfigFor(dir)
      val dict = Dictionary.build(cfg.seed, cfg.numEntities)
      // the corpus is generated and sf-sized: pinning the turn rows
      // pays one generation for the pipeline's two full-stream passes
      // (extraction + observed-ids). The pin lives only until both
      // cached output tables are materialized.
      val turns = TranscriptGen.transcripts(s, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val r = KGPipeline.run(s, turns, dict)
        // several kg_* queries consume the materialized graph — cache the
        // (small, canonical) output tables, not the turn-stream
        // intermediates; mirrors reading back the written tables
        val res = KGPipeline.Result(r.vertices.cache(), r.edges.cache(), r.mapping)
        res.vertices.count()
        res.edges.count()
        res
      } finally turns.unpersist()
    }

  /** The cached edge table re-read through a size-derived coalesce for
    * the kg_* analytics consumers: the cache holds the generation
    * parallelism's partition count (32 tiny partitions at bench SFs),
    * and every downstream aggregation over it pays that task count per
    * stage. Target ~64k rows/partition, never expanding the existing
    * partitioning — at bench scale this folds the map side of each
    * consumer stage to 1 task; at 100-TB scale rows/64k exceeds the
    * physical partition count and the coalesce is a no-op. (The count
    * is a cheap cached-scan aggregate, paid once per (session, dir).)
    */
  private val edgesCompactCache: Memo[DataFrame] = scala.collection.concurrent.TrieMap.empty
  private def kgEdgesCompact(s: SparkSession, dir: String): DataFrame =
    memoized(edgesCompactCache, s, dir) {
      val edges = kgResult(s, dir).edges.toDF()
      val parts = edges.rdd.getNumPartitions
      val target = math.max(1L, edges.count() / 65536L)
      if (target < parts) edges.coalesce(target.toInt) else edges
    }

  /** One exact-Jaccard pair table per (session, dir), shared by
    * q_jaccard_pairs and q_neardup_survivors — the two queries consume
    * the SAME prefix-filtered join over the same corpus (a user
    * materializes the pair table once and derives both views; the memo
    * mirrors that instead of running the join twice). Same lifecycle
    * rules as kgCache.
    */
  private val pairCache: Memo[DataFrame] = scala.collection.concurrent.TrieMap.empty
  private def jaccardPairTable(s: SparkSession, dir: String): DataFrame =
    memoized(pairCache, s, dir) {
      Dedup.jaccardPairsExact(s, docsWithClips(s, dir), "doc_id", "text", 3, 0.6).cache()
    }

  /** Exact cosine pair table (threshold 0.25), shared by q_cosine_pairs
    * and the approx-precision guard. Same lifecycle as the other memos.
    */
  private val cosCache: Memo[DataFrame] = scala.collection.concurrent.TrieMap.empty
  private def cosinePairTable(s: SparkSession, dir: String): DataFrame =
    memoized(cosCache, s, dir) {
      Dedup.cosinePairs(read(s, dir, "embeddings"), "vec_id", "embedding", 0.25).cache()
    }

  /** Contamination report (eval slice = doc_id % 20 == 0), shared by
    * q_decontam and q_decontam_clean — a user flags once and derives
    * both the report and the cleaned corpus from it. Same lifecycle as
    * the other memos.
    */
  private val decontamCache: Memo[DataFrame] = scala.collection.concurrent.TrieMap.empty
  private def decontamReport(s: SparkSession, dir: String): DataFrame =
    memoized(decontamCache, s, dir) {
      val docs = read(s, dir, "documents").select(col("doc_id"), col("text"))
      Decontam
        .contaminationReport(
          s,
          docs.where(col("doc_id") % 20 =!= 0),
          docs.where(col("doc_id") % 20 === 0),
          "doc_id", "text", "text", 3)
        .cache()
    }

  /** Materialize the sf-dir KG pipeline (the shared input of the kg_*
    * queries) and return (vertices, edges) counts. Bench calls this
    * BEFORE the per-query loop so the pipeline build is timed as its
    * own entry instead of billed to whichever kg_* query runs first.
    */
  def prepareKg(s: SparkSession, dir: String): (Long, Long) = {
    val r = kgResult(s, dir)
    (r.vertices.count(), r.edges.count())
  }

  /** events with engineered nulls (the driver tables are null-free;
    * the imputation/missing-stats operators need some).
    */
  private def eventsWithNulls(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "events").select(
      col("event_id"),
      col("user_id"),
      col("event_type"),
      when(col("value") < 1.0, lit(null)).otherwise(col("value")).as("value_n"),
      nullif(col("event_type"), lit("error")).as("etype_n")
    )

  /** documents unioned with deterministic mutated copies (exercises
    * normalized / near-dup detection on a corpus with real duplicates).
    */
  private def docsWithCopies(s: SparkSession, dir: String): DataFrame = {
    val d = read(s, dir, "documents").select(col("doc_id"), col("text"))
    // copy A: case-mutated (normalized-exact dup); only for doc_id % 3 == 0
    val caseCopy = d
      .where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), upper(col("text")).as("text"))
    d.union(caseCopy)
  }

  /** documents unioned with deterministic CLIPPED copies (drop the last
    * 3 words of every 4th doc -> high-but-not-1.0 Jaccard near-dups).
    * One definition feeds q_dedup_minhash / q_jaccard_pairs /
    * q_neardup_survivors and their DuckDB oracle mirrors — keep the
    * expression and the SQL in lockstep.
    */
  private def docsWithClips(s: SparkSession, dir: String): DataFrame =
    docsWithClipsLang(s, dir).select(col("doc_id"), col("text"))

  /** The clips corpus carrying the lang stratum (the near-dup curation
    * chain needs a stratified corpus WITH near-duplicates; clips keep
    * their original's lang). THE single definition of the clip rule —
    * [[docsWithClips]] projects it — in lockstep with the
    * q_jaccard_pairs / q_neardup_survivors / q_curate_neardup oracle
    * SQL.
    */
  private def docsWithClipsLang(s: SparkSession, dir: String): DataFrame = {
    val d = read(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
    val clipped = d
      .where(col("doc_id") % 4 === 0)
      .select(
        (col("doc_id") + 200000).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), lit(1), greatest(size(split(col("text"), " ")) - 3, lit(1))))
          .as("text"),
        col("lang")
      )
    d.union(clipped)
  }

  /** documents with deterministic injected PII (the scrub stage needs
    * rows that actually leak; the injection expression is replayed
    * verbatim in the q_pii_* oracle SQL — keep in lockstep).
    */
  private def docsWithPii(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "documents").select(
      col("doc_id"),
      when(
        col("doc_id") % 7 === 0,
        concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or +1 555-01"),
          col("doc_id"), lit(" from 10.0."), col("doc_id") % 256,
          lit(".1 ssn 123-45-6789"))
      ).otherwise(col("text")).as("text"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A3-flavor grouped aggregation profile over lineitem
    "q_agg_pricing" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n_rows")
        )
    }),

    // ---- W1: consecutive-record edges per session
    "q_lead_edges" -> ((s, dir) =>
      Sequences.leadEdges(read(s, dir, "events"), "user_id", Seq("ts", "event_id"), "event_id")),

    // ---- W1 under mega-session skew: chunked lead-edge variant (same
    //      semantics, no task sees more than chunkSize rows per session;
    //      small chunk exercises many boundary stitches)
    "q_lead_edges_chunked" -> ((s, dir) =>
      Sequences.leadEdgesChunked(read(s, dir, "events"), "user_id", "event_id", "event_id", chunkSize = 256)),

    // ---- A11: running sum along the session
    "q_cumulative" -> ((s, dir) =>
      Sequences
        .cumulative(read(s, dir, "events"), "user_id", Seq("ts", "event_id"), "value", "running_value")
        .select(col("event_id"), col("user_id"), round(col("running_value"), 6).as("running_value"))),

    // ---- A11 under mega-session skew: two-phase chunked prefix sum
    "q_cumulative_chunked" -> ((s, dir) =>
      Sequences
        .cumulativeChunked(read(s, dir, "events"), "user_id", "event_id", "value", "running_value", chunkSize = 128)
        .select(col("event_id"), col("user_id"), round(col("running_value"), 6).as("running_value"))),

    // ---- W4+W5: transitions with gap filter and deltas
    "q_transitions" -> ((s, dir) =>
      Sequences
        .transitions(read(s, dir, "events"), "user_id", Seq("ts", "event_id"), "ts", "value", 600L)
        .select(
          col("user_id"),
          col("order_index"),
          round(col("gap_seconds"), 6).as("gap_seconds"),
          round(col("delta_value"), 6).as("delta_value")
        )),

    // ---- A1: per-session min/max/count
    "q_minmax_sessions" -> ((s, dir) =>
      read(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          round(min(col("value")), 6).as("min_value"),
          round(max(col("value")), 6).as("max_value"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"),
          count(lit(1)).as("n_events")
        )),

    // ---- A3: full stats profile (mean/median/std/min/max + string mode
    //      + provenance countDistinct + centroid — the reference's
    //      num_files_involved and segment centroid)
    "q_stats_profile" -> ((s, dir) =>
      Stats.profile(
        read(s, dir, "lineitem"),
        Seq("l_returnflag"),
        Seq("l_quantity", "l_extendedprice"),
        Seq("l_linestatus"),
        provenanceCol = Some("l_orderkey"),
        centroidCols = Seq("l_discount", "l_tax")
      )),

    // ---- A5: per-column missing percentage (one pass)
    "q_missing_pct" -> ((s, dir) =>
      Stats.missingPct(eventsWithNulls(s, dir), Seq("value_n", "etype_n", "event_id"))),

    // ---- A6: per-group median imputation with global fallback
    "q_impute_median" -> ((s, dir) =>
      Stats
        .imputeGroupMedian(eventsWithNulls(s, dir), "event_type", "value_n", "value_imputed")
        .select(col("event_id"), col("value_imputed"))),

    // ---- A6 (string half): per-group deterministic-mode imputation
    //      with global-mode fallback (the reference fills string columns
    //      with the per-file mode, DataPreprocessing.jl:113-134)
    "q_impute_mode" -> ((s, dir) =>
      Stats
        .imputeGroupMode(eventsWithNulls(s, dir), "user_id", "etype_n", "etype_imputed")
        .select(col("event_id"), col("etype_imputed"))),

    // ---- A8: hotspot cells (grid quantize + countDistinct sessions)
    "q_hotspot_cells" -> ((s, dir) =>
      Blocks.hotspotCells(read(s, dir, "events"), "user_id", "value", 5.0, 20L)),

    // ---- A8 at 10^12 scale: approx_count_distinct variant (documented
    //      epsilon ~2.3% default rsd; rows-only — approx results have no
    //      exact oracle by construction)
    "q_hotspot_approx" -> ((s, dir) =>
      read(s, dir, "events")
        .select(col("user_id"), Blocks.gridCell(col("value"), 5.0).as("cell"))
        .groupBy(col("cell"))
        .agg(approx_count_distinct(col("user_id")).as("n_sessions_approx"))
        .where(col("n_sessions_approx") >= 20)),

    // ---- A8 approx error-bound guard: per-cell HLL relative error vs
    //      the exact countDistinct (both sides computed in Spark), max
    //      over the THRESHOLD-REGIME cells (exact >= the hotspot floor
    //      of 20 — exactly the estimates the approx query's decision
    //      depends on; below it, HLL's integer-granular estimates make
    //      relative error a meaningless metric: exact=4 vs approx=5 is
    //      already 25%) pinned <= HllMaxRelErr. An HLL sketch-width or
    //      hashing regression turns this row red instead of hiding
    //      behind no_oracle.
    "q_hotspot_approx_guard" -> ((s, dir) => {
      import s.implicits._
      val ev = read(s, dir, "events")
        .select(col("user_id"), Blocks.gridCell(col("value"), 5.0).as("cell"))
      val a = ev.groupBy(col("cell")).agg(approx_count_distinct(col("user_id")).as("approx"))
      val e = ev.groupBy(col("cell")).agg(countDistinct(col("user_id")).as("exact"))
      val maxRow = a.join(e, Seq("cell"))
        .where(col("exact") >= 20)
        .agg(max(abs(col("approx") - col("exact")) / col("exact"))).head()
      // no cell reaches the threshold regime at tiny SFs (sf0.001 has
      // none) -> the bound holds vacuously; a null max must not NPE
      val ok = maxRow.isNullAt(0) || maxRow.getDouble(0) <= HllMaxRelErr
      Seq(("hll_max_rel_err_le_eps", ok)).toDF("check_name", "ok")
    }),

    // ---- A9: hottest session (semi-join + argmax, deterministic ties)
    "q_hottest_session" -> ((s, dir) =>
      Blocks.hottestSession(read(s, dir, "events"), "user_id", "value", 5.0, 20L)),

    // ---- A10: unique coverage (canonical distinct consecutive cell pairs)
    "q_coverage" -> ((s, dir) =>
      Sequences.uniqueCoverage(
        read(s, dir, "events"),
        "user_id",
        Seq("ts", "event_id"),
        Blocks.gridCell(col("value"), 5.0)
      )),

    // ---- A12: segment characteristics (conditional delta aggregates)
    "q_segment_chars" -> ((s, dir) =>
      Sequences.segmentCharacteristics(read(s, dir, "events"), "user_id", Seq("ts", "event_id"), "value")),

    // ---- O2: top event types with ties kept
    "q_topk_ties" -> ((s, dir) => Stats.topWithTies(read(s, dir, "events"), "event_type")),

    // ---- J2: engineered-key equi-join against a derived broadcast dim
    "q_grid_hour_join" -> ((s, dir) => {
      val ev = read(s, dir, "events").withColumn("hour", date_trunc("hour", col("ts")))
      val dim = ev.groupBy(col("hour")).agg(round(avg(col("value")), 6).as("hour_avg"))
      Blocks
        .gridHourJoin(ev, dim, Seq("hour"))
        .select(col("event_id"), col("hour"), col("hour_avg"))
    }),

    // ---- J5: bounded proximity self-join (banded, no crossJoin)
    "q_proximity_pairs" -> ((s, dir) =>
      Blocks.proximitySelfJoin(read(s, dir, "supplier"), "s_suppkey", "s_acctbal", 50.0)),

    // ---- J4 stage-1 flavor: existence semi-join (orders WITH lineitem)
    "q_semi_join" -> ((s, dir) =>
      read(s, dir, "orders")
        .select(col("o_orderkey"))
        .join(
          read(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")),
          Seq("o_orderkey"),
          "left_semi"
        )),

    // ---- SO4: anti-join resume (orders with no lineitem)
    "q_anti_resume" -> ((s, dir) =>
      Blocks.resumePending(
        read(s, dir, "orders").select(col("o_orderkey")),
        read(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey")
      )),

    // ---- F1: haversine along derived coordinates, summed per session
    "q_haversine_coverage" -> ((s, dir) => {
      val ev = read(s, dir, "events")
        .withColumn("lat", pmod(col("value") * 7.0, lit(120.0)) - 60.0)
        .withColumn("lon", pmod(col("value") * 13.0, lit(300.0)) - 150.0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("lat2", lead(col("lat"), 1).over(w))
        .withColumn("lon2", lead(col("lon"), 1).over(w))
        .where(col("lat2").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          round(sum(Geo.haversineMeters(col("lat"), col("lon"), col("lat2"), col("lon2"))) / 1000.0, 3)
            .as("coverage_km")
        )
    }),

    // ---- dedup: exact (keep min id per identical text)
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(read(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id", "text")
        .select(col("doc_id"))),

    // ---- dedup: normalized exact over corpus with mutated copies
    "q_dedup_norm" -> ((s, dir) =>
      Dedup.normalizedExact(docsWithCopies(s, dir), "doc_id", "text").select(col("doc_id"))),

    // ---- benchmark decontamination: corpus docs sharing >= 1 word
    //      3-gram with the held-out eval slice (doc_id % 20 == 0), with
    //      distinct-shared-gram counts. Eval grams broadcast; corpus
    //      shingles stream through the broadcast join — text never
    //      shuffles.
    "q_decontam" -> ((s, dir) => decontamReport(s, dir)),

    // ---- the cleaned-corpus side of decontamination: surviving doc
    //      ids (anti-join on the narrow id key against the memoized
    //      report — the policy a training pipeline actually applies)
    "q_decontam_clean" -> ((s, dir) =>
      read(s, dir, "documents")
        .where(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"))
        .join(decontamReport(s, dir).select(col("doc_id")), Seq("doc_id"), "left_anti")),

    // ---- decontamination attribution: which eval doc each corpus doc
    //      collides with (distinct shared-gram count per pair) — the
    //      leak-triage view; same broadcast plan as the report
    "q_decontam_matrix" -> ((s, dir) => {
      val docs = read(s, dir, "documents").select(col("doc_id"), col("text"))
      Decontam.contaminationMatrix(
        s,
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("eval_doc_id"), col("text")),
        "doc_id", "text", "eval_doc_id", "text", 3)
    }),

    // ---- end-to-end curation compose: dedup -> decontaminate ->
    //      quality floor -> stratified sample, every stage the same
    //      operator its standalone green query uses; the compose itself
    //      carries the chained oracle. Decontamination runs on 6-gram
    //      windows here: 3-grams over-flag formulaic text (at sf0.1 the
    //      MEDIAN corpus doc shares 19 3-grams with the eval slice,
    //      emptying the corpus — measured), while longer windows flag
    //      only genuine passage reuse; published decontam recipes use
    //      long windows for exactly this reason (GPT-3: 13-grams).
    "q_curate" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Curation.curate(
        s,
        docs.where(col("doc_id") % 20 =!= 0).select(col("doc_id"), col("text"), col("lang")),
        docs.where(col("doc_id") % 20 === 0).select(col("text")),
        "doc_id", "text", "lang", "text",
        minTokens = 20,
        rates = Map("en" -> 0.5, "zh" -> 0.25),
        defaultRate = 0.1,
        shingleN = 6)
        .select(col("doc_id"), col("lang"))
    }),

    // ---- q_curate plus the Gopher repetition-rule stage: the same
    //      chain with Repetition.gopherPasses fused into the quality
    //      filter (thresholds = the tuned q_gopher_filter set). The
    //      gopher rules bite beyond the token floor (dup-unit and
    //      mean-word-len caps remove docs the floor keeps), so the
    //      survivor set differs from q_curate non-vacuously.
    "q_curate_gopher" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      Curation.curate(
        s,
        docs.where(col("doc_id") % 20 =!= 0).select(col("doc_id"), col("text"), col("lang")),
        docs.where(col("doc_id") % 20 === 0).select(col("text")),
        "doc_id", "text", "lang", "text",
        minTokens = 20,
        rates = Map("en" -> 0.5, "zh" -> 0.25),
        defaultRate = 0.1,
        shingleN = 6,
        gopher = Some(Curation.GopherRules(minWords = 20, minMeanWordLen = 4.0,
          maxDupUnitFraction = 0.6)))
        .select(col("doc_id"), col("lang"))
    }),

    // ---- the curation chain with the Gopher LINE-rule stage over the
    //      deterministically re-lined corpus (the q_gopher_lines
    //      input): Repetition.gopherLinePasses fused into the quality
    //      filter at the default thresholds, which bite on the %3
    //      (bullets), %4 (ellipsis) and %5 (doubled line block) docs —
    //      the survivor set differs from the unruled chain non-vacuously
    "q_curate_gopher_lines" -> ((s, dir) => {
      val docs = relinedDocs(s, dir)
      Curation.curate(
        s,
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0).select(col("text")),
        "doc_id", "text", "lang", "text",
        minTokens = 20,
        rates = Map("en" -> 0.5, "zh" -> 0.25),
        defaultRate = 0.1,
        shingleN = 6,
        gopherLines = Some(Curation.GopherLineRules()))
        .select(col("doc_id"), col("lang"))
    }),

    // ---- the curation chain with the full n-gram rule stage over the
    //      repetition-injected corpus (the q_gopher_ngrams input):
    //      gopherNgramPasses at the published caps fused into the
    //      quality filter — the %3/%7 injected docs fail the dup caps
    "q_curate_gopher_ngrams" -> ((s, dir) => {
      val docs = injectedRepeats(s, dir)
      Curation.curate(
        s,
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0).select(col("text")),
        "doc_id", "text", "lang", "text",
        minTokens = 20,
        rates = Map("en" -> 0.5, "zh" -> 0.25),
        defaultRate = 0.1,
        shingleN = 6,
        gopherNgrams = Some(Curation.GopherNgramRules()))
        .select(col("doc_id"), col("lang"))
    }),

    // ---- the full-recipe curation chain: exact dedup -> EXACT-Jaccard
    //      near-dup survivors (recall-complete prefix-filtered pair
    //      join, smaller-id-wins) -> 6-gram decontamination ->
    //      COMPOSITE quality floor (TextOps.qualityScore >= 0.75; the
    //      rounded score is the same expression the hash-green
    //      q_text_stats row pins cross-engine) -> stratified sample.
    //      Runs on the clips corpus so the near-dup stage is
    //      non-vacuous by construction at every SF.
    "q_curate_neardup" -> ((s, dir) => {
      val corpus = docsWithClipsLang(s, dir).where(col("doc_id") % 20 =!= 0)
      val eval = read(s, dir, "documents")
        .where(col("doc_id") % 20 === 0).select(col("text"))
      Curation.curate(
        s, corpus, eval,
        "doc_id", "text", "lang", "text",
        minTokens = 0,
        rates = Map("en" -> 0.5, "zh" -> 0.25),
        defaultRate = 0.1,
        shingleN = 6,
        nearDup = Curation.NearDupStage.ExactJaccard(0.6, 3),
        qualityFloor = Some(0.75))
        .select(col("doc_id"), col("lang"))
    }),

    // ---- training-mix: deterministic stratified sampling by language
    //      (per-stratum Bernoulli on a Lehmer id-hash — reproducible on
    //      any engine; narrow filter, zero shuffles)
    "q_sample_stratified" -> ((s, dir) =>
      Sampling
        .stratified(read(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "zh" -> 0.25), 0.1)
        .select(col("doc_id"), col("lang"))),

    // ---- training-mix: per-source token budget (running sum in
    //      deterministic order; whole documents only). chunkSize=256
    //      forces the two-phase chunked scan (the 100-TB mega-source
    //      form) through the oracle, not just the property suite
    "q_token_budget" -> ((s, dir) =>
      Sampling
        .tokenBudgetCap(read(s, dir, "documents"), "source", Seq("doc_id"), "n_chars", 4000L,
          chunkSize = 256)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // ---- training-mix: next-fit sequence packing — (sequence, offset)
    //      slot per document so fixed-length training contexts assemble
    //      without mid-document truncation. maxTokens=500 < max(n_chars)
    //      so BOTH paths are non-vacuous at every SF: multi-doc
    //      sequences AND oversize docs isolated in their own sequence.
    //      chunkDocs=128 makes the chunk restart part of the oracle too.
    "q_pack_sequences" -> ((s, dir) =>
      Sampling.packSequences(
        read(s, dir, "documents"), "doc_id", "n_chars", maxTokens = 500L, chunkDocs = 128)),

    // ---- training-mix: deterministic fractional upsampling (epochs
    //      per source): floor(factor) copies + a coin-gated extra —
    //      en=2.5 doubles everything and triples the same fixed half;
    //      zh=0.5 behaves like stratified sampling at 0.5
    "q_upsample" -> ((s, dir) =>
      Sampling.upsample(read(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 2.5, "zh" -> 0.5), defaultFactor = 1.0)
        .select(col("doc_id"), col("lang"), col("copy_idx"))),

    // ---- training-mix END-TO-END: deterministic shuffle -> next-fit
    //      packing over the SHUFFLED order (shuffle_pos as the packing
    //      key: positions are contiguous, so id-chunks are exactly
    //      runs of the training order) -> assembled contexts. The
    //      composition RunMix ships, value-pinned as one oracle row.
    "q_mix_contexts" -> ((s, dir) =>
      Sampling.sequenceTexts(
        Sampling.shufflePositions(
          read(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars")),
          "doc_id", buckets = 64),
        "shuffle_pos", "text", "n_chars", maxTokens = 500L, chunkDocs = 128)),

    // ---- training-mix: the assembled contexts — one row per packed
    //      sequence, member texts joined in packing order (the table a
    //      tokenizer consumes); same packing parameters as
    //      q_pack_sequences so the two rows pin assignment AND assembly
    "q_pack_texts" -> ((s, dir) =>
      Sampling.sequenceTexts(
        read(s, dir, "documents"), "doc_id", "text", "n_chars",
        maxTokens = 500L, chunkDocs = 128)),

    // ---- training-mix: deterministic order shuffle with an explicit
    //      global position (bucket-histogram two-phase rank — no
    //      single-task global window). buckets=64 exercises real
    //      multi-bucket offsets at every SF.
    "q_shuffle_positions" -> ((s, dir) =>
      Sampling.shufflePositions(read(s, dir, "documents"), "doc_id", buckets = 64)
        .select(col("doc_id"), col("shuffle_pos"))),

    // ---- substring/passage-level dedup: maximal duplicated token
    //      spans per document (position-indexed 6-gram windows shared
    //      by >= 2 docs, merged gaps-and-islands per doc). Catches the
    //      boilerplate block embedded in many otherwise-distinct docs
    //      that whole-document near-dup keeps.
    "q_span_dedup" -> ((s, dir) =>
      SpanDedup.duplicateSpans(
        s, read(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", 6, 2)),

    // ---- the per-doc duplication profile a curation policy
    //      thresholds on: span count, duplicated-token count, fraction
    "q_span_stats" -> ((s, dir) =>
      SpanDedup.spanStats(
        s, read(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", 6, 2)),

    // ---- span SURGERY (cut, don't drop — Lee et al. ExactSubstr's
    //      action): duplicated spans excised, docs kept; span-free
    //      docs pass through byte-identical, rebuilt docs re-join
    //      their surviving tokens with single spaces
    "q_span_removed" -> ((s, dir) =>
      SpanDedup.removeSpans(
        s, read(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", 6, 2)),

    // ---- dedup: MinHash-LSH near-dup pairs (rows-only; spec-verified
    //      against the exact-Jaccard oracle in DedupSpec)
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(s, docsWithClips(s, dir), "doc_id", "text", 3, 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    // ---- dedup: EXACT Jaccard similarity join via prefix filtering
    //      (recall-complete — hard DuckDB oracle on the same corpus the
    //      LSH variant blocks approximately). Pair table memoized per
    //      (session, dir) — q_neardup_survivors derives from the same one.
    "q_jaccard_pairs" -> ((s, dir) =>
      jaccardPairTable(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    // ---- dedup: survivors of the exact near-dup join under the
    //      pairwise smaller-id-wins policy (composition oracle) — one
    //      distinct + anti-join over the memoized pair table
    "q_neardup_survivors" -> ((s, dir) =>
      Dedup.nearDupSurvivorsFromPairs(docsWithClips(s, dir), jaccardPairTable(s, dir), "doc_id")
        .select(col("doc_id"))),

    // ---- dedup: TRANSITIVE near-dup clusters (connected components
    //      of the pair graph, min-id label, singletons label
    //      themselves) — the same CC the KG canonicalization ships,
    //      over the memoized pair table
    "q_neardup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(s, docsWithClips(s, dir), jaccardPairTable(s, dir), "doc_id")),

    // ---- dedup: quality-aware survivor policy — per transitive
    //      cluster keep the argmax rounded-quality doc (tie: min id);
    //      the policy that keeps the BEST copy rather than the oldest
    "q_neardup_best" -> ((s, dir) => {
      val docs = docsWithClips(s, dir)
        .withColumn("quality", TextOps.qualityScore(col("text")))
      Dedup
        .nearDupSurvivorsByQuality(s, docs, jaccardPairTable(s, dir), "doc_id", "quality")
        .select(col("doc_id"))
    }),

    // ---- dedup: cluster-chaining control — maxClusterSize splits
    //      every transitive component into deterministic sub-clusters
    //      of at most 8 members (contiguous id-ranked runs, min-id
    //      label; the two-phase chunked rank, forced through many
    //      chunks by rankChunkSize=64). The pair graph chains each
    //      source's docs in id order, so components are mega-chains —
    //      exactly the shape the cap exists for.
    "q_neardup_capped" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = read(s, dir, "documents").select(col("doc_id"), col("source"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val pairs = docs
        .withColumn("_nxt", lead(col("doc_id"), 1).over(w))
        .where(col("_nxt").isNotNull)
        .select(col("doc_id").as("id_a"), col("_nxt").as("id_b"))
      Dedup.nearDupClusters(s, docs.select(col("doc_id")), pairs, "doc_id",
        maxClusterSize = Some(8), rankChunkSize = 64)
    }),

    // ---- curation: the LSH scale path pinned at the oracle gate.
    //      On q_curate_neardup's corpus (clips, holdout removed, post
    //      exact dedup), the MinHash-LSH stage's survivor set vs the
    //      recall-complete exact-Jaccard stage's at the SHIPPED config
    //      (t=0.6, 3-gram shingles, 16 bands x 4 rows — the
    //      NearDupStage.MinHashLsh defaults): containment must hold by
    //      construction (LSH pairs ⊆ exact pairs — exact re-scoring),
    //      and the removal recall must clear the measured floor
    //      (tools/LshGuardProbe at commit 5b261a9: 1.0 at sf0.01,
    //      0.99917 at sf0.1 — floor 0.95) with the stage non-vacuous.
    "q_curate_lsh_guard" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.storage.StorageLevel
      val corpus = docsWithClipsLang(s, dir).where(col("doc_id") % 20 =!= 0)
      // ONE action computes all four counts (total, exact survivors,
      // LSH survivors, exact-not-LSH violations) as flag counts over
      // the deduped ids left-joined with both survivor id sets — the
      // previous form ran four sequential count() jobs. The dedup
      // subtree still feeds both pair joins, so it stays pinned for
      // the action's duration (unpersisted before returning — the
      // result below is literal rows); the survivor sets are each
      // consumed once now and need no pin of their own.
      val deduped = Dedup.normalizedExact(corpus, "doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val exactSurv = Dedup.nearDupSurvivorsFromPairs(
        deduped, Dedup.jaccardPairsExact(s, deduped, "doc_id", "text", 3, 0.6), "doc_id")
        .select(col("doc_id"), lit(1).as("_e"))
      val lshSurv = Dedup.nearDupSurvivorsFromPairs(
        deduped, Dedup.minhashNearDupPairs(s, deduped, "doc_id", "text", 3, 0.6, 16, 4), "doc_id")
        .select(col("doc_id"), lit(1).as("_l"))
      try {
        val r = deduped.select(col("doc_id"))
          .join(exactSurv, Seq("doc_id"), "left")
          .join(lshSurv, Seq("doc_id"), "left")
          .agg(
            count(lit(1)).as("n_total"),
            count(col("_e")).as("n_exact"),
            count(col("_l")).as("n_lsh"),
            sum(when(col("_e").isNotNull && col("_l").isNull, 1L).otherwise(0L)).as("n_viol"))
          .head()
        val (nTotal, nExact, nLsh, nViol) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val removedExact = nTotal - nExact
        val recall = if (removedExact == 0) 1.0 else (nTotal - nLsh).toDouble / removedExact
        Seq(
          ("lsh_survivors_contain_exact", nViol == 0L),
          ("lsh_removal_recall_ge_floor", removedExact > 0 && recall >= 0.95)
        ).toDF("check_name", "ok")
      } finally {
        deduped.unpersist()
      }
    }),

    // ---- dedup: MinHash precision guard — LSH output anti-joined
    //      against the EXACT prefix-filtered join must be empty
    //      (minhashNearDupPairs re-scores candidates exactly, so
    //      precision is 1.0 by construction at ANY scale; the banding
    //      recall is what stays approximate). A violation row here means
    //      the residual filter broke — hard oracle: the empty set.
    "q_minhash_precision" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(s, docsWithClips(s, dir), "doc_id", "text", 3, 0.6)
        .select(col("id_a"), col("id_b"))
        .join(jaccardPairTable(s, dir).select(col("id_a"), col("id_b")),
          Seq("id_a", "id_b"), "left_anti")),

    // ---- dedup: MinHash recall guard on exact duplicates — the
    //      case-mutated copies (doc_id % 3 == 0 -> id+100000) have
    //      IDENTICAL lowercased shingle sets, hence identical MinHash
    //      signatures: every band collides, so banding MUST emit the
    //      pair and exact re-scoring keeps it (jaccard = 1.0).
    //      Expected-minus-found must be empty.
    "q_minhash_recall_guard" -> ((s, dir) => {
      val expected = read(s, dir, "documents")
        .where(col("doc_id") % 3 === 0)
        .select(col("doc_id").cast("long").as("id_a"),
          (col("doc_id") + 100000).cast("long").as("id_b"))
      val found = Dedup.minhashNearDupPairs(s, docsWithCopies(s, dir), "doc_id", "text", 3, 0.6)
        .select(col("id_a"), col("id_b"))
      expected.join(found, Seq("id_a", "id_b"), "left_anti")
    }),

    // ---- dedup: SimHash near-dup pairs (rows-only; spec-verified)
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(s, docsWithCopies(s, dir), "doc_id", "text", 3)
        .select(col("id_a"), col("id_b"), col("hamming"))),

    // ---- dedup: SimHash recall guard on exact duplicates — the
    //      engineered case-mutated copies (doc_id % 3 == 0 -> id+100000)
    //      have IDENTICAL case-folded token streams, hence identical
    //      64-bit SimHash signatures (hamming 0), so the pigeonhole
    //      blocking MUST emit every such pair. Expected-minus-found must
    //      be empty; the expected side is pure SQL.
    "q_simhash_recall_guard" -> ((s, dir) => {
      val expected = read(s, dir, "documents")
        .where(col("doc_id") % 3 === 0)
        .select(col("doc_id").cast("long").as("id_a"),
          (col("doc_id") + 100000).cast("long").as("id_b"))
      val found = Dedup.simhashNearDupPairs(s, docsWithCopies(s, dir), "doc_id", "text", 3)
        .select(col("id_a"), col("id_b"))
      expected.join(found, Seq("id_a", "id_b"), "left_anti")
    }),

    // ---- dedup: embedding-cosine near-dup pairs (exact tiled block
    //      join; memoized — the approx precision guard reuses it)
    "q_cosine_pairs" -> ((s, dir) => cosinePairTable(s, dir)),

    // ---- dedup: SRP-approx cosine precision guard — the sub-quadratic
    //      variant's output anti-joined against the exact tiled join
    //      must be empty (the residual filter re-scores candidates with
    //      the SAME rounded cosine, so precision is 1.0 by construction
    //      at any scale; SRP banding only costs recall). Hard oracle:
    //      the empty set.
    "q_cosine_approx_precision" -> ((s, dir) =>
      Dedup.cosinePairsApprox(read(s, dir, "embeddings"), "vec_id", "embedding", 0.25)
        .select(col("id_a"), col("id_b"))
        .join(cosinePairTable(s, dir).select(col("id_a"), col("id_b")),
          Seq("id_a", "id_b"), "left_anti")),

    // ---- dedup: SemDeDup cluster-scoped cosine precision guard —
    //      every intra-cluster pair the cluster-scoped join emits must
    //      exist in the global exact join (same scorer/rounding/
    //      threshold inside a cluster). The cluster-scoped plan is the
    //      100-TB template for loose thresholds: compute drops from
    //      O(N^2 d) to sum of O(n_c^2 d). Hard oracle: the empty set.
    "q_semdedup_precision" -> ((s, dir) =>
      Dedup
        .cosinePairsSemDeDup(read(s, dir, "embeddings"), "vec_id", "embedding", 0.25,
          numClusters = 16, kmeansIters = 1)
        .select(col("id_a"), col("id_b"))
        .join(cosinePairTable(s, dir).select(col("id_a"), col("id_b")),
          Seq("id_a", "id_b"), "left_anti")),

    // ---- ANN: brute-force cosine top-k (queries = label 0)
    "q_ann_topk" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.where(col("label") === 0).orderBy(col("vec_id")).limit(20)
        .select(col("vec_id"), col("embedding"))
      Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
    }),

    // ---- ANN: LSH-bucketed variant — multi-probe recall is 1.0 on the
    //      driver corpora (measured at sf0.01 + sf0.1), so it carries
    //      the brute-force DuckDB oracle
    "q_ann_lsh" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.where(col("label") === 0).orderBy(col("vec_id")).limit(20)
        .select(col("vec_id"), col("embedding"))
      Ann.lshTopK(s, queries, emb, "vec_id", "embedding", 5)
    }),

    // ---- ANN: IVF (inverted-file) variant (rows-only; spec-verified).
    //      Shipped config nProbe=8/kmeansIters=5 chosen by sweep
    //      (tools/ApproxParityProbe at commit 5b261a9): recall@5
    //      plateaus there on the sf0.01/sf0.1 corpora — the synthetic
    //      embeddings have weak cluster structure, so IVF recall < 1.0
    //      at any fixed nProbe < lists
    //      (unlike multi-probe SRP, which reaches 1.0 and carries the
    //      exact oracle). The recall floor is pinned by
    //      q_ann_ivf_recall_guard below.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.where(col("label") === 0).orderBy(col("vec_id")).limit(20)
        .select(col("vec_id"), col("embedding"))
      Ann.ivfTopK(s, queries, emb, "vec_id", "embedding", 5, numLists = 16, nProbe = 8,
        kmeansIters = 5)
    }),

    // ---- ANN: IVF recall-floor guard — rank-free neighbor-id
    //      containment (recall@5) of the shipped IVF config against the
    //      brute-force exact top-k, pinned >= the floor (measured
    //      headroom documented at the floor constant). A quantizer or
    //      probe-order regression turns this row red instead of hiding
    //      behind no_oracle. Mirrors the ★q_ann_lsh precedent, adapted
    //      for a variant whose recall is genuinely < 1.0.
    "q_ann_ivf_recall_guard" -> ((s, dir) => {
      import s.implicits._
      val emb = read(s, dir, "embeddings")
      val queries = emb.where(col("label") === 0).orderBy(col("vec_id")).limit(20)
        .select(col("vec_id"), col("embedding"))
      val brute = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Ann.ivfTopK(s, queries, emb, "vec_id", "embedding", 5, numLists = 16,
        nProbe = 8, kmeansIters = 5).select(col("query_id"), col("neighbor_id"))
      val total = brute.count()
      val hits = ivf.join(brute, Seq("query_id", "neighbor_id"), "left_semi").count()
      Seq(("ivf_recall_at_5_ge_floor", total > 0 && hits.toDouble / total >= IvfRecallFloor))
        .toDF("check_name", "ok")
    }),

    // ---- S5: trie mention detection over a broadcast dictionary —
    //      exercises the REAL Aho-Corasick scan (word-boundary +
    //      leftmost-longest); single-word surfaces make the semantics
    //      SQL-mirrorable as token counting
    "q_mention_counts" -> ((s, dir) => {
      import s.implicits._
      val dict = Array(("hash", 1L), ("join", 2L), ("scan", 3L), ("filter", 4L))
      val bc = s.sparkContext.broadcast(dict)
      read(s, dir, "documents")
        .select(col("doc_id").cast("long"), lower(col("text")))
        .as[(Long, String)]
        .mapPartitions { it =>
          val ac = graft.extract.AhoCorasick.build(bc.value.map { case (w, id) => (w, id) })
          it.flatMap { case (docId, t) =>
            ac.findMentions(t)
              .groupBy(_.id)
              .map { case (sid, ms) => (docId, sid, ms.size.toLong) }
          }
        }
        .toDF("doc_id", "surface_id", "n_mentions")
    }),

    // ---- PII scan: per-type hit counts over the injected corpus
    //      (pure codegen'd regex columns — scan-side at any scale)
    "q_pii_scan" -> ((s, dir) =>
      graft.text.Redact.piiCounts(col("text"))
        .foldLeft(docsWithPii(s, dir)) { case (df, (n, c)) => df.withColumn(n, c) }
        .drop("text")),

    // ---- PII redaction: every match replaced with its type tag in
    //      the documented order; the full redacted text is the
    //      compared value (byte-for-byte cross-engine)
    "q_pii_redact" -> ((s, dir) =>
      docsWithPii(s, dir)
        .select(col("doc_id"), graft.text.Redact.redact(col("text")).as("redacted"))),

    // ---- text analysis: token count, language ID, quality score
    "q_text_stats" -> ((s, dir) =>
      TextOps
        .annotate(read(s, dir, "documents"), "text")
        .select(col("doc_id"), col("token_count"), col("lang_guess"), col("quality"))),

    // ---- intra-doc repetition profile (the Gopher/MassiveText
    //      repetition family): duplicated-unit fraction, chars inside
    //      duplicated units, the most-chars repeated 2-gram, and the
    //      fraction of units under a 2-gram that repeats WITHIN the
    //      document. All scan-side HOF Column expressions — no
    //      shuffle, per-doc cost bounded by doc length.
    "q_repetition" -> ((s, dir) =>
      graft.text.Repetition
        .addSignals(read(s, dir, "documents").select(col("doc_id"), col("text")), "text")
        .select(
          col("doc_id"),
          col("n_units").cast("long").as("n_units"),
          col("n_distinct_units").cast("long").as("n_distinct_units"),
          col("dup_unit_fraction"),
          col("dup_unit_char_fraction"),
          col("top_ngram_char_fraction"),
          col("dup_ngram_positions").cast("long").as("dup_ngram_positions"),
          col("covered_units").cast("long").as("covered_units"),
          col("dup_ngram_unit_fraction"))),

    // ---- Gopher-rule document filter over those signals. Thresholds
    //      tuned to bite on this corpus (words p5 ~15 -> min 20; mean
    //      word len 3.7-5.3 -> min 4.0; dup_unit_fraction median 0.54
    //      max 0.72 -> cap 0.6; top-2-gram fraction p90 0.14 -> cap
    //      0.2). Flags emitted as 0/1 longs for cross-engine hashing.
    "q_gopher_filter" -> ((s, dir) => {
      val sig = graft.text.Repetition
        .addSignals(read(s, dir, "documents").select(col("doc_id"), col("text")), "text")
      graft.text.Repetition
        .addGopherFlags(sig, "text", minWords = 20, minMeanWordLen = 4.0,
          maxDupUnitFraction = 0.6)
        .select(
          col("doc_id"),
          col("word_count").cast("long").as("word_count"),
          col("mean_word_len"),
          col("alpha_word_fraction"),
          col("dup_unit_fraction"),
          col("top_ngram_char_fraction"),
          col("words_ok").cast("long").as("words_ok"),
          col("word_len_ok").cast("long").as("word_len_ok"),
          col("alpha_ok").cast("long").as("alpha_ok"),
          col("dup_unit_ok").cast("long").as("dup_unit_ok"),
          col("top_ngram_ok").cast("long").as("top_ngram_ok"),
          col("passes").cast("long").as("passes"))
    }),

    // ---- Gopher LINE rules (dup-line / dup-line-chars / bullet /
    //      ellipsis fractions) over a deterministically re-lined
    //      corpus: the single-line documents are broken into 3-word
    //      lines, every doc_id%3==0 doc gets its lines bulleted and
    //      every doc_id%4==0 doc gets ellipsis line endings, and every
    //      doc_id%5==0 doc has its whole line block doubled, so each
    //      rule decides both ways. Signals are scan-side HOF Columns —
    //      no shuffle.
    "q_gopher_lines" -> ((s, dir) => {
      graft.text.Repetition
        .addLineFlags(relinedDocs(s, dir).select(col("doc_id"), col("text")), "text")
        .select(
          col("doc_id"),
          col("n_lines").cast("long").as("n_lines"),
          col("n_distinct_lines").cast("long").as("n_distinct_lines"),
          col("dup_line_fraction"),
          col("dup_line_char_fraction"),
          col("bullet_line_fraction"),
          col("ellipsis_line_fraction"),
          col("dup_line_ok").cast("long").as("dup_line_ok"),
          col("dup_line_chars_ok").cast("long").as("dup_line_chars_ok"),
          col("bullet_ok").cast("long").as("bullet_ok"),
          col("ellipsis_ok").cast("long").as("ellipsis_ok"),
          col("line_passes").cast("long").as("line_passes"))
    }),

    // ---- Gopher PARAGRAPH rules (dup-paragraph fraction/chars) over a
    //      deterministically re-paragraphed corpus (6-word paragraphs;
    //      every %5 doc's paragraph block doubled so the rules decide
    //      both ways). Signals are addSignals at unitSep="\n\n" — the
    //      same machinery the oracled word/line modes pin.
    "q_gopher_paragraphs" -> ((s, dir) => {
      val para = regexp_replace(col("text"), "((\\S+ ){5}\\S+) ", "$1\n\n")
      val mlt = when(col("doc_id") % 5 === 0, concat(para, lit("\n\n"), para)).otherwise(para)
      graft.text.Repetition
        .addSignals(
          read(s, dir, "documents").select(col("doc_id"), mlt.as("text")),
          "text", unitSep = "\\n\\n")
        .select(
          col("doc_id"),
          col("n_units").cast("long").as("n_paragraphs"),
          col("n_distinct_units").cast("long").as("n_distinct_paragraphs"),
          col("dup_unit_fraction").as("dup_para_fraction"),
          col("dup_unit_char_fraction").as("dup_para_char_fraction"),
          (col("dup_unit_fraction") <= 0.3).cast("long").as("dup_para_ok"),
          (col("dup_unit_char_fraction") <= 0.2).cast("long").as("dup_para_chars_ok"),
          (col("dup_unit_fraction") <= 0.3 && col("dup_unit_char_fraction") <= 0.2)
            .cast("long").as("para_passes"))
    }),

    // ---- cross-document LINE dedup (CCNet/RefinedWeb boilerplate-line
    //      removal): the re-lined corpus plus injected footers — a
    //      case-varying newsletter line on every %2 doc (df ~ n/2,
    //      always over minDf=8) and a rare footer on every %100==1 doc
    //      (df ~ n/100: kept at 500-doc SFs, removed at sf0.1 — the df
    //      threshold semantics, exercised both ways). Output is the
    //      REBUILT text, compared byte-for-byte.
    "q_line_dedup" -> ((s, dir) => {
      graft.dedup.LineDedup
        .removeCommonLines(footeredDocs(s, dir), "doc_id", "text", minDf = 8)
        .select(col("doc_id"), col("text"))
    }),

    // ---- the curation chain with the line-dedup stage mid-chain
    //      (after exact dedup, before decontamination): downstream
    //      stages judge the de-boilerplated text
    "q_curate_line_dedup" -> ((s, dir) => {
      val docs = footeredDocs(s, dir)
      Curation.curate(
        s,
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0).select(col("text")),
        "doc_id", "text", "lang", "text",
        minTokens = 20,
        rates = Map("en" -> 0.5, "zh" -> 0.25),
        defaultRate = 0.1,
        shingleN = 6,
        lineDedupMinDf = Some(8))
        .select(col("doc_id"), col("lang"))
    }),

    // ---- the FULL Gopher n-gram family (Rae et al. 2021 Table A1):
    //      top-2/3/4-gram char fractions and dup-5..10-gram char-cover
    //      fractions at the published caps, over the repetition-injected
    //      corpus (injectedRepeats) so the dup rules fire both ways.
    //      All signals are scan-side HOF Columns — no shuffle.
    "q_gopher_ngrams" -> ((s, dir) => {
      import graft.text.Repetition
      val flagged = Repetition.addGopherNgramFlags(
        Repetition.addNgramSignals(injectedRepeats(s, dir), "text"))
      val topNs = Repetition.TopNgramCaps.keys.toSeq.sorted
      val covNs = Repetition.DupNgramCaps.keys.toSeq.sorted
      val cols = col("doc_id") +:
        (topNs.map(n => col(s"top_${n}gram_char_fraction")) ++
          covNs.map(n => col(s"dup_${n}gram_char_fraction")) ++
          topNs.map(n => col(s"top_${n}gram_ok").cast("long").as(s"top_${n}gram_ok")) ++
          covNs.map(n => col(s"dup_${n}gram_ok").cast("long").as(s"dup_${n}gram_ok")) :+
          col("ngram_passes").cast("long").as("ngram_passes"))
      flagged.select(cols: _*)
    }),

    // ---- J1: nearest-neighbor enrichment join (broadcast dim, argmin)
    "q_nn_enrich" -> ((s, dir) => {
      // dim: per event_type avg value (5 rows); each supplier gets the
      // type whose avg is nearest to its acctbal scaled into range
      val dim = read(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(avg(col("value")), 6).as("type_avg"))
      val facts = read(s, dir, "supplier")
        .select(col("s_suppkey"), (abs(col("s_acctbal")) % 20.0).as("probe"))
      Blocks
        .nearestNeighborJoin(facts, dim, "s_suppkey", "probe", "event_type", "type_avg")
        .select(col("s_suppkey"), col("event_type"), col("nn_dist"))
    }),

    // ---- G2: distributed frontier BFS distances over a real graph
    //      (supplier proximity pairs), from the smallest supplier key
    "q_bfs_distances" -> ((s, dir) => {
      val pairs = Blocks
        .proximitySelfJoin(read(s, dir, "supplier"), "s_suppkey", "s_acctbal", 400.0)
        .select(col("id_a").as("subj"), col("id_b").as("obj"))
      val src = read(s, dir, "supplier").agg(min(col("s_suppkey"))).head().getLong(0)
      graft.path.EntityPaths
        .bfsDistances(s, pairs, src, maxDepth = 6)
        .select(col("id"), col("dist"))
    }),

    // ---- G2: shortest-path reconstruction over the same graph — path
    //      to the deterministic farthest node (max dist, min id), parent
    //      tie-break = min predecessor id (oracle replays the same rule)
    "q_bfs_path" -> ((s, dir) => {
      val pairs = Blocks
        .proximitySelfJoin(read(s, dir, "supplier"), "s_suppkey", "s_acctbal", 400.0)
        .select(col("id_a").as("subj"), col("id_b").as("obj"))
      val src = read(s, dir, "supplier").agg(min(col("s_suppkey"))).head().getLong(0)
      graft.path.EntityPaths.pathToFarthest(s, pairs, src, maxDepth = 6)
    }),

    // ---- G3: connected components over the proximity graph (min
    //      member id per component — the canonicalization contract)
    "q_cc_components" -> ((s, dir) => {
      val pairs = Blocks
        .proximitySelfJoin(read(s, dir, "supplier"), "s_suppkey", "s_acctbal", 400.0)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      graft.canon.ConnectedComponents.run(s, pairs).select(col("id"), col("component"))
    }),

    // ---- SO1: union + distinct across sources
    "q_union_keys" -> ((s, dir) =>
      read(s, dir, "orders")
        .select(col("o_custkey").as("key"))
        .union(read(s, dir, "customer").select(col("c_custkey").as("key")))
        .distinct()),

    // ---- SO2 + F18: interval overlap vs a reference window + date parts
    "q_interval_overlap" -> ((s, dir) => {
      val o = read(s, dir, "orders")
        .withColumn("start_d", col("o_orderdate").cast("timestamp").cast("double"))
        .withColumn("end_d", col("start_d") + 30.0 * 86400)
      val ref = o.agg(
        round(avg(col("start_d")), 0).as("ref_s"),
        (round(avg(col("start_d")), 0) + 45.0 * 86400).as("ref_e")
      )
      o.crossJoin(broadcast(ref))
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"),
          round(
            Blocks.intervalOverlap(col("start_d"), col("end_d"), col("ref_s"), col("ref_e")) / 86400.0,
            6
          ).as("overlap_days")
        )
    }),

    // ---- M1-M3: schema-cleaning decisions as data
    "q_schema_decisions" -> ((s, dir) =>
      Stats
        .missingPct(eventsWithNulls(s, dir), Seq("value_n", "etype_n", "event_id"))
        .withColumn(
          "action",
          when(col("missing_pct") >= 100.0, lit("drop_all_missing"))
            .when(col("missing_pct") > 50.0, lit("drop_high_missing"))
            .otherwise(lit("keep"))
        )),

    // ---- §2.11 UDAF: deterministic mode via typed Aggregator
    "q_mode_agg" -> ((s, dir) => {
      val detMode = udaf(graft.functions.DeterministicMode)
      read(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(detMode(col("event_type")).as("mode_type"))
    }),

    // ---- F17: JSON property extraction (the reference's JSON
    //      enrichment payloads, src/TCXParser.jl:175)
    "q_json_props" -> ((s, dir) =>
      read(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val")
        )),

    // ---- A4: run summary — first/last by order + means per session
    "q_run_summary" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      read(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("rn_desc", row_number().over(w.orderBy(col("ts").desc, col("event_id").desc)))
        .groupBy(col("user_id"))
        .agg(
          max(when(col("rn") === 1, col("value"))).as("first_value"),
          max(when(col("rn_desc") === 1, col("value"))).as("last_value"),
          round(avg(col("value")), 6).as("avg_value")
        )
    }),

    // ---- O6: natural-numeric sort key extraction
    "q_natural_sort" -> ((s, dir) =>
      read(s, dir, "documents")
        .select(
          col("doc_id"),
          col("source"),
          regexp_extract(col("source"), "(\\d+)", 1).cast("int").as("src_num")
        )),

    // ---- W6/O7: downsample every 5th event per session, cap 10
    "q_downsample" -> ((s, dir) =>
      Sequences
        .downsample(read(s, dir, "events"), "user_id", Seq("ts", "event_id"), 5, 10)
        .select(col("user_id"), col("event_id"))),

    // ---- J3: 1-row ref range join (bbox broad phase)
    "q_range_ref_join" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val ref = ev.agg(
        (round(avg(col("value")), 6) - 5.0).as("lo"),
        (round(avg(col("value")), 6) + 5.0).as("hi")
      )
      ev.crossJoin(broadcast(ref))
        .where(col("value") >= col("lo") && col("value") <= col("hi"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_in_range"))
    }),

    // ---- F6: Douglas-Peucker polyline simplification (viz-prep).
    //      Oracle: a recursive-CTE replay of the exact split rule
    //      (first-max tie-break, strict > epsilon) in DuckDB.
    "q_dp_simplify" -> ((s, dir) => {
      val ev = read(s, dir, "events")
        .withColumn("x", col("value"))
        .withColumn("y", pmod(col("value") * 37.0, lit(100.0)))
      graft.ops.Polyline
        .simplifySessions(s, ev, "user_id", "event_id", "x", "y", 1.0)
        .select(col("session"), col("n_in"), col("n_out"))
    }),

    // ---- J4 stage-2: best-window-per-session similarity join (the
    //      reference's find_best_window_in_ride over the turn stream).
    //      Result shared with q_run_explode via the (session, dir) memo.
    "q_window_match" -> ((s, dir) => bestWindowMatches(s, dir)),

    // ---- per-run detail explode (the reference's
    //      extract_single_segment_runs): best-window runs joined back to
    //      the ordered turn stream — one row per (run, turn in window)
    "q_run_explode" -> ((s, dir) => {
      val runs = bestWindowMatches(s, dir)
        .select(col("user_id").as("conv_id"), col("start_idx"), col("end_idx"))
      graft.link.SegmentRuns
        .explodeRuns(read(s, dir, "events"), runs, "user_id", Seq("ts", "event_id"))
        .select(col("user_id"), col("start_idx"), col("turn_pos"), col("event_id"))
    }),

    // ---- S7/S8/G4 under the driver check: write a derived graph via
    //      the Materialize sinks (lineage + manifest), read it back,
    //      return per-table counters.
    "q_sink_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val out = s"/tmp/graft_sink/${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true) // fresh write each run
      val ev = read(s, dir, "events")
      val edges = Sequences
        .leadEdges(ev, "user_id", Seq("ts", "event_id"), "event_id")
        .select(col("user_id").cast("string").as("conv_id"), col("src"), col("dst"))
      val vertices = ev.select(col("event_id")).distinct()
      graft.graph.Materialize.writeVertices(vertices, out)
      // 8 buckets: ~100k rows at sf0.1 — bucket count sizes to data
      graft.graph.Materialize.writeEdges(s, edges, out, numBuckets = 8)
      // stats once: the manifest reuses the same counters instead of
      // re-running the heal pass and the two count jobs
      val st = graft.graph.Materialize.stats(s, out)
      graft.graph.Materialize.writeManifest(s, out, Some(st))
      Seq(("edges", st._2), ("vertices", st._1)).toDF("table_name", "n_rows")
    }),

    // ---- S10: CSV sink round-trip (write via Materialize.writeCsv,
    //      read back typed, return counters)
    "q_csv_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val out = s"/tmp/graft_csv/${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val data = read(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      graft.graph.Materialize.writeCsv(data, out)
      val back = s.read.option("header", "true")
        .schema("event_type string, n_events long")
        .csv(out)
      back.select(col("event_type"), col("n_events"))
    }),

    // ---- S9: column-level upsert under the driver gate — write a
    //      derived edge table, MERGE-backfill a column on a keyed
    //      subset, read back and aggregate (crash-safe swap + bucket
    //      metadata exercised end to end)
    "q_upsert_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_upsert/${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true) // fresh table each run
      // lazy localCheckpoint: `edges` feeds BOTH the initial write and
      // the updates subset — without the cut the lead-edges window
      // recomputes for each consumer
      val edges = Sequences
        .leadEdges(read(s, dir, "events"), "user_id", Seq("ts", "event_id"), "event_id")
        .select(
          col("user_id").cast("string").as("conv_id"),
          col("src"),
          col("dst"),
          lit("orig").as("pred")
        )
        .localCheckpoint(eager = false)
      graft.graph.Materialize.writeEdges(s, edges, out, numBuckets = 8)
      val updates = edges
        .where(col("src") % 7 === 0)
        .select(col("conv_id"), col("src"), lit("backfilled").as("pred"))
      graft.graph.Materialize.upsertColumns(
        s, out, updates, keyCols = Seq("conv_id", "src"), updateCols = Seq("pred"))
      s.read.parquet(s"$out/edges")
        .groupBy(col("pred"))
        .agg(count(lit(1)).as("n_rows"))
    }),

    // ---- case-study-1 tail: top keys with ties kept, winners deduped
    //      by normalized form (corpus engineered with case-variant ties)
    "q_topk_ties_dedup" -> ((s, dir) => {
      val ev = read(s, dir, "events").select(col("event_type"))
      val corpus = ev.union(ev.select(upper(col("event_type")).as("event_type")))
      Stats.topWithTiesDeduped(corpus, "event_type", lower)
    }),

    // ---- A7 reference-parity greedy overlap dedup. Oracle: the
    //      sequential accept loop replayed as a list-carrying recursive
    //      CTE in DuckDB (one step per ranked candidate, accepted
    //      intervals ride along as a struct list).
    "q_greedy_segments" -> ((s, dir) => {
      val iv = read(s, dir, "events")
        .groupBy(col("event_type").as("group"), col("user_id").as("id"))
        .agg(
          floor(min(col("value")) / 5.0).cast("int").as("start"),
          floor(max(col("value")) / 5.0).cast("int").as("end"),
          count(lit(1)).as("weight")
        )
      graft.canon.GreedyOverlapDedup.perGroup(s, iv, 0.5)
    }),

    // ---- S11/S12: per-point GeoJSON export (whitelist + every-Nth +
    //      cap) as data
    "q_geojson_points" -> ((s, dir) => {
      val ev = read(s, dir, "events")
        .withColumn("x", col("value"))
        .withColumn("y", pmod(col("value") * 37.0, lit(100.0)))
      graft.viz.VizPrep
        .geoJsonPoints(ev, "user_id", Seq("ts", "event_id"), "x", "y",
          Seq("event_id", "event_type"), every = 5, cap = 10)
        .select(col("session"), col("event_id"), col("geojson"))
    }),

    // ---- KG analytics (rows-only; spec-verified in ModulesSpec)
    "kg_cooccurrence" -> ((s, dir) =>
      graft.analytics.EntityAggregates.coOccurrence(kgEdgesCompact(s, dir), 2L)),
    "kg_entity_profile" -> ((s, dir) =>
      graft.analytics.EntityAggregates.entityProfile(kgEdgesCompact(s, dir))),
    "kg_pred_transitions" -> ((s, dir) =>
      graft.analytics.EntityAggregates.predicateTransitions(kgEdgesCompact(s, dir))),

    // ---- KG relational invariants as data: the pipeline outputs are
    //      LSH+CC-internal (no SQL oracle), but their CONSEQUENCES are
    //      checkable — each row is an invariant verified over the real
    //      graph; the DuckDB mirror pins every row to ok=true, so any
    //      violation (dangling endpoint, fabricated provenance, null
    //      field, duplicate canonical id) turns the row red.
    "kg_invariants" -> ((s, dir) => {
      import s.implicits._
      val r = kgResult(s, dir)
      val edges = kgEdgesCompact(s, dir)
      val vertIds = r.vertices.toDF().select(col("entity_id"))
      val turns = TranscriptGen.transcripts(s, genConfigFor(dir))
        .where(col("text").isNotNull)
        .select(col("conv_id"), col("turn_idx"))
      val endpoints = edges.select(col("subj").as("entity_id"))
        .union(edges.select(col("obj").as("entity_id"))).distinct()
      // the four existence probes run as ONE action (a union of
      // limit-1 witnesses) instead of four sequential count() jobs —
      // same four booleans, the independent branches schedule
      // concurrently and the fixed per-action overhead is paid once
      def witness(tag: String, df: DataFrame): DataFrame =
        df.limit(1).select(lit(tag).as("violation"))
      val violations = Seq(
        witness("dangling", endpoints.join(vertIds, Seq("entity_id"), "left_anti")),
        witness("orphan_prov", edges.select(col("conv_id"), col("turn_idx")).distinct()
          .join(turns, Seq("conv_id", "turn_idx"), "left_anti")),
        witness("null_fields", edges.where(
          col("subj").isNull || col("pred").isNull || col("obj").isNull ||
            col("conv_id").isNull || col("turn_idx").isNull)),
        witness("dup_vertices", r.vertices.toDF().groupBy(col("entity_id"))
          .agg(count(lit(1)).as("n")).where(col("n") > 1))
      ).reduce(_.unionAll(_)).collect().map(_.getString(0)).toSet
      Seq(
        ("edge_endpoints_in_vertices", !violations("dangling")),
        ("no_null_edge_fields", !violations("null_fields")),
        ("provenance_turn_exists", !violations("orphan_prov")),
        ("vertex_ids_unique", !violations("dup_vertices"))
      ).toDF("check_name", "ok")
    }),

    // ---- Derivation oracles for the kg_* aggregate family: each
    //      aggregate (kg_cooccurrence / kg_entity_profile /
    //      kg_pred_transitions) is a deterministic SQL derivation OF the
    //      edge table, so even though the edges themselves are
    //      LSH+CC-internal, the DERIVATION is checkable — recompute each
    //      through an independent formulation (SQL-parser path over a
    //      temp view, vs the DataFrame-API operator) and pin multiset
    //      equality. Equality is decided by order-independent
    //      fingerprints — row count + two independently-seeded sums of
    //      per-row xxhash64 (decimal sums, no ANSI overflow; collision
    //      needs a simultaneous match of both seeded sums, ~2^-128 for
    //      non-adversarial drift) — ONE small aggregate job per side
    //      instead of exceptAll, whose plan recomputes both aggregation
    //      pipelines per direction (measured 23 s -> ~4 s at sf0.1).
    //      Catches multiplicity drift, not just set drift. Same
    //      consequence-row pattern as kg_invariants; DuckDB mirror pins
    //      every row true.
    "kg_derivation_checks" -> ((s, dir) => {
      import s.implicits._
      val edges = kgEdgesCompact(s, dir)
      edges.createOrReplaceTempView("kg_edges_v")
      def fingerprint(tag: String, df: DataFrame): DataFrame = {
        val cols = df.columns.sorted.map(col)
        df.agg(
            count(lit(1)).as("cnt"),
            sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h1"),
            sum(xxhash64((cols :+ lit(0x9e3779b9L)): _*).cast("decimal(38,0)")).as("h2"))
          .select(lit(tag).as("tag"), col("cnt"), col("h1"), col("h2"))
      }
      val coocSql = s.sql(
        """SELECT least(subj, obj) AS entity_a, greatest(subj, obj) AS entity_b,
          |       count(DISTINCT conv_id) AS n_convs, count(*) AS n_assertions
          |FROM kg_edges_v WHERE subj <> obj
          |GROUP BY 1, 2 HAVING count(DISTINCT conv_id) >= 2""".stripMargin)
      val profileSql = s.sql(
        """WITH roles AS (
          |  SELECT subj AS entity_id, pred, conv_id, turn_idx, 1 AS as_subj FROM kg_edges_v
          |  UNION ALL
          |  SELECT obj AS entity_id, pred, conv_id, turn_idx, 0 AS as_subj FROM kg_edges_v),
          |base AS (
          |  SELECT entity_id, count(*) AS n_assertions, sum(as_subj) AS n_as_subject,
          |         count(DISTINCT conv_id) AS n_convs,
          |         min(turn_idx) AS first_turn, max(turn_idx) AS last_turn
          |  FROM roles GROUP BY entity_id),
          |pc AS (SELECT entity_id, pred, count(*) AS cnt FROM roles GROUP BY entity_id, pred),
          |tp AS (SELECT entity_id, pred AS top_pred FROM (
          |  SELECT entity_id, pred,
          |         row_number() OVER (PARTITION BY entity_id ORDER BY cnt DESC, pred ASC) AS rn
          |  FROM pc) WHERE rn = 1)
          |SELECT base.entity_id, n_assertions, n_as_subject, n_convs, first_turn, last_turn, top_pred
          |FROM base JOIN tp ON base.entity_id = tp.entity_id""".stripMargin)
      val transSql = s.sql(
        """SELECT pred, next_pred, count(*) AS n_transitions FROM (
          |  SELECT pred, lead(pred, 1) OVER (
          |    PARTITION BY conv_id ORDER BY turn_idx ASC, subj ASC, obj ASC) AS next_pred
          |  FROM kg_edges_v)
          |WHERE next_pred IS NOT NULL GROUP BY pred, next_pred""".stripMargin)
      // all six fingerprints in ONE action — the branches share the
      // cached edge table and schedule concurrently, so wall time is
      // the slowest pipeline, not the sum of six
      val fps = Seq(
        fingerprint("cooc_api", graft.analytics.EntityAggregates.coOccurrence(edges, 2L)),
        fingerprint("cooc_sql", coocSql),
        fingerprint("profile_api", graft.analytics.EntityAggregates.entityProfile(edges)),
        fingerprint("profile_sql", profileSql),
        fingerprint("trans_api", graft.analytics.EntityAggregates.predicateTransitions(edges)),
        fingerprint("trans_sql", transSql)
      ).reduce(_.unionByName(_))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2), r.getDecimal(3)))
        .toMap
      Seq(
        ("cooccurrence_matches_sql_replay", fps("cooc_api") == fps("cooc_sql")),
        ("entity_profile_matches_sql_replay", fps("profile_api") == fps("profile_sql")),
        ("pred_transitions_matches_sql_replay", fps("trans_api") == fps("trans_sql"))
      ).toDF("check_name", "ok")
    }),

    // ---- KG pipeline outputs (non-SQL-expressible: LSH + CC inside;
    //      spec-verified against the generation oracle)
    "kg_edges" -> ((s, dir) => kgResult(s, dir).edges.toDF()),
    "kg_vertices" -> ((s, dir) =>
      kgResult(s, dir).vertices.toDF()
        .select(col("entity_id"), col("type"), concat_ws("|", col("aliases")).as("aliases")))
  )

  /** J4 stage-2 body (see q_window_match): turns = events ordered per
    * user; per-turn token set = {type token, grid-cell token}; pattern =
    * the smallest user WITH >= 8 events, first 8 turns (so the pattern
    * is always exactly 8 turns — the oracle hardcodes w=8); score =
    * mean aligned (1 - Jaccard), tol 0.9. Memoized per (session, dir) —
    * q_window_match returns it, q_run_explode joins it back to the
    * turn stream.
    */
  private val wmCache: Memo[DataFrame] = scala.collection.concurrent.TrieMap.empty
  private def bestWindowMatches(s: SparkSession, dir: String): DataFrame =
    memoized(wmCache, s, dir) {
      val ev = read(s, dir, "events")
      val toks = ev.select(
        col("user_id"),
        col("ts"),
        col("event_id"),
        array(
          xxhash64(concat(lit("t:"), col("event_type"))),
          xxhash64(concat(lit("c:"), floor(col("value") / 5.0).cast("long").cast("string")))
        ).as("tokens")
      )
      val refRow = ev
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 8)
        .agg(min(col("user_id")))
        .head()
      val out =
        if (refRow.isNullAt(0)) {
          s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(
              "user_id long, start_idx int, end_idx int, score double")
          )
        } else {
          val refU = refRow.getLong(0)
          val patTurns = toks
            .where(col("user_id") === refU)
            .sort(col("ts"), col("event_id"))
            .limit(8)
            .select(col("tokens"))
            .collect()
            .map(_.getSeq[Long](0).toArray)
          val pattern = graft.link.WindowMatch.WindowPattern(0L, patTurns)
          graft.link.WindowMatch
            .bestWindowPerSession(
              s,
              toks.where(col("user_id") =!= refU),
              "user_id",
              Seq("ts", "event_id"),
              "tokens",
              Seq(pattern),
              tol = 0.9
            )
            .select(col("conv_id").cast("long").as("user_id"), col("start_idx"), col("end_idx"), col("score"))
        }
      out.cache()
    }

  /** DuckDB mirrors. Aliases and rounding match the Spark side exactly. */
  def oracleSql: Map[String, String] = {
    val markers = TextOps.LangMarkers
    def hits(ms: Seq[String]) =
      s"len(list_filter(string_split_regex(lower(text), '\\s+'), x -> list_contains([${ms.map("'" + _ + "'").mkString(",")}], x)))"
    val langCase = {
      val scores = markers.map { case (l, ms) => s"${hits(ms)}" }
      val best = s"greatest(${scores.mkString(",")})"
      val whens = markers.zip(scores).map { case ((l, _), sc) => s"WHEN $sc = best AND $sc > 0 THEN '$l'" }
      (scores, best, whens)
    }
    // THE shared clips-corpus + 3-gram shingle-set CTEs of the
    // exact-Jaccard family (q_jaccard_pairs / q_neardup_survivors /
    // q_neardup_clusters / q_neardup_best all interpolate this one
    // definition — in lockstep with docsWithClipsLang)
    val clipShingleCtes =
      """corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    array_to_string(w[1:greatest(len(w) - 3, 1)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 4 = 0)),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(w) - 1),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |        FROM corpus))""".stripMargin
    // THE pair-graph -> min-label component CTEs shared by the two
    // cluster oracles (recursive walk, q_cc_components' pattern)
    val clipPairComponentCtes =
      """pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
        |adj AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |walk AS (
        |  SELECT a AS id, a AS reach FROM adj
        |  UNION
        |  SELECT w.id, adj.b FROM walk w JOIN adj ON adj.a = w.reach),
        |comp AS (SELECT id, min(reach) AS component FROM walk GROUP BY id)""".stripMargin
    // THE shared CTE chain of the two span oracles (position-indexed
    // 6-gram windows with 0-based starts, df >= 2 distinct docs,
    // gaps-and-islands where the next start is <= previous + 6) — both
    // rows interpolate this one definition so the break rule and the
    // +5 span-end arithmetic cannot desynchronize
    val spanCtes =
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |pg0 AS (
        |  SELECT doc_id, unnest(generate_series(1, len(tk) - 5)) AS i, tk
        |  FROM toks WHERE len(tk) >= 6),
        |pos_grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+5], ' ') AS gram FROM pg0),
        |dg AS (SELECT gram FROM pos_grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT doc_id, pos FROM pos_grams JOIN dg USING (gram)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL THEN 1
        |         WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 6 THEN 1
        |         ELSE 0 END AS brk
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM brk)""".stripMargin

    // shared CTEs for the intra-doc repetition oracles: lowercased
    // trim-filtered units, per-doc unit counts/chars, positional
    // 2-grams, and the window positions whose 2-gram repeats within
    // the same document (Repetition.addSignals replay)
    val repCtes =
      """WITH rtoks AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split_regex(lower(text), '\s+'), x -> trim(x)), x -> x <> '') AS tk
        |  FROM documents),
        |rbase AS (
        |  SELECT doc_id, text, tk, len(tk) AS t, len(list_distinct(tk)) AS d,
        |    coalesce(list_sum(list_transform(tk, x -> len(x))), 0) AS tot_chars
        |  FROM rtoks),
        |rgr AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(tk) - 1)) - 1 AS pos,
        |    unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1])) AS gram
        |  FROM rtoks WHERE len(tk) >= 2),
        |rgc AS (SELECT doc_id, gram, count(*) AS cnt FROM rgr GROUP BY 1, 2),
        |rflag AS (
        |  SELECT g.doc_id, g.pos FROM rgr g
        |  JOIN rgc c ON c.doc_id = g.doc_id AND c.gram = g.gram AND c.cnt >= 2)""".stripMargin

    // shared Gopher-signal CTEs over repCtes' bases plus the rule
    // conjunction — q_gopher_filter projects the per-rule flags,
    // q_curate_gopher filters the curation chain on the conjunction;
    // one definition keeps the thresholds in lockstep
    val gopherSigCtes =
      """rtop AS (SELECT doc_id, max(cnt * len(gram)) AS best FROM rgc GROUP BY doc_id),
        |ralpha AS (
        |  SELECT doc_id, len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS alpha FROM rtoks),
        |sig AS (
        |  SELECT b.doc_id, b.t,
        |    CASE WHEN b.t > 0 THEN round(b.tot_chars / b.t, 6) ELSE 0.0 END AS mean_word_len,
        |    CASE WHEN b.t > 0 THEN round(a.alpha / b.t, 6) ELSE 0.0 END AS alpha_word_fraction,
        |    CASE WHEN b.t > 0 THEN round((b.t - b.d) / b.t, 6) ELSE 0.0 END AS dup_unit_fraction,
        |    CASE WHEN b.t >= 2 THEN round(coalesce(tp.best, 0) / greatest(len(b.text), 1), 6) ELSE 0.0 END AS top_ngram_char_fraction
        |  FROM rbase b
        |  LEFT JOIN rtop tp USING (doc_id)
        |  LEFT JOIN ralpha a USING (doc_id))""".stripMargin
    val gopherPassPred =
      """t BETWEEN 20 AND 100000 AND mean_word_len BETWEEN 4.0 AND 10.0
        |    AND alpha_word_fraction >= 0.8 AND dup_unit_fraction <= 0.6
        |    AND top_ngram_char_fraction <= 0.2""".stripMargin

    // deterministic re-lining of documents into the multi-line corpus
    // mdocs (3-word lines; %3 docs bulleted, %4 docs
    // ellipsis-terminated, %5 docs' line block doubled) — replays
    // SparkEntry.relinedDocs; shared by q_gopher_lines and
    // q_curate_gopher_lines
    val relineCtes =
      """mdocs AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 5 = 0 THEN e || chr(10) || e ELSE e END AS text
        |  FROM (
        |    SELECT doc_id, lang,
        |      CASE WHEN doc_id % 4 = 0 THEN replace(b, chr(10), '...' || chr(10)) || '...'
        |           ELSE b END AS e
        |    FROM (
        |      SELECT doc_id, lang,
        |        CASE WHEN doc_id % 3 = 0 THEN '- ' || replace(nl, chr(10), chr(10) || '- ')
        |             ELSE nl END AS b
        |      FROM (
        |        SELECT doc_id, lang,
        |          regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g') AS nl
        |        FROM documents) t1) t2) t3)""".stripMargin

    // the four line-rule signals over mdocs' trimmed/lowercased
    // non-empty lines (Repetition.addLineFlags replay) plus the rule
    // conjunction — q_gopher_lines projects the per-rule flags,
    // q_curate_gopher_lines filters the curation chain on the
    // conjunction; one definition keeps the thresholds in lockstep
    val lineSigCtes =
      """llines AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> lower(trim(x))),
        |                x -> x <> '') AS ln
        |  FROM mdocs),
        |lbase AS (
        |  SELECT doc_id, len(ln) AS n, len(list_distinct(ln)) AS d,
        |    coalesce(list_sum(list_transform(ln, x -> len(x))), 0) AS tot_chars,
        |    len(list_filter(ln, x -> regexp_matches(x, '^[-*•]'))) AS bullets,
        |    len(list_filter(ln, x -> regexp_matches(x, '(\.\.\.|…)$'))) AS ells
        |  FROM llines),
        |lcnt AS (
        |  SELECT doc_id, line, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(ln) AS line FROM llines) u GROUP BY 1, 2),
        |ldup AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN cnt >= 2 THEN cnt * len(line) ELSE 0 END) AS dup_chars
        |  FROM lcnt GROUP BY 1),
        |lfr AS (
        |  SELECT b.doc_id,
        |    CAST(b.n AS BIGINT) AS n_lines, CAST(b.d AS BIGINT) AS n_distinct_lines,
        |    CASE WHEN b.n > 0 THEN round((b.n - b.d) / b.n, 6) ELSE 0.0 END AS dup_line_fraction,
        |    CASE WHEN b.tot_chars > 0 THEN round(coalesce(dp.dup_chars, 0) / b.tot_chars, 6)
        |         ELSE 0.0 END AS dup_line_char_fraction,
        |    CASE WHEN b.n > 0 THEN round(b.bullets / b.n, 6) ELSE 0.0 END AS bullet_line_fraction,
        |    CASE WHEN b.n > 0 THEN round(b.ells / b.n, 6) ELSE 0.0 END AS ellipsis_line_fraction
        |  FROM lbase b LEFT JOIN ldup dp USING (doc_id))""".stripMargin
    val linePassPred =
      """dup_line_fraction <= 0.3 AND dup_line_char_fraction <= 0.2
        |    AND bullet_line_fraction <= 0.9 AND ellipsis_line_fraction <= 0.3""".stripMargin

    // footer injection over the re-lined corpus (SparkEntry.footeredDocs
    // replay) — q_line_dedup and q_curate_line_dedup share it
    // NOTE: no fragment line may START with "||" — the interpolating
    // oracle strings call stripMargin on the joined text, which would
    // eat one pipe of a leading "||"
    val footerCtes =
      """fdocs AS (
        |  SELECT doc_id, lang,
        |    text ||
        |    CASE WHEN doc_id % 2 = 0 THEN chr(10) ||
        |         CASE WHEN doc_id % 4 = 0 THEN upper('  subscribe to our newsletter  ')
        |              ELSE '  subscribe to our newsletter  ' END
        |       ELSE '' END ||
        |    CASE WHEN doc_id % 100 = 1 THEN chr(10) || 'rare footer line' ELSE '' END
        |      AS text
        |  FROM mdocs)""".stripMargin
    // the LineDedup.removeCommonLines replay over $src: per-line doc
    // frequency on the normalized (lower+trim) form, drop >= minDf
    // lines, rebuild in position order (lreb holds the surviving text)
    def lineCutCtes(src: String, minDf: Int) =
      raw"""lrows AS (
        |  SELECT doc_id, unnest(generate_series(1, len(ls))) - 1 AS pos, unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM $src) t),
        |lcom AS (
        |  SELECT n
        |  FROM (SELECT DISTINCT doc_id, lower(trim(line)) AS n
        |        FROM lrows WHERE trim(line) <> '') d
        |  GROUP BY 1 HAVING count(*) >= $minDf),
        |lkeep AS (
        |  SELECT doc_id, pos, line FROM lrows
        |  WHERE lower(trim(line)) NOT IN (SELECT n FROM lcom)),
        |lreb AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t
        |  FROM lkeep GROUP BY doc_id)""".stripMargin

    // full Gopher n-gram family oracle (q_gopher_ngrams), generated per
    // n so the Spark-side caps and the SQL stay in lockstep: ndocs =
    // the injected-repetition corpus (SparkEntry.injectedRepeats
    // replay); per top-n the max (count × gram chars); per cover-n the
    // distinct unit positions under any duplicated n-gram window,
    // summed as unit characters
    val ngramTopNs = graft.text.Repetition.TopNgramCaps.toSeq.sorted
    val ngramCovNs = graft.text.Repetition.DupNgramCaps.toSeq.sorted
    val ngramBaseCtes =
      raw"""ndocs AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0 THEN r1 || ' ' || r1 ELSE r1 END AS text
        |  FROM (
        |    SELECT doc_id, lang,
        |      CASE WHEN doc_id % 3 = 0
        |           THEN text || ' ' || array_to_string((string_split(text, ' '))[1:12], ' ')
        |           ELSE text END AS r1
        |    FROM documents) s0),
        |ntk AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split_regex(lower(text), '\s+'), x -> trim(x)), x -> x <> '') AS tk
        |  FROM ndocs),
        |nbase AS (
        |  SELECT doc_id, text, len(tk) AS t,
        |    coalesce(list_sum(list_transform(tk, x -> len(x))), 0) AS tot_chars
        |  FROM ntk),
        |nunits AS (
        |  SELECT doc_id, unnest(generate_series(1, len(tk))) - 1 AS upos,
        |    unnest(list_transform(tk, x -> len(x))) AS ulen
        |  FROM ntk WHERE len(tk) >= 1)""".stripMargin
    def ngramTopCte(n: Int) =
      raw"""tg$n AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${n - 1}),
        |    i -> array_to_string(tk[i:i+${n - 1}], ' '))) AS gram
        |  FROM ntk WHERE len(tk) >= $n),
        |tc$n AS (
        |  SELECT doc_id, max(cnt * len(gram)) AS best
        |  FROM (SELECT doc_id, gram, count(*) AS cnt FROM tg$n GROUP BY 1, 2)
        |  GROUP BY doc_id)""".stripMargin
    def ngramCovCte(n: Int) =
      raw"""cg$n AS (
        |  SELECT doc_id, unnest(generate_series(1, len(tk) - ${n - 1})) - 1 AS pos,
        |    unnest(list_transform(generate_series(1, len(tk) - ${n - 1}),
        |      i -> array_to_string(tk[i:i+${n - 1}], ' '))) AS gram
        |  FROM ntk WHERE len(tk) >= $n),
        |cd$n AS (
        |  SELECT g.doc_id, g.pos FROM cg$n g
        |  JOIN (SELECT doc_id, gram FROM cg$n GROUP BY doc_id, gram HAVING count(*) >= 2) d
        |    USING (doc_id, gram)),
        |cc$n AS (
        |  SELECT DISTINCT d.doc_id, d.pos + o.off AS upos
        |  FROM cd$n d CROSS JOIN (SELECT unnest(generate_series(0, ${n - 1})) AS off) o),
        |ch$n AS (
        |  SELECT u.doc_id, sum(u.ulen) AS cov FROM nunits u
        |  JOIN cc$n c ON c.doc_id = u.doc_id AND c.upos = u.upos GROUP BY 1)""".stripMargin
    val ngramSigSelect =
      (ngramTopNs.map { case (n, _) =>
        s"    round(coalesce(tc$n.best, 0) / greatest(len(b.text), 1), 6) AS top_${n}gram_char_fraction"
      } ++ ngramCovNs.map { case (n, _) =>
        s"    CASE WHEN b.tot_chars > 0 AND b.t >= $n THEN round(coalesce(ch$n.cov, 0) / b.tot_chars, 6) ELSE 0.0 END AS dup_${n}gram_char_fraction"
      }).mkString(",\n")
    val ngramJoins =
      (ngramTopNs.map { case (n, _) => s"  LEFT JOIN tc$n USING (doc_id)" } ++
        ngramCovNs.map { case (n, _) => s"  LEFT JOIN ch$n USING (doc_id)" }).mkString("\n")
    val ngramFlagSelect =
      (ngramTopNs.map { case (n, cap) =>
        s"  CAST(CASE WHEN top_${n}gram_char_fraction <= $cap THEN 1 ELSE 0 END AS BIGINT) AS top_${n}gram_ok"
      } ++ ngramCovNs.map { case (n, cap) =>
        s"  CAST(CASE WHEN dup_${n}gram_char_fraction <= $cap THEN 1 ELSE 0 END AS BIGINT) AS dup_${n}gram_ok"
      }).mkString(",\n")
    val ngramPassPred =
      (ngramTopNs.map { case (n, cap) => s"top_${n}gram_char_fraction <= $cap" } ++
        ngramCovNs.map { case (n, cap) => s"dup_${n}gram_char_fraction <= $cap" })
        .mkString(" AND ")
    val ngramFracCols =
      (ngramTopNs.map { case (n, _) => s"top_${n}gram_char_fraction" } ++
        ngramCovNs.map { case (n, _) => s"dup_${n}gram_char_fraction" }).mkString(", ")
    // the full prefix (injection + per-n CTEs + fraction projection) —
    // q_gopher_ngrams and q_curate_gopher_ngrams share it verbatim
    val ngramSigCtes =
      s"""$ngramBaseCtes,
         |${(ngramTopNs.map(p => ngramTopCte(p._1)) ++
              ngramCovNs.map(p => ngramCovCte(p._1))).mkString(",\n")},
         |nsig AS (
         |  SELECT b.doc_id,
         |$ngramSigSelect
         |  FROM nbase b
         |$ngramJoins)""".stripMargin

    // THE q_curate stage chain in two shared pieces — the dedup head
    // (corpus split + normalized dedup of $src) and the tail (6-gram
    // eval flagging + token floor over a given docs table) — so a
    // mid-chain text mutation (q_curate_line_dedup's line cut) can sit
    // between them. q_curate / q_curate_gopher / q_curate_gopher_lines
    // / q_curate_gopher_ngrams interpolate the joined form; the final
    // two-residue sample predicate is shared alongside
    def curateDedupCtes(src: String) =
      raw"""corpus AS (
        |  SELECT doc_id, text, lang FROM $src WHERE doc_id % 20 <> 0),
        |normed AS (
        |  SELECT doc_id, text, lang,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM corpus),
        |dedup AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        |    FROM normed) WHERE rn = 1)""".stripMargin
    // decontamination tail: corpus grams from $docsTbl (the possibly
    // rebuilt post-dedup corpus), eval grams from $evalSrc's %20==0
    // slice. (Equivalent to flagging over the RAW corpus: a dropped
    // duplicate's flag never reaches `clean`, which filters $docsTbl.)
    def curateTailCtes(docsTbl: String, evalSrc: String) =
      raw"""toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
        |  FROM (SELECT doc_id, text FROM $docsTbl
        |        UNION ALL
        |        SELECT doc_id, text FROM $evalSrc WHERE doc_id % 20 = 0) u),
        |grams AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(tk) < 6 THEN [array_to_string(tk, ' ')]
        |         ELSE list_transform(generate_series(1, len(tk) - 5), i -> array_to_string(tk[i:i+5], ' '))
        |    END) AS gram
        |  FROM toks),
        |egrams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
        |flagged AS (
        |  SELECT DISTINCT doc_id FROM grams JOIN egrams USING (gram) WHERE doc_id % 20 <> 0),
        |clean AS (
        |  SELECT * FROM $docsTbl WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
        |qual AS (
        |  SELECT * FROM clean
        |  WHERE (CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END) >= 20)""".stripMargin
    def curateCtes(src: String) =
      curateDedupCtes(src) + ",\n" + curateTailCtes("dedup", src)
    val curateBaseCtes = curateCtes("documents")
    val curateSamplePred =
      """(((doc_id % 2147483647 + 2147483647) % 2147483647) * 1327217885
        |       + ((doc_id % 2147483629 + 2147483629) % 2147483629) * 1709782614)
        |      % 2147483647 / 2147483647.0 <
        |  CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 0.1 END""".stripMargin

    // shared next-fit packing walk (Sampling.packSequences replay at
    // maxTokens=500, chunkDocs=128): a recursive CTE carries
    // (sequence, offset, run) through each id-chunk in doc_id order —
    // the same greedy recurrence the Spark-side linear `aggregate`
    // runs, including the chunk restart and the oversize-doc-alone
    // branch. q_pack_sequences reads the assignment; q_pack_texts
    // assembles the contexts from it — one definition keeps the
    // parameters in lockstep
    val packCtes =
      """WITH RECURSIVE pdocs AS (
        |  SELECT doc_id, n_chars, doc_id // 128 AS chunk,
        |    row_number() OVER (PARTITION BY doc_id // 128 ORDER BY doc_id) AS rn
        |  FROM documents),
        |prec AS (
        |  SELECT chunk, rn, doc_id, n_chars,
        |    0::BIGINT AS seq_local, 0::BIGINT AS seq_offset, n_chars::BIGINT AS run
        |  FROM pdocs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.chunk, d.rn, d.doc_id, d.n_chars,
        |    CASE WHEN r.run + d.n_chars > 500 THEN r.seq_local + 1 ELSE r.seq_local END,
        |    CASE WHEN r.run + d.n_chars > 500 THEN 0 ELSE r.run END,
        |    CASE WHEN r.run + d.n_chars > 500 THEN d.n_chars ELSE r.run + d.n_chars END
        |  FROM prec r JOIN pdocs d ON d.chunk = r.chunk AND d.rn = r.rn + 1),
        |passign AS (
        |  SELECT doc_id, n_chars, chunk * 128 + seq_local AS seq_id, seq_offset
        |  FROM prec)""".stripMargin

    Map(
      "q_agg_pricing" ->
        """SELECT l_returnflag, l_linestatus,
          |  round(sum(l_quantity), 2) AS sum_qty,
          |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
          |  round(avg(l_discount), 6) AS avg_disc,
          |  count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
      "q_lead_edges" ->
        """SELECT user_id, src, dst FROM (
          |  SELECT user_id, event_id AS src,
          |    lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
          |  FROM events) WHERE dst IS NOT NULL""".stripMargin,
      "q_lead_edges_chunked" ->
        """SELECT user_id, src, dst FROM (
          |  SELECT user_id, event_id AS src,
          |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS dst
          |  FROM events) WHERE dst IS NOT NULL""".stripMargin,
      "q_cumulative" ->
        """SELECT event_id, user_id,
          |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
          |FROM events""".stripMargin,
      "q_cumulative_chunked" ->
        """SELECT event_id, user_id,
          |  round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
          |FROM events""".stripMargin,
      "q_transitions" ->
        """SELECT user_id, order_index,
          |  round(gap_seconds, 6) AS gap_seconds,
          |  round(to_value - from_value, 6) AS delta_value
          |FROM (
          |  SELECT user_id, ts AS from_ts, value AS from_value,
          |    lead(ts) OVER w AS to_ts, lead(value) OVER w AS to_value,
          |    row_number() OVER w AS order_index,
          |    epoch(lead(ts) OVER w) - epoch(ts) AS gap_seconds
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |WHERE to_ts IS NOT NULL AND gap_seconds <= 600""".stripMargin,
      "q_minmax_sessions" ->
        """SELECT user_id, round(min(value), 6) AS min_value,
          |  round(max(value), 6) AS max_value,
          |  min(ts) AS first_ts, max(ts) AS last_ts, count(*) AS n_events
          |FROM events GROUP BY user_id""".stripMargin,
      "q_stats_profile" ->
        """WITH base AS (
          |  SELECT l_returnflag,
          |    round(avg(l_quantity), 6) AS l_quantity_mean,
          |    round(quantile_cont(l_quantity, 0.5), 6) AS l_quantity_median,
          |    round(stddev_samp(l_quantity), 6) AS l_quantity_std,
          |    round(min(l_quantity), 6) AS l_quantity_min,
          |    round(max(l_quantity), 6) AS l_quantity_max,
          |    round(avg(l_extendedprice), 6) AS l_extendedprice_mean,
          |    round(quantile_cont(l_extendedprice, 0.5), 6) AS l_extendedprice_median,
          |    round(stddev_samp(l_extendedprice), 6) AS l_extendedprice_std,
          |    round(min(l_extendedprice), 6) AS l_extendedprice_min,
          |    round(max(l_extendedprice), 6) AS l_extendedprice_max,
          |    count(DISTINCT l_orderkey) AS n_sources,
          |    round(avg(l_discount), 6) AS centroid_l_discount,
          |    round(avg(l_tax), 6) AS centroid_l_tax,
          |    count(*) AS n_rows
          |  FROM lineitem GROUP BY l_returnflag),
          |modes AS (
          |  SELECT l_returnflag, l_linestatus AS l_linestatus_mode FROM (
          |    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
          |      row_number() OVER (PARTITION BY l_returnflag ORDER BY count(*) DESC, l_linestatus ASC) AS rn
          |    FROM lineitem GROUP BY l_returnflag, l_linestatus) WHERE rn = 1)
          |SELECT base.*, modes.l_linestatus_mode FROM base JOIN modes USING (l_returnflag)""".stripMargin,
      "q_missing_pct" ->
        """WITH src AS (
          |  SELECT event_id,
          |    CASE WHEN value < 1.0 THEN NULL ELSE value END AS value_n,
          |    nullif(event_type, 'error') AS etype_n
          |  FROM events)
          |SELECT 'value_n' AS column_name, round(avg(CASE WHEN value_n IS NULL THEN 1.0 ELSE 0.0 END) * 100, 6) AS missing_pct FROM src
          |UNION ALL
          |SELECT 'etype_n', round(avg(CASE WHEN etype_n IS NULL THEN 1.0 ELSE 0.0 END) * 100, 6) FROM src
          |UNION ALL
          |SELECT 'event_id', round(avg(CASE WHEN event_id IS NULL THEN 1.0 ELSE 0.0 END) * 100, 6) FROM src""".stripMargin,
      "q_impute_median" ->
        """SELECT event_id,
          |  round(coalesce(value_n,
          |    median(value_n) OVER (PARTITION BY event_type),
          |    median(value_n) OVER ()), 6) AS value_imputed
          |FROM (
          |  SELECT event_id, event_type,
          |    CASE WHEN value < 1.0 THEN NULL ELSE value END AS value_n
          |  FROM events)""".stripMargin,
      "q_impute_mode" ->
        """WITH src AS (
          |  SELECT event_id, user_id, nullif(event_type, 'error') AS etype_n FROM events),
          |counted AS (
          |  SELECT user_id, etype_n AS v, count(*) AS cnt FROM src
          |  WHERE etype_n IS NOT NULL GROUP BY user_id, etype_n),
          |grp AS (
          |  SELECT user_id, v AS grp_mode FROM (
          |    SELECT user_id, v, row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, v ASC) AS rn
          |    FROM counted) WHERE rn = 1),
          |gmode AS (
          |  SELECT etype_n AS glob_mode FROM src WHERE etype_n IS NOT NULL
          |  GROUP BY etype_n ORDER BY count(*) DESC, etype_n ASC LIMIT 1)
          |SELECT event_id, coalesce(etype_n, grp_mode, glob_mode) AS etype_imputed
          |FROM src LEFT JOIN grp USING (user_id) LEFT JOIN gmode ON true""".stripMargin,
      "q_hotspot_cells" ->
        """SELECT cell, count(DISTINCT user_id) AS n_sessions
          |FROM (SELECT user_id, CAST(floor(value / 5.0) AS BIGINT) AS cell FROM events)
          |GROUP BY cell HAVING count(DISTINCT user_id) >= 20""".stripMargin,
      "q_hottest_session" ->
        """WITH hot AS (
          |  SELECT cell FROM (SELECT CAST(floor(value / 5.0) AS BIGINT) AS cell, user_id FROM events)
          |  GROUP BY cell HAVING count(DISTINCT user_id) >= 20)
          |SELECT user_id, count(*) AS hot_points
          |FROM (SELECT user_id, CAST(floor(value / 5.0) AS BIGINT) AS cell FROM events) e
          |WHERE cell IN (SELECT cell FROM hot)
          |GROUP BY user_id ORDER BY hot_points DESC, user_id ASC LIMIT 1""".stripMargin,
      "q_coverage" ->
        """SELECT DISTINCT least(cell, next_cell) AS cell_a, greatest(cell, next_cell) AS cell_b
          |FROM (
          |  SELECT user_id, CAST(floor(value / 5.0) AS BIGINT) AS cell,
          |    lead(CAST(floor(value / 5.0) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_cell
          |  FROM events)
          |WHERE next_cell IS NOT NULL AND next_cell <> cell""".stripMargin,
      "q_segment_chars" ->
        """SELECT user_id,
          |  round(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END), 6) AS total_ascent,
          |  round(sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END), 6) AS total_descent,
          |  round(sum(abs(delta)), 6) AS total_variation,
          |  round(max(delta), 6) AS max_delta,
          |  count(*) AS n_pairs
          |FROM (
          |  SELECT user_id,
          |    lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - value AS delta
          |  FROM events)
          |WHERE delta IS NOT NULL GROUP BY user_id""".stripMargin,
      "q_topk_ties" ->
        """WITH counted AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type)
          |SELECT event_type, cnt FROM counted WHERE cnt = (SELECT max(cnt) FROM counted)""".stripMargin,
      "q_grid_hour_join" ->
        """WITH ev AS (SELECT event_id, date_trunc('hour', ts) AS hour, value FROM events),
          |dim AS (SELECT hour, round(avg(value), 6) AS hour_avg FROM ev GROUP BY hour)
          |SELECT ev.event_id, ev.hour, dim.hour_avg FROM ev JOIN dim USING (hour)""".stripMargin,
      "q_proximity_pairs" ->
        """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
          |  round(abs(a.s_acctbal - b.s_acctbal), 6) AS dist
          |FROM supplier a JOIN supplier b
          |  ON a.s_suppkey < b.s_suppkey AND abs(a.s_acctbal - b.s_acctbal) <= 50.0""".stripMargin,
      "q_semi_join" ->
        """SELECT o_orderkey FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,
      "q_anti_resume" ->
        """SELECT o_orderkey FROM orders
          |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,
      "q_haversine_coverage" ->
        """WITH pts AS (
          |  SELECT user_id, ts, event_id,
          |    (((value * 7.0) % 120.0 + 120.0) % 120.0) - 60.0 AS lat,
          |    (((value * 13.0) % 300.0 + 300.0) % 300.0) - 150.0 AS lon
          |  FROM events),
          |pairs AS (
          |  SELECT user_id, lat, lon,
          |    lead(lat) OVER w AS lat2, lead(lon) OVER w AS lon2
          |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |SELECT user_id,
          |  round(sum(2.0 * 6371000.0 * atan2(
          |    sqrt(pow(sin(radians(lat2 - lat) / 2), 2)
          |      + cos(radians(lat)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon) / 2), 2)),
          |    sqrt(1.0 - (pow(sin(radians(lat2 - lat) / 2), 2)
          |      + cos(radians(lat)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon) / 2), 2)))
          |  )) / 1000.0, 3) AS coverage_km
          |FROM pairs WHERE lat2 IS NOT NULL GROUP BY user_id""".stripMargin,
      "q_dedup_exact" ->
        """SELECT doc_id FROM (
          |  SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          |  FROM documents) WHERE rn = 1""".stripMargin,
      "q_dedup_norm" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, upper(text) FROM documents WHERE doc_id % 3 = 0),
          |normed AS (
          |  SELECT doc_id,
          |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS norm
          |  FROM corpus)
          |SELECT doc_id FROM (
          |  SELECT doc_id, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
          |  FROM normed) WHERE rn = 1""".stripMargin,
      // replays Dedup.wordShingles string-for-string: lowercase,
      // whitespace-split, 3-token windows (short docs contribute their
      // whole token sequence); eval slice = doc_id % 20 == 0
      "q_decontam" ->
        """WITH toks AS (
          |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
          |  FROM documents),
          |grams AS (
          |  SELECT doc_id, unnest(
          |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
          |         ELSE list_transform(generate_series(1, len(tk) - 2), i -> array_to_string(tk[i:i+2], ' '))
          |    END) AS gram
          |  FROM toks),
          |egrams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
          |cgrams AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 20 <> 0)
          |SELECT doc_id, count(*) AS n_shared_grams
          |FROM cgrams JOIN egrams USING (gram) GROUP BY doc_id""".stripMargin,
      // the surviving (uncontaminated) corpus ids: same shingle replay,
      // anti-joined
      "q_decontam_clean" ->
        """WITH toks AS (
          |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
          |  FROM documents),
          |grams AS (
          |  SELECT doc_id, unnest(
          |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
          |         ELSE list_transform(generate_series(1, len(tk) - 2), i -> array_to_string(tk[i:i+2], ' '))
          |    END) AS gram
          |  FROM toks),
          |egrams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
          |flagged AS (
          |  SELECT DISTINCT doc_id FROM grams JOIN egrams USING (gram) WHERE doc_id % 20 <> 0)
          |SELECT doc_id FROM documents
          |WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin,
      "q_decontam_matrix" ->
        """WITH toks AS (
          |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
          |  FROM documents),
          |grams AS (
          |  SELECT doc_id, unnest(
          |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
          |         ELSE list_transform(generate_series(1, len(tk) - 2), i -> array_to_string(tk[i:i+2], ' '))
          |    END) AS gram
          |  FROM toks),
          |egrams AS (SELECT DISTINCT doc_id AS eval_doc_id, gram FROM grams WHERE doc_id % 20 = 0),
          |cgrams AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 20 <> 0)
          |SELECT c.doc_id, e.eval_doc_id, count(*) AS n_shared_grams
          |FROM cgrams c JOIN egrams e USING (gram) GROUP BY 1, 2""".stripMargin,
      // position-indexed 6-gram windows (0-based start, repeats kept),
      // df >= 2 distinct docs, merged per doc where the next start is
      // <= previous + 6 (overlapping-or-adjacent window cover)
      "q_span_dedup" ->
        s"""$spanCtes
           |SELECT doc_id, min(pos) AS span_start, max(pos) + 5 AS span_end,
           |  count(*) AS n_dup_grams
           |FROM isl GROUP BY doc_id, isl""".stripMargin,
      "q_span_stats" ->
        s"""$spanCtes,
           |spans AS (
           |  SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e, count(*) AS g
           |  FROM isl GROUP BY doc_id, isl),
           |per_doc AS (
           |  SELECT doc_id, count(*) AS n_spans,
           |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
           |  FROM spans GROUP BY doc_id)
           |SELECT d.doc_id, p.n_spans, p.dup_tokens,
           |  CAST(CASE WHEN len(trim(d.text)) = 0 THEN 0
           |       ELSE len(string_split_regex(trim(d.text), '\\s+')) END AS BIGINT) AS total_tokens,
           |  round(p.dup_tokens / (CASE WHEN len(trim(d.text)) = 0 THEN 0
           |       ELSE len(string_split_regex(trim(d.text), '\\s+')) END), 6) AS dup_fraction
           |FROM documents d JOIN per_doc p USING (doc_id)""".stripMargin,
      // span surgery replayed from the same span CTEs: docs with spans
      // are rebuilt from their ORIGINAL-case whitespace tokens minus
      // the covered positions (string_agg ordered by position, empty
      // string when everything is covered); span-free docs pass
      // through byte-identical
      "q_span_removed" ->
        s"""$spanCtes,
           |spans AS (
           |  SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e FROM isl GROUP BY doc_id, isl),
           |tk0 AS (
           |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
           |  FROM documents),
           |tokp AS (
           |  SELECT doc_id, unnest(generate_series(1, len(tk))) - 1 AS pos,
           |    unnest(tk) AS w
           |  FROM tk0),
           |kept AS (
           |  SELECT t.doc_id, t.pos, t.w FROM tokp t
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.s AND s.e)),
           |rebuilt AS (
           |  SELECT sd.doc_id, coalesce(k.txt, '') AS text
           |  FROM (SELECT DISTINCT doc_id FROM spans) sd
           |  LEFT JOIN (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS txt
           |             FROM kept GROUP BY doc_id) k USING (doc_id))
           |SELECT d.doc_id, coalesce(r.text, d.text) AS text
           |FROM documents d LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
      // capped clusters over the per-source id-order chain graph:
      // components are whole sources, so the label is the (rank-1)//8
      // run-leader within the source's id order
      "q_neardup_capped" ->
        """WITH rn AS (
          |  SELECT doc_id, source,
          |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          |  FROM documents)
          |SELECT doc_id,
          |  min(doc_id) OVER (PARTITION BY source, (rn - 1) // 8) AS cluster_id
          |FROM rn""".stripMargin,
      "q_curate_lsh_guard" ->
        """SELECT 'lsh_survivors_contain_exact' AS check_name, true AS ok
          |UNION ALL SELECT 'lsh_removal_recall_ge_floor', true""".stripMargin,
      // the whole curation chain replayed stage-for-stage: the dedup
      // window, the gram flagging, the token floor, and the
      // golden-ratio sample are the SAME SQL fragments the standalone
      // stage oracles use
      "q_curate" ->
        s"""WITH $curateBaseCtes
           |SELECT doc_id, lang FROM qual
           |WHERE $curateSamplePred""".stripMargin,
      // q_curate's chain with the Gopher repetition-rule stage fused
      // into the quality filter: the pass set is the shared sig CTEs'
      // conjunction (same thresholds as q_gopher_filter), intersected
      // before the sample predicate
      "q_curate_gopher" ->
        s"""$repCtes,
           |$gopherSigCtes,
           |gpass AS (SELECT doc_id FROM sig WHERE $gopherPassPred),
           |$curateBaseCtes
           |SELECT doc_id, lang FROM qual
           |WHERE doc_id IN (SELECT doc_id FROM gpass)
           |  AND $curateSamplePred""".stripMargin,
      // the near-dup curation chain replayed stage-for-stage: the clip
      // corpus, the dedup window, the exact-Jaccard dominated set
      // (q_neardup_survivors' replay), the 6-gram flagging, the
      // composite quality floor (q_text_stats' score expression), and
      // the two-residue sample
      "q_curate_neardup" -> {
        val stopHits = hits(markers.flatMap(_._2))
        s"""WITH corpus AS (
           |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 20 <> 0
           |  UNION ALL
           |  SELECT doc_id + 200000 AS doc_id,
           |    array_to_string(w[1:greatest(len(w) - 3, 1)], ' ') AS text, lang
           |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
           |        WHERE doc_id % 4 = 0 AND doc_id % 20 <> 0)),
           |normed AS (
           |  SELECT doc_id, text, lang,
           |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')) AS norm
           |  FROM corpus),
           |dedup AS (
           |  SELECT doc_id, text, lang FROM (
           |    SELECT doc_id, text, lang, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
           |    FROM normed) WHERE rn = 1),
           |sh AS (
           |  SELECT doc_id,
           |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           |         ELSE list_distinct(list_transform(range(1, len(w) - 1),
           |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
           |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
           |        FROM dedup)),
           |nd AS (
           |  SELECT * FROM dedup WHERE doc_id NOT IN (
           |    SELECT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
           |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6)),
           |ctoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk FROM nd),
           |cgrams AS (
           |  SELECT doc_id, unnest(
           |    CASE WHEN len(tk) < 6 THEN [array_to_string(tk, ' ')]
           |         ELSE list_transform(generate_series(1, len(tk) - 5), i -> array_to_string(tk[i:i+5], ' '))
           |    END) AS gram
           |  FROM ctoks),
           |etoks AS (SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk
           |          FROM documents WHERE doc_id % 20 = 0),
           |egrams0 AS (
           |  SELECT unnest(
           |    CASE WHEN len(tk) < 6 THEN [array_to_string(tk, ' ')]
           |         ELSE list_transform(generate_series(1, len(tk) - 5), i -> array_to_string(tk[i:i+5], ' '))
           |    END) AS gram
           |  FROM etoks),
           |egrams AS (SELECT DISTINCT gram FROM egrams0),
           |flagged AS (SELECT DISTINCT doc_id FROM cgrams JOIN egrams USING (gram)),
           |clean AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
           |qual AS (
           |  SELECT doc_id, lang FROM (
           |    SELECT doc_id, lang, text,
           |      CASE WHEN len(trim(text)) = 0 THEN 0
           |           ELSE len(string_split_regex(trim(text), '\\s+')) END AS token_count
           |    FROM clean)
           |  WHERE round(
           |      (CASE WHEN len(text) < 20 THEN len(text) / 20.0 WHEN len(text) > 2000 THEN 0.5 ELSE 1.0 END) * 0.3
           |      + (CASE WHEN len(text) > 0 THEN len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0 / len(text) ELSE 0.0 END) * 0.4
           |      + (CASE WHEN token_count > 0 THEN least($stopHits * 1.0 / token_count * 4.0, 1.0) ELSE 0.0 END) * 0.3
           |    , 6) >= 0.75)
           |SELECT doc_id, lang FROM qual
           |WHERE (((doc_id % 2147483647 + 2147483647) % 2147483647) * 1327217885
           |       + ((doc_id % 2147483629 + 2147483629) % 2147483629) * 1709782614)
           |      % 2147483647 / 2147483647.0 <
           |  CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 0.1 END""".stripMargin
      },
      // two-residue golden/silver id-hash replayed digit-for-digit
      // (exact 64-bit integer arithmetic in both engines — the largest
      // intermediate ~6.5e18 < 2^63; the division is IEEE double of an
      // exactly-representable < 2^31 integer). The double-% folds
      // DuckDB's signed remainder to Spark's pmod so negative ids agree
      // too.
      "q_sample_stratified" ->
        """SELECT doc_id, lang FROM documents
          |WHERE (((doc_id % 2147483647 + 2147483647) % 2147483647) * 1327217885
          |       + ((doc_id % 2147483629 + 2147483629) % 2147483629) * 1709782614)
          |      % 2147483647 / 2147483647.0 <
          |  CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 0.1 END""".stripMargin,
      "q_token_budget" ->
        """SELECT doc_id, source, n_chars FROM (
          |  SELECT doc_id, source, n_chars,
          |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ASC
          |      ROWS UNBOUNDED PRECEDING) AS running
          |  FROM documents)
          |WHERE running <= 4000""".stripMargin,
      "q_pack_sequences" ->
        s"""$packCtes
           |SELECT doc_id, n_chars, seq_id, seq_offset FROM passign""".stripMargin,
      // string_agg replays concat_ws over the same walk; (seq_offset,
      // doc_id) ordering matches the Spark-side array_sort tie-break
      "q_pack_texts" ->
        s"""$packCtes
           |SELECT seq_id,
           |  string_agg(text, ' ' ORDER BY seq_offset, doc_id) AS seq_text,
           |  count(*) AS n_docs
           |FROM passign JOIN documents USING (doc_id)
           |GROUP BY seq_id""".stripMargin,
      // floor(factor) copies + the two-residue coin gating the
      // fractional extra; generate_series(0, copies-1) unnests to
      // nothing for copies = 0, dropping the row like the Spark filter
      "q_upsample" ->
        """SELECT doc_id, lang, copy_idx FROM (
          |  SELECT doc_id, lang, unnest(generate_series(0, copies - 1)) AS copy_idx FROM (
          |    SELECT doc_id, lang,
          |      CAST(floor(f) AS BIGINT)
          |        + CASE WHEN u < f - floor(f) THEN 1 ELSE 0 END AS copies
          |    FROM (
          |      SELECT doc_id, lang,
          |        (((doc_id % 2147483647 + 2147483647) % 2147483647) * 1327217885
          |         + ((doc_id % 2147483629 + 2147483629) % 2147483629) * 1709782614)
          |        % 2147483647 / 2147483647.0 AS u,
          |        CASE lang WHEN 'en' THEN 2.5 WHEN 'zh' THEN 0.5 ELSE 1.0 END AS f
          |      FROM documents)))""".stripMargin,
      // the end-to-end mix: the recursive-CTE packing walk of
      // q_pack_sequences, but ordered by the replayed shuffle rank
      // instead of doc_id — chunks are runs of the training order
      "q_mix_contexts" ->
        """WITH RECURSIVE spos AS (
          |  SELECT text, n_chars, row_number() OVER (ORDER BY u, doc_id) - 1 AS pos FROM (
          |    SELECT doc_id, text, n_chars,
          |      (((doc_id % 2147483647 + 2147483647) % 2147483647) * 1327217885
          |       + ((doc_id % 2147483629 + 2147483629) % 2147483629) * 1709782614)
          |      % 2147483647 / 2147483647.0 AS u
          |    FROM documents)),
          |mdocs AS (
          |  SELECT pos, text, n_chars, pos // 128 AS chunk,
          |    row_number() OVER (PARTITION BY pos // 128 ORDER BY pos) AS rn
          |  FROM spos),
          |mrec AS (
          |  SELECT chunk, rn, pos, text, n_chars,
          |    0::BIGINT AS seq_local, 0::BIGINT AS seq_offset, n_chars::BIGINT AS run
          |  FROM mdocs WHERE rn = 1
          |  UNION ALL
          |  SELECT d.chunk, d.rn, d.pos, d.text, d.n_chars,
          |    CASE WHEN r.run + d.n_chars > 500 THEN r.seq_local + 1 ELSE r.seq_local END,
          |    CASE WHEN r.run + d.n_chars > 500 THEN 0 ELSE r.run END,
          |    CASE WHEN r.run + d.n_chars > 500 THEN d.n_chars ELSE r.run + d.n_chars END
          |  FROM mrec r JOIN mdocs d ON d.chunk = r.chunk AND d.rn = r.rn + 1)
          |SELECT chunk * 128 + seq_local AS seq_id,
          |  string_agg(text, ' ' ORDER BY seq_offset, pos) AS seq_text,
          |  count(*) AS n_docs
          |FROM mrec
          |GROUP BY 1""".stripMargin,
      // the bucketed two-phase rank collapses to one global row_number
      // in the oracle — same two-residue coin (replayed digit-for-digit,
      // see q_sample_stratified), ties broken by id
      "q_shuffle_positions" ->
        """SELECT doc_id, row_number() OVER (ORDER BY u, doc_id) - 1 AS shuffle_pos FROM (
          |  SELECT doc_id,
          |    (((doc_id % 2147483647 + 2147483647) % 2147483647) * 1327217885
          |     + ((doc_id % 2147483629 + 2147483629) % 2147483629) * 1709782614)
          |    % 2147483647 / 2147483647.0 AS u
          |  FROM documents)""".stripMargin,
      "q_cosine_pairs" ->
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.25""".stripMargin,
      "q_ann_topk" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE label = 0 ORDER BY vec_id LIMIT 20),
          |scored AS (
          |  SELECT q.query_id, e.vec_id AS neighbor_id,
          |    round(list_cosine_similarity(q.q_vec::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
          |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
          |SELECT query_id, neighbor_id, cosine, rank FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          |  FROM scored) WHERE rank <= 5""".stripMargin,
      // multi-probe SRP-LSH has measured recall 1.0 on both driver
      // corpora (tools/ApproxParityProbe at commit 5b261a9: output ==
      // brute force at sf0.01 AND sf0.1), so it carries the same
      // brute-force oracle — a recall regression turns the row red
      // instead of hiding behind no_oracle
      "q_ann_lsh" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE label = 0 ORDER BY vec_id LIMIT 20),
          |scored AS (
          |  SELECT q.query_id, e.vec_id AS neighbor_id,
          |    round(list_cosine_similarity(q.q_vec::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
          |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
          |SELECT query_id, neighbor_id, cosine, rank FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
          |  FROM scored) WHERE rank <= 5""".stripMargin,
      "q_minhash_precision" ->
        """SELECT doc_id AS id_a, doc_id AS id_b FROM documents WHERE false""",
      "q_cosine_approx_precision" ->
        """SELECT vec_id AS id_a, vec_id AS id_b FROM embeddings WHERE false""",
      "q_semdedup_precision" ->
        """SELECT vec_id AS id_a, vec_id AS id_b FROM embeddings WHERE false""",
      "q_simhash_recall_guard" ->
        """SELECT doc_id AS id_a, doc_id AS id_b FROM documents WHERE false""",
      "q_minhash_recall_guard" ->
        """SELECT doc_id AS id_a, doc_id AS id_b FROM documents WHERE false""",
      "q_nn_enrich" ->
        """WITH dim AS (SELECT event_type, round(avg(value), 6) AS type_avg FROM events GROUP BY event_type),
          |facts AS (SELECT s_suppkey, abs(s_acctbal) % 20.0 AS probe FROM supplier)
          |SELECT s_suppkey, event_type, round(abs(probe - type_avg), 6) AS nn_dist FROM (
          |  SELECT f.s_suppkey, d.event_type, f.probe, d.type_avg,
          |    row_number() OVER (PARTITION BY f.s_suppkey
          |      ORDER BY abs(f.probe - d.type_avg) ASC, d.event_type ASC) AS rn
          |  FROM facts f CROSS JOIN dim d) WHERE rn = 1""".stripMargin,
      "q_bfs_distances" ->
        """WITH RECURSIVE pairs AS (
          |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
          |  FROM supplier a JOIN supplier b
          |    ON a.s_suppkey < b.s_suppkey AND abs(a.s_acctbal - b.s_acctbal) <= 400.0),
          |adj AS (
          |  SELECT src AS a, dst AS b FROM pairs WHERE src <> dst
          |  UNION SELECT dst, src FROM pairs WHERE src <> dst),
          |walk AS (
          |  SELECT (SELECT min(s_suppkey) FROM supplier) AS id, 0 AS dist
          |  UNION
          |  SELECT adj.b AS id, walk.dist + 1 AS dist
          |  FROM walk JOIN adj ON adj.a = walk.id WHERE walk.dist < 6)
          |SELECT id, min(dist) AS dist FROM walk GROUP BY id""".stripMargin,
      "q_bfs_path" ->
        """WITH RECURSIVE pairs AS (
          |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
          |  FROM supplier a JOIN supplier b
          |    ON a.s_suppkey < b.s_suppkey AND abs(a.s_acctbal - b.s_acctbal) <= 400.0),
          |adj AS (
          |  SELECT src AS a, dst AS b FROM pairs WHERE src <> dst
          |  UNION SELECT dst, src FROM pairs WHERE src <> dst),
          |walk AS (
          |  SELECT (SELECT min(s_suppkey) FROM supplier) AS id, 0 AS dist
          |  UNION
          |  SELECT adj.b AS id, walk.dist + 1 AS dist
          |  FROM walk JOIN adj ON adj.a = walk.id WHERE walk.dist < 6),
          |dists AS (SELECT id, min(dist) AS dist FROM walk GROUP BY id),
          |parents AS (
          |  SELECT v.id, min(adj.a) AS parent
          |  FROM dists v JOIN adj ON adj.b = v.id
          |  JOIN dists u ON u.id = adj.a AND u.dist = v.dist - 1
          |  GROUP BY v.id),
          |target AS (SELECT id, dist FROM dists ORDER BY dist DESC, id ASC LIMIT 1),
          |pathw AS (
          |  SELECT t.dist AS step, t.id AS id FROM target t
          |  UNION ALL
          |  SELECT pw.step - 1, p.parent FROM pathw pw JOIN parents p ON p.id = pw.id
          |  WHERE pw.step > 0)
          |SELECT step, id FROM pathw""".stripMargin,
      "q_cc_components" ->
        """WITH RECURSIVE pairs AS (
          |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
          |  FROM supplier a JOIN supplier b
          |    ON a.s_suppkey < b.s_suppkey AND abs(a.s_acctbal - b.s_acctbal) <= 400.0),
          |adj AS (
          |  SELECT src AS a, dst AS b FROM pairs WHERE src <> dst
          |  UNION SELECT dst, src FROM pairs WHERE src <> dst),
          |walk AS (
          |  SELECT a AS id, a AS reach FROM adj
          |  UNION
          |  SELECT w.id, adj.b FROM walk w JOIN adj ON adj.a = w.reach)
          |SELECT id, min(reach) AS component FROM walk GROUP BY id""".stripMargin,
      "q_union_keys" ->
        """SELECT DISTINCT key FROM (
          |  SELECT o_custkey AS key FROM orders
          |  UNION ALL SELECT c_custkey FROM customer)""".stripMargin,
      "q_interval_overlap" ->
        """WITH o AS (
          |  SELECT o_orderkey, o_orderdate, epoch(o_orderdate) AS start_d,
          |    epoch(o_orderdate) + 30.0 * 86400 AS end_d
          |  FROM orders),
          |ref AS (SELECT round(avg(start_d), 0) AS ref_s,
          |               round(avg(start_d), 0) + 45.0 * 86400 AS ref_e FROM o)
          |SELECT o_orderkey,
          |  year(o_orderdate) AS order_year, month(o_orderdate) AS order_month,
          |  round(greatest(0.0, least(end_d, ref_e) - greatest(start_d, ref_s)) / 86400.0, 6) AS overlap_days
          |FROM o, ref""".stripMargin,
      "q_schema_decisions" ->
        """WITH src AS (
          |  SELECT event_id,
          |    CASE WHEN value < 1.0 THEN NULL ELSE value END AS value_n,
          |    nullif(event_type, 'error') AS etype_n
          |  FROM events),
          |pct AS (
          |  SELECT 'value_n' AS column_name, round(avg(CASE WHEN value_n IS NULL THEN 1.0 ELSE 0.0 END) * 100, 6) AS missing_pct FROM src
          |  UNION ALL
          |  SELECT 'etype_n', round(avg(CASE WHEN etype_n IS NULL THEN 1.0 ELSE 0.0 END) * 100, 6) FROM src
          |  UNION ALL
          |  SELECT 'event_id', round(avg(CASE WHEN event_id IS NULL THEN 1.0 ELSE 0.0 END) * 100, 6) FROM src)
          |SELECT column_name, missing_pct,
          |  CASE WHEN missing_pct >= 100.0 THEN 'drop_all_missing'
          |       WHEN missing_pct > 50.0 THEN 'drop_high_missing'
          |       ELSE 'keep' END AS action
          |FROM pct""".stripMargin,
      "q_mode_agg" ->
        """SELECT user_id, event_type AS mode_type FROM (
          |  SELECT user_id, event_type,
          |    row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) AS rn
          |  FROM events GROUP BY user_id, event_type) WHERE rn = 1""".stripMargin,
      "q_json_props" ->
        """SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k_val FROM events""",
      "q_run_summary" ->
        """SELECT user_id,
          |  max(CASE WHEN rn = 1 THEN value END) AS first_value,
          |  max(CASE WHEN rn_desc = 1 THEN value END) AS last_value,
          |  round(avg(value), 6) AS avg_value
          |FROM (
          |  SELECT user_id, value,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_desc
          |  FROM events)
          |GROUP BY user_id""".stripMargin,
      "q_natural_sort" ->
        """SELECT doc_id, source, CAST(regexp_extract(source, '(\d+)', 1) AS INT) AS src_num
          |FROM documents""".stripMargin,
      "q_downsample" ->
        """SELECT user_id, event_id FROM (
          |  SELECT user_id, event_id, rn FROM (
          |    SELECT user_id, event_id,
          |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          |    FROM events)
          |  WHERE (rn - 1) % 5 = 0)
          |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY rn) <= 10""".stripMargin,
      "q_range_ref_join" ->
        """WITH ref AS (SELECT round(avg(value), 6) - 5.0 AS lo, round(avg(value), 6) + 5.0 AS hi FROM events)
          |SELECT user_id, count(*) AS n_in_range
          |FROM events, ref WHERE value >= lo AND value <= hi
          |GROUP BY user_id""".stripMargin,
      "q_jaccard_pairs" ->
        s"""WITH $clipShingleCtes
           |SELECT id_a, id_b, jaccard FROM (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    round(len(list_intersect(a.sh, b.sh)) * 1.0 /
           |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
           |WHERE jaccard >= 0.6""".stripMargin,
      "q_neardup_survivors" ->
        s"""WITH $clipShingleCtes
           |SELECT doc_id FROM sh WHERE doc_id NOT IN (
           |  SELECT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
           |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6)""".stripMargin,
      // transitive clusters of the same pair graph: recursive min-label
      // walk (q_cc_components' pattern), singletons label themselves
      "q_neardup_clusters" ->
        s"""WITH RECURSIVE $clipShingleCtes,
           |$clipPairComponentCtes
           |SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS cluster_id
           |FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id""".stripMargin,
      // quality-aware survivor policy: per transitive cluster keep the
      // argmax rounded-quality doc (tie: min id) — the rounded score is
      // the q_text_stats expression, hash-green cross-engine
      "q_neardup_best" -> {
        val stopHits = hits(markers.flatMap(_._2))
        s"""WITH RECURSIVE $clipShingleCtes,
           |$clipPairComponentCtes,
           |qual AS (
           |  SELECT doc_id,
           |    coalesce(comp.component, doc_id) AS cluster_id,
           |    round(
           |      (CASE WHEN len(text) < 20 THEN len(text) / 20.0 WHEN len(text) > 2000 THEN 0.5 ELSE 1.0 END) * 0.3
           |      + (CASE WHEN len(text) > 0 THEN len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0 / len(text) ELSE 0.0 END) * 0.4
           |      + (CASE WHEN token_count > 0 THEN least($stopHits * 1.0 / token_count * 4.0, 1.0) ELSE 0.0 END) * 0.3
           |    , 6) AS quality
           |  FROM (SELECT doc_id, text,
           |          CASE WHEN len(trim(text)) = 0 THEN 0
           |               ELSE len(string_split_regex(trim(text), '\\s+')) END AS token_count
           |        FROM corpus) c
           |  LEFT JOIN comp ON comp.id = c.doc_id)
           |SELECT doc_id FROM (
           |  SELECT doc_id, row_number() OVER (
           |    PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) AS rn
           |  FROM qual) WHERE rn = 1""".stripMargin
      },
      "q_window_match" ->
        """WITH seq AS (
          |  SELECT user_id, event_type AS tkt, CAST(floor(value / 5.0) AS BIGINT) AS tkc,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx
          |  FROM events),
          |refu AS (SELECT min(user_id) AS u FROM (
          |  SELECT user_id FROM events GROUP BY user_id HAVING count(*) >= 8)),
          |pat AS (SELECT idx AS pidx, tkt AS ptkt, tkc AS ptkc FROM seq, refu WHERE user_id = u AND idx <= 8),
          |aligned AS (
          |  SELECT s.user_id, s.idx - p.pidx + 1 AS start,
          |    (CASE WHEN s.tkt = p.ptkt THEN 1 ELSE 0 END) + (CASE WHEN s.tkc = p.ptkc THEN 1 ELSE 0 END) AS inter
          |  FROM seq s CROSS JOIN refu JOIN pat p ON s.idx - p.pidx >= 0
          |  WHERE s.user_id <> refu.u),
          |scores AS (
          |  SELECT user_id, start, round(1.0 - avg(inter / (4.0 - inter)), 6) AS score
          |  FROM aligned WHERE start >= 1
          |  GROUP BY user_id, start HAVING count(*) = 8),
          |best AS (SELECT user_id, start, score,
          |  row_number() OVER (PARTITION BY user_id ORDER BY score ASC, start ASC) AS rn FROM scores)
          |SELECT user_id, start AS start_idx, start + 7 AS end_idx, score
          |FROM best WHERE rn = 1 AND score <= 0.9""".stripMargin,
      // recursive-CTE Douglas-Peucker: `split` replays the Scala
      // operator's stack exactly — per interval, the LATERAL picks the
      // max-perpendicular-distance interior point (first index wins
      // ties, matching the strict > update), splits when d > epsilon;
      // kept points = distinct interval endpoints. The y expression
      // replicates Spark's pmod branch bit-for-bit ((x % m + m) % m
      // would round differently near 0). Dedup of endpoints uses GROUP
      // BY — DuckDB's UNION over a recursive CTE's output mis-planned
      // the distinct here.
      "q_dp_simplify" ->
        """WITH RECURSIVE pts AS (
          |  SELECT CAST(user_id AS VARCHAR) AS session,
          |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
          |    CAST(value AS DOUBLE) AS x,
          |    CASE WHEN (value*37.0) % 100.0 < 0 THEN (value*37.0) % 100.0 + 100.0
          |         ELSE (value*37.0) % 100.0 END AS y
          |  FROM events),
          |npts AS (SELECT session, max(rn) AS n FROM pts GROUP BY session),
          |split AS (
          |  SELECT session, CAST(1 AS BIGINT) AS s, CAST(n AS BIGINT) AS e FROM npts WHERE n >= 3
          |  UNION ALL
          |  SELECT sp.session,
          |         CASE WHEN half.h = 0 THEN sp.s ELSE best.rn END AS s,
          |         CASE WHEN half.h = 0 THEN best.rn ELSE sp.e END AS e
          |  FROM split sp
          |  JOIN LATERAL (
          |    SELECT p.rn,
          |      CASE WHEN (b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y) = 0
          |           THEN sqrt((p.x-a.x)*(p.x-a.x) + (p.y-a.y)*(p.y-a.y))
          |           ELSE abs((b.y-a.y)*p.x - (b.x-a.x)*p.y + b.x*a.y - b.y*a.x)
          |                / sqrt((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y)) END AS d
          |    FROM pts p, pts a, pts b
          |    WHERE p.session = sp.session AND a.session = sp.session AND b.session = sp.session
          |      AND a.rn = sp.s AND b.rn = sp.e AND p.rn > sp.s AND p.rn < sp.e
          |    ORDER BY d DESC, p.rn ASC LIMIT 1
          |  ) best ON best.d > 1.0
          |  CROSS JOIN (SELECT 0 AS h UNION ALL SELECT 1) half
          |  WHERE sp.e - sp.s >= 2),
          |kept AS (
          |  SELECT session, rn FROM (
          |    SELECT session, s AS rn FROM split UNION ALL SELECT session, e FROM split)
          |  GROUP BY session, rn),
          |big AS (
          |  SELECT k.session, CAST(n.n AS INT) AS n_in, CAST(count(*) AS INT) AS n_out
          |  FROM kept k JOIN npts n USING (session) GROUP BY k.session, n.n),
          |small AS (
          |  SELECT session, CAST(n AS INT) AS n_in, CAST(n AS INT) AS n_out FROM npts WHERE n < 3)
          |SELECT session, n_in, n_out FROM big UNION ALL SELECT session, n_in, n_out FROM small""".stripMargin,
      "q_run_explode" ->
        """WITH seq AS (
          |  SELECT user_id, event_type AS tkt, CAST(floor(value / 5.0) AS BIGINT) AS tkc,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx
          |  FROM events),
          |refu AS (SELECT min(user_id) AS u FROM (
          |  SELECT user_id FROM events GROUP BY user_id HAVING count(*) >= 8)),
          |pat AS (SELECT idx AS pidx, tkt AS ptkt, tkc AS ptkc FROM seq, refu WHERE user_id = u AND idx <= 8),
          |aligned AS (
          |  SELECT s.user_id, s.idx - p.pidx + 1 AS start,
          |    (CASE WHEN s.tkt = p.ptkt THEN 1 ELSE 0 END) + (CASE WHEN s.tkc = p.ptkc THEN 1 ELSE 0 END) AS inter
          |  FROM seq s CROSS JOIN refu JOIN pat p ON s.idx - p.pidx >= 0
          |  WHERE s.user_id <> refu.u),
          |scores AS (
          |  SELECT user_id, start, round(1.0 - avg(inter / (4.0 - inter)), 6) AS score
          |  FROM aligned WHERE start >= 1
          |  GROUP BY user_id, start HAVING count(*) = 8),
          |best AS (SELECT user_id, start, score,
          |  row_number() OVER (PARTITION BY user_id ORDER BY score ASC, start ASC) AS rn FROM scores),
          |runs AS (SELECT user_id, start AS start_idx, start + 7 AS end_idx
          |  FROM best WHERE rn = 1 AND score <= 0.9),
          |pos AS (SELECT user_id, event_id,
          |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_pos
          |  FROM events)
          |SELECT r.user_id, r.start_idx, p.turn_pos, p.event_id
          |FROM runs r JOIN pos p
          |  ON p.user_id = r.user_id AND p.turn_pos BETWEEN r.start_idx AND r.end_idx""".stripMargin,
      "q_sink_roundtrip" ->
        """SELECT 'edges' AS table_name, count(*) AS n_rows FROM (
          |  SELECT lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events)
          |WHERE dst IS NOT NULL
          |UNION ALL
          |SELECT 'vertices', count(DISTINCT event_id) FROM events""".stripMargin,
      "q_csv_roundtrip" ->
        """SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type""",
      "q_upsert_roundtrip" ->
        """WITH pairs AS (
          |  SELECT user_id, event_id AS src,
          |    lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
          |  FROM events)
          |SELECT pred, count(*) AS n_rows FROM (
          |  SELECT CASE WHEN src % 7 = 0 THEN 'backfilled' ELSE 'orig' END AS pred
          |  FROM pairs WHERE dst IS NOT NULL)
          |GROUP BY pred""".stripMargin,
      // greedy overlap-fraction dedup replayed sequentially: `walk`
      // advances one ranked candidate per recursion step and carries
      // the accepted intervals as a struct list; the accept test is a
      // list_filter lambda computing |intersection| / min(len) against
      // every accepted interval — the exact reference rule
      "q_greedy_segments" ->
        """WITH RECURSIVE iv AS (
          |  SELECT event_type AS grp, user_id AS id,
          |    CAST(floor(min(value)/5.0) AS INT) AS s,
          |    CAST(floor(max(value)/5.0) AS INT) AS e,
          |    count(*) AS w
          |  FROM events GROUP BY event_type, user_id),
          |ranked AS (
          |  SELECT grp, id, s, e, w,
          |    row_number() OVER (PARTITION BY grp ORDER BY w DESC, s ASC, id ASC) AS k
          |  FROM iv),
          |nk AS (SELECT grp, max(k) AS n FROM ranked GROUP BY grp),
          |walk AS (
          |  SELECT grp, CAST(0 AS BIGINT) AS k,
          |    CAST([] AS STRUCT(s INT, e INT)[]) AS acc,
          |    CAST([] AS BIGINT[]) AS kept
          |  FROM nk
          |  UNION ALL
          |  SELECT st.grp, st.k,
          |    CASE WHEN st.ok THEN list_append(st.acc, {'s': st.rs, 'e': st.re}) ELSE st.acc END,
          |    CASE WHEN st.ok THEN list_append(st.kept, st.k) ELSE st.kept END
          |  FROM (
          |    SELECT w.grp, r.k, w.acc, w.kept, r.s AS rs, r.e AS re,
          |      len(list_filter(w.acc, a ->
          |        (least(a.e, r.e) - greatest(a.s, r.s) + 1) > 0 AND
          |        CAST(least(a.e, r.e) - greatest(a.s, r.s) + 1 AS DOUBLE)
          |          / least(a.e - a.s + 1, r.e - r.s + 1) >= 0.5)) = 0 AS ok
          |    FROM walk w JOIN ranked r ON r.grp = w.grp AND r.k = w.k + 1
          |  ) st),
          |final_kept AS (
          |  SELECT w.grp, w.kept FROM walk w JOIN nk ON nk.grp = w.grp AND w.k = nk.n)
          |SELECT r.grp AS "group", r.id, r.s AS start, r.e AS "end", r.w AS weight
          |FROM ranked r JOIN final_kept f ON f.grp = r.grp AND list_contains(f.kept, r.k)""".stripMargin,
      "q_topk_ties_dedup" ->
        """WITH corpus AS (
          |  SELECT event_type FROM events UNION ALL SELECT upper(event_type) FROM events),
          |counted AS (SELECT event_type, count(*) AS cnt FROM corpus GROUP BY event_type),
          |winners AS (SELECT event_type, cnt FROM counted WHERE cnt = (SELECT max(cnt) FROM counted))
          |SELECT event_type, cnt FROM (
          |  SELECT event_type, cnt,
          |    row_number() OVER (PARTITION BY lower(event_type) ORDER BY event_type ASC) AS rn
          |  FROM winners) WHERE rn = 1""".stripMargin,
      "q_geojson_points" ->
        """WITH pts AS (
          |  SELECT user_id, ts, event_id, event_type, value AS x,
          |    ((value * 37.0) % 100.0 + 100.0) % 100.0 AS y,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          |  FROM events),
          |ds AS (
          |  SELECT * FROM (SELECT * FROM pts WHERE (rn - 1) % 5 = 0)
          |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY rn) <= 10)
          |SELECT user_id AS session, event_id,
          |  '{"type":"Feature","properties":{"event_id":"'
          |  || coalesce(regexp_replace(CAST(event_id AS VARCHAR), '([\\"])', '\\\1', 'g'), '')
          |  || '","event_type":"'
          |  || coalesce(regexp_replace(event_type, '([\\"])', '\\\1', 'g'), '')
          |  || '"},"geometry":{"type":"Point","coordinates":['
          |  || CAST(CAST(round(x, 6) AS DECIMAL(18,6)) AS VARCHAR) || ','
          |  || CAST(CAST(round(y, 6) AS DECIMAL(18,6)) AS VARCHAR) || ']}}' AS geojson
          |FROM ds""".stripMargin,
      "q_mention_counts" -> {
        val words = Seq(("hash", 1), ("join", 2), ("scan", 3), ("filter", 4))
        val arms = words.map { case (w, id) =>
          s"""SELECT doc_id, $id AS surface_id,
             |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x = '$w')) AS n_mentions
             |FROM documents""".stripMargin
        }
        s"""SELECT doc_id, surface_id, n_mentions FROM (
           |${arms.mkString("\nUNION ALL\n")})
           |WHERE n_mentions > 0""".stripMargin
      },
      "kg_invariants" ->
        """SELECT 'edge_endpoints_in_vertices' AS check_name, true AS ok
          |UNION ALL SELECT 'no_null_edge_fields', true
          |UNION ALL SELECT 'provenance_turn_exists', true
          |UNION ALL SELECT 'vertex_ids_unique', true""".stripMargin,
      "kg_derivation_checks" ->
        """SELECT 'cooccurrence_matches_sql_replay' AS check_name, true AS ok
          |UNION ALL SELECT 'entity_profile_matches_sql_replay', true
          |UNION ALL SELECT 'pred_transitions_matches_sql_replay', true""".stripMargin,
      "q_ann_ivf_recall_guard" ->
        """SELECT 'ivf_recall_at_5_ge_floor' AS check_name, true AS ok""",
      "q_hotspot_approx_guard" ->
        """SELECT 'hll_max_rel_err_le_eps' AS check_name, true AS ok""",
      // PII rows: the injection CASE mirrors docsWithPii verbatim; the
      // detection/replacement SQL is GENERATED from Redact.patterns so
      // the regexes and order cannot diverge from the Scala side
      "q_pii_scan" -> {
        val counts = graft.text.Redact.patterns
          .map { case (n, p, _) => s"len(regexp_extract_all(text, '$p')) AS n_${n}s" }
          .mkString(",\n  ")
        s"""WITH pii AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id::VARCHAR
           |      || '@example.com or +1 555-01' || doc_id::VARCHAR
           |      || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.1 ssn 123-45-6789'
           |    ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  $counts
           |FROM pii""".stripMargin
      },
      "q_pii_redact" -> {
        val redacted = graft.text.Redact.patterns.foldLeft("text") {
          case (acc, (_, p, tag)) => s"regexp_replace($acc, '$p', '$tag', 'g')"
        }
        s"""WITH pii AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id::VARCHAR
           |      || '@example.com or +1 555-01' || doc_id::VARCHAR
           |      || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.1 ssn 123-45-6789'
           |    ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id, $redacted AS redacted FROM pii""".stripMargin
      },
      "q_text_stats" -> {
        val (scores, best, whens) = langCase
        s"""SELECT doc_id,
           |  CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS token_count,
           |  CASE ${whens.mkString(" ")} ELSE 'unknown' END AS lang_guess,
           |  round(
           |    (CASE WHEN len(text) < 20 THEN len(text) / 20.0 WHEN len(text) > 2000 THEN 0.5 ELSE 1.0 END) * 0.3
           |    + (CASE WHEN len(text) > 0 THEN len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0 / len(text) ELSE 0.0 END) * 0.4
           |    + (CASE WHEN token_count > 0 THEN least(${hits(markers.flatMap(_._2))} * 1.0 / token_count * 4.0, 1.0) ELSE 0.0 END) * 0.3
           |  , 6) AS quality
           |FROM (SELECT doc_id, text,
           |  CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS token_count,
           |  $best AS best FROM documents)""".stripMargin
      },
      // intra-doc repetition signals: dup-unit counts/chars from unit
      // occurrence counts, most-chars 2-gram (count x gram length),
      // and the union-cover of repeated 2-gram windows (each flagged
      // window at pos covers units pos and pos+1)
      "q_repetition" ->
        s"""$repCtes,
           |rdup AS (
           |  SELECT doc_id, sum(CASE WHEN cnt >= 2 THEN len(u) * cnt ELSE 0 END) AS dup_chars
           |  FROM (SELECT doc_id, u, count(*) AS cnt
           |        FROM (SELECT doc_id, unnest(tk) AS u FROM rtoks) GROUP BY 1, 2)
           |  GROUP BY doc_id),
           |rtop AS (SELECT doc_id, max(cnt * len(gram)) AS best FROM rgc GROUP BY doc_id),
           |rnp AS (SELECT doc_id, count(*) AS np FROM rflag GROUP BY doc_id),
           |rcov AS (
           |  SELECT doc_id, count(DISTINCT j) AS covered FROM (
           |    SELECT doc_id, pos AS j FROM rflag
           |    UNION ALL SELECT doc_id, pos + 1 AS j FROM rflag)
           |  GROUP BY doc_id)
           |SELECT b.doc_id,
           |  CAST(b.t AS BIGINT) AS n_units,
           |  CAST(b.d AS BIGINT) AS n_distinct_units,
           |  CASE WHEN b.t > 0 THEN round((b.t - b.d) / b.t, 6) ELSE 0.0 END AS dup_unit_fraction,
           |  CASE WHEN b.tot_chars > 0 THEN round(coalesce(dc.dup_chars, 0) / b.tot_chars, 6) ELSE 0.0 END AS dup_unit_char_fraction,
           |  CASE WHEN b.t >= 2 THEN round(coalesce(tp.best, 0) / greatest(len(b.text), 1), 6) ELSE 0.0 END AS top_ngram_char_fraction,
           |  CAST(coalesce(np.np, 0) AS BIGINT) AS dup_ngram_positions,
           |  CAST(CASE WHEN b.t >= 2 THEN coalesce(cv.covered, 0) ELSE 0 END AS BIGINT) AS covered_units,
           |  CASE WHEN b.t > 0 THEN round(CAST(CASE WHEN b.t >= 2 THEN coalesce(cv.covered, 0) ELSE 0 END AS DOUBLE) / b.t, 6) ELSE 0.0 END AS dup_ngram_unit_fraction
           |FROM rbase b
           |LEFT JOIN rdup dc USING (doc_id)
           |LEFT JOIN rtop tp USING (doc_id)
           |LEFT JOIN rnp np USING (doc_id)
           |LEFT JOIN rcov cv USING (doc_id)""".stripMargin,
      // Gopher-rule filter over the same signals; flags replayed as
      // 0/1 BIGINT on the rounded values (threshold comparisons are
      // on round(.,6) outputs on BOTH engines, so boundary docs agree)
      "q_gopher_filter" ->
        s"""$repCtes,
           |$gopherSigCtes
           |SELECT doc_id,
           |  CAST(t AS BIGINT) AS word_count,
           |  mean_word_len, alpha_word_fraction, dup_unit_fraction, top_ngram_char_fraction,
           |  CAST(CASE WHEN t BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS words_ok,
           |  CAST(CASE WHEN mean_word_len BETWEEN 4.0 AND 10.0 THEN 1 ELSE 0 END AS BIGINT) AS word_len_ok,
           |  CAST(CASE WHEN alpha_word_fraction >= 0.8 THEN 1 ELSE 0 END AS BIGINT) AS alpha_ok,
           |  CAST(CASE WHEN dup_unit_fraction <= 0.6 THEN 1 ELSE 0 END AS BIGINT) AS dup_unit_ok,
           |  CAST(CASE WHEN top_ngram_char_fraction <= 0.2 THEN 1 ELSE 0 END AS BIGINT) AS top_ngram_ok,
           |  CAST(CASE WHEN $gopherPassPred THEN 1 ELSE 0 END AS BIGINT) AS passes
           |FROM sig""".stripMargin,

      // replays the deterministic re-lining then the four line-rule
      // signals and flags over trimmed/lowercased non-empty lines
      "q_gopher_lines" ->
        s"""WITH $relineCtes,
           |$lineSigCtes
           |SELECT doc_id, n_lines, n_distinct_lines, dup_line_fraction,
           |  dup_line_char_fraction, bullet_line_fraction, ellipsis_line_fraction,
           |  CAST(CASE WHEN dup_line_fraction <= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS dup_line_ok,
           |  CAST(CASE WHEN dup_line_char_fraction <= 0.2 THEN 1 ELSE 0 END AS BIGINT) AS dup_line_chars_ok,
           |  CAST(CASE WHEN bullet_line_fraction <= 0.9 THEN 1 ELSE 0 END AS BIGINT) AS bullet_ok,
           |  CAST(CASE WHEN ellipsis_line_fraction <= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS ellipsis_ok,
           |  CAST(CASE WHEN $linePassPred THEN 1 ELSE 0 END AS BIGINT) AS line_passes
           |FROM lfr""".stripMargin,

      // paragraph-rule replay: re-paragraph (6-word paragraphs, %5
      // docs' block doubled), then dup-paragraph fraction / chars over
      // trimmed/lowercased non-empty paragraphs at the Table A1 caps
      "q_gopher_paragraphs" ->
        raw"""WITH pdocs AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 5 = 0 THEN p || chr(10) || chr(10) || p ELSE p END AS text
           |  FROM (SELECT doc_id,
           |          regexp_replace(text, '((\S+ ){5}\S+) ', '\1' || chr(10) || chr(10), 'g') AS p
           |        FROM documents) t),
           |punits AS (
           |  SELECT doc_id,
           |    list_filter(list_transform(string_split(text, chr(10) || chr(10)),
           |                               x -> lower(trim(x))), x -> x <> '') AS u
           |  FROM pdocs),
           |pbase AS (
           |  SELECT doc_id, len(u) AS n, len(list_distinct(u)) AS d,
           |    coalesce(list_sum(list_transform(u, x -> len(x))), 0) AS tot
           |  FROM punits),
           |pcnt AS (
           |  SELECT doc_id, x, count(*) AS cnt
           |  FROM (SELECT doc_id, unnest(u) AS x FROM punits) q GROUP BY 1, 2),
           |pdup AS (
           |  SELECT doc_id, sum(CASE WHEN cnt >= 2 THEN cnt * len(x) ELSE 0 END) AS dup_chars
           |  FROM pcnt GROUP BY 1),
           |pfr AS (
           |  SELECT b.doc_id,
           |    CAST(b.n AS BIGINT) AS n_paragraphs, CAST(b.d AS BIGINT) AS n_distinct_paragraphs,
           |    CASE WHEN b.n > 0 THEN round((b.n - b.d) / b.n, 6) ELSE 0.0 END AS dup_para_fraction,
           |    CASE WHEN b.tot > 0 THEN round(coalesce(p.dup_chars, 0) / b.tot, 6)
           |         ELSE 0.0 END AS dup_para_char_fraction
           |  FROM pbase b LEFT JOIN pdup p USING (doc_id))
           |SELECT doc_id, n_paragraphs, n_distinct_paragraphs,
           |  dup_para_fraction, dup_para_char_fraction,
           |  CAST(CASE WHEN dup_para_fraction <= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS dup_para_ok,
           |  CAST(CASE WHEN dup_para_char_fraction <= 0.2 THEN 1 ELSE 0 END AS BIGINT) AS dup_para_chars_ok,
           |  CAST(CASE WHEN dup_para_fraction <= 0.3 AND dup_para_char_fraction <= 0.2
           |        THEN 1 ELSE 0 END AS BIGINT) AS para_passes
           |FROM pfr""".stripMargin,

      // line-dedup replay: re-line, inject footers, count per-line
      // document frequency on the normalized (lower+trim) form, drop
      // >=8-df lines, rebuild in position order (all-removed docs
      // become the empty string)
      "q_line_dedup" ->
        s"""WITH $relineCtes,
           |$footerCtes,
           |${lineCutCtes("fdocs", 8)}
           |SELECT f.doc_id, coalesce(r.t, '') AS text
           |FROM fdocs f LEFT JOIN lreb r USING (doc_id)""".stripMargin,

      // the curation chain with the line-dedup stage mid-chain: exact
      // dedup of the footer-injected corpus, cut >= 8-df lines over the
      // dedup survivors (ldocs = the rebuilt corpus), then the decontam
      // tail + floor + sample over the REBUILT text
      "q_curate_line_dedup" ->
        s"""WITH $relineCtes,
           |$footerCtes,
           |${curateDedupCtes("fdocs")},
           |${lineCutCtes("dedup", 8)},
           |ldocs AS (
           |  SELECT d.doc_id, coalesce(r.t, '') AS text, d.lang
           |  FROM dedup d LEFT JOIN lreb r USING (doc_id)),
           |${curateTailCtes("ldocs", "fdocs")}
           |SELECT doc_id, lang FROM qual
           |WHERE $curateSamplePred""".stripMargin,

      // the generated full-n-gram-family replay: injected repetition,
      // per-n top/cover CTEs, fractions then flags at the published caps
      "q_gopher_ngrams" ->
        s"""WITH $ngramSigCtes
           |SELECT doc_id, $ngramFracCols,
           |$ngramFlagSelect,
           |  CAST(CASE WHEN $ngramPassPred THEN 1 ELSE 0 END AS BIGINT) AS ngram_passes
           |FROM nsig""".stripMargin,

      // the injected-repetition curation chain gated on the full
      // n-gram-family conjunction (same stage chain as q_curate,
      // source = ndocs for both the corpus and the eval grams)
      "q_curate_gopher_ngrams" ->
        s"""WITH $ngramSigCtes,
           |npass AS (SELECT doc_id FROM nsig WHERE $ngramPassPred),
           |${curateCtes("ndocs")}
           |SELECT doc_id, lang FROM qual
           |WHERE doc_id IN (SELECT doc_id FROM npass)
           |  AND $curateSamplePred""".stripMargin,

      // the re-lined curation chain gated on the line-rule conjunction
      // (same stage chain as q_curate, source = mdocs for both the
      // corpus and the eval slice's decontamination grams)
      "q_curate_gopher_lines" ->
        s"""WITH $relineCtes,
           |$lineSigCtes,
           |lpass AS (SELECT doc_id FROM lfr WHERE $linePassPred),
           |${curateCtes("mdocs")}
           |SELECT doc_id, lang FROM qual
           |WHERE doc_id IN (SELECT doc_id FROM lpass)
           |  AND $curateSamplePred""".stripMargin
    )
  }
}
