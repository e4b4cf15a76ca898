package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.extract.Mentions
import graft.kg.SurfaceForm
import graft.link.Linker
import graft.model.{EdgeRow, Turn, VertexRow}

/** End-to-end KG construction (the north_star pipeline):
  *
  *   turns --(broadcast trie, mapPartitions)--> mentions + raw triples
  *   dictionary surfaces --(MinHash-LSH blocking + Jaccard scoring)--> link edges
  *   link edges --(large-star/small-star CC)--> surface -> canonical map
  *   raw triples x map --> canonical edges; dictionary x map --> vertices
  *
  * Shuffle inventory (what the 100-TB plan pays for):
  *   - extraction: none (narrow mapPartitions over the scan)
  *   - linking: over the surface VOCABULARY (|dict|, not |turns|), and
  *     only above DriverLocalLinkThreshold: one bucket-aggregate shuffle
  *     on the blocking key, one pair-dedup shuffle, two token-by-id joins
  *     (broadcast while |dict| is small), then CC rounds
  *   - canonicalization joins on triples: broadcast when the mapping is
  *     small (it is: |dict| rows); shuffled-hash otherwise, and the
  *     subj/obj joins reuse one partitioning
  *   - vertices: groupBy(component) over |dict| rows
  * Nothing shuffles the full turn stream except the final provenance
  * sort, which is optional.
  */
object KGPipeline {

  final case class Result(
      vertices: Dataset[VertexRow],
      edges: Dataset[EdgeRow],
      // surface_id -> canonical entity id (covers every dict surface)
      mapping: DataFrame
  )

  /** Below this vocabulary size the linking runs driver-local (the
    * reference's own in-memory regime): the distributed plan pays ~4
    * Spark jobs of fixed overhead, pure ceiling loss when |dict| is
    * broadcast-sized anyway. Both paths share the blocking, pair and
    * scoring functions and are property-tested equal. Measured on 4
    * cores (local[4]): 2,400 surfaces link in ~0.1 s locally vs ~1.0 s
    * distributed, 20,400 in ~1.9 s vs ~2.6 s. The local path is
    * single-threaded and its pair space is bounded only by buckets x
    * cap^2, so the threshold stays conservative: a collision-heavy
    * 10^5-surface vocabulary could stall a driver.
    */
  val DriverLocalLinkThreshold: Int = 20000

  /** surface_id -> canonical id over the full dictionary: LSH blocking,
    * exact scoring, CC, singletons mapped to themselves.
    */
  def canonicalMapping(
      spark: SparkSession,
      dict: Seq[SurfaceForm],
      lsh: Linker.LshConfig
  ): DataFrame = {
    import spark.implicits._
    val dictDf = spark
      .createDataset(dict.map(s => (s.surfaceId, s.surface)))
      .toDF("id", "surface")
    val links =
      if (dict.size <= DriverLocalLinkThreshold)
        spark
          .createDataset(Linker.linkEdgesLocal(dict.map(s => (s.surfaceId, s.surface)), lsh))
          .toDF("src", "dst", "score")
      else Linker.linkEdges(spark, dictDf, lsh).toDF("src", "dst", "score")
    val cc = ConnectedComponents.run(spark, links)
    dictDf
      .join(cc, Seq("id"), "left")
      .select($"id", coalesce($"component", $"id").as("canonical"))
  }

  def run(
      spark: SparkSession,
      turns: Dataset[Turn],
      dict: Seq[SurfaceForm],
      lsh: Linker.LshConfig = Linker.LshConfig(),
      persistSource: Boolean = false
  ): Result = {
    import spark.implicits._

    val bc = spark.sparkContext.broadcast(dict.toArray)
    // P1: drop records with null payload, the reference's null-position
    // filter (/root/reference/src/TCXParser.jl:58)
    // persistSource: the turn stream feeds TWO full passes (the
    // triple extraction and the observed-ids vocabulary scan); for a
    // driver-sized / generated corpus, pinning the flat (conv, idx,
    // text) rows pays one generation instead of two. Default OFF: at
    // 10^12 turns the source is a table whose re-scan is the normal
    // plan, and pinning it would not fit executor storage.
    val validTurns0 = turns.filter((t: Turn) => t.text != null)
    val validTurns =
      if (persistSource)
        validTurns0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else validTurns0
    // Edges consume the extraction's triples; vertices consume only the
    // observed ids, from their own narrow scan. The extraction is not
    // cached: it is a cheap narrow map (~2M turns/s/8 cores), while
    // caching 10^7+ rows of nested array<struct> takes Spark's slow
    // non-columnar cache path and measured ~10x the cost of a second
    // scan. At 10^12-turn scale the equivalent is a staging table.
    val extraction = Mentions.extract(spark, validTurns, bc)

    val rawTriples = extraction
      .select($"conv_id", $"turn_idx", explode($"triples").as("t"))
      .select($"t.subj", $"t.pred", $"t.obj", $"conv_id", $"turn_idx")

    val mapping = canonicalMapping(spark, dict, lsh)
    // |mapping| = |dict| — broadcast below ~1M surfaces, else let AQE
    // pick (the mapping side is always the small one vs 10^12 triples).
    val m = if (dict.size <= 1000000) broadcast(mapping) else mapping

    val edges = rawTriples
      .join(m.withColumnRenamed("id", "subj").withColumnRenamed("canonical", "csubj"), Seq("subj"))
      .join(m.withColumnRenamed("id", "obj").withColumnRenamed("canonical", "cobj"), Seq("obj"))
      .select(
        $"csubj".as("subj"),
        $"pred",
        $"cobj".as("obj"),
        $"conv_id",
        $"turn_idx"
      )
      .as[EdgeRow]

    // vertices: canonical groups of the dictionary, restricted to
    // surfaces actually observed in the corpus (distinct over the
    // mention vocabulary — small — not over the turn stream), read by
    // the dedicated narrow observed-ids scan instead of re-running the
    // full extraction just to throw away everything but the ids.
    val observed = Mentions.observedIds(spark, validTurns, bc).toDF("id")
    val dictDf = spark
      .createDataset(dict.map(s => (s.surfaceId, s.surface, s.entityType)))
      .toDF("id", "surface", "etype")
    val vertices = dictDf
      .join(m, Seq("id"))
      .join(
        observed.join(m, Seq("id")).select($"canonical").distinct(),
        Seq("canonical"),
        "left_semi"
      )
      .groupBy($"canonical".as("entity_id"))
      .agg(
        min_by($"etype", $"id").as("type"),
        array_sort(collect_set($"surface")).as("aliases")
      )
      .as[VertexRow]

    Result(vertices, edges, mapping)
  }
}
