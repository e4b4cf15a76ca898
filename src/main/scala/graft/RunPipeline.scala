package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.Materialize
import graft.kg.{Dictionary, SurfaceForm}
import graft.model.Turn
import graft.pipeline.KGPipeline
import graft.synth.TranscriptGen

/** The spark-submit entry of the north-star job: transcripts + entity
  * dictionary -> property graph (vertices + edges tables) with
  * per-bucket lineage, counter metrics and idempotent resume.
  *
  *   spark-submit --class graft.RunPipeline <jar> \
  *     --turns <parquetDir> --dict <parquetDir> --out <dir> [--buckets N]
  *   spark-submit --class graft.RunPipeline <jar> \
  *     --synth <numConvs>:<numEntities> --out <dir>
  *
  * Input contract (BASELINE.json input_hint): turns table with columns
  * (conv_id string, turn_idx int, role string, text string,
  * tool string nullable, ts timestamp); dictionary table with columns
  * (surface_id long, surface string, entity_type string). In
  * production both live in Iceberg; the sandbox reads the same layout
  * as Parquet (see Materialize's manifest sidecar note).
  *
  * Restart semantics: edges are written per hash-bucket of conv_id;
  * buckets recorded in the lineage table are anti-joined away on the
  * next run, so a crashed job re-runs only its unfinished buckets
  * (north_rule: resumable from checkpoint with per-partition lineage +
  * metrics). Vertices are a single small overwrite. A final manifest
  * snapshot records files + row counters.
  */
object RunPipeline {

  final case class Args(
      turns: Option[String] = None,
      dict: Option[String] = None,
      synth: Option[(Int, Int)] = None,
      out: String = "",
      buckets: Int = 256
  )

  def parse(argv: List[String], acc: Args = Args()): Args = argv match {
    case "--turns" :: v :: rest => parse(rest, acc.copy(turns = Some(v)))
    case "--dict" :: v :: rest => parse(rest, acc.copy(dict = Some(v)))
    case "--synth" :: v :: rest =>
      v.split(":", 2) match {
        case Array(c, e) if c.forall(_.isDigit) && e.forall(_.isDigit) && c.nonEmpty && e.nonEmpty =>
          parse(rest, acc.copy(synth = Some((c.toInt, e.toInt))))
        case _ =>
          throw new IllegalArgumentException(s"--synth expects <numConvs>:<numEntities>, got '$v'")
      }
    case "--out" :: v :: rest => parse(rest, acc.copy(out = v))
    case "--buckets" :: v :: rest => parse(rest, acc.copy(buckets = v.toInt))
    case Nil => acc
    case other => throw new IllegalArgumentException(s"unknown args: $other")
  }

  def loadDict(spark: SparkSession, dir: String): Seq[SurfaceForm] = {
    import spark.implicits._
    // canonicalId is ground truth the pipeline must NOT see — filled
    // with the surface id (self), exactly like an external dictionary
    // that only knows its surface strings.
    spark.read
      .parquet(dir)
      .select(
        col("surface_id").cast("long"),
        col("surface").cast("string"),
        col("entity_type").cast("string")
      )
      .as[(Long, String, String)]
      .collect()
      .toSeq
      .map { case (id, s, t) => SurfaceForm(id, id, s, t) }
  }

  /** Composable core (tested in EndToEndSpec): returns (vertices rows,
    * edges rows, buckets written this invocation).
    */
  def run(
      spark: SparkSession,
      turns: org.apache.spark.sql.Dataset[Turn],
      dict: Seq[SurfaceForm],
      outDir: String,
      numBuckets: Int
  ): (Long, Long, Long) = {
    val result = KGPipeline.run(spark, turns, dict)
    val written = Materialize.writeEdges(spark, result.edges.toDF(), outDir, numBuckets)
    Materialize.writeVertices(result.vertices.toDF(), outDir)
    val (v, e) = Materialize.stats(spark, outDir)
    Materialize.writeManifest(spark, outDir, Some((v, e)))
    (v, e, written)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    require(args.out.nonEmpty, "--out is required")
    // spark-submit supplies the master (spark.master system property);
    // a bare `runMain` smoke falls back to local[*]
    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .appName("graft-kg-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val (turns, dict) = (args.synth, args.turns, args.dict) match {
      case (Some((nc, ne)), _, _) =>
        val cfg = graft.synth.GenConfig(seed = 42L, numConvs = nc, numEntities = ne)
        (TranscriptGen.transcripts(spark, cfg), Dictionary.build(cfg.seed, cfg.numEntities))
      case (None, Some(t), Some(d)) =>
        val ds = spark.read
          .parquet(t)
          .select(
            col("conv_id").cast("string"),
            col("turn_idx").cast("int"),
            col("role").cast("string"),
            col("text").cast("string"),
            col("tool").cast("string"),
            col("ts").cast("timestamp")
          )
          .as[Turn]
        (ds, loadDict(spark, d))
      case _ =>
        throw new IllegalArgumentException("need --synth C:E or both --turns and --dict")
    }

    val (v, e, written) = run(spark, turns, dict, args.out, args.buckets)
    println(s"""{"vertices":$v,"edges":$e,"buckets_written":$written,"out":"${args.out}"}""")
    spark.stop()
  }
}
