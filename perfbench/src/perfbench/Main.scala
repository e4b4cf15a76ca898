package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunPipeline
import graft.canon.ConnectedComponents
import graft.extract.Mentions
import graft.graph.Materialize
import graft.kg.{Dictionary, SurfaceForm}
import graft.link.Linker
import graft.model.{LinkEdge, Turn}
import graft.pipeline.KGPipeline
import graft.synth.{GenConfig, TranscriptGen}

/** North-star benchmark: ordered session records in Parquet to a
  * committed property graph, one `RunPipeline.run` call per timed
  * operation, closed loop with one caller.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Set-up generates the input from the seed and checks it row for row
  * against `TranscriptGen.turnOf`; the first warm-up run writes the
  * reference graph. Every timed run writes into a fresh directory
  * and must reproduce the reference graph; see [[check]].
  * `--trace 1` adds a traced run that calls each module's public
  * functions separately and prints per-layer metrics instead of the
  * end-to-end ones. The last stdout line is the JSON result.
  */
object Main {

  /** `warmups`: untimed RunPipeline.run calls before the timed ones.
    * After one 5 s extract_local call the next is still ~25% slower
    * (JIT), so it gets two; one cold link_distributed call already
    * runs the linker for ~20 s, and the next is ~10% slower.
    */
  final case class Workload(name: String, cfg: Long => GenConfig, warmups: Int)

  // Sizes keep one run (set-up, warm-up and a few timed runs) near a
  // minute on 4 cores; see README.md for why each workload exists.
  val Workloads: Seq[Workload] = Seq(
    Workload("extract_local",
      s => GenConfig(seed = s, numConvs = 8000, numEntities = 600, megaConvEvery = 0), warmups = 2),
    // 5,100 entities = 20,400 surfaces: just above
    // KGPipeline.DriverLocalLinkThreshold, so linking is distributed
    Workload("link_distributed",
      s => GenConfig(seed = s, numConvs = 2000, numEntities = 5100, megaConvEvery = 0), warmups = 1)
  )

  val Cores = 4
  // Not RunPipeline.Args().buckets (256). At these input sizes 256
  // buckets hold ~300 edges each: the sink's per-bucket work (write,
  // manifest, stats) is ~70% of a call, one 174k-turn call takes
  // 13-15 s instead of 5 s, and a run with its warm-ups over 100 s
  // (README.md). 16 buckets keep edges per bucket (3.3k on
  // extract_local) near what 256 give a 4.35M-turn input (~7.6k).
  val Buckets = 16
  val SetupRepeats = 3
  val MinPrecisionRecall = 0.95

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  def parse(argv: List[String], m: Map[String, String] = Map.empty): Map[String, String] = argv match {
    case k :: v :: rest if k.startsWith("--") => parse(rest, m + (k.drop(2) -> v))
    case Nil => m
    case other => throw new IllegalArgumentException(s"unexpected arguments: $other")
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      // the settings RunPipeline.main uses; scratch dirs stay in `work`
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ---------------------------------------------------------------- input

  /** The turns table as `RunPipeline.main` reads it. */
  def readTurns(spark: SparkSession, dir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(dir)
      .select(
        col("conv_id").cast("string"),
        col("turn_idx").cast("int"),
        col("role").cast("string"),
        col("text").cast("string"),
        col("tool").cast("string"),
        col("ts").cast("timestamp"))
      .as[Turn]
  }

  def generate(spark: SparkSession, cfg: GenConfig, dir: String): Unit = {
    import spark.implicits._
    TranscriptGen.transcripts(spark, cfg).write.parquet(s"$dir/turns")
    Dictionary.build(cfg.seed, cfg.numEntities)
      .map(s => (s.surfaceId, s.surface, s.entityType))
      .toDF("surface_id", "surface", "entity_type")
      .coalesce(1)
      .write.parquet(s"$dir/dict")
  }

  /** Per-turn text equality: ordered by (conv_id, turn_idx), the table
    * equals `TranscriptGen.turnOf` row for row. Checked as: every row
    * equals turnOf of its own key, keys are unique and in range, and the
    * row count is the generator's turn count.
    */
  def verifyTurns(spark: SparkSession, cfg: GenConfig, turns: Dataset[Turn]): Long = {
    import spark.implicits._
    val expected = (0L until cfg.numConvs.toLong).map(c => TranscriptGen.numTurnsOf(cfg, c).toLong).sum
    val r = turns
      .map { t =>
        val conv = t.conv_id.stripPrefix("conv_").toLongOption.getOrElse(-1L)
        val ok = conv >= 0 && conv < cfg.numConvs && t.turn_idx >= 0 &&
          t.turn_idx < TranscriptGen.numTurnsOf(cfg, conv) &&
          t == TranscriptGen.turnOf(cfg, conv, t.turn_idx)
        (t.conv_id, t.turn_idx, if (ok) 0L else 1L)
      }
      .toDF("c", "i", "bad")
      .agg(count(lit(1)), count_distinct($"c", $"i"), sum($"bad"))
      .head()
    require(r.getLong(0) == expected && r.getLong(1) == expected && r.getLong(2) == 0L,
      s"generated turns differ from TranscriptGen.turnOf: rows=${r.getLong(0)} " +
        s"distinct keys=${r.getLong(1)} expected=$expected mismatched=${r.getLong(2)}")
    expected
  }

  // --------------------------------------------------------------- output

  /** Order-independent content hash of a table: (rows, sum of the low
    * and of the high 32 bits of each row's xxhash64). Equal for two
    * tables holding the same multiset of rows.
    */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.agg(
      count(lit(1)),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally s.close()
    }

  def graphBytes(out: String): Long =
    Seq("edges", "vertices").flatMap(t => parquetFiles(Paths.get(out, t))).map(Files.size).sum

  /** (vertices_rows, edges_rows) of the newest manifest snapshot. */
  def manifestRows(out: String): (Long, Long) = {
    val dir = Paths.get(out, "_manifest")
    val s = Files.list(dir)
    val newest = try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".json")).maxBy(_.getFileName.toString)
    finally s.close()
    val json = new String(Files.readAllBytes(newest), "UTF-8")
    def field(k: String) = raw""""$k":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"$newest has no $k"))
    (field("vertices_rows"), field("edges_rows"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }

  // --------------------------------------------------------------- checks

  /** What every run must reproduce, taken from the warm-up run's fresh
    * full write after its triples passed the precision/recall gate.
    */
  final case class Reference(
      edges: (Long, Long, Long),
      vertices: (Long, Long, Long),
      buckets: Long,
      precision: Double,
      recall: Double)

  def reference(spark: SparkSession, cfg: GenConfig, out: String, written: Long): Reference = {
    val cols = Seq("subj", "pred", "obj", "conv_id", "turn_idx").map(col)
    val got = spark.read.parquet(s"$out/edges").select(cols: _*).distinct()
    val exp = TranscriptGen.expectedTriples(spark, cfg).toDF().select(cols: _*).distinct()
    val hit = got.intersect(exp).count().toDouble
    val (p, r) = (hit / math.max(1L, got.count()), hit / math.max(1L, exp.count()))
    val buckets = spark.read.parquet(s"$out/edges").select(Materialize.BucketCol).distinct().count()
    require(written == buckets, s"fresh write reported $written buckets but wrote $buckets")
    Reference(
      fingerprint(spark.read.parquet(s"$out/edges")),
      fingerprint(spark.read.parquet(s"$out/vertices")),
      buckets, p, r)
  }

  /** Failures of one run's output: precision/recall (the run must equal
    * the reference, whose triples were scored), bucket count written,
    * manifest rows against an independent re-count, and row-for-row
    * equality of both tables with the reference. The bucket count
    * catches a run that silently resumed into a used directory and
    * wrote nothing.
    */
  def check(
      spark: SparkSession,
      ref: Reference,
      out: String,
      result: (Long, Long, Long)
  ): Seq[String] = {
    val (v, e, written) = result
    val edges = fingerprint(spark.read.parquet(s"$out/edges"))
    val vertices = fingerprint(spark.read.parquet(s"$out/vertices"))
    val (mv, me) = manifestRows(out)
    Seq(
      (ref.precision >= MinPrecisionRecall && ref.recall >= MinPrecisionRecall) ->
        f"triple precision ${ref.precision}%.4f / recall ${ref.recall}%.4f below $MinPrecisionRecall",
      (written == ref.buckets) -> s"wrote $written buckets, expected ${ref.buckets}",
      (mv == vertices._1 && me == edges._1) ->
        s"manifest rows ($mv, $me) != re-count (${vertices._1}, ${edges._1})",
      (v == vertices._1 && e == edges._1) -> s"run returned ($v, $e) != re-count (${vertices._1}, ${edges._1})",
      (edges == ref.edges) -> s"edge table differs from the reference: $edges vs ${ref.edges}",
      (vertices == ref.vertices) -> s"vertex table differs from the reference: $vertices vs ${ref.vertices}"
    ).collect { case (false, msg) => msg }
  }

  // ---------------------------------------------------------------- main

  /** Peak resident memory (VmRSS) sampled while `on` is set. */
  final class RssSampler extends Thread {
    @volatile var on = false
    @volatile var peakKb = 0L
    setDaemon(true)
    override def run(): Unit = while (true) {
      if (on) {
        val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmRSS:"))
        line.foreach(l => peakKb = math.max(peakKb, l.split("\\s+")(1).toLong))
      }
      Thread.sleep(20)
    }
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def main(argv: Array[String]): Unit = {
    val m = parse(argv.toList)
    val args = Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"))
    val w = Workloads.find(_.name == args.workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val cfg = w.cfg(args.seed)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(args.work)
    val sessionStartS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val metrics = try run(spark, w, cfg, args, sessionStartS) finally spark.stop()
    println(f"total: ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.3f s since JVM start")
    println(metrics)
  }

  final case class Metric(name: String, value: Double, unit: String)

  def json(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      ms.map(x => s""""${x.name}": {"value": ${x.value}, "unit": "${x.unit}"}""").mkString(", ") + "}}"

  def run(spark: SparkSession, w: Workload, cfg: GenConfig, args: Args, sessionStartS: Double): String = {
    val work = args.work
    var outSeq = 0
    def freshOut(): String = { outSeq += 1; s"$work/out-$outSeq" }

    // ---- set-up, repeated: generate the input and check it
    var nTurns = 0L
    var inputDir = ""
    val setupS = (0 until SetupRepeats).map { rep =>
      if (rep > 0) deleteTree(Paths.get(inputDir))
      inputDir = s"$work/input-$rep"
      val t0 = System.nanoTime()
      generate(spark, cfg, inputDir)
      nTurns = verifyTurns(spark, cfg, readTurns(spark, s"$inputDir/turns"))
      seconds(t0)
    }
    val turns = readTurns(spark, s"$inputDir/turns")
    val dict = RunPipeline.loadDict(spark, s"$inputDir/dict")

    // ---- warm-up runs; the first writes the reference graph
    var ref: Reference = null
    val warmupS = (0 until w.warmups).map { _ =>
      val out = freshOut()
      val t0 = System.nanoTime()
      val written = RunPipeline.run(spark, turns, dict, out, Buckets)._3
      val dt = seconds(t0)
      if (ref == null) {
        val t1 = System.nanoTime()
        ref = reference(spark, cfg, out, written)
        println(f"reference check: ${seconds(t1)}%.3f s")
      }
      deleteTree(Paths.get(out))
      dt
    }
    println(f"reference: ${ref.buckets} buckets, ${ref.edges._1} edges, ${ref.vertices._1} vertices, " +
      f"precision ${ref.precision}%.4f recall ${ref.recall}%.4f")
    println(f"setup: session $sessionStartS%.3f s, input+check ${setupS.map(x => f"$x%.3f").mkString(", ")} s, " +
      s"warm-up ${warmupS.map(x => f"$x%.3f").mkString(", ")} s; turns $nTurns")

    // ---- timed runs, tracing off
    val rss = new RssSampler
    rss.start()
    val times = mutable.ArrayBuffer.empty[Double]
    val gcs = mutable.ArrayBuffer.empty[Double]
    val bytes = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    def budgetS = if (args.trace) args.seconds / 2 else args.seconds
    while (times.isEmpty || times.sum < budgetS) {
      val out = freshOut()
      val gc0 = gcSeconds
      rss.on = true
      val t0 = System.nanoTime()
      val result = RunPipeline.run(spark, turns, dict, out, Buckets)
      val dt = seconds(t0)
      rss.on = false
      times += dt
      gcs += gcSeconds - gc0
      bytes += graphBytes(out).toDouble
      val t1 = System.nanoTime()
      val errs = check(spark, ref, out, result)
      if (errs.nonEmpty) failed += 1
      println(f"run ${times.size}: $dt%.3f s, gc ${gcs.last}%.3f s, check ${seconds(t1)}%.3f s, buckets written ${result._3}" +
        (if (errs.isEmpty) "" else errs.mkString(" FAILED: ", "; ", "")))
      deleteTree(Paths.get(out))
    }
    val graphS = median(times.toSeq)
    println(s"graph_s samples (n=${times.size}): ${times.map(x => f"$x%.3f").mkString(", ")}")

    if (!args.trace) {
      val ms = Seq(
        Metric("setup_s", sessionStartS + median(setupS) + warmupS.sum, "s"),
        Metric("graph_s", graphS, "s"),
        Metric("turns_per_s", nTurns / graphS, "1/s"),
        Metric("graph_bytes", median(bytes.toSeq), "bytes"),
        Metric("triple_precision", ref.precision, "ratio"),
        Metric("triple_recall", ref.recall, "ratio"))
      return json(failed == 0, times.size, failed, ms)
    }

    // ---- traced runs: per-layer metrics
    val layerRuns = mutable.ArrayBuffer.empty[Map[String, Metric]]
    var traced = 0.0
    while (layerRuns.isEmpty || times.sum + traced < args.seconds) {
      val out = freshOut()
      val t0 = System.nanoTime()
      val (ms, result) = tracedRun(spark, turns, dict, out)
      val dt = seconds(t0)
      traced += dt
      val errs = check(spark, ref, out, result)
      if (errs.nonEmpty) failed += 1
      layerRuns += (ms :+ Metric("trace.total_s", dt, "s") :+ Metric("trace.overhead_s", dt - graphS, "s") :+
        Metric("jvm.gc_s", median(gcs.toSeq), "s") :+ Metric("jvm.peak_rss_mb", rss.peakKb / 1024.0, "MB")).map(x => x.name -> x).toMap
      println(f"traced run ${layerRuns.size}: $dt%.3f s" + (if (errs.isEmpty) "" else errs.mkString(" FAILED: ", "; ", "")))
      deleteTree(Paths.get(out))
    }
    val names = layerRuns.head.keys.toSeq.sorted
    val ms = names.map { n =>
      val h = layerRuns.head(n)
      Metric(n, median(layerRuns.map(_(n).value).toSeq), h.unit)
    }
    json(failed == 0, times.size + layerRuns.size, failed, ms)
  }

  // --------------------------------------------------------------- traced

  /** One traced graph build. Each layer is called through its module's
    * public functions and its output forced where it is called, so the
    * spans split the work of `RunPipeline.run` by layer. Self times:
    *   - extract, extract.observed, link, canon: the span itself (each
    *     reads its input from Parquet or memory).
    *   - pipeline: `KGPipeline.run` recomputes link and canon eagerly
    *     (span `rerun.link_canon`, not reported). Under the `pipeline`
    *     span, `pipeline.join` forces the edges (recomputing the
    *     extraction) and `pipeline.vertices` forces the vertices
    *     (recomputing the observed-ids scan): each self time is its
    *     span minus the upstream span it had to recompute.
    *   - graph: under the `graph` span, the sink's calls in
    *     `RunPipeline.run`'s order, reading the persisted pipeline
    *     output, so each child span is its own self time.
    * Returns the layer metrics and RunPipeline.run's (vertices, edges,
    * buckets written).
    */
  def tracedRun(
      spark: SparkSession,
      turns: Dataset[Turn],
      dict: Seq[SurfaceForm],
      out: String
  ): (Seq[Metric], (Long, Long, Long)) = {
    import spark.implicits._
    val lsh = Linker.LshConfig()
    val tr = new Tracer(spark.sparkContext)
    val bc = spark.sparkContext.broadcast(dict.toArray)
    try {
      val valid = turns.filter((t: Turn) => t.text != null)
      val ex = tr.span("extract") {
        Mentions.extract(spark, valid, bc)
          .select(size($"mentions").as("m"), size($"triples").as("t"))
          .agg(count(lit(1)), coalesce(sum($"m"), lit(0L)), coalesce(sum($"t"), lit(0L)))
          .head()
      }
      val (turnsIn, mentionsOut, triplesOut) = (ex.getLong(0), ex.getLong(1), ex.getLong(2))
      val observedOut = tr.span("extract.observed")(Mentions.observedIds(spark, valid, bc).count())

      val distributed = dict.size > KGPipeline.DriverLocalLinkThreshold
      val links: Seq[LinkEdge] = tr.span("link") {
        if (distributed)
          Linker.linkEdges(spark, dict.map(s => (s.surfaceId, s.surface)).toDF("id", "surface"), lsh)
            .collect().toSeq
        else Linker.linkEdgesLocal(dict.map(s => (s.surfaceId, s.surface)), lsh)
      }
      val counters = LinkCounters.compute(dict, lsh, Cores)
      val linkSet = links.map(l => (l.src, l.dst)).toSet
      require(linkSet == counters.edges,
        s"link edges recomputed from Linker's functions (${counters.edges.size}) " +
          s"differ from the ${if (distributed) "distributed" else "local"} linker's (${linkSet.size})")

      val components = tr.span("canon") {
        val cc = ConnectedComponents.run(spark, links.toDF("src", "dst", "score"))
        cc.select("component").distinct().count()
      }

      val result = tr.span("rerun.link_canon")(KGPipeline.run(spark, turns, dict, lsh))
      result.edges.persist()
      result.vertices.persist()
      try {
        val (edgesOut, verticesOut) = tr.span("pipeline") {
          (tr.span("pipeline.join")(result.edges.count()), tr.span("pipeline.vertices")(result.vertices.count()))
        }
        val (written, (v, e)) = tr.span("graph") {
          val written = tr.span("graph.write_edges")(
            Materialize.writeEdges(spark, result.edges.toDF(), out, Buckets))
          tr.span("graph.write_vertices")(Materialize.writeVertices(result.vertices.toDF(), out))
          tr.span("graph.manifest")(Materialize.writeManifest(spark, out))
          (written, tr.span("graph.stats")(Materialize.stats(spark, out)))
        }
        val files = Seq("edges", "vertices").flatMap(t => parquetFiles(Paths.get(out, t)))

        def s(name: String) = tr.byName(name).seconds
        val layerMs = Seq(
          Metric("extract.turns_in", turnsIn.toDouble, "count"),
          Metric("extract.mentions_out", mentionsOut.toDouble, "count"),
          Metric("extract.triples_out", triplesOut.toDouble, "count"),
          Metric("extract.busy_s", s("extract"), "s"),
          Metric("extract.observed_busy_s", s("extract.observed"), "s"),
          Metric("extract.observed_ids_out", observedOut.toDouble, "count"),
          Metric("link.surfaces", counters.surfaces.toDouble, "count"),
          Metric("link.path_distributed", if (distributed) 1.0 else 0.0, "bool"),
          Metric("link.blocking_keys", counters.blockingKeys.toDouble, "count"),
          Metric("link.buckets", counters.buckets.toDouble, "count"),
          Metric("link.buckets_capped", counters.bucketsCapped.toDouble, "count"),
          Metric("link.candidate_pairs", counters.candidatePairs.toDouble, "count"),
          Metric("link.edges_out", links.size.toDouble, "count"),
          Metric("link.useful_ratio", links.size.toDouble / math.max(1L, counters.candidatePairs), "ratio"),
          Metric("link.busy_s", s("link"), "s"),
          Metric("canon.edges_in", links.size.toDouble, "count"),
          Metric("canon.components", components.toDouble, "count"),
          Metric("canon.busy_s", s("canon"), "s"),
          Metric("pipeline.triples_in", triplesOut.toDouble, "count"),
          Metric("pipeline.triples_dropped", (triplesOut - edgesOut).toDouble, "count"),
          Metric("pipeline.edges_out", edgesOut.toDouble, "count"),
          Metric("pipeline.vertices_out", verticesOut.toDouble, "count"),
          Metric("pipeline.join_s", s("pipeline.join") - s("extract"), "s"),
          Metric("pipeline.vertices_s", s("pipeline.vertices") - s("extract.observed"), "s"),
          Metric("graph.write_edges_s", s("graph.write_edges"), "s"),
          Metric("graph.buckets_written", written.toDouble, "count"),
          Metric("graph.files", files.size.toDouble, "count"),
          Metric("graph.bytes", files.map(Files.size).sum.toDouble, "bytes"),
          Metric("graph.write_vertices_s", s("graph.write_vertices"), "s"),
          Metric("graph.manifest_s", s("graph.manifest"), "s"),
          Metric("graph.stats_s", s("graph.stats"), "s"))
        val sparkMs = Seq("extract", "link", "canon", "pipeline", "graph").flatMap { layer =>
          val c = tr.sparkCounters(layer)
          Seq(
            Metric(s"$layer.jobs", c.jobs.toDouble, "count"),
            Metric(s"$layer.stages", c.stages.toDouble, "count"),
            Metric(s"$layer.tasks", c.tasks.toDouble, "count"),
            Metric(s"$layer.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes"),
            Metric(s"$layer.shuffle_read_bytes", c.shuffleReadBytes.toDouble, "bytes"),
            Metric(s"$layer.spill_bytes", c.spillBytes.toDouble, "bytes"),
            Metric(s"$layer.task_skew", c.taskSkew, "ratio"))
        }
        tr.all.foreach(sp => println(f"span ${sp.id} ${sp.name} parent ${sp.parent} ${sp.seconds}%.3f s"))
        (layerMs ++ sparkMs, (v, e, written))
      } finally {
        result.edges.unpersist()
        result.vertices.unpersist()
      }
    } finally {
      tr.close()
      bc.destroy()
    }
  }
}
