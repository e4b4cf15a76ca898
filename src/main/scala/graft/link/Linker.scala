package graft.link

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.model.LinkEdge
import graft.util.Hashing._

/** MinHash-LSH candidate blocking + exact token-similarity link scoring.
  *
  * Graft of the reference's two-phase overlap detection: KD-tree
  * blocking (OverlappingSegmentsUtils.jl) followed by exact
  * discrete-Fréchet scoring (Utils.jl). Here the blocking is MinHash
  * banding over character shingles (Broder 1997; Leskovec et al.,
  * "Mining of Massive Datasets" ch.3) plus a deterministic prefix
  * channel, and the exact scorer is [[tokenSim]].
  *
  * Both paths run bucket → pairs → score: each surface is signed once
  * into its blocking keys, the surfaces sharing a key form a bucket,
  * [[bucketPairs]] turns a bucket into candidate pairs, and each
  * distinct pair is scored once. Scale shape: input is the *distinct
  * surface vocabulary* (10^6-10^8 rows at 10^12-turn scale, NOT the
  * turn stream).
  */
object Linker {

  final case class LshConfig(
      shingleK: Int = 3,
      // banding recall at the decision boundary: P(collide | s) =
      // 1-(1-s^r)^b = 0.98 at charJ s=0.53 (the weakest true pair:
      // abbreviation vs canonical) with b=24, r=3. r=3 matters beyond
      // recall: with r=2 the band slices of short names are dominated
      // by the corpus' most common word's shingles, producing giant
      // identical-slice buckets that the hot-bucket cap then drops —
      // observed as blocking misses at 2000+ entities. Requiring a
      // third agreeing min-hash shrinks those buckets exponentially.
      // with the deterministic prefix channel carrying the structured
      // variants, the MinHash channel only needs to catch residual
      // fuzzy pairs — 16x3 is the cost/recall sweet spot
      numBands: Int = 16,
      rowsPerBand: Int = 3,
      // tokenSim: same-entity variants score >= 0.9 (equality /
      // prefix-abbreviation per token); distinct entities <= ~0.3
      // (an unmatched informative token caps the min) — 0.6 sits in
      // the separation gap with wide margin on both sides
      jaccardThreshold: Double = 0.6,
      // hot-bucket cap: a band bucket holding > maxBucketSize surfaces
      // is a stopword-like collision (shared common token), not a
      // same-entity signal — its pair space is quadratic and its pairs
      // nearly all fail the exact scorer. Dropping such buckets is the
      // standard production-LSH skew mitigation; same-entity groups
      // are tiny (#variants), so true-pair recall is untouched as long
      // as the cap is comfortably above the variant count.
      maxBucketSize: Int = 64,
      seed: Long = 42L
  ) {
    def numHashes: Int = numBands * rowsPerBand
  }

  // precompiled (String.replaceAll/split compile their regex per call —
  // measurable in the pair-scoring hot loop)
  private val WsPattern = java.util.regex.Pattern.compile("\\s+")
  private val NonAlnumPattern = java.util.regex.Pattern.compile("[^a-z0-9]+")

  /** Normalized character k-shingles, distinct. Case-folded (in
    * Locale.ROOT, so the JVM locale cannot change them) and
    * whitespace-collapsed so case variants are shingle-identical.
    */
  def shingles(s: String, k: Int): Array[Long] = {
    val n = WsPattern.matcher(s.toLowerCase(java.util.Locale.ROOT)).replaceAll(" ").trim
    if (n.length < k) Array(hashString(n))
    else {
      val set = scala.collection.mutable.LongMap.empty[Unit]
      var i = 0
      while (i + k <= n.length) {
        set.update(hashString(n.substring(i, i + k)), ())
        i += 1
      }
      set.keys.toArray
    }
  }

  /** MinHash signature: one universal-hash permutation per slot. */
  def signature(sh: Array[Long], cfg: LshConfig): Array[Long] = {
    val sig = Array.fill(cfg.numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var p = 0
      while (p < cfg.numHashes) {
        val h = mix3(cfg.seed, p.toLong, sh(i))
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    sig
  }

  /** One LSH band key per band: a pure-Scala mix of the band's
    * signature slice. Shared by the distributed plan (precomputed in
    * the signing mapPartitions, posexploded) and the driver-local fast
    * path, so both produce IDENTICAL candidate buckets.
    */
  def bandKeys(sig: Array[Long], cfg: LshConfig): Array[Long] =
    Array.tabulate(cfg.numBands) { b =>
      var h = mix64(cfg.seed ^ (b + 1).toLong)
      var i = b * cfg.rowsPerBand
      val end = i + cfg.rowsPerBand
      while (i < end) { h = mix3(h, sig(i), i.toLong); i += 1 }
      h
    }

  def exactJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val sa = a.toSet
    var inter = 0
    var i = 0
    while (i < b.length) { if (sa.contains(b(i))) inter += 1; i += 1 }
    val union = sa.size + b.distinct.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** [[exactJaccard]] of two sorted, duplicate-free arrays, by counting
    * the intersection in one merge pass. Same counts, same division, so
    * the result equals exactJaccard's bit for bit.
    */
  private def sortedJaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** IDF-weighted Jaccard: sum of shingle weights over the
    * intersection / union. Downweights shingles that are frequent
    * across the vocabulary (e.g. the "Systems"/"Inc" suffix problem:
    * two orgs sharing only a common suffix score low; variants sharing
    * a rare first word score high). Standard record-linkage practice
    * (cf. Cohen et al., soft TF-IDF).
    */
  def weightedJaccard(
      a: Array[Long],
      b: Array[Long],
      w: Long => Double
  ): Double = {
    val sa = a.toSet
    val sb = b.toSet
    var inter = 0.0
    var union = 0.0
    for (s <- sa) { val x = w(s); union += x; if (sb.contains(s)) inter += x }
    for (s <- sb) if (!sa.contains(s)) union += w(s)
    if (union == 0) 1.0 else inter / union
  }

  /** Legal-form / article stop tokens — standard company-name
    * normalization (cf. Magellan/py_entitymatching, Dedupe.io docs).
    */
  val StopTokens: Set[String] =
    Set("the", "inc", "corp", "ltd", "llc", "co", "gmbh")

  def tokensOf(s: String): Array[String] =
    NonAlnumPattern.split(s.toLowerCase(java.util.Locale.ROOT)).filter(t => t.nonEmpty && !StopTokens(t))

  /** Entity-link score: MIN over informative tokens (both sides) of the
    * token's best match on the other side, where a token matches by
    * equality (1.0), prefix-abbreviation >= 4 chars (0.9, "Techn." vs
    * "Technologies"), or char-trigram Jaccard otherwise. The min
    * aggregation is the discriminating choice: one unmatched
    * informative token ("Falcon" vs "Yarrow") caps the score near 0
    * even when the rest of the name agrees — exactly the
    * shared-suffix confusable a plain bag-of-shingles Jaccard merges.
    * This is the Fréchet-tolerance slot of the reference
    * (/root/reference/src/Utils.jl:256-276): the exact scorer applied
    * after blocking.
    */
  def tokenSim(a: String, b: String): Double =
    tokenSimArr(tokensOf(a), tokensOf(b), collection.mutable.HashMap.empty)

  /** tokenSim over pre-split token arrays with a caller-provided
    * shingle memo (tokens repeat heavily across candidate pairs — a
    * per-partition memo removes ~all shingle recomputation). The memo
    * holds each token's shingles sorted, so a token pair's Jaccard is
    * one merge pass ([[sortedJaccard]]) instead of a boxed Set per call.
    */
  def tokenSimArr(
      ta: Array[String],
      tb: Array[String],
      shingleMemo: collection.mutable.HashMap[String, Array[Long]]
  ): Double = {
    if (ta.isEmpty || tb.isEmpty) return if (ta.isEmpty && tb.isEmpty) 1.0 else 0.0
    def sh(t: String): Array[Long] =
      shingleMemo.getOrElseUpdate(t, { val a = shingles(t, 3); java.util.Arrays.sort(a); a })
    def one(t: String, other: Array[String]): Double = {
      var best = 0.0
      var i = 0
      while (i < other.length && best < 1.0) {
        val o = other(i)
        val s =
          if (t == o) 1.0
          else if (math.min(t.length, o.length) >= 4 &&
            (t.startsWith(o) || o.startsWith(t))) 0.9
          else sortedJaccard(sh(t), sh(o))
        if (s > best) best = s
        i += 1
      }
      best
    }
    var mn = 1.0
    var i = 0
    while (i < ta.length) { mn = math.min(mn, one(ta(i), tb)); i += 1 }
    i = 0
    while (i < tb.length) { mn = math.min(mn, one(tb(i), ta)); i += 1 }
    mn
  }

  /** The deterministic second blocking channel (multi-pass blocking,
    * standard entity-resolution practice): keyed on (first informative
    * token, 2-char prefix of the second, trailing numeric token if
    * any). Abbreviation variants clip the second token, which thins
    * their shingle overlap right at the LSH recall edge — this channel
    * catches every prefix-compatible pair with probability 1. The
    * numeric-suffix component keeps name families ("X Systems 2..22")
    * from pooling into one bucket that the hot-bucket cap would drop;
    * same-entity variants always agree on it. A single-informative-
    * token surface ("Google") gets a degenerate-but-valid key (second
    * component folds to ""). Caller guarantees toks is non-empty.
    */
  def prefixKey(toks: Array[String]): Long = {
    val t2p = if (toks.length >= 2) toks(1).take(2) else ""
    val last = toks(toks.length - 1)
    val num = if (last.nonEmpty && last.forall(c => c >= '0' && c <= '9')) last else ""
    mix3(hashString(toks(0)), hashString(t2p), hashString(num))
  }

  /** All blocking keys of one surface: numBands MinHash band keys
    * (positions 0..numBands-1) plus the prefix-channel key (position
    * numBands) when the surface has informative tokens. Position = the
    * channel id; shared by the distributed and driver-local paths.
    */
  def blockingKeys(toks: Array[String], sig: Array[Long], cfg: LshConfig): Array[Long] = {
    val bands = bandKeys(sig, cfg)
    if (toks.isEmpty) bands else bands :+ prefixKey(toks)
  }

  /** Candidate pairs of one blocking bucket: each pair of distinct
    * ids as (lower, higher), or none when the bucket holds fewer than two
    * or more than `maxBucketSize` ids (the hot-bucket cap, see
    * [[LshConfig]]). The one pair generator of both link paths.
    */
  def bucketPairs(ids: Array[Long], maxBucketSize: Int): Iterator[(Long, Long)] =
    if (ids.length < 2 || ids.length > maxBucketSize) Iterator.empty
    else
      for {
        a <- Iterator.range(0, ids.length)
        b <- Iterator.range(a + 1, ids.length)
        if ids(a) != ids(b)
      } yield if (ids(a) < ids(b)) (ids(a), ids(b)) else (ids(b), ids(a))

  /** A bucket's ids, keeping at most `cap + 1`: enough for
    * [[bucketPairs]] to tell a kept bucket from a capped one. Partial
    * buffers merge under the same bound, so no task holds more than
    * `cap + 1` ids of a hot bucket.
    */
  private final class CappedIds(cap: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(buf: Array[Long], id: Long): Array[Long] = if (buf.length > cap) buf else buf :+ id
    def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.length > cap) a else if (b.length > cap) b else (a ++ b).take(cap + 1)
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Candidate link edges among `surfaces` (id, surface).
    *
    * Plan: one signing pass emits (band, key, id) per blocking channel
    * → groupBy(band, key) collects each bucket's ids, capped at
    * `maxBucketSize + 1` ([[CappedIds]]) → [[bucketPairs]] →
    * distinct pairs (a pair can collide in several bands) → each
    * side's tokens joined in by id, for candidates only → exact scorer
    * filter. Shuffles: the bucket aggregate, the pair dedup and the two
    * token joins (broadcast while the vocabulary is small).
    */
  def linkEdges(
      spark: SparkSession,
      surfaces: DataFrame, // columns: id: Long, surface: String
      cfg: LshConfig = LshConfig()
  ): Dataset[LinkEdge] = {
    import spark.implicits._
    val named = surfaces.select($"id".cast("long"), $"surface".cast("string")).as[(Long, String)]
    val pairs = named
      .flatMap { case (id, s) =>
        val keys = blockingKeys(tokensOf(s), signature(shingles(s, cfg.shingleK), cfg), cfg)
        keys.indices.map(b => (b, keys(b), id))
      }
      .toDF("band", "bh", "id")
      .groupBy($"band", $"bh")
      .agg(udaf(new CappedIds(cfg.maxBucketSize), Encoders.scalaLong)($"id").as("ids"))
      .select($"ids")
      .as[Array[Long]]
      .flatMap(bucketPairs(_, cfg.maxBucketSize))
      .toDF("src", "dst")
      .distinct()

    val toks = named.map { case (id, s) => (id, tokensOf(s)) }
    pairs
      .join(toks.toDF("src", "t_a"), "src")
      .join(toks.toDF("dst", "t_b"), "dst")
      .select($"src", $"dst", $"t_a", $"t_b")
      .as[(Long, Long, Array[String], Array[String])]
      .mapPartitions { it =>
        val memo = collection.mutable.HashMap.empty[String, Array[Long]]
        it.map { case (s, d, a, b) => LinkEdge(s, d, tokenSimArr(a, b, memo)) }
      }
      .filter(_.score >= cfg.jaccardThreshold)
  }

  /** Driver-local linkEdges for broadcast-sized vocabularies (the
    * reference's own in-memory regime; same dispatch idea as
    * [[graft.canon.ConnectedComponents]]' driver-local union-find). The
    * blocking keys, [[bucketPairs]] and scorer are the SAME functions
    * the distributed plan uses, so the produced link set is identical —
    * property-tested in LinkerLocalSpec. It saves the distributed
    * plan's fixed job overhead, since linking cost depends on |dict|,
    * not |turns|.
    */
  def linkEdgesLocal(surfaces: Seq[(Long, String)], cfg: LshConfig = LshConfig()): Seq[LinkEdge] = {
    // ids ranked in ascending order: a rank pair packs into one long
    // whose primitive sort orders and deduplicates the pairs by id
    val ids = surfaces.map(_._1).distinct.sorted.toArray
    val rank = ids.zipWithIndex.toMap
    val toks = new Array[Array[String]](ids.length)
    val buckets = collection.mutable.HashMap.empty[(Int, Long), collection.mutable.ArrayBuffer[Long]]
    for ((id, s) <- surfaces) {
      val r = rank(id)
      toks(r) = tokensOf(s)
      val keys = blockingKeys(toks(r), signature(shingles(s, cfg.shingleK), cfg), cfg)
      for (b <- keys.indices)
        buckets.getOrElseUpdate((b, keys(b)), collection.mutable.ArrayBuffer.empty) += r.toLong
    }
    val pairs = buckets.valuesIterator
      .flatMap(buf => bucketPairs(buf.toArray, cfg.maxBucketSize))
      .map { case (a, b) => a << 32 | b }
      .toArray
    java.util.Arrays.sort(pairs)
    val memo = collection.mutable.HashMap.empty[String, Array[Long]]
    pairs.indices.iterator
      .filter(i => i == 0 || pairs(i - 1) != pairs(i))
      .flatMap { i =>
        val (a, b) = ((pairs(i) >>> 32).toInt, pairs(i).toInt)
        val score = tokenSimArr(toks(a), toks(b), memo)
        if (score >= cfg.jaccardThreshold) Some(LinkEdge(ids(a), ids(b), score)) else None
      }
      .toSeq
  }
}
