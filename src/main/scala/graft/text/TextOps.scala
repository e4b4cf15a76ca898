package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Hashing

/** Text-analysis operators for training-data pipelines: token counting,
  * heuristic language ID, quality scoring, document fingerprinting.
  * Everything except the fingerprint is a pure Column expression
  * (codegen'd, no UDF); the fingerprint is a typed map (rolling hash
  * needs per-char state).
  */
object TextOps {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Marker words per language for the heuristic language ID. Tiny by
    * design: the operator shape (per-language evidence count + argmax)
    * is what scales, the lexicon is a pluggable dimension.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "es", "una", "para", "del", "que"),
    "it" -> Seq("il", "di", "che", "per", "con", "una", "sono", "della")
  )

  private def markerHitsTok(toks: Column, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t)))
  }

  /** Heuristic language ID over a pre-split token array (share the
    * split across consumers — the split dominates the cost of the
    * annotate pass): per-language stopword evidence, argmax with
    * deterministic first-wins tie-break ("unknown" if nothing matches).
    */
  def langIdTok(toks: Column): Column = {
    val scored = LangMarkers.map { case (lang, ms) => (lang, markerHitsTok(toks, ms)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("unknown")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Quality score in [0,1]: length band + alpha ratio + stopword
    * presence — the length/punct/stopword heuristics of C4/Gopher-style
    * data filtering, as one arithmetic expression.
    */
  def qualityScore(text: Column): Column =
    qualityScoreTok(text, split(lower(text), "\\s+"), tokenCount(text))

  def qualityScoreTok(text: Column, toks: Column, tokens0: Column): Column = {
    val len = length(text).cast("double")
    val lenScore =
      when(len < 20, len / 20.0).when(len > 2000, lit(0.5)).otherwise(lit(1.0))
    val alpha = length(regexp_replace(text, "[^A-Za-z ]", "")).cast("double")
    val alphaRatio = when(len > 0, alpha / len).otherwise(lit(0.0))
    val stop = markerHitsTok(toks, LangMarkers.flatMap(_._2)).cast("double")
    val tokens = tokens0.cast("double")
    val stopRatio = when(tokens > 0, least(stop / tokens * 4.0, lit(1.0))).otherwise(lit(0.0))
    round(lenScore * 0.3 + alphaRatio * 0.4 + stopRatio * 0.3, 6)
  }

  /** Normalization used before fingerprinting / exact dedup:
    * lowercase, strip non-alphanumerics, collapse whitespace.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), "\\s+", " "))

  /** Deterministic 64-bit driver-side string fingerprint (FNV-mix; a
    * STANDALONE hash — NOT bit-compatible with `fingerprintCol`'s
    * xxhash64-of-normalized column, and applied to the raw string;
    * used by tests and the shingle machinery).
    */
  def fingerprint64(s: String): Long = Hashing.hashString(s)

  /** Fingerprint as a column: xxhash64 of the normalized text —
    * consistent within the engine (cross-engine comparisons go through
    * the normalized text itself, not the hash).
    */
  def fingerprintCol(text: Column): Column = xxhash64(normalized(text))

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003): rolling polynomial hash over character k-grams of
    * the normalized text, then the minimum hash of every w-window is
    * selected (rightmost-min tie-break). Guarantees: any shared
    * substring of length >= w + k - 1 yields at least one shared
    * fingerprint — the standard near-copy detector for code/text
    * corpora. Returns distinct selected hashes.
    */
  def winnowingFingerprints(text: String, k: Int = 5, w: Int = 4): Array[Long] = {
    val n = normalizedString(text)
    if (n.length < k) return if (n.isEmpty) Array.empty else Array(Hashing.hashString(n))
    // rolling polynomial hash over k-grams: h_i = sum c_j * B^(k-1-j)
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    val m = n.length - k + 1
    val hs = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + n.charAt(i); i += 1 }
    hs(0) = Hashing.mix64(h)
    var raw = h
    i = 1
    while (i < m) {
      raw = (raw - n.charAt(i - 1) * pow) * B + n.charAt(i + k - 1)
      hs(i) = Hashing.mix64(raw)
      i += 1
    }
    if (m <= w) return Array(hs.min)
    val out = scala.collection.mutable.LongMap.empty[Unit]
    i = 0
    while (i + w <= m) {
      var mn = hs(i)
      var mi = i
      var j = i + 1
      while (j < i + w) {
        if (hs(j) <= mn) { mn = hs(j); mi = j } // rightmost min
        j += 1
      }
      out.update(hs(mi), ())
      i += 1
    }
    out.keys.toArray
  }

  private def normalizedString(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll("\\s+", " ").trim

  /** SimHash-64 over word features: per-bit majority vote of feature
    * hashes (Charikar 2002). Near-duplicates differ in few bits.
    */
  def simhash64(tokens: Seq[String]): Long = {
    val counts = new Array[Int](64)
    for (t <- tokens) {
      val h = Hashing.hashString(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Add (token_count, lang, quality, fingerprint) columns in one
    * narrow pass: the text is split once and each per-language hit
    * count is materialized as ONE intermediate column. Without this,
    * each hit count appears twice per language (inside `greatest` and
    * inside its `when` branch) and the generated code grows
    * quadratically — measured seconds of janino time for a 5-language
    * case on a tiny table.
    */
  def annotate(df: DataFrame, textCol: String): DataFrame = {
    val hitCols = LangMarkers.map { case (lang, _) => s"_h_$lang" }
    val withHits = LangMarkers.zip(hitCols).foldLeft(
      df.withColumn("_toks", split(lower(col(textCol)), "\\s+"))
    ) { case (acc, ((_, markers), c)) => acc.withColumn(c, markerHitsTok(col("_toks"), markers)) }
    val best = hitCols.map(col).reduce((a, b) => greatest(a, b))
    val pick = LangMarkers.zip(hitCols).foldRight(lit("unknown")) { case (((lang, _), c), acc) =>
      when(col(c) === col("_best") && col(c) > 0, lit(lang)).otherwise(acc)
    }
    withHits
      .withColumn("_best", best)
      .withColumn("token_count", tokenCount(col(textCol)))
      .withColumn("lang_guess", pick)
      .withColumn("quality", qualityScoreTok(col(textCol), col("_toks"), col("token_count")))
      .withColumn("fingerprint", fingerprintCol(col(textCol)))
      .drop("_toks" :: "_best" :: hitCols.toList: _*)
  }
}
