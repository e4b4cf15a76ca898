package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.util.Hashing

/** Native Catalyst expressions for the text-dedup hot path.
  *
  * The typed-Dataset formulation of shingling (`base.map { (id, t) =>
  * (id, wordShingles(t, n)) }`) pays an encoder round-trip per row and
  * splits the scan into separate codegen units
  * (DeserializeToObject/MapElements/SerializeFromObject). This
  * expression runs the identical kernel inside whole-stage codegen —
  * the same reason VectorDot/JaccardDistinct exist for the
  * cosine/verification steps (custom Expression > closure, engine
  * design rule).
  */
object TextExpressions {

  /** THE word-shingle kernel (identical semantics to the original
    * `Dedup.wordShingles`, which now delegates here): lowercase in
    * Locale.ROOT, whitespace-tokenize, hash each n-gram with
    * [[Hashing.hashString]], keep first-occurrence-distinct hashes. Public + static so
    * generated code can call it.
    */
  def wordShinglesArr(text: String, n: Int): Array[Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Array(Hashing.hashString(toks.mkString(" ")))
    else (0 to toks.length - n).map(i => Hashing.hashString(toks.slice(i, i + n).mkString(" "))).distinct.toArray
  }

  /** Codegen entry point: UTF8String in, ArrayData out. */
  def wordShinglesData(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(wordShinglesArr(text.toString, n))

  /** word_shingles(text, n): array<bigint> of distinct word-n-gram
    * hashes, evaluated inside whole-stage codegen.
    */
  case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
    require(n > 0, s"word_shingles n must be positive, got $n")

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"word_shingles input must be string, got $other")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(a: Any): Any =
      wordShinglesData(a.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.TextExpressions.wordShinglesData($a, $n);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def word_shingles(text: Column, n: Int): Column =
    ExprBridge.column(WordShingles(ExprBridge.expression(text), n))

  /** POSITIONAL word-n-gram hashes (non-distinct; empty below n tokens)
    * — the [[graft.dedup.SpanDedup]] unit. Locale.ROOT lowercase (the
    * tr/az-locale hazard fix — matches SQL lower() and LineDedup's
    * streaming scrub).
    */
  def wordGramHashesArr(text: String, n: Int): Array[Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Array.emptyLongArray
    else Array.tabulate(toks.length - n + 1)(i =>
      Hashing.hashString(toks.slice(i, i + n).mkString(" ")))
  }

  /** Codegen entry point: UTF8String in, ArrayData out. */
  def wordGramHashesData(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(wordGramHashesArr(text.toString, n))

  /** word_gram_hashes(text, n): array<bigint> of positional word-n-gram
    * hashes (index = 0-based first-token position), evaluated inside
    * whole-stage codegen.
    */
  case class WordGramHashes(child: Expression, n: Int) extends UnaryExpression {
    require(n > 0, s"word_gram_hashes n must be positive, got $n")

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"word_gram_hashes input must be string, got $other")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(a: Any): Any =
      wordGramHashesData(a.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.TextExpressions.wordGramHashesData($a, $n);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def word_gram_hashes(text: Column, n: Int): Column =
    ExprBridge.column(WordGramHashes(ExprBridge.expression(text), n))

  // ---------------------------------------------------------------
  // Gopher n-gram signal kernel
  // ---------------------------------------------------------------

  /** Space-only trim — EXACTLY Spark's `trim()` (UTF8String.trim
    * strips only 0x20; verified empirically: tabs/newlines/nbsp are
    * kept), NOT Java String.trim (which strips all <= 0x20).
    */
  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  /** Code-point count — EXACTLY Spark's `length()` on strings
    * (UTF8String.numChars), not String.length (UTF-16 units).
    */
  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Spark `round(x, 6)` for doubles (RoundingMode.HALF_UP over
    * BigDecimal.valueOf — the exact Catalyst Round semantics).
    */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `Repetition.units(text, unitSep)` replayed in one compiled pass:
    * lower in Locale.ROOT, regex split with limit -1 (Spark split
    * default), space-only trim, drop empties. The lowering equals SQL
    * lower() on ASCII text only: on non-ASCII text
    * UTF8String.toLowerCase uses the JVM's default locale, so the two
    * can differ under a tr/az/lt default.
    */
  def unitsKernel(text: String, sep: java.util.regex.Pattern): Array[String] = {
    val parts = sep.split(text.toLowerCase(java.util.Locale.ROOT), -1)
    val out = new scala.collection.mutable.ArrayBuffer[String](parts.length)
    var i = 0
    while (i < parts.length) {
      val t = trimSpaces(parts(i))
      if (t.nonEmpty) out += t
      i += 1
    }
    out.toArray
  }

  /** The full Gopher n-gram signal family over one document, one
    * compiled pass — identical values to the higher-order-function
    * formulation in [[graft.text.Repetition]] (`topNgramCharFrac` /
    * `dupNgramCoverFrac`), which Spark evaluates interpreted per array
    * element (HOF lambdas do not participate in whole-stage codegen).
    * Layout: topNs.map(top_frac) ++ coverNs.map(dup_frac), all
    * `round(·, 6)`.
    *
    * Equivalences relied on (spec-pinned against the HOF forms):
    *   - topRunChars over a sorted gram array = max over distinct
    *     grams of (count × gram code-point length) — runs of equal
    *     values are contiguous under ANY total order, and run=1
    *     contributes len just like a count-1 gram;
    *   - the positional sort-and-mark dup flag = "this window's gram
    *     occurs >= 2 times in the document";
    *   - gram equality on UTF8String == Java String equality.
    */
  def ngramSignalsKernel(
      textU: UTF8String,
      sep: java.util.regex.Pattern,
      topNs: Array[Int],
      coverNs: Array[Int]
  ): Array[Double] = {
    val text = textU.toString
    val rawLen = textU.numChars()
    val units = unitsKernel(text, sep)
    val t = units.length
    val unitLens = new Array[Int](t)
    var totChars = 0L
    var j = 0
    while (j < t) { unitLens(j) = cpLen(units(j)); totChars += unitLens(j); j += 1 }

    val out = new Array[Double](topNs.length + coverNs.length)

    // shared per-n gram walk: counts into a hash map, gram char length
    // tracked alongside (grams are space-joined slices, so charLen =
    // sum(unit lens) + (n-1) separators — computed incrementally)
    def gramCounts(n: Int): java.util.HashMap[String, Int] = {
      val m = t - n + 1
      val counts = new java.util.HashMap[String, Int](m * 2)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(units(i + k))
          k += 1
        }
        counts.merge(sb.toString, 1, (a, b) => a + b)
        i += 1
      }
      counts
    }

    var o = 0
    var ti = 0
    while (ti < topNs.length) {
      val n = topNs(ti)
      out(o) =
        if (t >= n) {
          val counts = if (n == 1) {
            val c = new java.util.HashMap[String, Int](t * 2)
            var i = 0
            while (i < t) { c.merge(units(i), 1, (a, b) => a + b); i += 1 }
            c
          } else gramCounts(n)
          var best = 0L
          val it = counts.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val v = e.getValue.toLong * cpLen(e.getKey)
            if (v > best) best = v
          }
          round6(best.toDouble / math.max(rawLen, 1))
        } else 0.0
      o += 1
      ti += 1
    }

    var ci = 0
    while (ci < coverNs.length) {
      val n = coverNs(ci)
      out(o) =
        if (t >= n && totChars > 0) {
          val m = t - n + 1
          val counts = gramCounts(n)
          // flags per window: gram occurs >= 2 times in this document
          val flags = new Array[Boolean](m)
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i < m) {
            sb.setLength(0)
            var k = 0
            while (k < n) {
              if (k > 0) sb.append(' ')
              sb.append(units(i + k))
              k += 1
            }
            flags(i) = counts.get(sb.toString) >= 2
            i += 1
          }
          // prefix-or of flags so the per-unit overlap probe is O(1):
          // unit j is covered iff any window in [j-(n-1), min(j, m-1)]
          // is flagged
          var covered = 0L
          var jj = 0
          while (jj < t) {
            val lo = math.max(0, jj - (n - 1))
            val hi = math.min(jj, m - 1)
            var any = false
            var w = lo
            while (w <= hi && !any) { any = flags(w); w += 1 }
            if (any) covered += unitLens(jj)
            jj += 1
          }
          round6(covered.toDouble / totChars)
        } else 0.0
      o += 1
      ci += 1
    }
    out
  }

  /** ngram_signals(text): array<double> of the Table A1 fractions in
    * (topNs ++ coverNs) order, evaluated in whole-stage codegen.
    */
  case class NgramSignals(
      child: Expression,
      unitSep: String,
      topNs: Seq[Int],
      coverNs: Seq[Int]
  ) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"ngram_signals input must be string, got $other")
    }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    @transient private lazy val pat = java.util.regex.Pattern.compile(unitSep)
    @transient private lazy val topArr = topNs.toArray
    @transient private lazy val covArr = coverNs.toArray

    override def nullSafeEval(a: Any): Any =
      new GenericArrayData(
        ngramSignalsKernel(a.asInstanceOf[UTF8String], pat, topArr, covArr))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val patRef = ctx.addReferenceObj("ngramSep", pat, classOf[java.util.regex.Pattern].getName)
      val topRef = ctx.addReferenceObj("ngramTop", topArr, "int[]")
      val covRef = ctx.addReferenceObj("ngramCov", covArr, "int[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.TextExpressions.ngramSignalsKernel($a, $patRef, $topRef, $covRef));
           |""".stripMargin)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Boolean n-gram gate: every top fraction <= its cap AND every dup
    * fraction <= its cap — `Repetition.gopherNgramPasses` as one
    * kernel call (one evaluation per row, guaranteed).
    */
  case class NgramPasses(
      child: Expression,
      unitSep: String,
      topCaps: Seq[(Int, Double)],
      dupCaps: Seq[(Int, Double)]
  ) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"ngram_passes input must be string, got $other")
    }
    override def dataType: DataType = BooleanType

    @transient private lazy val pat = java.util.regex.Pattern.compile(unitSep)
    @transient private lazy val topNsArr = topCaps.map(_._1).toArray
    @transient private lazy val covNsArr = dupCaps.map(_._1).toArray
    @transient private lazy val capsArr = (topCaps.map(_._2) ++ dupCaps.map(_._2)).toArray

    override def nullSafeEval(a: Any): Any =
      ngramPassesKernel(a.asInstanceOf[UTF8String], pat, topNsArr, covNsArr, capsArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val patRef = ctx.addReferenceObj("ngramSep", pat, classOf[java.util.regex.Pattern].getName)
      val topRef = ctx.addReferenceObj("ngramTop", topNsArr, "int[]")
      val covRef = ctx.addReferenceObj("ngramCov", covNsArr, "int[]")
      val capRef = ctx.addReferenceObj("ngramCaps", capsArr, "double[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = graft.functions.TextExpressions.ngramPassesKernel(
           |  $a, $patRef, $topRef, $covRef, $capRef);
           |""".stripMargin)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def ngramPassesKernel(
      textU: UTF8String,
      sep: java.util.regex.Pattern,
      topNs: Array[Int],
      coverNs: Array[Int],
      caps: Array[Double]
  ): Boolean = {
    val sig = ngramSignalsKernel(textU, sep, topNs, coverNs)
    var i = 0
    while (i < sig.length) {
      if (sig(i) > caps(i)) return false
      i += 1
    }
    true
  }

  /** Max over distinct n-grams of (count × gram code-point length) —
    * the [[graft.text.Repetition]] `topRunChars(array_sort(ngrams))`
    * statistic (any total order groups equal grams; run=1 contributes
    * its length like a count-1 gram).
    */
  private def topNgramCharsKernel(units: Array[String], n: Int): Long = {
    val t = units.length
    val counts = new java.util.HashMap[String, Int](t * 2)
    if (n == 1) {
      var i = 0
      while (i < t) { counts.merge(units(i), 1, (a, b) => a + b); i += 1 }
    } else {
      val m = t - n + 1
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(units(i + k))
          k += 1
        }
        counts.merge(sb.toString, 1, (a, b) => a + b)
        i += 1
      }
    }
    var best = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue.toLong * cpLen(e.getKey)
      if (v > best) best = v
    }
    best
  }

  /** The Gopher word-family rule conjunction over one document —
    * identical decisions to `Repetition.gopherPassesHof` (spec-pinned):
    * word-count bounds, mean-word-length bounds, alpha-word floor,
    * duplicated-unit cap, top-n-gram character cap. Caps layout:
    * [minWords, maxWords, minMeanWordLen, maxMeanWordLen,
    * minAlphaWordFraction, maxDupUnitFraction, maxTopNgramCharFraction].
    */
  def gopherWordPassesKernel(
      textU: UTF8String,
      sep: java.util.regex.Pattern,
      topN: Int,
      caps: Array[Double]
  ): Boolean = {
    val units = unitsKernel(textU.toString, sep)
    val rawLen = textU.numChars()
    val t = units.length
    var totChars = 0L
    var alphaWords = 0
    val distinct = new java.util.HashSet[String](t * 2)
    var j = 0
    while (j < t) {
      val u = units(j)
      totChars += cpLen(u)
      var hasAlpha = false
      var k = 0
      while (k < u.length && !hasAlpha) {
        val c = u.charAt(k)
        hasAlpha = c >= 'a' && c <= 'z' // rlike("[a-z]") on lowercased units
        k += 1
      }
      if (hasAlpha) alphaWords += 1
      distinct.add(u)
      j += 1
    }
    val meanLen = if (t > 0) round6(totChars.toDouble / t) else 0.0
    val alphaFrac = if (t > 0) round6(alphaWords.toDouble / t) else 0.0
    val dupFrac = if (t > 0) round6((t - distinct.size).toDouble / t) else 0.0
    val topFrac =
      if (t >= topN) round6(topNgramCharsKernel(units, topN).toDouble / math.max(rawLen, 1))
      else 0.0
    t >= caps(0) && t <= caps(1) &&
      meanLen >= caps(2) && meanLen <= caps(3) &&
      alphaFrac >= caps(4) &&
      dupFrac <= caps(5) &&
      topFrac <= caps(6)
  }

  /** Boolean word-family gate: `Repetition.gopherPasses` as one kernel
    * call (one evaluation per row, whole-stage codegen).
    */
  case class GopherWordPasses(
      child: Expression,
      unitSep: String,
      topN: Int,
      caps: Seq[Double] // layout documented on gopherWordPassesKernel
  ) extends UnaryExpression {
    require(caps.length == 7, s"gopher_word_passes needs 7 caps, got ${caps.length}")

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"gopher_word_passes input must be string, got $other")
    }
    override def dataType: DataType = BooleanType

    @transient private lazy val pat = java.util.regex.Pattern.compile(unitSep)
    @transient private lazy val capsArr = caps.toArray

    override def nullSafeEval(a: Any): Any =
      gopherWordPassesKernel(a.asInstanceOf[UTF8String], pat, topN, capsArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val patRef = ctx.addReferenceObj("gphSep", pat, classOf[java.util.regex.Pattern].getName)
      val capRef = ctx.addReferenceObj("gphCaps", capsArr, "double[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = graft.functions.TextExpressions.gopherWordPassesKernel(
           |  $a, $patRef, $topN, $capRef);
           |""".stripMargin)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def gopher_word_passes(text: Column, unitSep: String, topN: Int, caps: Seq[Double]): Column =
    ExprBridge.column(GopherWordPasses(ExprBridge.expression(text), unitSep, topN, caps))

  def ngram_signals(text: Column, unitSep: String, topNs: Seq[Int], coverNs: Seq[Int]): Column =
    ExprBridge.column(NgramSignals(ExprBridge.expression(text), unitSep, topNs, coverNs))

  def ngram_passes(
      text: Column,
      unitSep: String,
      topCaps: Seq[(Int, Double)],
      dupCaps: Seq[(Int, Double)]
  ): Column =
    ExprBridge.column(NgramPasses(ExprBridge.expression(text), unitSep, topCaps, dupCaps))

  /** The Gopher line-family rule conjunction over one document —
    * identical decisions to `Repetition.gopherLinePassesHof`
    * (spec-pinned): duplicate-line and duplicate-line-character caps,
    * bullet-start and ellipsis-end caps. Lines are the "\n" units
    * (lower, space-trim, drop empties). Caps layout:
    * [maxDupLineFraction, maxDupLineCharFraction,
    * maxBulletLineFraction, maxEllipsisLineFraction].
    */
  def gopherLinePassesKernel(
      textU: UTF8String,
      sep: java.util.regex.Pattern,
      bullet: java.util.regex.Pattern,
      ellipsis: java.util.regex.Pattern,
      caps: Array[Double]
  ): Boolean = {
    val lines = unitsKernel(textU.toString, sep)
    val n = lines.length
    var totChars = 0L
    var bullets = 0
    var ellipses = 0
    val counts = new java.util.HashMap[String, Int](n * 2)
    var i = 0
    while (i < n) {
      val l = lines(i)
      totChars += cpLen(l)
      if (bullet.matcher(l).find()) bullets += 1
      if (ellipsis.matcher(l).find()) ellipses += 1
      counts.merge(l, 1, (a, b) => a + b)
      i += 1
    }
    // chars inside lines occurring >= 2 times (every occurrence counts)
    var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue >= 2) dupChars += e.getValue.toLong * cpLen(e.getKey)
    }
    val dupFrac = if (n > 0) round6((n - counts.size).toDouble / n) else 0.0
    val dupCharFrac = if (totChars > 0) round6(dupChars.toDouble / totChars) else 0.0
    val bulletFrac = if (n > 0) round6(bullets.toDouble / n) else 0.0
    val ellipsisFrac = if (n > 0) round6(ellipses.toDouble / n) else 0.0
    dupFrac <= caps(0) && dupCharFrac <= caps(1) &&
      bulletFrac <= caps(2) && ellipsisFrac <= caps(3)
  }

  /** Boolean line-family gate: `Repetition.gopherLinePasses` as one
    * kernel call (one evaluation per row, whole-stage codegen).
    */
  case class GopherLinePasses(
      child: Expression,
      unitSep: String,
      bulletPat: String,
      ellipsisPat: String,
      caps: Seq[Double]
  ) extends UnaryExpression {
    require(caps.length == 4, s"gopher_line_passes needs 4 caps, got ${caps.length}")

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"gopher_line_passes input must be string, got $other")
    }
    override def dataType: DataType = BooleanType

    @transient private lazy val sep = java.util.regex.Pattern.compile(unitSep)
    @transient private lazy val bul = java.util.regex.Pattern.compile(bulletPat)
    @transient private lazy val ell = java.util.regex.Pattern.compile(ellipsisPat)
    @transient private lazy val capsArr = caps.toArray

    override def nullSafeEval(a: Any): Any =
      gopherLinePassesKernel(a.asInstanceOf[UTF8String], sep, bul, ell, capsArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val pat = classOf[java.util.regex.Pattern].getName
      val sepRef = ctx.addReferenceObj("glpSep", sep, pat)
      val bulRef = ctx.addReferenceObj("glpBullet", bul, pat)
      val ellRef = ctx.addReferenceObj("glpEllipsis", ell, pat)
      val capRef = ctx.addReferenceObj("glpCaps", capsArr, "double[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = graft.functions.TextExpressions.gopherLinePassesKernel(
           |  $a, $sepRef, $bulRef, $ellRef, $capRef);
           |""".stripMargin)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def gopher_line_passes(
      text: Column,
      unitSep: String,
      bulletPat: String,
      ellipsisPat: String,
      caps: Seq[Double]
  ): Column =
    ExprBridge.column(
      GopherLinePasses(ExprBridge.expression(text), unitSep, bulletPat, ellipsisPat, caps))

  // ---------------------------------------------------------------
  // MinHash / SimHash signature kernels
  // ---------------------------------------------------------------

  /** Codegen entry: MinHash band keys of a text's word shingles —
    * exactly `Linker.bandKeys(Linker.signature(wordShingles(t, k)))`,
    * the composition the banding mapPartitions evaluated per row.
    */
  def minhashBandKeysData(text: UTF8String, cfg: graft.link.Linker.LshConfig): ArrayData =
    new GenericArrayData(
      graft.link.Linker.bandKeys(
        graft.link.Linker.signature(wordShinglesArr(text.toString, cfg.shingleK), cfg), cfg))

  /** minhash_band_keys(text): array<bigint>, one band key per band
    * (index = band id), inside whole-stage codegen.
    */
  case class MinhashBandKeys(child: Expression, cfg: graft.link.Linker.LshConfig)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"minhash_band_keys input must be string, got $other")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(a: Any): Any =
      minhashBandKeysData(a.asInstanceOf[UTF8String], cfg)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cfgRef = ctx.addReferenceObj("lshCfg", cfg, cfg.getClass.getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.TextExpressions.minhashBandKeysData($a, $cfgRef);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def minhash_band_keys(text: Column, cfg: graft.link.Linker.LshConfig): Column =
    ExprBridge.column(MinhashBandKeys(ExprBridge.expression(text), cfg))

  /** Codegen entry: 64-bit SimHash of the lowercased whitespace tokens
    * (Locale.ROOT — matches SQL lower()).
    */
  def simhash64Of(text: UTF8String): Long =
    graft.text.TextOps.simhash64(
      text.toString.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSeq)

  /** simhash64(text): bigint signature, inside whole-stage codegen. */
  case class SimHash64(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"simhash64 input must be string, got $other")
    }
    override def dataType: DataType = LongType

    override def nullSafeEval(a: Any): Any = simhash64Of(a.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.TextExpressions.simhash64Of($a);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def simhash64(text: Column): Column =
    ExprBridge.column(SimHash64(ExprBridge.expression(text)))
}
