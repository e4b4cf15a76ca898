package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.link.Linker

/** The link scorer's sort-merge kernel against the Set-based reference
  * (`exactJaccard`), and tokenization against the JVM locale.
  */
class LinkerScorerSpec extends AnyFunSuite {

  /** tokenSim as first written: the per-token-pair Jaccard through
    * `exactJaccard` over unsorted shingles.
    */
  private def referenceSim(ta: Array[String], tb: Array[String]): Double = {
    if (ta.isEmpty || tb.isEmpty) return if (ta.isEmpty && tb.isEmpty) 1.0 else 0.0
    def one(t: String, other: Array[String]): Double =
      other.iterator.map { o =>
        if (t == o) 1.0
        else if (math.min(t.length, o.length) >= 4 && (t.startsWith(o) || o.startsWith(t))) 0.9
        else Linker.exactJaccard(Linker.shingles(t, 3), Linker.shingles(o, 3))
      }.max
    (ta.iterator.map(one(_, tb)) ++ tb.iterator.map(one(_, ta))).min
  }

  private def assertSameBits(
      ta: Array[String],
      tb: Array[String],
      memo: collection.mutable.HashMap[String, Array[Long]]
  ): Unit = {
    val got = Linker.tokenSimArr(ta, tb, memo)
    val want = referenceSim(ta, tb)
    assert(java.lang.Double.doubleToRawLongBits(got) == java.lang.Double.doubleToRawLongBits(want),
      s"${ta.mkString("[", ",", "]")} vs ${tb.mkString("[", ",", "]")}: $got != $want")
  }

  test("tokenSimArr equals the exactJaccard reference bit for bit on every candidate pair") {
    val cfg = Linker.LshConfig()
    val dict = graft.kg.Dictionary.build(42, 400)
    val toks = dict.map(s => s.surfaceId -> Linker.tokensOf(s.surface)).toMap
    val buckets = collection.mutable.HashMap.empty[(Int, Long), collection.mutable.ArrayBuffer[Long]]
    for (s <- dict) {
      val sig = Linker.signature(Linker.shingles(s.surface, cfg.shingleK), cfg)
      val keys = Linker.blockingKeys(toks(s.surfaceId), sig, cfg)
      for (b <- keys.indices)
        buckets.getOrElseUpdate((b, keys(b)), collection.mutable.ArrayBuffer.empty) += s.surfaceId
    }
    val pairs = buckets.values.flatMap(b => Linker.bucketPairs(b.toArray, cfg.maxBucketSize)).toSet
    assert(pairs.size > 1000, s"only ${pairs.size} candidate pairs")
    val memo = collection.mutable.HashMap.empty[String, Array[Long]]
    for ((a, b) <- pairs) assertSameBits(toks(a), toks(b), memo)
  }

  test("tokenSimArr equals the exactJaccard reference bit for bit on random token arrays") {
    val rnd = new Random(7)
    val alphabet = "abcdefgh0123"
    def token(): String = Iterator.fill(1 + rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.length))).mkString
    def tokens(): Array[String] = Array.fill(rnd.nextInt(4))(token())
    val memo = collection.mutable.HashMap.empty[String, Array[Long]]
    val fixed = Seq(Array.empty[String], Array("a"), Array("ab"), Array("abcd"), Array("abcdef", "gh"))
    for (a <- fixed; b <- fixed) assertSameBits(a, b, memo)
    for (_ <- 0 until 5000) assertSameBits(tokens(), tokens(), memo)
  }

  test("tokensOf and shingles do not depend on the JVM default locale") {
    val s = "ITEM Systems"
    val saved = java.util.Locale.getDefault
    val (enToks, enSh) =
      try {
        java.util.Locale.setDefault(java.util.Locale.ENGLISH)
        (Linker.tokensOf(s).toSeq, Linker.shingles(s, 3).toSet)
      } finally java.util.Locale.setDefault(saved)
    val (trToks, trSh) =
      try {
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
        (Linker.tokensOf(s).toSeq, Linker.shingles(s, 3).toSet)
      } finally java.util.Locale.setDefault(saved)
    assert(enToks == Seq("item", "systems"))
    assert(trToks == enToks)
    assert(trSh == enSh)
  }
}
