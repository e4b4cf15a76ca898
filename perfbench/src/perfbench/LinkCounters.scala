package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import graft.kg.SurfaceForm
import graft.link.Linker

/** Link-layer work counts, recomputed on the driver from `Linker`'s
  * public blocking and scoring functions (the linker itself returns only
  * its edges).
  *
  * @param blockingKeys  (surface, channel) keys emitted
  * @param buckets       (channel, key) buckets holding two or more surfaces
  * @param bucketsCapped buckets dropped for exceeding `maxBucketSize`
  * @param candidatePairs distinct surface pairs sharing a kept bucket
  * @param edges         candidate pairs scoring at least `jaccardThreshold`
  */
final case class LinkCounters(
    surfaces: Long,
    blockingKeys: Long,
    buckets: Long,
    bucketsCapped: Long,
    candidatePairs: Long,
    edges: Set[(Long, Long)]
)

object LinkCounters {

  def compute(dict: Seq[SurfaceForm], cfg: Linker.LshConfig, cores: Int): LinkCounters = {
    val ids = dict.map(_.surfaceId).toArray
    val toks = dict.map(s => Linker.tokensOf(s.surface)).toArray
    val members = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[Int]]
    var keys = 0L
    dict.indices.foreach { i =>
      val sig = Linker.signature(Linker.shingles(dict(i).surface, cfg.shingleK), cfg)
      val ks = Linker.blockingKeys(toks(i), sig, cfg)
      keys += ks.length
      ks.indices.foreach(ch => members.getOrElseUpdate((ch, ks(ch)), mutable.ArrayBuffer.empty) += i)
    }
    val shared = members.values.filter(_.size > 1)
    val capped = shared.count(_.size > cfg.maxBucketSize)
    // pair (a, b) with a < b as one long: indices fit in 31 bits
    val pairs = mutable.LongMap.empty[Unit]
    shared.filter(_.size <= cfg.maxBucketSize).foreach { b =>
      var x = 0
      while (x < b.size) {
        var y = x + 1
        while (y < b.size) {
          val (i, j) = (b(x), b(y))
          if (ids(i) != ids(j)) {
            val (lo, hi) = if (ids(i) < ids(j)) (i, j) else (j, i)
            pairs.update(lo.toLong << 32 | hi.toLong, ())
          }
          y += 1
        }
        x += 1
      }
    }
    // scoring ~10^6 pairs one thread at a time takes ~20 s: split it
    // over the cores, one shingle memo per chunk
    val all = pairs.keysIterator.toArray
    val chunks = all.grouped(math.max(1, (all.length + cores - 1) / cores)).toSeq
    val scored = chunks.map { chunk =>
      Future {
        val memo = mutable.HashMap.empty[String, Array[Long]]
        chunk.flatMap { p =>
          val (i, j) = ((p >>> 32).toInt, (p & 0xffffffffL).toInt)
          if (Linker.tokenSimArr(toks(i), toks(j), memo) >= cfg.jaccardThreshold) Some((ids(i), ids(j)))
          else None
        }
      }
    }
    val edges = scored.flatMap(f => Await.result(f, Duration.Inf)).toSet
    LinkCounters(dict.size.toLong, keys, shared.size.toLong, capped.toLong, pairs.size.toLong, edges)
  }
}
