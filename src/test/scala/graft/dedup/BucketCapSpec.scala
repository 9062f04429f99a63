package graft.dedup

import graft.SparkSpec
import graft.similarity.Similarity
import org.apache.spark.sql.DataFrame

/** The skew cap at its boundary, checked on the pair OUTPUTS of every
  * capped path (the occupancy reports are covered in DedupSpec). With n
  * identical members every band lands in one bucket of n, so a bucket of
  * exactly `maxBucket` members must emit all C(n,2) pairs (n×m across
  * two sides), `maxBucket + 1` members must emit none, and a cross join
  * whose one side holds a single member must still pair it.
  */
class BucketCapSpec extends SparkSpec {
  import spark.implicits._

  private val cap = 6
  private val text = "the quick brown fox jumps over the lazy dog by the river bank"
  private val emb = Array.tabulate(16)(i => (i % 5 - 2).toFloat + 0.5f)

  private def docs(n: Int, from: Long = 0L): DataFrame =
    (0 until n).map(i => (from + i, text)).toDF("doc_id", "text")
  private def vecs(n: Int, from: Long = 0L): DataFrame =
    (0 until n).map(i => (from + i, emb)).toDF("vec_id", "embedding")

  private val selfPaths: Seq[(String, Int => Long)] = Seq(
    "lshCandidatePairs" -> (n => Dedup.lshCandidatePairs(
      Dedup.minHashSignatures(docs(n), numHashes = 32), bands = 8,
      maxBucket = cap).count()),
    "simHashNearDups" -> (n => Dedup.simHashNearDups(
      Dedup.simHash(docs(n)), maxBucket = cap).count()),
    "embeddingNearDups" -> (n => Similarity.embeddingNearDups(
      vecs(n), threshold = 0.99, maxBucket = cap).count()))

  private val crossPaths: Seq[(String, (Int, Int) => Long)] = Seq(
    "crossNearDupPairs" -> ((n, m) => Dedup.crossNearDupPairs(
      docs(n), docs(m, 1000L), threshold = 0.9, maxBucket = cap).count()),
    "crossEmbeddingNearDups" -> ((n, m) => Similarity.crossEmbeddingNearDups(
      vecs(n), vecs(m, 1000L), threshold = 0.99, maxBucket = cap).count()))

  selfPaths.foreach { case (name, pairs) =>
    test(s"$name: a bucket of exactly maxBucket members emits C(n,2) pairs, one more emits none") {
      assert(pairs(cap) == cap * (cap - 1) / 2)
      assert(pairs(cap + 1) == 0)
    }
  }

  crossPaths.foreach { case (name, pairs) =>
    test(s"$name: n×m pairs at the cap, none past it on either side, a one-member side still pairs") {
      assert(pairs(cap, cap) == cap * cap)
      assert(pairs(cap + 1, cap) == 0)
      assert(pairs(cap, cap + 1) == 0)
      assert(pairs(1, cap) == cap)
      assert(pairs(cap, 1) == cap)
    }
  }
}
