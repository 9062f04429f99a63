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

  test("bucketPairs: carried columns and the keep predicate match a driver-side i<j enumeration") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(5)
    // repeated ids within and across buckets, empty and one-member buckets
    val buckets = Seq.fill(12)(Seq.fill(rnd.nextInt(9))(
      (rnd.nextInt(20).toLong, rnd.nextInt(7).toLong)))
    val rows = Dedup.bucketPairs(buckets.map(Tuple1(_)).toDF("members"),
        id = _.getField("_1"),
        carry = Seq("s" -> ((x, y) => x.getField("_2") + y.getField("_2"))),
        keep = Some(col("s") % 3 =!= 0), out = Seq("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = (for {
      ms <- buckets; i <- ms.indices; j <- i + 1 until ms.size
      s = ms(i)._2 + ms(j)._2 if s % 3 != 0
    } yield (math.min(ms(i)._1, ms(j)._1), math.max(ms(i)._1, ms(j)._1), s)).toSet
    assert(rows.length == rows.toSet.size, "output must be distinct")
    assert(want.nonEmpty && rows.toSet == want)
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
