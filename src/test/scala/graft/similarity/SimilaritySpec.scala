package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 1f), Array(1f, 1f), 1.0),
      (Array(3f, 4f), Array(3f, 4f), 1.0)).toDF("a", "b", "want")
    val got = df.select(Similarity.cosine($"a", $"b").as("sim"), $"want").collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("bruteForceTopK returns exactly k ranked neighbors, no self-match") {
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val topk = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
    assert(topk.length == 15)
    val byQ = topk.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to 5))
      assert(!rows.exists(_.getLong(1) == q), "self-match leaked")
      // ranks ordered by sim desc
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("ivfTopK achieves full recall on planted near-identical vectors") {
    // plant a twin of vec 0: IVF must find it in the probed buckets
    // (twin hashes to an arbitrary bucket; nprobe=16 of 16 → exhaustive,
    // verifying the plumbing; real recall tuning is nprobe<buckets)
    val twin = emb.filter($"vec_id" === 0)
      .select(lit(777000L).as("vec_id"),
        transform($"embedding", x => (x.cast("double") * 1.001).cast("float")).as("embedding"),
        lit(0).as("label"))
    val corpus = emb.select("vec_id", "embedding", "label").union(twin)
    val queries = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val res = Similarity.ivfTopK(corpus, queries, k = 1, nBuckets = 16, nprobe = 16)
      .collect()
    assert(res.length == 1)
    assert(res.head.getLong(1) == 777000L, s"got ${res.head}")
    assert(res.head.getDouble(2) > 0.999999)
  }

  test("persisted IVF index returns identical results to the in-memory build") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val dir = tempDir("graft-ivf")
    Similarity.writeIvfIndex(emb, dir, nBuckets = 8)
    val direct = Similarity.ivfTopK(emb, queries, k = 5, nBuckets = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    val indexed = Similarity.ivfTopKIndexed(spark, dir, queries, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed == direct, "parquet round-trip must not change results")
    // layout: one physical partition dir per bucket (scan-prunable)
    val bucketDirs = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.getName.startsWith("bucket=")).length
    assert(bucketDirs == 8)
  }

  test("ivfTopK with nprobe<nBuckets returns plausible approximate results") {
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val approx = Similarity.ivfTopK(emb, queries, k = 5, nBuckets = 8, nprobe = 3)
    val n = approx.count()
    assert(n == 25, s"expected 5 queries x 5 results, got $n")
  }

  test("embeddingNearDups finds planted twins and nothing else (sf0.001)") {
    val twins = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => (x.cast("double") * 1.01 + 0.005).cast("float")).as("embedding"))
    val uni = emb.select("vec_id", "embedding").union(twins)
    val pairs = Similarity.embeddingNearDups(uni, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val planted = pairs.filter { case (a, b) => b == a + 100000L }
    assert(planted.length == 10, s"missed planted twins: got ${pairs.length} pairs")
    assert(pairs.length == 10, s"false positives: ${pairs.filterNot(p => p._2 == p._1 + 100000L).mkString(",")}")
  }

  test("localTopK: output is bounded by parts×k per query and final ranking is unchanged") {
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val scored = emb.repartition(7).join(broadcast(queries), $"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        Similarity.cosine($"q_embedding", $"embedding").as("sim"))
    val pruned = Similarity.localTopK(scored, k = 5)
    // the per-query k-merge exchange receives ≤ |queries| × parts × k rows
    assert(pruned.count() <= 3 * 7 * 5,
      "localTopK must cap each partition's contribution at k rows per query")
    // and ranking the pruned set equals ranking the full scored set
    val w = Window.partitionBy("query_id").orderBy($"sim".desc, $"neighbor_id")
    def rank(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rank(pruned) == rank(scored), "partial top-k changed the result")
  }

  test("embeddingNearDups: degenerate identical-embedding corpus is skew-guarded") {
    // 200 identical vectors all collide in every band bucket — without the
    // maxBucket guard this expands 200²/2 pairs per band; with it, the hot
    // buckets drop and the query completes with zero pairs.
    val degenerate = spark.range(200)
      .select($"id".as("vec_id"), array(lit(1f), lit(2f), lit(3f), lit(4f)).as("embedding"))
    val guarded = Similarity.embeddingNearDups(
      degenerate, threshold = 0.9, maxBucket = 50)
    assert(guarded.count() == 0, "hot buckets above maxBucket must be dropped")
    // sanity: with the cap above the corpus size the same pairs come back
    val unguarded = Similarity.embeddingNearDups(
      degenerate, threshold = 0.9, maxBucket = 1000)
    assert(unguarded.count() == 200L * 199 / 2)
  }

  test("kmeansLite is deterministic across partitionings and covers all vectors") {
    val a1 = Similarity.kmeansLite(emb, k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = Similarity.kmeansLite(emb.repartition(7), k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1 == a2, "assignment depends on partitioning")
    assert(a1.size == emb.count(), "every vector must be assigned")
    assert(a1.values.toSet.size > 1, "degenerate single-cluster result")
  }

  test("kmeansLite iterations do not increase within-cluster L2 cost") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cost(assign: Map[Long, Long]): Double = {
      val byCluster = assign.groupBy(_._2).view.mapValues(_.keys.toSeq)
      byCluster.map { case (_, ids) =>
        val dim = vecs(ids.head).length
        val mean = Array.tabulate(dim)(d => ids.map(vecs(_)(d)).sum / ids.size)
        ids.map(id => vecs(id).zip(mean).map { case (x, m) =>
          (x - m) * (x - m) }.sum).sum
      }.sum
    }
    def run(iters: Int): Map[Long, Long] =
      Similarity.kmeansLite(emb, k = 8, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = cost(run(1))
    val c2 = cost(run(2))
    assert(c2 <= c1 + 1e-9, s"Lloyd cost increased: iter1=$c1 iter2=$c2")
  }

  test("crossEmbeddingNearDups: planted right-side twins found, ids never merge, cross-only") {
    // right side reuses LEFT ids for DIFFERENT vectors (id collision is
    // a red herring), plus perturbed twins of left vectors under new ids
    val left = emb.select("vec_id", "embedding")
    val twins = emb.filter($"vec_id" < 10)
      .select($"vec_id",
        transform($"embedding", x => (x.cast("double") * 1.01 + 0.005).cast("float")).as("embedding"))
    val got = Similarity.crossEmbeddingNearDups(left, twins, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each twin matches exactly its source — under the SAME id, which
    // must still be reported as a pair (not collapsed away)
    assert(got == (0L until 10L).map(i => (i, i)).toSet, s"got=$got")
  }

  test("crossEmbeddingNearDups: hot buckets are skew-guarded on both sides") {
    val same = array(lit(1f), lit(2f), lit(3f), lit(4f))
    val l = spark.range(200).select($"id".as("vec_id"), same.as("embedding"))
    val r = spark.range(200).select(($"id" + 1000).as("vec_id"), same.as("embedding"))
    assert(Similarity.crossEmbeddingNearDups(l, r, threshold = 0.9, maxBucket = 50).count() == 0)
    assert(Similarity.crossEmbeddingNearDups(l, r, threshold = 0.9, maxBucket = 500).count() == 200L * 200)
  }

  test("semDedup: planted semantic twins drop (keep-min), everything else keeps its row") {
    val base = emb.select("vec_id", "embedding")
    val twins = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding", x => (x.cast("double") * 1.02 + 0.01).cast("float")).as("embedding"))
    val corpus = base.union(twins)
    val res = Similarity.semDedup(corpus, k = 4, iters = 2, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(res.size == corpus.count(), "every input vector gets exactly one verdict row")
    // each twin is the HIGHER id of its near-identical pair → dropped;
    // its original (lower id) must survive unless IT pairs with some
    // other lower id, which these embeddings don't at 0.99
    (0L until 5L).foreach { i =>
      assert(!res(i + 1000L), s"twin of $i not dropped")
      assert(res(i), s"original $i wrongly dropped")
    }
  }

  test("semDedup: degenerate all-identical corpus STILL finds duplicates via the salt fallback") {
    val same = array(lit(1f), lit(2f), lit(3f), lit(4f))
    val corpus = spark.range(100).select($"id".as("vec_id"), same.as("embedding"))
    // identical vectors collapse into one cluster at every k-means depth
    // (every point ties to the same centroid), so recursion cannot
    // shrink it — the id-hash salt fallback must split it into
    // ⌈100/50⌉ = 2 bounded groups and dedup WITHIN each: one survivor
    // per group instead of the old total exemption (zero found)
    val guarded = Similarity.semDedup(corpus, k = 4, threshold = 0.9, maxCluster = 50)
      .collect()
    assert(guarded.length == 100, "every input vector gets a verdict row")
    val saltGroups = guarded.map(_.getLong(1)).distinct
    assert(saltGroups.forall(_ < 0), "fallback groups carry negative labels")
    assert(saltGroups.length == 2)
    val kept = guarded.filter(_.getBoolean(2)).map(_.getLong(0))
    assert(kept.length == 2, s"one survivor per salt group, got ${kept.length}")
    // keep-min within each group
    saltGroups.foreach { g =>
      val members = guarded.filter(_.getLong(1) == g).map(_.getLong(0))
      assert(kept.contains(members.min))
    }
    // determinism: the salt assignment is content-addressed (md5 of id)
    val again = Similarity.semDedup(corpus.repartition(7), k = 4,
      threshold = 0.9, maxCluster = 50).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
      .sameElements(guarded.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted))
    // with the cap lifted the same corpus dedups to one survivor
    val open = Similarity.semDedup(corpus, k = 4, threshold = 0.9, maxCluster = 1000)
    assert(open.filter(col("kept")).count() == 1)
    val empty = Similarity.semDedup(corpus.limit(0), k = 4)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("vec_id", "cluster", "kept"))
  }

  /** 200 points in 8 tight blobs, each with a private axis, plus 5
    * exact-duplicate twins (ids 1000..1004). */
  private def blobs = {
    val dim = 208
    val base = spark.range(200).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        when(d === ($"id" % 8).cast("int"), lit(1f))
          .when(d === ($"id" + 8).cast("int"), lit(0.5f))
          .otherwise(lit(0f))).as("embedding"))
    base.union(base.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding"))
  }

  test("semDedup: oversized DISTINCT clusters are recursively split, twins still drop") {
    // 200 points in 8 tight blobs (blob axis 1.0) with a PRIVATE axis
    // (0.5) per point, so intra-blob cosine is exactly 0.8 — well under
    // the 0.99 threshold — and inter-blob 0.2; + 5 EXACT-duplicate
    // twins. k=4 seeds multi-blob clusters over maxCluster=40 → the
    // grouped refinement must separate blobs below the cap, and because
    // a twin is byte-equal to its base (same private axis) it ties to
    // the same sub-cluster at every depth — recursion never costs
    // recall on exact duplicates
    val res = Similarity.semDedup(blobs, k = 4, iters = 2,
        threshold = 0.99, maxCluster = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(res.length == 205)
    val bySize = res.groupBy(_._2).view.mapValues(_.length)
    assert(bySize.values.max <= 40,
      s"recursion left an oversized cluster: ${bySize.toMap}")
    assert(res.forall(_._2 >= 0), "no salt fallback needed for distinct points")
    (0L until 5L).foreach { i =>
      assert(!res.find(_._1 == i + 1000L).get._3, s"twin of $i not dropped")
      assert(res.find(_._1 == i).get._3, s"original $i wrongly dropped")
    }
  }

  /** Sequential driver Lloyd: points (id, group g, vector) with initial
    * codes in [0, k); labels are g·k + code. Quantized means (Long
    * micro-unit sums, /1e6/cnt to float), sequential double L2 fold,
    * strict-less argmin over the group's key-ascending centroids.
    * Returns (labels in point order, centroids of the last assignment).
    */
  private def refLloyd(pts: Seq[(Long, Long, Array[Float])], init: Seq[Long],
      k: Int, iters: Int): (Seq[Long], Map[Long, Array[Float]]) = {
    def qMicro(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def means(labels: Seq[Long]): Map[Long, Array[Float]] =
      pts.map(_._3).zip(labels).groupBy(_._2).map { case (c, ms) =>
        c -> Array.tabulate(ms.head._1.length) { i =>
          val s = ms.map(m => qMicro(m._1(i).toDouble * 1000000)).sum
          (s.toDouble / 1000000 / ms.size).toFloat
        }
      }
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0) { (acc, i) =>
        val d = a(i).toDouble - b(i).toDouble
        acc + d * d
      }
    def assign(cents: Map[Long, Array[Float]]): Seq[Long] = {
      val byGroup = cents.toSeq.sortBy(_._1).groupBy(_._1 / k)
      pts.map { case (_, g, v) =>
        byGroup(g).foldLeft((-1L, Double.PositiveInfinity)) { case (best, (c, cv)) =>
          val d = l2(v, cv)
          if (d < best._2) (c, d) else best
        }._1
      }
    }
    var cents = means(pts.zip(init).map { case ((_, g, _), c) => g * k + c })
    var labels = assign(cents)
    for (_ <- 2 to iters) { cents = means(labels); labels = assign(cents) }
    (labels, cents)
  }

  private def vectors(df: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Float])] =
    df.select("vec_id", "embedding").collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)

  private def bucket(id: Long, k: Int): Long = graft.HashReplay.md5Long(id.toString) % k

  test("one Lloyd body: kmeansLite, semDedup refinement and pqTrain match a sequential reference") {
    // kmeansLite: one group, md5 bucket init — on the sf0.001 vectors and
    // on a corpus of identical vectors, where every centroid ties and
    // every point must take the lowest label
    val tied = spark.range(24).select($"id".as("vec_id"),
      array(lit(1f), lit(2f), lit(3f)).as("embedding"))
    Seq(emb -> 8, tied -> 4).foreach { case (df, k) =>
      val vs = vectors(df)
      val (want, _) = refLloyd(vs.map { case (id, v) => (id, 0L, v) },
        vs.map(p => bucket(p._1, k)), k, iters = 2)
      val got = Similarity.kmeansLite(df, k = k, iters = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(vs.map(p => got(p._1)) == want, s"kmeansLite labels differ at k=$k")
    }
    assert(Similarity.kmeansLite(tied, k = 4).collect().forall(_.getLong(1) == 0L))

    // semDedup on the oversized blob fixture: top level g = 0, then every
    // cluster over maxCluster = 40 re-clustered with g = P + 1, ≤ 3 levels
    val bv = vectors(blobs)
    val vec = bv.toMap
    var labels = {
      val (l, _) = refLloyd(bv.map { case (id, v) => (id, 0L, v) },
        bv.map(p => bucket(p._1, 4)), 4, 2)
      bv.map(_._1).zip(l).toMap
    }
    var depth = 0
    def oversized = labels.groupBy(_._2).filter(_._2.size > 40).keySet
    while (depth < 3 && oversized.nonEmpty) {
      val big = oversized
      val ids = bv.map(_._1).filter(id => big(labels(id)))
      val (l, _) = refLloyd(ids.map(id => (id, labels(id) + 1, vec(id))),
        ids.map(bucket(_, 4)), 4, 2)
      labels = labels ++ ids.zip(l)
      depth += 1
    }
    assert(depth > 0, "fixture no longer exercises the refinement")
    val sem = Similarity.semDedup(blobs, k = 4, iters = 2, threshold = 0.99,
      maxCluster = 40).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sem == labels, "semDedup refined labels differ")

    // pqTrain: one group per subspace, md5(id|sub) init
    val (m, k) = (4, 16)
    val pts = vectors(emb).flatMap { case (id, v) =>
      (0 until m).map(sub => (id, sub.toLong, v.slice(sub * 16, sub * 16 + 16)))
    }
    val (codeLabels, cents) = refLloyd(pts,
      pts.map { case (id, sub, _) => graft.HashReplay.md5Long(s"$id|$sub") % k }, k, 2)
    val wantCodes = pts.zip(codeLabels).groupBy(_._1._1).map { case (id, ps) =>
      id -> ps.sortBy(_._1._2).map { case ((_, sub, _), c) => (c - sub * k).toInt }
    }
    val (codes, codebook) = Similarity.pqTrain(emb, m = m, k = k, iters = 2)
    assert(codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap == wantCodes,
      "pqTrain codes differ")
    val wantBook = cents.toSeq.map { case (c, v) => ((c / k).toInt, (c % k).toInt, v.toSeq) }
      .sortBy(t => (t._1, t._2))
    val gotBook = codebook.collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2))).sortBy(t => (t._1, t._2))
    assert(gotBook == wantBook, "pqTrain codebook differs")
  }

  test("int8QuantReport: error bounded by half a step, degenerate dims exact, partition-invariant") {
    val emb2 = emb.select("vec_id", "embedding")
    val got = Similarity.int8QuantReport(emb2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == emb2.count(), "one report row per vector")
    // per-dim worst case is half a quantization step: (mx-mn)/255/2;
    // bound with the widest dim's step across the corpus
    val stats = emb2.select(posexplode($"embedding").as(Seq("p", "x")))
      .groupBy("p").agg(min($"x").as("mn"), max($"x").as("mx"))
      .collect().map(r => (r.getFloat(1).toDouble, r.getFloat(2).toDouble))
    val maxStepMicro = stats.map { case (mn, mx) =>
      math.round(1e6 * (mx - mn) / 255 / 2) }.max
    assert(got.values.forall(_._2 <= maxStepMicro + 1),
      s"max err ${got.values.map(_._2).max} exceeds half-step $maxStepMicro")
    // a corpus with a constant dimension reconstructs it exactly
    val const = spark.range(10).select($"id".as("vec_id"),
      array(lit(3.5f), ($"id" * 0.1).cast("float")).as("embedding"))
    val c = Similarity.int8QuantReport(const).collect()
    assert(c.forall(_.getLong(1) == 2))
    // repartitioning must not move a single micro-unit
    val re = Similarity.int8QuantReport(emb2.repartition(7)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(re == got)
  }

  test("bruteForceTopK keep predicate: hard negatives never share the query's label") {
    val labeled = emb.select($"vec_id", $"embedding", $"label")
    val queries = labeled.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"),
        $"label".as("q_label"))
    val negs = Similarity.bruteForceTopK(labeled, queries, k = 5,
      keep = col("label") =!= col("q_label"))
    assert(negs.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    // no returned neighbor may carry its query's label
    val qLabels = queries.select("query_id", "q_label")
    val shared = negs.join(qLabels, "query_id")
      .join(labeled.select($"vec_id".as("neighbor_id"), $"label"), "neighbor_id")
      .filter($"label" === $"q_label")
    assert(shared.count() == 0)
    // the filtered ranking is the unfiltered ranking minus same-label rows:
    // every hard negative scores <= the same query's unfiltered rank-1 sim
    val best = Similarity.bruteForceTopK(labeled, queries, k = 1)
      .select($"query_id", $"sim".as("best_sim"))
    val worse = negs.join(best, "query_id").filter($"sim" > $"best_sim")
    assert(worse.count() == 0)
  }

  test("centroidDrift: aligned group ≈ 1, orthogonal group ≈ 0, partition-invariant") {
    // group 0: 3 vectors along +x (and so is the corpus mean direction);
    // group 1: vectors along +y whose mean is orthogonal-ish to global
    val rows = Seq(
      (0, Array(1f, 0f, 0f, 0f)), (0, Array(0.9f, 0f, 0f, 0f)), (0, Array(1.1f, 0f, 0f, 0f)),
      (0, Array(1f, 0f, 0f, 0f)), (0, Array(1f, 0f, 0f, 0f)), (0, Array(1f, 0f, 0f, 0f)),
      (1, Array(0f, 1f, 0f, 0f)), (1, Array(0f, 0.8f, 0f, 0f)))
    val df = rows.toDF("label", "embedding")
    val got = Similarity.centroidDrift(df)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(0)._1 == 6L && got(1)._1 == 2L, s"group sizes wrong: $got")
    // global mean ≈ (0.75, 0.225, 0, 0): group 0 stays close, group 1 far
    assert(got(0)._2 > 0.9, s"aligned group should be near 1: $got")
    assert(got(1)._2 < 0.4, s"orthogonal group should be near 0: $got")
    // exact integer basis ⇒ bit-identical at any partitioning
    val repart = Similarity.centroidDrift(df.repartition(7))
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(repart == got.view.mapValues(_._2).toMap, "drift must be partition-invariant")
  }

  test("mmrSelect: with diversity dominant, the redundant twin drops to last") {
    // query along e1; ids 1/2 are near-identical high-relevance twins,
    // id 3 is orthogonal. With divWeight > relWeight the second pick is
    // the diverse vector even though the twin scores higher on relevance.
    val vecs = Seq(
      (1L, Seq(1.0f, 0.01f)),
      (2L, Seq(1.0f, 0.011f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val picks = Similarity.mmrSelect(vecs, Seq(1f, 0f), k = 3,
      relWeight = 0.3, divWeight = 0.7)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(picks == Seq(1L, 3L, 2L), s"got $picks")
  }

  test("mmrSelect matches a sequential driver reference on a random corpus") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2
    val got = Similarity.mmrSelect(df.filter($"vec_id" > 0), q, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def qMicro(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    var sel = Vector.empty[(Long, Seq[Float], Long)]
    val cands = scala.collection.mutable.LinkedHashMap(vecs.tail: _*)
    for (_ <- 0 until 4) {
      val best = cands.toSeq.map { case (id, v) =>
        val pen = if (sel.isEmpty) 0.0 else sel.map(s => cos(v, s._2)).max
        (id, v, qMicro(0.7 * cos(v, q) - 0.3 * pen))
      }.minBy { case (id, _, sc) => (-sc, id) }
      sel :+= best
      cands.remove(best._1)
    }
    val want = sel.zipWithIndex.map { case ((id, _, sc), i) => (i + 1L, id, sc) }
    assert(got == want, s"got $got want $want")
  }

  test("mmrSelect: corpus smaller than k returns the full ranking, no error") {
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(vecs, Seq(1f, 0f), k = 5)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 2L)), s"got $got")
  }

  test("pqTrain: m codes per vector in [0,k), codebook bounded, subspace dims") {
    val (codes, codebook) = Similarity.pqTrain(emb, m = 4, k = 16, iters = 2)
    val c = codes.collect()
    assert(c.length == emb.count())
    c.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 4 && cs.forall(x => x >= 0 && x < 16),
        s"bad code word $cs")
    }
    val cb = codebook.collect()
    assert(cb.length <= 64, "more centroids than m*k")
    cb.foreach(r => assert(r.getSeq[Float](2).length == 16,
      "subspace centroid dim != dim/m"))
  }

  test("pqTopK: planted identical twin shares the query's code word and ranks top") {
    // an exact copy of vector 0 quantizes to the same m codes, so its
    // ADC distance to query 0 equals the query's own quantized
    // self-distance — the minimum possible — and it must rank #1
    val twin = emb.filter($"vec_id" === 0)
      .select(lit(900000L).as("vec_id"), $"embedding")
    val uni = emb.select("vec_id", "embedding").union(twin)
    val queries = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val top = Similarity.pqTopK(uni, queries, topK = 5)
      .orderBy("rank").collect()
    assert(top.head.getLong(1) == 900000L,
      s"twin not rank 1: ${top.map(r => (r.getLong(1), r.getDouble(2))).toSeq}")
  }

  test("pqTopK is invariant under corpus partitioning") {
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(c, queries, topK = 5)
        .orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(run(emb) == run(emb.repartition(7)))
  }

  test("pqTopKRefined with an exhaustive shortlist equals brute-force L2 exactly") {
    // shortlist = corpus size → the exact refine sees every vector, so
    // the quantizer can no longer lose anything and the result must be
    // bit-identical to the L2 truth — pinning the refine stage itself
    val queries = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val n = emb.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(Similarity.pqTopKRefined(emb, queries, topK = 5, shortlist = n)) ==
      rows(Similarity.bruteForceTopKL2(emb, queries, k = 5)))
  }

  test("pqTrain/pqTopK: empty corpus yields empty results, no error") {
    val empty = emb.filter($"vec_id" < 0)
    val (codes, _) = Similarity.pqTrain(empty)
    assert(codes.count() == 0)
    val queries = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    assert(Similarity.pqTopK(empty, queries, topK = 3).count() == 0)
  }

  test("kNN label-noise shape (q213): a planted mislabel is flagged, clean points are not") {
    // two tight clusters of 12; one member of cluster A carries B's label
    val rnd = new scala.util.Random(5)
    def jitter(base: Array[Float]): Seq[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f).toSeq
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f)
    val pts =
      (1L to 12L).map(i => (i, jitter(a), if (i == 5L) 1 else 0)) ++
        (21L to 32L).map(i => (i, jitter(b), 1))
    val df = pts.toDF("vec_id", "embedding", "label")
    val queries = df.select($"vec_id".as("query_id"),
      $"embedding".as("q_embedding"), $"label".as("qlabel"))
    val flagged = Similarity.bruteForceTopK(df,
        queries.select("query_id", "q_embedding"), k = 10)
      .join(df.select($"vec_id".as("neighbor_id"), $"label".as("nlabel")),
        "neighbor_id")
      .join(queries.select("query_id", "qlabel"), "query_id")
      .groupBy("query_id", "qlabel")
      .agg(sum(when($"nlabel" === $"qlabel", 1L).otherwise(0L)).as("agree"))
      .filter($"agree" < 5)
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(5L),
      s"exactly the planted mislabel must be flagged, got $flagged")
  }

  test("max-sim shape (q217): a bag ranks by its BEST vector — one strong passage wins") {
    // doc bags of 4 vectors; bag 3 holds one near-copy of the query
    // among three orthogonal fillers, bag 1 holds four mediocre matches
    val q = Array(1f, 0f, 0f, 0f)
    def v(x: Float, y: Float): Seq[Float] = Seq(x, y, 0f, 0f)
    val rows =
      // bag 1 (vec_ids 4-7): all cosine 0.6-ish
      (4L to 7L).map(i => (i, v(0.6f, 0.8f))) ++
        // bag 3 (vec_ids 12-15): one 0.999 match, three orthogonal
        Seq((12L, v(0.999f, 0.0447f)), (13L, v(0f, 1f)),
          (14L, Seq(0f, 0f, 1f, 0f)), (15L, Seq(0f, 0f, 0f, 1f)))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = Seq((100L, q.toSeq)).toDF("query_id", "q_embedding")
    val got = emb.join(broadcast(queries), lit(true))
      .groupBy($"query_id", expr("vec_id div 4").as("doc_id"))
      .agg(max(Similarity.cosine($"q_embedding", $"embedding")).as("sim"))
      .orderBy($"sim".desc)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    // the bag with ONE excellent passage beats the uniformly-mediocre bag
    assert(got.head._1 == 3L && got.head._2 > 0.99, got.toSeq.toString)
    assert(got(1)._1 == 1L && got(1)._2 < 0.7)
  }

  test("silhouetteSampled: separated clusters score high, a planted straggler negative, singleton 0") {
    import org.apache.spark.sql.functions.col
    // two tight, far-apart clusters + one vector assigned to the WRONG
    // cluster + a singleton cluster
    def v(base: Float, jitter: Float) = Array(base + jitter, base - jitter)
    val corpus = (
      (1L to 5L).map(i => (i, v(0f, i * 0.01f))) ++        // cluster 0 @ ~0
      (11L to 15L).map(i => (i, v(10f, (i - 10) * 0.01f))) ++ // cluster 1 @ ~10
      Seq((21L, v(0f, 0.02f)),                              // near 0 but labeled 1
        (31L, v(100f, 0f)))                                 // singleton cluster 2
    ).toDF("vec_id", "embedding")
    val labels = ((1L to 5L).map(_ -> 0L) ++ (11L to 15L).map(_ -> 1L) ++
      Seq(21L -> 1L, 31L -> 2L)).toDF("vec_id", "cluster")
    val got = Similarity.silhouetteSampled(corpus, labels, col("vec_id") >= 0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    (1L to 5L).foreach(i =>
      assert(got(i)._2 > 9000, s"tight-cluster member $i: ${got(i)}"))
    assert(got(21L)._2 < 0, s"mis-assigned vector must score negative: ${got(21L)}")
    assert(got(31L)._2 == 0, s"singleton scores 0 by convention: ${got(31L)}")
    // sequential reference for one vector: vec 1 against its cluster and
    // cluster 1 (floor-div means of rounded micro distances)
    def d(a: Array[Float], b: Array[Float]): Long = {
      val q = (x: Float) => Math.round(x.toDouble * 1000000)
      // sum in Long like the operator's aggregate, THEN one double cast
      math.round(math.sqrt(
        a.zip(b).map { case (x, y) =>
          val dx = q(x) - q(y); dx * dx }.sum.toDouble))
    }
    val e = ((1L to 5L).map(i => i -> v(0f, i * 0.01f)) ++
      (11L to 15L).map(i => i -> v(10f, (i - 10) * 0.01f)) ++
      Seq(21L -> v(0f, 0.02f), 31L -> v(100f, 0f))).toMap
    val own = (2L to 5L).map(j => d(e(1L), e(j))).sum / 4
    val c1 = ((11L to 15L) :+ 21L).map(j => d(e(1L), e(j))).sum / 6
    val c2 = d(e(1L), e(31L))
    val b = math.min(c1, c2)
    val a = own
    val sRef = math.floorDiv(10000L * (b - a), math.max(a, b))
    assert(got(1L)._2 == sRef, s"vec 1: got ${got(1L)._2}, want $sRef")
  }
}
