package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("chunkOwnership: kept set is a minimal exact cover of distinct chunks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial corpus: shared runs, exact dups, %chunk-size lengths
    val docs = Seq(
      0L -> (1 to 40).map(i => s"t$i").mkString(" "),          // 40 = 16+16+8
      1L -> (1 to 40).map(i => s"t$i").mkString(" "),          // exact dup of 0
      2L -> ((1 to 16).map(i => s"t$i") ++ (1 to 16).map(i => s"u$i")).mkString(" "),
      3L -> (1 to 32).map(i => s"t$i").mkString(" "),          // prefix of 0, %16==0
      4L -> "solo"                                             // sub-chunk doc
    ).toDF("doc_id", "text")
    val own = Dedup.chunkOwnership(docs, chunkTokens = 16).cache()
    val total = own.count()
    val kept = own.filter(col("rn") === 1)
    // every distinct hash owned exactly once, nothing lost
    assert(kept.count() == own.select("h").distinct().count())
    assert(own.groupBy("h").agg(sum(when(col("rn") === 1, 1).otherwise(0)).as("k"))
      .filter(col("k") =!= 1).count() == 0)
    // owner is the global (doc_id, ci) minimum for its hash
    val badOwner = own.filter(col("rn") === 1).as("a")
      .join(own.as("b"), col("a.h") === col("b.h")
        && (col("b.doc_id") < col("a.doc_id")
          || (col("b.doc_id") === col("a.doc_id") && col("b.ci") < col("a.ci"))))
    assert(badOwner.count() == 0, "an earlier occurrence exists for an owner")
    // exact dup keeps nothing; identical-prefix docs keep only their tail
    val keptBy = kept.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!keptBy.contains(1L), "exact dup must keep 0 chunks")
    assert(!keptBy.contains(3L), "covered prefix must keep 0 chunks")
    assert(keptBy(0L) == 3L && keptBy(2L) == 1L && keptBy(4L) == 1L)
    assert(total == 3 + 3 + 2 + 2 + 1)
    own.unpersist()
  }
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet(s"$sf0001/documents.parquet").select("doc_id", "text")

  test("exact dedup finds planted exact copies and keeps min id") {
    val copies = docs.filter($"doc_id" < 5)
      .select(($"doc_id" + 5000).as("doc_id"), $"text")
    val groups = Dedup.exactGroups(docs.union(copies))
    assert(groups.filter($"n_copies" === 2).count() == 5)
    // keeper is always the original (smaller id)
    assert(groups.filter($"n_copies" === 2).agg(max("keep_id")).head.getLong(0) < 5)
    val deduped = Dedup.exactDedup(docs.union(copies))
    assert(deduped.count() == docs.count())
  }

  test("minhash LSH finds planted near-duplicates with high jaccard") {
    // append one word: jaccard on 3-shingles stays high
    val twins = docs.filter($"doc_id" < 8)
      .select(($"doc_id" + 5000).as("doc_id"),
        concat($"text", lit(" tailword")).as("text"))
    val pairs = Dedup.nearDupPairs(docs.union(twins), threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val planted = pairs.filter { case (a, b, _) => b == a + 5000 }
    assert(planted.length == 8, s"found ${planted.mkString(",")}")
    assert(pairs.forall(_._3 >= 0.7))
    // every reported pair (incl. the corpus's own organic near-dups) must
    // have a genuinely high EXACT jaccard — recompute independently
    val texts = docs.union(twins).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingleSet(t: String): Set[String] =
      t.split(" ").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet
    pairs.foreach { case (a, b, j) =>
      val (sa, sb) = (shingleSet(texts(a)), shingleSet(texts(b)))
      val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(exact - j) < 1e-3, s"pair ($a,$b): engine=$j exact=$exact")
    }
  }

  test("ngram jaccard is exact on a known pair") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d x")).toDF("doc_id", "text")
    // 3-shingles: {abc,bcd,cde} vs {abc,bcd,cdx} → shared 2, union 4 → 0.5
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(df, pairs).head.getDouble(2)
    assert(j == 0.5)
  }

  test("simhash: identical docs get identical sketches; near-dups are close") {
    val twins = docs.filter($"doc_id" < 8)
      .select(($"doc_id" + 5000).as("doc_id"),
        concat($"text", lit(" x")).as("text"))
    val near = Dedup.simHashNearDups(Dedup.simHash(docs.union(twins)), maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val planted = near.filter { case (a, b) => b == a + 5000 }
    assert(planted.length == 8)
    // exact copies at distance 0
    val copies = docs.filter($"doc_id" === 0)
      .select(($"doc_id" + 9000).as("doc_id"), $"text")
    val d0 = Dedup.simHashNearDups(Dedup.simHash(docs.union(copies)), maxDist = 0)
      .filter($"id_a" === 0 && $"id_b" === 9000)
    assert(d0.count() == 1)
  }

  test("simHashNearDups: degenerate identical-sketch corpus is skew-guarded") {
    import spark.implicits._
    // 200 identical docs sketch to one value — every band bucket holds all
    // 200 members. Without the guard that's 200²/2 pairs per band; with
    // maxBucket=50 the hot buckets drop and the query completes empty.
    val docs = spark.range(200)
      .select($"id".as("doc_id"), lit("same tokens every time here").as("text"))
    val sketches = Dedup.simHash(docs)
    assert(Dedup.simHashNearDups(sketches, maxDist = 6, maxBucket = 50).count() == 0,
      "hot buckets above maxBucket must be dropped")
    // with the cap above the corpus size the full pair set comes back
    assert(Dedup.simHashNearDups(sketches, maxDist = 6, maxBucket = 1000).count()
      == 200L * 199 / 2)
  }

  test("simHashBucketStats quantifies exactly what a cap drops") {
    import spark.implicits._
    // 5 identical docs share every band bucket (one 5-member bucket per
    // band = 10 candidate pairs); 3 distinct docs may or may not pairwise
    // collide, but never with 5 members
    val docs = ((1L to 5L).map(i => (i, (1 to 30).map(t => s"dup$t").mkString(" "))) ++
      Seq((10L, "alpha beta gamma delta"), (11L, "epsilon zeta eta theta"),
        (12L, "iota kappa lambda mu"))).toDF("doc_id", "text")
    val stats = Dedup.simHashBucketStats(Dedup.simHash(docs), maxBucket = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(stats.keySet == Set(0, 1, 2, 3), s"one row per band: $stats")
    stats.foreach { case (band, (nBuckets, maxB, nDropped, total, withinCap)) =>
      assert(maxB == 5, s"band $band: the identical-doc bucket has 5 members")
      assert(nDropped == 1, s"band $band: exactly the hot bucket is over cap 4")
      assert(total - withinCap == 10,
        s"band $band: the cap drops exactly the hot bucket's C(5,2) pairs")
      assert(nBuckets >= 1 && withinCap >= 0)
    }
    // a cap at 5 drops nothing — the report must say so
    val open = Dedup.simHashBucketStats(Dedup.simHash(docs), maxBucket = 5)
      .collect()
    open.foreach { r =>
      assert(r.getLong(3) == 0 && r.getLong(4) == r.getLong(5),
        "cap >= max bucket: nothing dropped, all pairs within cap")
    }
    // the minhash-path report shares the aggregation: identical docs
    // fill one bucket in EVERY band (32 default bands at H=96)
    val mh = Dedup.minHashBucketStats(
      Dedup.minHashSignatures(docs, numHashes = 96), bands = 32, maxBucket = 4)
      .collect()
    assert(mh.length == 32, s"one row per band, got ${mh.length}")
    mh.foreach { r =>
      assert(r.getLong(2) == 5 && r.getLong(3) == 1,
        "identical docs form the one over-cap bucket per band")
    }
  }

  test("minhash signature is deterministic across recomputation") {
    val s1 = Dedup.minHashSignatures(docs).orderBy("doc_id").collect()
    val s2 = Dedup.minHashSignatures(docs.repartition(7)).orderBy("doc_id").collect()
    assert(s1.map(_.getSeq[Long](1)).toSeq == s2.map(_.getSeq[Long](1)).toSeq)
  }

  test("connected components resolve chained pairs into one cluster") {
    // chain 1-2, 2-3, 3-4 plus isolated pair 10-11: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // keep-one dedup retains exactly one doc per component + singletons
    val docs = (1L to 12L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val kept = Dedup.dedupByClusters(docs, pairs)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 5L, 6L, 7L, 8L, 9L, 10L, 12L))
  }

  test("connected components: shared child with two unlinked roots merges the roots") {
    // pairs (1,3) and (2,3) with NO (1,2) pair: node 3 points at two
    // parents. A src/dst-disjointness convergence test wrongly calls
    // this a star forest (3 is only ever a src, 1 and 2 only ever
    // dsts) and emits node 3 twice with labels 1 AND 2 — the exact
    // non-transitive shape near-dup pairs produce (A~C, B~C, A≁B).
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val rows = Dedup.connectedComponents(pairs).collect()
    assert(rows.length == 3, s"one label per id, got ${rows.toSeq}")
    val cc = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $cc")
    // same shape, higher ids, plus an isolated pair
    val p2 = Seq((10L, 30L), (20L, 30L), (40L, 50L)).toDF("id_a", "id_b")
    val c2 = Dedup.connectedComponents(p2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L, 50L -> 40L),
      s"got $c2")
  }

  test("connected components: star contraction beats diameter — 50-hop path in ≤12 rounds") {
    // a chain-shaped dup cluster (serial edits) has diameter = length;
    // 1-hop min-label propagation would need 50 rounds and fail this
    // cap — star contraction needs ~log2(50)
    val pairs = (1L to 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 51 && cc.values.forall(_ == 1L),
      s"whole path must label to min id 1: $cc")
    // self-pairs label themselves (old contract preserved)
    val selfs = Seq((7L, 7L), (8L, 9L)).toDF("id_a", "id_b")
    val sc = Dedup.connectedComponents(selfs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sc == Map(7L -> 7L, 8L -> 8L, 9L -> 8L), s"got $sc")
    // a genuinely-too-small cap still fails LOUDLY, never returns a
    // silently-split labeling
    val long = (1L to 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(long, maxIter = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("nearDupPairs equals local brute force on randomized corpora") {
    // Property behind the q31 oracle: LSH + estimate-filter + exact verify
    // reproduces the brute-force answer (recall budget ~1e-6/pair at the
    // threshold — see Dedup.nearDupPairs). Random vocab docs + mutated
    // variants exercise a spread of jaccard values around the threshold.
    val rnd = new scala.util.Random(1234)
    val vocab = Array.tabulate(60)(i => s"w$i")
    def randDoc(): Array[String] =
      Array.fill(20 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
    def mutate(t: Array[String], nMut: Int): Array[String] = {
      val out = t.clone()
      (0 until nMut).foreach { _ =>
        out(rnd.nextInt(out.length)) = vocab(rnd.nextInt(vocab.length))
      }
      out
    }
    def shingleSet(toks: Array[String]): Set[String] =
      if (toks.length < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    (1 to 3).foreach { trial =>
      val bases = Seq.tabulate(8)(i => (i.toLong, randDoc()))
      val variants = bases.take(5).zipWithIndex.map { case ((id, t), i) =>
        (id + 100, mutate(t, i)) // 0..4 mutations → jaccard spread incl ≥0.7
      }
      val all = bases ++ variants
      val expected = (for {
        (a, ta) <- all; (b, tb) <- all if a < b
        sa = shingleSet(ta); sb = shingleSet(tb)
        inter = sa.intersect(sb).size
        j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= 0.7
      } yield (a, b)).toSet
      val got = Dedup.nearDupPairs(
          all.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
          threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"trial $trial: got=$got expected=$expected")
    }
  }

  test("prefixFilterNearDups equals local brute force (exact, no recall budget)") {
    // Unlike the LSH path, the prefix filter is EXACT by construction:
    // every brute-force pair must come back on every corpus, including
    // heavily-mutated variants that sit just either side of the
    // threshold. Same randomized harness as the LSH property above but
    // with a denser mutation spread to stress the boundary.
    val rnd = new scala.util.Random(987)
    val vocab = Array.tabulate(60)(i => s"w$i")
    def randDoc(): Array[String] =
      Array.fill(20 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
    def mutate(t: Array[String], nMut: Int): Array[String] = {
      val out = t.clone()
      (0 until nMut).foreach { _ =>
        out(rnd.nextInt(out.length)) = vocab(rnd.nextInt(vocab.length))
      }
      out
    }
    def shingleSet(toks: Array[String]): Set[String] =
      if (toks.length < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    (1 to 3).foreach { trial =>
      val bases = Seq.tabulate(8)(i => (i.toLong, randDoc()))
      val variants = bases.zipWithIndex.map { case ((id, t), i) =>
        (id + 100, mutate(t, i)) // 0..7 mutations: both sides of 0.7
      }
      val all = bases ++ variants
      val expected = (for {
        (a, ta) <- all; (b, tb) <- all if a < b
        sa = shingleSet(ta); sb = shingleSet(tb)
        inter = sa.intersect(sb).size
        j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= 0.7
      } yield (a, b)).toSet
      val got = Dedup.prefixFilterNearDups(
          all.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
          threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"trial $trial: got=$got expected=$expected")
    }
  }

  test("crossNearDupPairs equals local brute force; ids overlapping across sides never merge") {
    // Property behind the q103 oracle: the cross-corpus LSH join
    // reproduces the brute-force |L|×|R| jaccard filter. Right-side ids
    // deliberately COLLIDE with left-side ids while naming different
    // texts — the join must key pairs by (side, id), not id alone.
    val rnd = new scala.util.Random(4321)
    val vocab = Array.tabulate(60)(i => s"w$i")
    def randDoc(): Array[String] =
      Array.fill(20 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
    def mutate(t: Array[String], nMut: Int): Array[String] = {
      val out = t.clone()
      (0 until nMut).foreach { _ =>
        out(rnd.nextInt(out.length)) = vocab(rnd.nextInt(vocab.length))
      }
      out
    }
    def shingleSet(toks: Array[String]): Set[String] =
      if (toks.length < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    (1 to 3).foreach { trial =>
      val left = Seq.tabulate(8)(i => (i.toLong, randDoc()))
      // right id i holds a mutation of LEFT doc (i+1): id equality across
      // sides is a red herring by construction
      val right = (0 until 6).map { i =>
        (i.toLong, mutate(left((i + 1) % left.size)._2, i % 4))
      } :+ (100L -> randDoc())
      val expected = (for {
        (a, ta) <- left; (b, tb) <- right
        sa = shingleSet(ta); sb = shingleSet(tb)
        inter = sa.intersect(sb).size
        j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= 0.7
      } yield (a, b)).toSet
      val got = Dedup.crossNearDupPairs(
          left.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
          right.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
          threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"trial $trial: got=$got expected=$expected")
    }
  }

  test("crossNearDupPairs: degenerate hot buckets are skew-guarded on BOTH sides") {
    // 60 identical docs per side would pair 60×60 through every band
    // bucket; with maxBucket = 10 every over-full bucket drops on each
    // side, the expansion never materializes, and the call completes
    // with the documented empty answer (recall traded for boundedness).
    val same = lit("identical text repeated across the whole corpus here")
    val l = spark.range(60).select($"id".as("doc_id"), same.as("text"))
    val r = spark.range(60).select(($"id" + 500).as("doc_id"), same.as("text"))
    val out = Dedup.crossNearDupPairs(l, r, threshold = 0.7, maxBucket = 10)
    assert(out.count() == 0)
    // and a small clean pair still comes through alongside the hot mass
    val l2 = l.union(Seq((1000L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"))
    val r2 = r.union(Seq((2000L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"))
    val kept = Dedup.crossNearDupPairs(l2, r2, threshold = 0.7, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1000L, 2000L)))
  }

  test("prefixFilterNearDups: identical-doc corpus returns the full quadratic answer") {
    // The exact contract has no skew guard to trade recall — n identical
    // docs really are n(n-1)/2 near-dup pairs, and all must come back
    // (each doc's prefix is the same rarest shingle, so one bucket).
    val docs = spark.range(40)
      .select($"id".as("doc_id"),
        lit("same tokens every time in this document body").as("text"))
    val pairs = Dedup.prefixFilterNearDups(docs, threshold = 0.7)
    assert(pairs.count() == 40L * 39 / 2)
    assert(pairs.agg(min("jaccard")).head.getDouble(0) == 1.0)
  }

  test("duplicatedSpans finds planted cross-doc spans at exact offsets, any alignment") {
    import spark.implicits._
    // doc 0 carries a 20-token run R at offset 5; doc 1 carries the SAME
    // run at offset 11 — a shifted copy the 16-token chunk grid (q73)
    // cannot align. Everything else is unique tokens.
    val run = (1 to 20).map(i => s"r$i")
    val doc0 = ((1 to 5).map(i => s"a$i") ++ run ++ (1 to 7).map(i => s"b$i")).mkString(" ")
    val doc1 = ((1 to 11).map(i => s"c$i") ++ run ++ (1 to 4).map(i => s"d$i")).mkString(" ")
    val spans = Dedup.duplicatedSpans(
        Seq(0L -> doc0, 1L -> doc1).toDF("doc_id", "text"), l = 16)
      .orderBy("doc_id").collect()
    // the duplicated 16-windows inside R are starts 0..4 of R → covered
    // token range is exactly R itself: [5,25) in doc 0, [11,31) in doc 1
    assert(spans.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 5L, 25L, 20L), (1L, 11L, 31L, 20L)))
  }

  test("duplicatedSpans: all-unique corpus yields no spans; intra-doc repeats are found") {
    import spark.implicits._
    val unique = (0 until 5).map(d =>
      d.toLong -> (1 to 30).map(i => s"w${d}_$i").mkString(" ")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(unique, l = 16).count() == 0)
    // one doc repeating a 16-token run back-to-back: both occurrences
    // merge into a single island covering tokens [0, 32)
    val rep = (1 to 16).map(i => s"x$i")
    val intra = Seq(9L -> (rep ++ rep).mkString(" ")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(intra, l = 16).collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 32L)))
  }

  test("dedupRewrite: exact copies collapse to empty, partial overlap keeps the divergent tail") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"t$i")               // 3 chunks: 16+16+8
    val docs = Seq(
      0L -> base.mkString(" "),
      1L -> base.mkString(" "),                          // exact dup of 0
      2L -> (base.take(16) ++ (1 to 16).map(i => s"u$i")).mkString(" "), // shares chunk 0
      3L -> "solo little doc"                            // unique sub-chunk doc
    ).toDF("doc_id", "text")
    val out = Dedup.dedupRewrite(docs, chunkTokens = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // first occurrence reconstructs byte-identically
    assert(out(0L) == ((3L, 3L, base.mkString(" "))))
    // the exact copy loses every chunk and rewrites to the empty string
    assert(out(1L) == ((3L, 0L, "")))
    // doc 2's first chunk is owned by doc 0; only its u-tail survives
    assert(out(2L) == ((2L, 1L, (1 to 16).map(i => s"u$i").mkString(" "))))
    assert(out(3L) == ((1L, 1L, "solo little doc")))
    // global invariant: total kept chunks == distinct chunk count
    val own = Dedup.chunkOwnership(docs, chunkTokens = 16)
    assert(out.values.map(_._2).sum == own.select("h").distinct().count())
  }

  test("clusterRepresentatives: highest score wins, ties break to the smallest id") {
    import spark.implicits._
    val clusters = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 2L), (21L, 2L))
      .toDF("id", "cluster")
    val docs = Seq(
      (10L, "short"), (11L, "the longest member"), (12L, "mid one"),
      (20L, "same len"), (21L, "len same")).toDF("doc_id", "text")
    val reps = Dedup.clusterRepresentatives(clusters, docs, length(col("text")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(reps(1L) == ((11L, 18L, 3L)), "longest member must represent")
    assert(reps(2L) == ((20L, 8L, 2L)), "equal scores break toward the smaller id")
  }

  test("memorizationRisk: copies score 1e6, unique 0, short docs no windows") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val uniq = (1 to 40).map(i => s"unique$i").mkString(" ")
    val mixed = base + " " + (1 to 24).map(i => s"tail$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, uniq), (4L, "short doc here"),
      (5L, mixed)).toDF("doc_id", "text")
    val r = Dedup.memorizationRisk(docs, l = 16, minCount = 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((25L, 25L, 1000000L)), s"full copy: ${r(1L)}")
    assert(r(2L) == ((25L, 25L, 1000000L)))
    assert(r(3L) == ((25L, 0L, 0L)), "unique doc has zero repeated windows")
    assert(r(4L) == ((0L, 0L, 0L)), "sub-l docs have no windows and score 0")
    // mixed: 64 tokens -> 49 windows; the 25 windows inside the copied
    // prefix repeat (docs 1/2 carry them), the 24 crossing into the tail
    // are unique -> exact integer ppm
    assert(r(5L) == ((49L, 25L, 1000000L * 25 / 49)), s"prefix overlap: ${r(5L)}")
  }

  test("containmentPairs: planted quote fully contained, high-df grams dropped") {
    val art = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (1 to 60).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, art), (2L, quote), (3L, other)).toDF("doc_id", "text")
    val r = Dedup.containmentPairs(docs, k = 5, tauBp = 8000, dfCap = 100).collect()
    assert(r.length == 1, s"exactly the quote pair: ${r.toSeq}")
    assert(r.head.getLong(0) == 2L && r.head.getLong(1) == 1L,
      "direction: smaller gram set is the contained side")
    assert(r.head.getLong(r.head.fieldIndex("containment_bp")) == 10000L,
      "every quote gram appears in the article")

    // boilerplate present in MORE docs than the df cap generates no
    // candidates at all (the recall-for-bound trade, same as maxBucket)
    val boiler = (1 to 10).map(i =>
      (i.toLong, "common boiler plate text here " +
        (1 to 10).map(j => s"u${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.containmentPairs(boiler, k = 5, tauBp = 1000, dfCap = 5).isEmpty)
  }

  test("containmentPairs == O(n^2) reference when dfCap covers the corpus") {
    // with dfCap >= ndocs the gram join is EXACT: every pair sharing any
    // distinct 5-gram is generated (a shared gram has df >= 2 by
    // definition), so the operator must equal the quadratic reference
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 40).map(i => s"v$i")
    val docs = (1L to 30L).map { i =>
      val n = 8 + rnd.nextInt(20)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, k = 5, tauBp = 0, dfCap = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    def shingleSet(t: String): Set[String] = {
      val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.size < 5) Set(toks.mkString(" "))
      else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      shared = (sets(a) intersect sets(b)).size.toLong if shared > 0
    } yield {
      val (na, nb) = (sets(a).size.toLong, sets(b).size.toLong)
      val (cid, oid) = if (na <= nb) (a, b) else (b, a)
      val nc = math.min(na, nb)
      (cid, oid, shared, nc, 10000L * shared / nc)
    }).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("memorizationRisk == sequential reference on a random corpus") {
    val rnd = new scala.util.Random(13)
    val vocab = (1 to 25).map(i => s"w$i")
    val docs = (1L to 25L).map { i =>
      val n = 10 + rnd.nextInt(30)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = Dedup.memorizationRisk(docs.toDF("doc_id", "text"), l = 4, minCount = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    val wins = docs.flatMap { case (id, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.size < 4) Seq.empty
      else toks.sliding(4).map(w => (id, w.mkString(" "))).toSeq
    }
    val counts = wins.groupBy(_._2).view.mapValues(_.size).toMap
    val want = docs.map { case (id, _) =>
      val mine = wins.filter(_._1 == id)
      val n = mine.size.toLong
      val dup = mine.count(w => counts(w._2) >= 2).toLong
      id -> ((n, dup, if (n == 0) 0L else 1000000L * dup / n))
    }.toMap
    assert(got == want)
  }

  test("pairSimHistogram: planted twins land in the top bucket, unrelated pairs at 0") {
    // permille=1000 samples everything -> deterministic, full pair grid
    val a = (1 to 30).map(i => s"a$i").mkString(" ")
    val b = (1 to 30).map(i => s"b$i").mkString(" ")
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val r = Dedup.pairSimHistogram(docs, samplePermille = 1000, k = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // pairs: (1,2) identical -> jbp 10000 -> bucket 10; (1,3),(2,3) disjoint -> 0
    assert(r == Map(10L -> 1L, 0L -> 2L), s"$r")
  }

  test("weightedJaccardJoin: sees the multiset structure set jaccard misses") {
    // doc 1: each of 20 tokens once; doc 2: SAME token set, but one
    // token repeated 20x -> set jaccard = 1.0, multiset = 20+19 shared
    // over (20 + 39 - 39)... exactly: Σmin = 20, wa=20, wb=39,
    // jw = 20/(20+39-20) = 20/39 ≈ 0.51 — found at τ=0.5, not at τ=0.6
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val skew = (Seq.fill(20)("w1") ++ (2 to 20).map(i => s"w$i")).mkString(" ")
    val docs = Seq((1L, base), (2L, skew), (3L, base + " extra")).toDF("doc_id", "text")
    val at50 = Dedup.weightedJaccardJoin(docs, tauBp = 5000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(5))).toMap
    assert(at50.contains((1L, 2L)) && at50((1L, 2L)) == 20L * 10000L / 39L,
      s"skew pair must score 20/39 exactly: $at50")
    // (1,3): 20 shared of (20, 21) -> 20/21 ≈ 0.95
    assert(at50((1L, 3L)) == 20L * 10000L / 21L)
    val at60 = Dedup.weightedJaccardJoin(docs, tauBp = 6000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!at60.contains((1L, 2L)),
      "multiset jaccard must separate the repeat-skewed pair at 0.6")
    assert(at60.contains((1L, 3L)))
  }

  /** Sequential multiset reference: every pair with ⌊10⁴·Σmin/Σmax⌋ ≥
    * tauBp, as (id_a, id_b) → (inter_w, wa, wb, jw_bp). A doc with no
    * tokens has no weight and pairs with nothing.
    */
  private def bruteWeighted(docs: Seq[(Long, String)], tauBp: Long)
      : Map[(Long, Long), (Long, Long, Long, Long)] = {
    def counts(s: String) = s.split(" ").filter(_.nonEmpty)
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      ca = counts(ta); cb = counts(tb)
      inter = (ca.keySet ++ cb.keySet).toSeq
        .map(k => math.min(ca.getOrElse(k, 0L), cb.getOrElse(k, 0L))).sum
      wa = ca.values.sum; wb = cb.values.sum
      if wa > 0 && wb > 0 && inter * 10000L / (wa + wb - inter) >= tauBp
    } yield (ia, ib) -> (inter, wa, wb, inter * 10000L / (wa + wb - inter))).toMap
  }

  private def weightedJoin(docs: Seq[(Long, String)], tauBp: Int) = {
    import spark.implicits._
    Dedup.weightedJaccardJoin(docs.toDF("doc_id", "text"), tauBp = tauBp)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
  }

  test("weightedJaccardJoin == brute-force multiset reference on a random corpus") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 120L).map { i =>
      // overlapping vocab with repeats: multiset structure matters
      val n = 10 + rnd.nextInt(30)
      i -> (1 to n).map(_ => s"t${rnd.nextInt(25)}").mkString(" ")
    }
    val got = weightedJoin(docs, 6000)
    val want = bruteWeighted(docs, 6000)
    assert(got == want,
      s"mismatch: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
  }

  test("weightedJaccardJoin == brute force on adversarial weights: 100x repeats, df ties, tiny docs") {
    val hundred = Seq.fill(100)("a").mkString(" ")
    val docs = Seq(
      1L -> s"$hundred b c d",      // one token carries almost all weight
      2L -> s"$hundred b c",        // ...and its near twin
      3L -> "a b c d",              // set-identical to 1, multiset far
      4L -> s"${Seq.fill(99)("a").mkString(" ")} e",
      5L -> "solo",                 // one-token docs, identical
      6L -> "solo",
      7L -> "",                     // empty doc: no tokens, no weight
      8L -> "x y z w",              // df ties: x, y, z each in 3 docs
      9L -> "w z y x",
      10L -> "x y z q")
    for (tau <- Seq(3000, 6000, 9000)) {
      val got = weightedJoin(docs, tau)
      val want = bruteWeighted(docs, tau)
      assert(got == want, s"tauBp=$tau: got $got want $want")
    }
    // the corpus exercises both sides of the bound
    val at60 = bruteWeighted(docs, 6000).keySet
    assert(at60.contains((1L, 2L)) && at60.contains((5L, 6L)) && !at60.contains((1L, 3L)))
  }

  test("cdcChunks: a prefix edit reflows ONLY the head chunk; fixed chunking loses everything") {
    val rnd = new scala.util.Random(11)
    val base = (1 to 120).map(_ => s"w${rnd.nextInt(30)}").mkString(" ")
    val df = Seq(1L -> base, 2L -> s"graftspec $base").toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(df).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3)))
      }
    val (orig, twin) = (chunks(1L), chunks(2L))
    // every original cutpoint survives the prepend (its 4-token window
    // is intact, just shifted), so every original chunk EXCEPT the head
    // chunk appears verbatim in the twin
    val twinSet = twin.map(_._1).toSet
    orig.drop(1).foreach { case (h, n) =>
      assert(twinSet.contains(h), s"non-head chunk ($h, $n tokens) lost") }
    // and the chunks conserve the token stream exactly
    assert(orig.map(_._2).sum == 120L && twin.map(_._2).sum == 121L)
    // contrast: FIXED chunking of the same pair shares nothing (every
    // chunk shifted by one token) — the failure CDC exists to avoid
    val fixedShared = Dedup.chunkOwnership(df)
      .groupBy("h").count().filter(col("count") >= 2).count()
    assert(fixedShared == 0L,
      "fixed chunking unexpectedly aligned across the prefix edit")
  }

  test("cdcChunks snapshot novelty: copies score 0, fresh docs 100%, grown docs partial") {
    val rnd = new scala.util.Random(23)
    def txt(n: Int, tag: String) =
      (1 to n).map(_ => s"$tag${rnd.nextInt(40)}").mkString(" ")
    val oldDoc = txt(100, "o")
    val oldDocs = Seq(1L -> oldDoc, 2L -> txt(90, "o")).toDF("doc_id", "text")
    val newDocs = Seq(
      10L -> oldDoc, // exact re-crawl
      11L -> txt(80, "f"), // entirely fresh content
      12L -> s"$oldDoc extra footer tokens appended here now" // grown page
    ).toDF("doc_id", "text")
    val oldHashes = Dedup.cdcChunks(oldDocs)
      .select("chunk_hash").distinct().withColumn("seen", lit(1))
    val nov = Dedup.cdcChunks(newDocs)
      .join(oldHashes, Seq("chunk_hash"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("novel"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(nov(10L)._2 == 0L, s"an exact re-crawl must be 0% novel: $nov")
    assert(nov(11L)._2 == nov(11L)._1, s"fresh content must be 100% novel: $nov")
    val (gn, gnov) = nov(12L)
    assert(gnov > 0L && gnov < gn,
      s"a grown page must be partially novel (footer only): $nov")
  }

  test("goldenRecords: field-wise survivorship with deterministic ties") {
    import org.apache.spark.sql.functions.col
    // cluster A = {1,2,3}: sources a,a,b -> modal a; longest text is
    // doc 2; cluster B = {10,11}: sources c,d tie -> lexicographic c;
    // equal-length texts tie -> smaller id 10. doc 99 is unpaired and
    // must not appear.
    val docs = Seq(
      (1L, "short", "a"), (2L, "the longest text here", "a"),
      (3L, "medium text", "b"),
      (10L, "same size", "d"), (11L, "size same", "c"),
      (99L, "isolated", "z")
    ).toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.goldenRecords(docs, pairs).orderBy(col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, "a", 2L, 2L, 21L, 5L + 21L + 11L),
      (10L, 2L, 10L, "c", 2L, 10L, 9L, 18L)), s"got ${got.toSeq}")
    // partition-invariant (argmax/mode idioms must not depend on order)
    val got2 = Dedup.goldenRecords(docs.repartition(7), pairs.repartition(3))
      .orderBy(col("cluster_id")).collect().map(_.toSeq)
    assert(got2.toSeq == Dedup.goldenRecords(docs, pairs)
      .orderBy(col("cluster_id")).collect().map(_.toSeq).toSeq)
  }
}
