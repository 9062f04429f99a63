package graft.textops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount handles whitespace runs and empty strings") {
    val df = Seq("a b  c", "", "  ", "one", "x\ty z").toDF("text")
      .select(TextAnalysis.tokenCount($"text").as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3, 0, 0, 1, 3))
  }

  test("stopword and punct ratios") {
    val r = Seq("the cat sat on the mat").toDF("text")
      .select(TextAnalysis.stopwordRatio($"text").as("s"),
        TextAnalysis.punctRatio($"text").as("p")).head
    // stopwords: the, on, the → 3/6
    assert(math.abs(r.getDouble(0) - 0.5) < 1e-9)
    assert(r.getDouble(1) == 0.0)
    val p = Seq("a!!! b???").toDF("text")
      .select(TextAnalysis.punctRatio($"text").as("p")).head.getDouble(0)
    assert(math.abs(p - 6.0 / 9.0) < 1e-9)
  }

  test("langId identifies clear-cut samples") {
    val samples = Seq(
      ("the cat is on the mat and the dog", "en"),
      ("der Hund ist nicht die Katze und der Vogel", "de"),
      ("le chat est sur la table et les chiens", "fr"),
      ("el perro es que los gatos", "es"),
      ("我是在这里的人了", "zh"),
      ("zzz qqq xxx", "und"))
    val got = samples.map(_._1).toDF("text")
      .select(TextAnalysis.langId($"text").as("lang"))
      .collect().map(_.getString(0)).toSeq
    assert(got == samples.map(_._2))
  }

  test("langId (one automaton pass) == composed replace form, corpus-wide") {
    // the automaton path must reproduce the builtin-only expression tree
    // the q33/q208 oracles mirror — including on half-doc slices, where
    // marker counts are small and ties matter. The two forms run in
    // separate stages joined on the id — one projection holding both
    // passes a generated method past 64 KB — and with codegen fallback
    // off, so a stage that does not compile fails here instead of
    // running interpreted.
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select($"doc_id", $"text")
    val half = expr("(size(split(text, ' ')) + 1) div 2")
    val toks = split($"text", " ")
    val slices = docs.select($"doc_id", $"text")
      .union(docs.select($"doc_id" + 1000000L,
        array_join(slice(toks, lit(1), half), " ")))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val mismatch = try slices
      .select($"doc_id", TextAnalysis.langId($"text").as("fast"))
      .join(slices.select($"doc_id",
        TextAnalysis.langIdComposed($"text").as("ref")), "doc_id")
      .filter($"fast" =!= $"ref")
      .count()
    finally spark.conf.set("spark.sql.codegen.fallback", "true")
    assert(mismatch == 0L)
  }

  test("urlCanonicalize: case/port/fragment/utm/param-order variants collapse; path case survives") {
    val cases = Seq(
      // every normalization at once
      "HTTPS://WWW.Site.COM:443/Path/a?utm_source=x&b=2&a=1#frag" ->
        "https://www.site.com/Path/a?a=1&b=2",
      // plain form is a fixpoint
      "https://www.site.com/Path/a?a=1&b=2" ->
        "https://www.site.com/Path/a?a=1&b=2",
      // non-default port survives; http default port drops
      "http://h.io:8080/p?x=1" -> "http://h.io:8080/p?x=1",
      "HTTP://H.IO:80/p?x=1" -> "http://h.io/p?x=1",
      // all params tracking -> no query at all
      "https://a.b/p?utm_source=x&utm_medium=y" -> "https://a.b/p",
      // no query, no port
      "https://a.b/CaseKept" -> "https://a.b/CaseKept",
      // query with NO path: '?' must terminate the authority, not fold
      // into the host (common crawl shape)
      "HTTPS://Site.COM?b=2&a=1" -> "https://site.com?a=1&b=2",
      "https://Site.com:443?utm_source=x&a=1" -> "https://site.com?a=1",
      "http://h.io:8080?x=1" -> "http://h.io:8080?x=1",
      // bare host is a fixpoint
      "https://site.com" -> "https://site.com")
    val got = cases.map(_._1).toDF("url")
      .select(TextAnalysis.urlCanonicalize($"url").as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("mojibakeRepair: the Latin-1 round-trip restores the original; count matches") {
    val clean = "café résumé naïve touché señor für ación côté"
    // the actual damage: UTF-8 bytes re-decoded as Latin-1
    val damaged = new String(
      clean.getBytes("UTF-8"), java.nio.charset.StandardCharsets.ISO_8859_1)
    val r = Seq((damaged, clean)).toDF("t", "want")
      .select(TextAnalysis.mojibakeRepair($"t").as("got"), $"want",
        TextAnalysis.mojibakeCount($"t").as("n"))
      .head()
    assert(r.getString(0) == r.getString(1),
      s"repair mismatch: ${r.getString(0)}")
    // every accented char in `clean` is one 2-byte digraph
    assert(r.getLong(2) == clean.count(_ > 127),
      s"count: ${r.getLong(2)} vs ${clean.count(_ > 127)}")
    // clean ASCII is untouched and counts zero
    val r2 = Seq("plain ascii text.").toDF("t")
      .select(TextAnalysis.mojibakeRepair($"t").as("got"),
        TextAnalysis.mojibakeCount($"t").as("n")).head()
    assert(r2.getString(0) == "plain ascii text." && r2.getLong(1) == 0L)
  }

  test("c4LineFilter: each rule trips exactly its crafted violator") {
    val ok = "this line has plenty of words in it."
    val short3 = "too few words."
    val noPunct = "this line has plenty of words but no terminal mark"
    val js = "this javascript line has plenty of words here."
    val docs = Seq(
      // survivor: three clean lines
      (1L, Seq(ok, ok, ok)),
      // line rules: short / unterminated / javascript lines drop, but
      // three clean lines still carry the doc
      (2L, Seq(ok, short3, noPunct, js, ok, ok)),
      // doc gate: only two clean lines -> whole doc drops
      (3L, Seq(ok, ok, noPunct)),
      // page bans: lorem ipsum / brace anywhere kill the doc even with
      // three clean lines
      (4L, Seq(ok, ok, ok, "plus some lorem ipsum filler words here.")),
      (5L, Seq(ok, ok, ok, "code spill { with enough words here too.")),
      // alternative terminal marks count
      (6L, Seq("does this line end with a question mark?",
        "this one ends with an exclamation mark!",
        "and this one ends with a quote \""))
    ).toDF("doc_id", "lines")
    val got = TextAnalysis.c4LineFilter(docs)
      .select($"doc_id", $"n_lines", $"n_kept")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> ((3L, 3L)), 2L -> ((6L, 3L)), 6L -> ((3L, 3L))),
      s"got $got")
    // kept_lines preserves original order
    val kept = TextAnalysis.c4LineFilter(docs).filter($"doc_id" === 2L)
      .select($"kept_lines").head().getSeq[String](0)
    assert(kept == Seq(ok, ok, ok))
  }

  test("qualityScore: clean long text scores higher than short noisy text") {
    val r = Seq(
      ("the quick brown fox jumps over the lazy dog and runs on through the field " * 8,
        "good"),
      ("@@@@ ### $$$$ %% ^^ && **", "bad")).toDF("text", "tag")
      .select($"tag", TextAnalysis.qualityScore($"text").as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r("good") > 0.7, s"good=${r("good")}")
    assert(r("bad") < 0.3, s"bad=${r("bad")}")
  }

  test("bpeIshTokenCount approximates chars/4 and exceeds word count") {
    val r = Seq("internationalization is complicated").toDF("text")
      .select(TextAnalysis.bpeIshTokenCount($"text").as("n")).head.getLong(0)
    // ceil(20/4)+ceil(2/4)+ceil(11/4) = 5+1+3 = 9
    assert(r == 9)
  }

  test("fingerprint is stable and collides exactly on shared rare shingles") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // identical → same fp
      (3L, "completely different words here now")).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("shingles: short docs fall back to whole-text single shingle") {
    val sh = Seq("one two").toDF("text")
      .select(TextAnalysis.shingles($"text", 3).as("sh")).head.getSeq[String](0)
    assert(sh == Seq("one two"))
  }

  test("tfIdfTop ranks distinctive terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "apple apple apple common common"),
      (2L, "banana banana common common"),
      (3L, "cherry common common")).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTop(docs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'common' appears in every doc → idf = ln(1) = 0; the per-doc
    // distinctive term must win
    assert(top == Map(1L -> "apple", 2L -> "banana", 3L -> "cherry"), top.toString)
  }

  test("tfIdfTop is deterministic across partitionings") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.tfIdfTop(df, k = 3)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    assert(run(docs) == run(docs.repartition(5)))
  }

  test("deletionVariants covers every edit-distance-1 pair (SymSpell completeness)") {
    // property: a string and any single-edit mutation of it (substitute,
    // insert, delete) must share at least one deletion variant — that's
    // the exactness guarantee the q94 fuzzy join builds on
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefg"
    def randStr(n: Int) = Array.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val cases = (1 to 60).map { _ =>
      val s = randStr(4 + rnd.nextInt(8))
      val pos = rnd.nextInt(s.length)
      val mutated = rnd.nextInt(3) match {
        case 0 => s.updated(pos, 'z')                        // substitute
        case 1 => s.substring(0, pos) + "z" + s.substring(pos) // insert
        case 2 => s.substring(0, pos) + s.substring(pos + 1)   // delete
      }
      (s, mutated)
    }
    val df = cases.toDF("a", "b")
      .select(TextAnalysis.deletionVariants($"a").as("va"),
        TextAnalysis.deletionVariants($"b").as("vb"))
      .select(size(array_intersect($"va", $"vb")).as("shared"))
    assert(df.filter($"shared" < 1).count() == 0)
  }

  test("bpeTrain equals the reference Sennrich algorithm; segmentation round-trips") {
    // driver-side reference: word-freq dict → repeated (count desc, l, r)
    // argmax + greedy left-to-right merge
    def refTrain(words: Map[String, Long], merges: Int): Seq[(String, String)] = {
      var dict = words.map { case (w, n) => w.map(_.toString).toVector -> n }.toSeq
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var done = false
      while (out.size < merges && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        dict.foreach { case (sym, n) =>
          sym.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + n
          }
        }
        if (counts.isEmpty) done = true
        else {
          val (l, r) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          out += ((l, r))
          dict = dict.map { case (sym, n) => refMerge(sym, l, r) -> n }
        }
      }
      out.toSeq
    }
    def refMerge(sym: Vector[String], l: String, r: String): Vector[String] =
      sym.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (acc.last + s)
        else acc :+ s
      }
    val rnd = new scala.util.Random(77)
    (1 to 3).foreach { trial =>
      val vocab = Seq("aba", "abab", "bcbc", "cab", "aabb", "abc", "ccc")
      val docs = (0 until 40).map { i =>
        (i.toLong, Seq.fill(5 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val got = TextAnalysis.bpeTrain(df, merges = 8)
      val wordFreq = docs.flatMap(_._2.split("\\s+")).groupBy(identity)
        .map { case (w, ws) => w -> ws.size.toLong }
      val want = refTrain(wordFreq, 8)
      assert(got == want, s"trial $trial: got=$got want=$want")
      // segmentation: applying the table == reference application, and
      // concatenating segments reproduces each token exactly
      val seg = df.select($"text", TextAnalysis.bpeSegment($"text", got).as("seg"))
        .collect()
      seg.foreach { row =>
        val toks = row.getString(0).split("\\s+").toSeq
        val segs = row.getSeq[scala.collection.Seq[String]](1)
        assert(segs.map(_.mkString) == toks, "segments must concat back to tokens")
        toks.zip(segs).foreach { case (w, sg) =>
          val ref = got.foldLeft(w.map(_.toString).toVector) {
            case (sym, (l, r)) => refMerge(sym, l, r)
          }
          assert(sg.toVector == ref, s"segmentation of '$w': got $sg want $ref")
        }
      }
    }
    // exhaustion: more merges requested than pairs exist must terminate
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val t = TextAnalysis.bpeTrain(tiny, merges = 10)
    assert(t == Seq(("a", "b")), s"tiny corpus table: $t")
  }

  test("bpeTrain launches at most 2 Spark jobs regardless of merge count") {
    // the corpus-sized work is ONE word-count aggregation; the merge
    // loop runs on the driver over the collected vocab-bounded dict. A
    // per-merge distributed round would launch O(merges) jobs — unusable
    // at a real 32k vocab. ≤2 covers AQE's shuffle-map + result jobs.
    val docs = (0 until 200).map(i => (i.toLong, s"alpha beta gamma delta w$i"))
      .toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val table = TextAnalysis.bpeTrain(docs, merges = 50)
      // listener events are async; the job-START events we count are
      // posted synchronously with submission, but give the bus a beat
      Thread.sleep(500)
      assert(table.size == 50, s"expected 50 merges, got ${table.size}")
      assert(jobs.get() <= 2,
        s"training must be collect-once + driver loop, saw ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bigramNll equals a driver-side recompute; gibberish outscores prose") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat slept"),
      (2L, "the cat sat on the mat and the dog slept"),
      (3L, "zq xv qzk vxq zzq kqx"), // transitions seen once each
      (4L, "one"),                   // no bigrams: must be absent
      (5L, "the cat sat")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramNll(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // driver-side model
    val toks = Seq(
      1L -> "the cat sat on the mat and the cat slept",
      2L -> "the cat sat on the mat and the dog slept",
      3L -> "zq xv qzk vxq zzq kqx",
      5L -> "the cat sat"
    ).map { case (id, t) => id -> t.split("\\s+").toSeq }
    val bi = toks.flatMap { case (id, t) => t.sliding(2).map(p => (id, p(0), p(1))) }
    val c2 = bi.groupBy(x => (x._2, x._3)).view.mapValues(_.size).toMap
    val c1 = bi.groupBy(_._2).view.mapValues(_.size).toMap
    val v = c2.keySet.map(_._2).size
    val expected = bi.groupBy(_._1).map { case (id, rows) =>
      val qs = rows.map { case (_, p, c) =>
        math.round(1e6 * math.log((c1(p) + v).toDouble / (c2((p, c)) + 1)))
      }
      id -> (rows.size.toLong,
        BigDecimal(qs.sum.toDouble / rows.size / 1e6)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got == expected, s"got=$got expected=$expected")
    assert(!got.contains(4L), "a doc with no bigrams must be absent")
    // the gibberish doc's transitions are all singletons → max surprisal
    assert(got(3L)._2 > got(1L)._2 && got(3L)._2 > got(2L)._2)
  }

  test("tokenDrift: identical per-group distributions score zero, a divergent group scores positive") {
    import spark.implicits._
    val balanced = Seq(
      ("a", "x y z x"), ("a", "y z"),
      ("b", "x y z x"), ("b", "y z")).toDF("source", "text")
    val z = TextAnalysis.tokenDrift(balanced)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // each group's token distribution IS the corpus distribution →
    // every quantized term is floor(0.0) = 0
    assert(z == Map("a" -> 0L, "b" -> 0L), s"got $z")
    val skewed = Seq(
      ("a", "x x x x x x"), ("b", "q q q q q q"))
      .toDF("source", "text")
    val kl = TextAnalysis.tokenDrift(skewed)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // disjoint vocabularies: each group is maximally unlike the corpus —
    // KL = ln 2 exactly, quantized per term (one term per group)
    val ln2nano = math.floor(1e9 * math.log(2)).toLong
    assert(kl == Map("a" -> ln2nano, "b" -> ln2nano), s"got $kl")
  }

  test("dsirLogWeights: target-vocabulary docs outscore off-target docs, volumes are exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, true, "alpha alpha beta"),   // target domain
      (2L, true, "alpha beta beta"),
      (3L, false, "gamma delta gamma"), // raw-only vocabulary
      (4L, false, "alpha beta gamma")   // mixed
    ).toDF("doc_id", "is_tgt", "text")
    val w = TextAnalysis.dsirLogWeights(docs, isTarget = col("is_tgt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w.map(x => x._1 -> x._2).toMap ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), "token volumes wrong")
    val score = w.map(x => x._1 -> x._3).toMap
    // pure-target-vocab docs beat the mixed doc, which beats the
    // raw-only doc; importance weights order by target likeness
    assert(score(1L) > score(4L) && score(2L) > score(4L) && score(4L) > score(3L),
      s"got $score")
  }

  test("vocabCoverage: boundary cut is deterministic and OOV rates are exact") {
    import spark.implicits._
    // counts: x→4, y→3, a→2, b→2, c→1; vocabSize=3 cuts at count 2
    // where 'a' beats 'b' alphabetically → vocab = {x, y, a}
    val docs = Seq(
      ("s1", "x x y a b"), ("s2", "x x y y a b c")).toDF("source", "text")
    val got = TextAnalysis.vocabCoverage(docs, vocabSize = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("s1") == ((5L, 1L, 200000L)), s"got $got")   // b OOV: 1/5
    assert(got("s2") == ((7L, 2L, 285714L)), s"got $got")   // b,c OOV: 2/7
    // everything in-vocab when the vocab covers the whole vocabulary
    val full = TextAnalysis.vocabCoverage(docs, vocabSize = 100)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(full == Map("s1" -> 0L, "s2" -> 0L))
  }

  test("bm25: term-stuffed doc ranks first, rare terms outweigh common, absent docs drop") {
    val docs = Seq(
      (1L, "cat cat cat dog"),          // stuffed with the rare query term
      (2L, "cat filler filler filler"), // one rare-term hit
      (3L, "dog filler filler filler"), // one common-term hit
      (4L, "dog dog filler filler"),    // two common-term hits
      (5L, "filler filler filler"),     // no query terms at all
      (6L, "dog filler"), (7L, "dog x"), (8L, "dog y"), (9L, "dog z"))
      .toDF("doc_id", "text")
    // 'cat' df=2 (rare), 'dog' df=7 (common)
    val got = TextAnalysis.bm25(docs, Seq("cat", "dog"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val rank = got.map(_._1).toSeq
    val score = got.toMap
    assert(!score.contains(5L), "doc without any query term must not score")
    assert(rank.head == 1L, s"stuffed doc must rank first, got $rank")
    assert(score(2L) > score(3L),
      "a rare-term hit must outscore a common-term hit (idf ordering)")
    assert(score.values.forall(_ > 0), "Lucene idf form stays positive for common terms")
    // scores are monotone with the returned order
    assert(rank.map(score) == rank.map(score).sorted(Ordering[Double].reverse))
  }

  test("bm25: length normalization — same tf, shorter doc scores higher") {
    val docs = Seq(
      (1L, "cat a b c"),
      (2L, "cat a b c d e f g h i j k l m n o p"),
      (3L, "pad pad pad pad"))
      .toDF("doc_id", "text")
    val score = TextAnalysis.bm25(docs, Seq("cat"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(score(1L) > score(2L),
      "equal tf must favor the shorter document (b-normalization)")
  }

  test("rrfFuse: consensus docs beat single-list docs; exact RRF values") {
    val listA = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val listB = Seq((2L, 1), (4L, 2), (1L, 3)).toDF("doc_id", "rank")
    val got = TextAnalysis.rrfFuse(Seq(listA, listB), k = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = got.map(g => g._1 -> g).toMap
    // docs 1 and 2 appear in both lists, 3 and 4 in one each
    assert(byId(1L)._2 == 2 && byId(2L)._2 == 2)
    assert(byId(3L)._2 == 1 && byId(4L)._2 == 1)
    assert(got.take(2).map(_._1).toSet == Set(1L, 2L),
      s"consensus docs must lead: ${got.toSeq}")
    // exact quantized arithmetic (micro-units, then 4-dp display round)
    def rrf4(ranks: Long*): Double =
      BigDecimal(ranks.map(r => math.round(1e6 / (60 + r))).sum / 1e6)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byId(1L)._3 == rrf4(1, 3), s"doc1: ${byId(1L)}")
    assert(byId(2L)._3 == rrf4(2, 1), s"doc2: ${byId(2L)}")
    // doc2's ranks (2,1) sum higher than doc1's (1,3) → doc2 leads
    assert(got.head._1 == 2L)
  }

  test("gopherRules: each crafted violator trips exactly its rule") {
    val good = ("the quick brown foxes of it jumped over these lazy " * 5).trim
    val short = "the tiny one"
    val meanLenLow = ("aa " * 50).trim + " the it"
    val symbols = ("# " * 10 + "the cat sat on mat is it of a in " * 4).trim
    val numeric = ("123 456 789 " * 20).trim + " the it"
    val noStops = ("wonderful creatures gather quietly beneath mountains " * 10).trim
    val df = Seq(
      (1L, good), (2L, short), (3L, meanLenLow),
      (4L, symbols), (5L, numeric), (6L, noStops)).toDF("doc_id", "text")
    val rows = TextAnalysis.gopherRules(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    def flag(id: Long, c: String) = rows(id).getBoolean(rows(id).fieldIndex(c))
    assert(flag(1L, "keep"), "well-formed prose must pass all rules")
    assert(!flag(2L, "len_ok") && flag(2L, "mean_len_ok"))
    assert(!flag(3L, "mean_len_ok") && flag(3L, "len_ok"))
    assert(!flag(4L, "sym_ok") && flag(4L, "stop_ok"))
    assert(!flag(5L, "alpha_ok") && flag(5L, "stop_ok"))
    assert(!flag(6L, "stop_ok") && flag(6L, "alpha_ok"))
    assert(Seq(2L, 3L, 4L, 5L, 6L).forall(id => !flag(id, "keep")))
  }

  test("tokenEntropy: repetition scores zero, uniform scores ln(k), partition-invariant") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"), // 1 distinct → H = 0
      (2L, "a b c d a b c d"),  // 4 tokens uniform → H = ln 4
      (3L, "w x y z"),          // 4 distinct singletons → H = ln 4
      (4L, ""),                 // unscorable → absent
      (5L, "the the the cat")   // skewed: 0 < H < ln 2 + ε
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(4L), "empty doc is unscorable (absent)")
    assert(got(1L) == (8L, 0L), "pure repetition has zero entropy")
    val ln4micro = math.round(1e6 * math.log(4.0))
    // uniform distribution: every term contributes n·ln(N/n) with
    // N/n = 4; integer rounding per term then div N reproduces ln 4
    // to within the quantization grain
    assert(math.abs(got(2L)._2 - ln4micro) <= 2, s"got ${got(2L)}")
    assert(math.abs(got(3L)._2 - ln4micro) <= 2, s"got ${got(3L)}")
    assert(got(5L)._2 > 0 && got(5L)._2 < got(2L)._2,
      "skewed distribution sits strictly between repetition and uniform")
    // partitioning must not move a single micro-nat
    val re = TextAnalysis.tokenEntropy(df.repartition(7)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(re == got)
  }

  test("bpeSegment with pinnedMerges: fold == sequential reference; fertility counts add up") {
    // sequential reference of the greedy left-to-right merge round
    def mergeOnceRef(sym: List[String], l: String, r: String): List[String] =
      sym.foldLeft(List.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r)
          acc.init :+ (l + r)
        else acc :+ s
      }
    def segRef(w: String): List[String] =
      TextAnalysis.pinnedMerges.foldLeft(w.split("").filter(_.nonEmpty).toList) {
        case (sym, (l, r)) => mergeOnceRef(sym, l, r)
      }
    val words = Seq("power", "master", "partition", "filter", "merger",
      "arat", "filfil", "xerer", "in", "a")
    val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val got = df.select(
        TextAnalysis.bpeSegment(col("text"), TextAnalysis.pinnedMerges).as("s"))
      .head().getSeq[scala.collection.Seq[String]](0).map(_.toList).toList
    assert(got == words.map(segRef).toList,
      s"column fold diverged from the sequential reference:\n$got")
    // the q140 aggregate: n_symbols over the doc == Σ per-word symbols
    assert(got.map(_.size).sum == words.map(w => segRef(w).size).sum)
  }

  test("domainReweight: the under-modeled source gets the weight, homogeneous corpora fall back to uniform") {
    // "easy" docs repeat the dominant phrasing; "hard" docs use rare
    // transitions the corpus model assigns high surprisal
    val easy = (0 until 20).map(i => (i.toLong, "the cat sat on the mat again and again", "easy"))
    val hard = (100 until 105).map(i => (i.toLong, "qux zorp flem wibble vex trond plik", "hard"))
    val docs = (easy ++ hard).toDF("doc_id", "text", "source")
    val w = TextAnalysis.domainReweight(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    val (easyNll, easyExcess, easyBp) = w("easy")
    val (hardNll, hardExcess, hardBp) = w("hard")
    assert(hardNll > easyNll, s"hard source must score higher NLL: $w")
    assert(hardExcess > 0 && hardBp > 0, s"hard source must carry weight: $w")
    assert(easyBp == 0, s"at-or-below-average source must clip to 0: $w")
    assert(easyBp + hardBp <= 10000)
    // identical sources → zero excess everywhere → uniform fallback
    val same = (0 until 10).map(i =>
      (i.toLong, "alpha beta gamma delta", if (i % 2 == 0) "s0" else "s1"))
      .toDF("doc_id", "text", "source")
    val u = TextAnalysis.domainReweight(same)
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(u == Map("s0" -> 5000L, "s1" -> 5000L), s"uniform fallback: $u")
    // deterministic under repartitioning (integer arithmetic end to end)
    val w2 = TextAnalysis.domainReweight(docs.repartition(7))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    assert(w2 == w)
  }

  test("queryLikelihood: == sequential Dirichlet reference; absent terms penalize, not zero") {
    val docs = Seq(
      1L -> "alpha beta alpha gamma delta",
      2L -> "alpha beta beta beta zeta",
      3L -> "gamma delta epsilon zeta eta", // no query terms at all
      4L -> "alpha beta", // short doc, both terms
      5L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val df = docs.toDF("doc_id", "text")
    val q = Seq("alpha", "beta")
    val got = TextAnalysis.queryLikelihood(df, q, k = 5, mu = 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // sequential reference, same quantization
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val total = toks.values.map(_.size).sum.toDouble
    val cf = q.map(t => t -> toks.values.map(_.count(_ == t)).sum.toLong).toMap
    def score(id: Long): Long = q.map { t =>
      val tf = toks(id).count(_ == t).toLong
      math.round(1000000.0 * math.log(
        (tf + 50.0 * cf(t) / total) / (toks(id).size + 50.0)))
    }.sum
    def disp(s: Long): Double =
      BigDecimal(s.toDouble / 1000000)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = docs.map(_._1).map(id => id -> disp(score(id)))
      .sortBy { case (id, r) => (-r, id) }
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    // the no-term doc is ranked, just last among these lengths — absent
    // terms cost smoothed collection probability, they don't zero out
    assert(got.map(_._1).contains(3L))
    assert(got.takeWhile(_._1 != 3L).nonEmpty)
  }
}
