package graft.operators

import graft.SparkSpec
import graft.dedup.Dedup
import graft.graph.Graph
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

/** Degenerate-input robustness: empty corpora, single rows, empty
  * strings. At 100 TB these show up constantly as empty partitions,
  * empty sources after a filter, and blank documents — an operator that
  * throws on them takes the whole pipeline down.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private val emptyDocs = docsDf()

  test("dedup family: empty and blank-document corpora") {
    assert(Dedup.exactDedup(emptyDocs).count() == 0)
    assert(Dedup.nearDupPairs(emptyDocs).count() == 0)
    assert(Dedup.prefixFilterNearDups(emptyDocs).count() == 0)
    assert(Dedup.simHashNearDups(Dedup.simHash(emptyDocs)).count() == 0)
    assert(Dedup.chunkOwnership(emptyDocs).count() == 0)
    // blank/whitespace docs: tokenless rows must not crash the shingle
    // or signature paths. Two blank docs tokenize identically (empty),
    // so they are a TRUE dup pair — both the LSH and the exact prefix
    // paths must report exactly (1,2) and nothing touching doc 3
    val blanks = docsDf(1L -> "", 2L -> "   ", 3L -> "one real document here")
    val lsh = Dedup.nearDupPairs(blanks)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pfx = Dedup.prefixFilterNearDups(blanks)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((1L, 2L)) && pfx == lsh,
      s"blank-doc pairing must agree: lsh=$lsh prefix=$pfx")
  }

  test("connected components and PageRank: empty edge sets") {
    val emptyEdges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(emptyEdges).count() == 0)
    assert(Graph.pageRankMicro(
      emptyEdges.select(col("id_a").as("src"), col("id_b").as("dst"))).count() == 0)
    // self-loop only: node is its own component / rank fixpoint exists
    val selfLoop = Seq((5L, 5L)).toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(selfLoop).head.getLong(1) == 5L)
    assert(Graph.pageRankMicro(
      selfLoop.select(col("id_a").as("src"), col("id_b").as("dst"))).count() == 1)
  }

  test("similarity: empty corpus and empty query set") {
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val oneEmb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = oneEmb.select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    assert(Similarity.bruteForceTopK(emptyEmb, q, k = 5).count() == 0)
    assert(Similarity.bruteForceTopK(oneEmb,
      emptyEmb.select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding")), k = 5).count() == 0)
    assert(Similarity.embeddingNearDups(emptyEmb, 0.9).count() == 0)
    assert(Similarity.embeddingBucketStats(emptyEmb).count() == 0)
    assert(Similarity.kmeansLite(emptyEmb, k = 4).count() == 0)
    assert(Similarity.coarseCentroids(emptyEmb, nBuckets = 4).count() == 0)
  }

  test("cross-corpus / LM / split operators: empty inputs degrade to empty outputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    assert(graft.dedup.Dedup.crossNearDupPairs(emptyDocs, someDocs, threshold = 0.7).count() == 0)
    assert(graft.dedup.Dedup.crossNearDupPairs(someDocs, emptyDocs, threshold = 0.7).count() == 0)
    val emptyEmb2 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val oneEmb2 = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.crossEmbeddingNearDups(emptyEmb2, oneEmb2, 0.9).count() == 0)
    assert(Similarity.crossEmbeddingNearDups(oneEmb2, emptyEmb2, 0.9).count() == 0)
    // bigramNll: empty corpus, and a corpus where no doc has 2+ tokens
    assert(graft.textops.TextAnalysis.bigramNll(emptyDocs).count() == 0)
    assert(graft.textops.TextAnalysis.bigramNll(
      Seq((1L, "one"), (2L, "")).toDF("doc_id", "text")).count() == 0)
    // hashSplit: empty frame keeps schema and stays narrow
    val split = Scale.hashSplit(emptyDocs.select("doc_id"), "doc_id", "s",
      Seq("train" -> 9000, "test" -> 1000))
    assert(split.count() == 0 && split.columns.toSeq ==
      Seq("doc_id", "split_hash", "split"))
  }

  test("rewrite / drift / DSIR / vocab / reps: empty and blank inputs degrade to empty outputs") {
    val someDocs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    assert(Dedup.dedupRewrite(emptyDocs).count() == 0)
    // blank docs have no chunks: they drop out rather than crash
    assert(Dedup.dedupRewrite(docsDf(1L -> "", 2L -> "   ")).count() == 0)
    val emptyClusters = Seq.empty[(Long, Long)].toDF("id", "cluster")
    assert(Dedup.clusterRepresentatives(
      emptyClusters, someDocs, length(col("text"))).count() == 0)
    val emptySrc = Seq.empty[(String, String)].toDF("source", "text")
    assert(graft.textops.TextAnalysis.tokenDrift(emptySrc).count() == 0)
    assert(graft.textops.TextAnalysis.vocabCoverage(emptySrc).count() == 0)
    assert(graft.textops.TextAnalysis.dsirLogWeights(
      emptyDocs, isTarget = lit(true)).count() == 0)
    // an all-target or all-raw corpus is legal (weights still defined
    // through the add-1 smoothing), not a divide-by-zero
    val allTgt = graft.textops.TextAnalysis.dsirLogWeights(
      someDocs, isTarget = lit(true))
    assert(allTgt.count() == 1 && !allTgt.head.isNullAt(2))
  }

  test("mapreduce: empty input glob yields empty output, not a crash") {
    val dir = tempDir("graft-empty")
    new java.io.File(s"$dir/empty.txt").createNewFile()
    val out = graft.mr.MapReduce.run(spark, s"$dir/*.txt",
      graft.mr.MrApps.wcMap, graft.mr.MrApps.wcReduce)
    assert(out.count() == 0)
  }

  test("round-4 ops: empty and blank inputs degrade to empty/zero outputs") {
    import graft.textops.TextAnalysis
    // gopher rules: empty corpus -> empty report; blank doc -> all-false keep
    assert(TextAnalysis.gopherRules(emptyDocs).count() == 0)
    val blankVerdict = TextAnalysis.gopherRules(docsDf(1L -> "  ")).head()
    assert(!blankVerdict.getBoolean(blankVerdict.fieldIndex("keep")))
    assert(blankVerdict.getLong(blankVerdict.fieldIndex("n_tokens")) == 0L)

    // memorization risk: empty corpus and sub-window docs -> zero rows/risk
    assert(Dedup.memorizationRisk(emptyDocs).count() == 0)
    val short = Dedup.memorizationRisk(docsDf(1L -> "too short"), l = 16).head()
    assert(short.getLong(3) == 0L)

    // containment: empty corpus -> no pairs
    assert(Dedup.containmentPairs(emptyDocs).count() == 0)

    // pair-sim histogram: empty corpus and singleton sample -> no pairs
    assert(Dedup.pairSimHistogram(emptyDocs, samplePermille = 1000).count() == 0)
    assert(Dedup.pairSimHistogram(docsDf(1L -> "only one doc"),
      samplePermille = 1000).count() == 0)

    // MMR: empty candidate set -> empty ranking (not an exception)
    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.mmrSelect(noVecs, Seq(1f, 0f), k = 3).count() == 0)

    // winsorize: empty input -> empty output (null bounds never surface)
    val noVals = Seq.empty[(Long, Long)].toDF("v", "id")
    assert(Scale.winsorize(noVals, "v", 10, 990, "id").count() == 0)
  }

  test("round-5 ops: empty and degenerate inputs degrade to empty/zero outputs") {
    // weighted jaccard join: empty corpus, single doc, blank docs
    assert(Dedup.weightedJaccardJoin(emptyDocs).count() == 0)
    assert(Dedup.weightedJaccardJoin(docsDf(1L -> "only one")).count() == 0)
    assert(Dedup.weightedJaccardJoin(
      docsDf(1L -> "   ", 2L -> "")).count() == 0)
    // identical docs are found at jw = 10000 exactly
    val twins = Dedup.weightedJaccardJoin(
      docsDf(1L -> "a a b c", 2L -> "a a b c")).head()
    assert(twins.getLong(5) == 10000L && twins.getLong(2) == 4L)

    // BFS: empty edges -> sources only at hop 0; empty sources -> empty
    import graft.graph.Graph
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val srcOnly = Graph.boundedHops(noEdges, Seq(5L).toDF("id"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(srcOnly.toSeq == Seq((5L, 0L)))
    assert(Graph.boundedHops(Seq((1L, 2L)).toDF("src", "dst"),
      Seq.empty[Long].toDF("id"), 3).count() == 0)

    // lift table: single row and single-class inputs
    import graft.ml.Eval
    val one = Eval.liftTable(Seq((1L, 5L, true)).toDF("doc_id", "score", "pos"),
      "score", "pos", "doc_id", bins = 4).collect()
    assert(one.map(_.getLong(1)).sum == 1L)
    val nopos = Eval.liftTable(
      (1L to 8L).map(i => (i, i, false)).toDF("doc_id", "score", "pos"),
      "score", "pos", "doc_id", bins = 4).collect()
    assert(nopos.forall(_.isNullAt(4)), "zero positives -> null lift, not a crash")
  }

  test("cdcChunks: empty corpus, sub-window docs, blank text") {
    assert(Dedup.cdcChunks(emptyDocs).count() == 0)
    // a doc shorter than the gram window w=4 can never cut: one chunk
    val short = Dedup.cdcChunks(docsDf(1L -> "a b c")).collect()
    assert(short.length == 1 && short.head.getLong(3) == 3L)
    // blank text still splits to one (empty-string) token -> one chunk
    assert(Dedup.cdcChunks(docsDf(1L -> "")).count() == 1)
    // chunks partition every doc's token stream exactly
    val df = docsDf(1L -> "a b c d e f g h i j", 2L -> "x")
    val sums = Dedup.cdcChunks(df).groupBy("doc_id")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums == Map(1L -> 10L, 2L -> 1L))
  }
}
