package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.dedup.Dedup
import graft.functions.{GramHashFunctions, MinHashFunctions, TextKernelFunctions, VectorFunctions}
import graft.graph.Graph
import graft.kv.{KvOp, KvStore}
import graft.multimodal.{Multimodal, RealCodec}
import graft.operators.KvQueries
import graft.similarity.Similarity
import graft.tables.Tables
import graft.textops.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Harness._

/** Traced-run calls into each library layer's public functions, on the
  * workload's own inputs. Each call runs in its own span; results are
  * fully materialised (`collect`, or a `noop` write for the kernel
  * throughput selects). Returns the figures spans cannot carry. */
object Probes {

  /** Rows in the kernel-throughput selects: the documents (embeddings)
    * table replicated up to about this many rows. */
  val KernelRows = 40000

  /** Steps of the streaming probe: one more than the compaction period,
    * so the probe compacts once. */
  val ProbeSteps: Int = IngestStream.CompactEvery + 1

  final case class Result(values: Map[String, Double], ingest: Option[IngestStats])

  def run(spark: SparkSession, a: Args, tr: Tracer): Result = {
    import spark.implicits._
    val docs = Tables.documents(spark, a.tables).localCheckpoint()
    val emb = Tables.embeddings(spark, a.tables).localCheckpoint()
    val nDocs = docs.count()
    val nEmb = emb.count()

    def replicate(df: DataFrame, n: Long): DataFrame = {
      val k = math.max(1L, KernelRows / math.max(1L, n))
      df.crossJoin(spark.range(k).withColumnRenamed("id", "__rep")).drop("__rep").localCheckpoint()
    }
    val docsX = replicate(docs, nDocs)
    val embX = replicate(emb, nEmb)
    val docsXRows = docsX.count().toDouble
    val embXRows = embX.count().toDouble

    def timed(layer: String, name: String)(body: => Any): Double = {
      val t0 = nowNs()
      tr.span(layer, name, "probe")(body)
      (nowNs() - t0) / 1e9
    }
    def kernel(name: String, df: DataFrame, rows: Double, c: Column): (String, Double) = {
      // one untimed warm call, so the rate excludes first-use codegen
      df.select(c.as("k")).write.format("noop").mode("overwrite").save()
      val s = timed("functions", name)(df.select(c.as("k")).write.format("noop").mode("overwrite").save())
      s"functions.${name}_rows_per_s" -> rows / s
    }
    val tokens = TextKernelFunctions.graftWsTokens(col("text"))
    val kernels = Seq(
      kernel("minhash", docsX, docsXRows, MinHashFunctions.graftMinHash(tokens, 3, 96)),
      kernel("hyperplane", embX, embXRows,
        VectorFunctions.graftHyperplaneBands(col("embedding"), 16, 4, 64)),
      kernel("bigram", docsX, docsXRows, TextKernelFunctions.graftCharBigrams(col("text"))),
      kernel("gram_md5", docsX, docsXRows, GramHashFunctions.graftGramMd5(tokens, 3)))

    // dedup: candidate pairs (untimed) give the LSH yield's denominator
    val candidates = Dedup.lshCandidatePairs(
      Dedup.minHashSignatures(docs, numHashes = 96), bands = 32).count().toDouble
    var pairs: Array[(Long, Long)] = Array.empty
    timed("dedup", "near_dup") {
      pairs = Dedup.nearDupPairs(docs).select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect()
    }
    timed("dedup", "components")(
      Dedup.connectedComponents(pairs.toSeq.toDF("id_a", "id_b")).collect())
    timed("dedup", "wjoin")(Dedup.weightedJaccardJoin(docs.filter(col("doc_id") < 300)).collect())

    timed("similarity", "near_dup")(Similarity.embeddingNearDups(emb, 0.9).collect())
    timed("similarity", "topk")(Similarity.ivfTopK(emb,
      emb.filter(col("vec_id") < 20).select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding")), 10).collect())

    // graph: the supplier–customer bipartite graph q168 walks
    val li = Tables.lineitem(spark, a.tables).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(spark, a.tables).select("o_orderkey", "o_custkey")
    val pairsSc = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select((col("l_suppkey") + 1000000000000L).as("s"), col("o_custkey").as("c"))
      .distinct().localCheckpoint()
    val edges = pairsSc.select(col("s").as("src"), col("c").as("dst"))
      .union(pairsSc.select(col("c").as("src"), col("s").as("dst")))
    val sources = pairsSc.filter((col("s") - 1000000000000L) % 97 === 0)
      .select(col("s").as("id")).distinct()
    timed("graph", "hops")(Graph.boundedHops(edges, sources, 3).collect())
    timed("graph", "ppr")(Graph.personalizedPageRankMicro(edges, sources).collect())

    timed("textops", "tokens")(TextAnalysis.tokenEntropy(docs).collect())

    val media = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val w = bytes.length / 3
        if (w == 0) None
        else Some((id, "image", RealCodec.encodePng(java.util.Arrays.copyOf(bytes, w * 3), w, 1, channels = 3)))
      }.toDF("media_id", "kind", "payload").localCheckpoint()
    timed("multimodal", "features")(Multimodal.extractRealFeatures(spark, media).collect())

    timed("kv", "replay")(KvStore.replay(KvQueries.opLog(spark, a.tables)).collect())

    // mr: the relational_mr passes already ran wc and indexer in spans;
    // other workloads run them over their documents written as 8 files
    if (a.workload != "relational_mr") {
      val dir = Paths.get(s"${a.work}/probe-text")
      Files.createDirectories(dir)
      val texts = docs.select("text").as[String].collect()
      (0 until 8).foreach { i =>
        Files.write(dir.resolve(s"text-$i.txt"), texts.indices.filter(_ % 8 == i)
          .map(texts(_)).mkString("\n").getBytes(StandardCharsets.UTF_8))
      }
      val glob = s"$dir/text-*.txt"
      Seq(new MrJob("mr_wc", glob, streaming = false), new MrJob("mr_indexer", glob, streaming = true))
        .foreach(_.run(spark, tr, "probe"))
    }

    // streaming: ingest workloads trace their own steps; batch workloads
    // run a few steps over their documents and the events op log
    val ingest =
      if (a.workload == "ingest") None
      else {
        val n = ProbeSteps
        val ops = KvQueries.opLog(spark, a.tables).orderBy("seq").limit(200 * n).as[KvOp].collect().toSeq
        val ds = docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
          .map { case (id, t) => (Doc(id, t), "") }
        val data = IngestData(
          ds.zipWithIndex.groupBy(_._2 % n).map { case (b, xs) => b.toLong -> xs.map(_._1) },
          ops.zipWithIndex.groupBy(_._2 * n / math.max(1, ops.size)).map { case (b, xs) => b.toLong -> xs.map(_._1) },
          (0 until n).map(b => b.toLong -> ops.filter(_.seq % n == b).take(4).map(_.key)).toMap)
        val r = new IngestRun(spark, s"${a.work}/probe-ingest", data)
        (0 until n).foreach(_ => r.step(tr, "probe"))
        r.stream.stop()
        Some(IngestStats.of(spark, tr, r))
      }

    Result((kernels :+ ("dedup.pair_yield" -> pairs.length / math.max(1.0, candidates))).toMap, ingest)
  }
}
