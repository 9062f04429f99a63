package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.dedup.Dedup
import graft.graph.Graph
import graft.similarity.Similarity
import graft.tables.Tables
import graft.textops.TextAnalysis
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import scala.util.Random

/** The in-tree measurement main; end-to-end and per-layer numbers live
  * in perfbench/. Reads its input directory from SPARK_GRAFT_SF_DIR, as
  * graft.Bench does. Every query timing is Bench.timeQuery, so the
  * bench, A/Bs, sweeps and the order study share ONE protocol (boundary
  * GC, block cleanup, converged min of 4–12 runs).
  *
  *   time <q1,q2,…>    A/B isolation: `[q] runN: … s` and `[q] best: … s`
  *   sweep [out.json]  the whole catalog, slowest first (finds un-benched
  *                     slow queries); optionally written as a JSON artifact
  *   order [n]         headline suite in n seeded orders: order variance
  *   plan [q…]         executed (post-AQE) plans, headlines by default
  *   scale [copies] [sections]  1×/N× scaling probes, see [[ScaleProbes]]
  */
object Measure {
  private val usage =
    "usage: Measure time <q1,q2,…> | sweep [out.json] | order [n] | plan [q…] | " +
      "scale [copies] [s1,s2,…]"

  def main(args: Array[String]): Unit = {
    val modes = Set("time", "sweep", "order", "plan", "scale")
    if (!args.headOption.exists(modes) || (args(0) == "time" && args.length < 2)) {
      System.err.println(usage)
      sys.exit(2)
    }
    val dir = Bench.sfDir
    val spark = GraftSession.getOrCreate("graft-measure")
    args(0) match {
      case "time" => time(spark, dir, args(1).split(",").toSeq)
      case "sweep" => sweep(spark, dir, args.lift(1))
      case "order" => order(spark, dir, args.lift(1).fold(3)(_.toInt))
      case "plan" => plan(spark, dir,
        if (args.length > 1) args.toSeq.drop(1) else SparkEntry.headlines.map(_.name))
      case "scale" => new ScaleProbes(spark, dir, args.lift(1).fold(10)(_.toInt),
        args.lift(2).map(_.split(",").toSeq)).run()
    }
    spark.stop()
  }

  private def failure(t: Bench.Timing): String =
    t.error.fold("no run finished")(_.toString.linesIterator.nextOption().getOrElse(""))

  /** Repeated-run timer for a handful of queries in one JVM — the A/B
    * isolation workflow. The `[q] runN:` / `[q] best:` lines are the
    * format existing A/B scripts parse; each run line also carries the
    * classes that run compiled and their compile seconds, so a warm run
    * that recompiles is visible.
    */
  def time(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { q =>
      val t = Bench.timeQuery(spark, SparkEntry.queries(q), dir)
      t.runs.zip(t.compiles).zipWithIndex.foreach { case ((s, c), i) =>
        println(f"[$q] run${i + 1}: $s%.3f s, ${c.count} compiles, ${c.secs}%.3f s compiling")
      }
      if (t.runs.isEmpty) println(s"[$q] FAILED: ${failure(t)}")
      else println(f"[$q] best: ${t.best}%.3f s over ${t.runs.size} runs")
    }

  /** Timing sweep over the whole catalog, slowest first. With a path it
    * also writes the sorted sweep as one JSON object
    * (`{"sf":…,"passes":1,"total_best_sec":…,"queries":{name:sec,…}}`)
    * so the sweep is a committable round artifact. One pass: each
    * query's converged minimum already is its best time.
    */
  def sweep(spark: SparkSession, dir: String, outJson: Option[String]): Unit = {
    val timed = SparkEntry.catalog.map(q => q.name -> Bench.timeQuery(spark, q.fn, dir))
    timed.filter(_._2.runs.isEmpty).foreach { case (n, t) =>
      println(s"[timeall] $n FAILED: ${failure(t)}")
    }
    val sorted = timed.filter(_._2.runs.nonEmpty).map { case (n, t) => n -> t.best }
      .sortBy(-_._2)
    sorted.foreach { case (n, s) => println(f"[timeall] $s%7.3f  $n") }
    outJson.foreach { path =>
      val qs = sorted.map { case (n, s) => f""""$n":$s%.3f""" }.mkString(",")
      val total = f"${sorted.map(_._2).sum}%.3f"
      java.nio.file.Files.writeString(java.nio.file.Path.of(path),
        s"""{"sf":"$dir","passes":1,"total_best_sec":$total,"queries":{$qs}}\n""")
      println(s"[timeall] wrote $path")
    }
  }

  /** Session-order robustness study for the headline bench: run the full
    * headline suite in N deterministic pseudo-random orders inside ONE
    * shared JVM (the bench's own execution shape) and report per-query
    * order-to-order variance. Every per-query timing uses the bench's
    * exact protocol, so the residual spread is attributable to SESSION
    * ORDER — JIT/code-cache state, heap occupancy, AQE stat carry-over —
    * not to protocol differences.
    *
    * Purpose: the BenchDiff gate's 25% / 0.25 s floor was judgment; this
    * measures the floor. A query whose max/min across orders exceeds the
    * gate needs a per-query annotation (or a bigger floor), otherwise
    * round-over-round diffs keep flagging session artifacts as
    * regressions (r6 q200 +76%, r7 q134 +130% — both isolated to parity).
    * Prints a markdown table (query | per-order seconds | max/min) plus
    * summary percentiles, ready to paste into ADJUDICATIONS.md's
    * methodology appendix.
    */
  def order(spark: SparkSession, dir: String, nOrders: Int): Unit = {
    val base = SparkEntry.headlines
    val results: Seq[Map[String, Double]] = (1 to nOrders).map { k =>
      val order = new Random(k).shuffle(base)
      System.err.println(s"[bench-order] order $k/$nOrders: " +
        order.map(_.name).mkString(", "))
      order.map(q => q.name -> Bench.timeQuery(spark, q.fn, dir).best).toMap
    }
    val names = base.map(_.name)
    def ratio(ts: Seq[Double]): Double = ts.max / math.max(ts.min, 1e-9)
    println(s"| Query | " + (1 to nOrders).map(i => s"order$i s").mkString(" | ") +
      " | max/min | max−min s |")
    println("|---|" + ("---|" * (nOrders + 2)))
    names.sorted.foreach { n =>
      val ts = results.map(_(n))
      println(f"| $n | ${ts.map(t => f"$t%.3f").mkString(" | ")} " +
        f"| ${ratio(ts)}%.2f | ${ts.max - ts.min}%.3f |")
    }
    val ratios = names.map(n => ratio(results.map(_(n)))).sorted
    def pct(p: Double) = ratios((p * (ratios.size - 1)).round.toInt)
    val overGate = names.filter { n =>
      val ts = results.map(_(n))
      ratio(ts) > 1.25 && ts.max - ts.min >= 0.25
    }
    println(f"[bench-order] ${names.size} queries x $nOrders orders; " +
      f"max/min median ${pct(0.5)}%.2f p90 ${pct(0.9)}%.2f worst ${ratios.last}%.2f")
    println(s"[bench-order] queries exceeding the 25%%/0.25s gate floor on ORDER " +
      s"ALONE (${overGate.size}): ${overGate.sorted.mkString(", ")}")
  }

  /** Executed plans: scan pruning / pushdown / join strategies, and
    * runtime stage reuse (ReusedExchange / table-cache hits), which only
    * appears in the post-AQE plan, never in the pre-execution explain.
    */
  def plan(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      println(s"==== $q ====")
      println(df.queryExecution.executedPlan.toString)
    }
}

/** Shuffle read/write bytes of every stage that completes while a
  * snapshot's body runs, from a stage listener. Listener delivery is
  * async: each snapshot drains the listener bus before and after the
  * body, and nothing else runs concurrently, so the window is exact.
  */
private[tools] final class ShuffleBytes(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val read = new AtomicLong
  private val written = new AtomicLong
  sc.addSparkListener(this)

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(s.stageInfo.taskMetrics).foreach { m =>
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }

  /** (body's count, shuffle bytes read, shuffle bytes written). */
  def apply(body: => Long): (Long, Long, Long) = {
    Bridge.drainListenerBus(sc)
    val (r0, w0) = (read.get, written.get)
    val n = body
    Bridge.drainListenerBus(sc)
    (n, read.get - r0, written.get - w0)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

private[tools] object ScaleProbes {
  final case class Run(n: Long, secs: Double)

  sealed trait Section { def name: String }

  /** One scaling probe: `input(n)` builds the untimed input at scale n,
    * `action(input, n)` is the timed work and returns the count that
    * `show(n, count)` prints, `ratio(1×, N×)` is the summary line.
    * `scales` overrides the default warm-up-1×, 1×, N× runs; `bare`
    * prints labels without the `name-` prefix.
    */
  final case class Probe(
      name: String,
      input: Int => DataFrame,
      action: (DataFrame, Int) => Long,
      show: (Int, Long) => String,
      ratio: (Run, Run) => String,
      scales: Seq[(String, Int)] = Nil,
      bare: Boolean = false) extends Section

  /** A non-scaling comparison with its own output lines. */
  final case class Bespoke(name: String, body: () => Unit) extends Section
}

/** Empirical scaling probes: build each probe's input at 1× and N×
  * (disjoint replicas: per-copy key offsets and token prefixes, so
  * copies never interact), time the shipped operator on both, and print
  * the ratio. Linear wall-clock growth means the operator's stated cost
  * bound holds; super-linear growth would mean a hidden n² term. Results
  * feed SCALE.md's claims with measurements instead of assertions.
  *
  * `only` (comma-separated substrings of section names) runs just the
  * matching sections, in table order.
  */
private[tools] final class ScaleProbes(
    spark: SparkSession, dir: String, copies: Int, only: Option[Seq[String]]) {

  import ScaleProbes._

  // the near-dup/PageRank/cross-decon probes cut lineage with
  // localCheckpoint; a large-heap JVM barely GCs, so dead blocks pile
  // up across probes and the storage pressure stalls LATER probes at
  // random (observed: the LM probe reading 25× after the checkpointing
  // probes vs 2.3× standalone). Same cure as Bench.clearBlocks: drop
  // persistent RDDs between timed sections.
  private def clearBlocks(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    // ContextCleaner only deletes dead shuffle files after the driver
    // GCs their references; without a nudge, tens of GB of shuffle
    // spill from earlier sections linger and skew later sections
    // (observed: pagerank-10x read 66 s in-sequence vs 21 s isolated).
    // The cleaner is ASYNC — give it a beat to drain after the GC, and
    // GC once more for the references the first drain released
    // (observed: ppr-10x read 52 s after two prior sections vs 16 s
    // standalone without the drain window)
    System.gc()
    Thread.sleep(1500)
    System.gc()
  }

  /** The one timing scaffold: time `body`, print
    * `[scaleprobe] label: <fields> time=…s`, clear blocks. */
  private def timed(label: String, fields: Long => String)(body: => Long): Run = {
    val t0 = System.nanoTime()
    val n = body
    val secs = (System.nanoTime() - t0) / 1e9
    val f = fields(n)
    println(f"[scaleprobe] $label: ${if (f.isEmpty) "" else f + " "}time=$secs%.2fs")
    clearBlocks()
    Run(n, secs)
  }

  private def probe(p: Probe): Unit = {
    val scales =
      if (p.scales.nonEmpty) p.scales
      else Seq("warmup-1x" -> 1, "1x" -> 1, s"${copies}x" -> copies)
    val runs = scales.map { case (label, n) =>
      val in = p.input(n)
      timed(if (p.bare) label else s"${p.name}-$label", p.show(n, _))(p.action(in, n))
    }
    println("[scaleprobe] " + p.ratio(runs(runs.size - 2), runs.last))
  }

  private def field(name: String): (Int, Long) => String = (_, n) => s"$name=$n"
  private val timeOnly: (Int, Long) => String = (_, _) => ""
  private def timeRatio(tag: String, what: String, note: String = "")(a: Run, b: Run) =
    f"$tag time ratio=${b.secs / a.secs}%.2f for ${copies}x $what$note"
  private def pairsRatio(tag: String)(a: Run, b: Run) =
    f"$tag pairs ratio=${b.n.toDouble / math.max(a.n, 1)}%.2f, " +
      f"time ratio=${b.secs / a.secs}%.2f for ${copies}x data"

  // ---- inputs: disjoint replicas ----
  private def stack(n: Int)(copy: Int => DataFrame): DataFrame =
    (0 until n).map(copy).reduce(_ union _)
  private def shift(df: DataFrame, key: String, step: Long)(n: Int): DataFrame =
    stack(n)(k => df.withColumn(key, col(key) + lit(k * step)))

  private val base = Tables.documents(spark, dir).select("doc_id", "text")
  // per-copy token prefixes: every shingle differs across copies → zero
  // cross-copy similarity, within-copy near-dup structure preserved
  private def replicate(src: DataFrame)(n: Int): DataFrame =
    stack(n)(k => src.select(
      (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
      array_join(transform(split(col("text"), "\\s+"),
        t => concat(lit(s"c$k"), t)), " ").as("text")))
  private val docs: Int => DataFrame = replicate(base)
  // tenth-size base corpus for the exact pair-join family: the exact
  // paths are the expensive ones by design
  private val small: Int => DataFrame = replicate(base.filter(col("doc_id") % 10 === 0))

  private val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
  private val embs: Int => DataFrame = shift(emb, "vec_id", 10000000L)
  // each copy gets a deterministic per-copy ±1 sign mask — WITHIN-copy
  // cosines are preserved exactly (both sides flip identically) while
  // cross-copy dots scramble to ~0. The mask comes from a seeded PRNG:
  // a linear-in-(k,i) parity trick is NOT enough (parity of a·k+b·i
  // repeats with small period in k, making some copy pairs identical —
  // observed as a 40k cross-copy pair explosion before this fix)
  private def flipped(n: Int): DataFrame = stack(n) { k =>
    val rnd = new Random(k * 1000003L + 7)
    val mask = array(Seq.fill(64)(lit(if (rnd.nextBoolean()) 1.0f else -1.0f)): _*)
    emb.select((col("vec_id") + lit(k.toLong * 10000000L)).as("vec_id"),
      zip_with(col("embedding"), mask, (x, m) => x * m).as("embedding"))
  }
  private lazy val mmrQuery: Seq[Float] =
    emb.filter(col("vec_id") === 0).select("embedding").collect()(0).getSeq[Float](0)
  private val queries = emb.filter(col("vec_id") < 8)
    .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))

  // bipartite supplier↔customer edges, both directions, for the graph
  // family (disjoint copies via key offsets preserve per-copy degree
  // structure, so per-iteration work must grow linearly)
  private lazy val supplierCustomer = Tables.coPurchasePairs(spark, dir)
  private def edges(n: Int): DataFrame =
    Tables.bothWays(stack(n)(k => supplierCustomer.select(
      (col("s") + lit(k.toLong * 100000000L)).as("s"),
      (col("c") + lit(k.toLong * 100000000L)).as("c"))))
  // part co-occurrence edges (u < v within an order): disjoint copies
  // keep per-copy degrees, so wedge volume grows exactly linearly
  private def partEdges(n: Int): DataFrame = {
    val li = stack(n)(k => Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 3 === 0 && col("l_partkey") % 2 === 0)
      .select((col("l_orderkey") + lit(k.toLong * 100000000L)).as("o"),
        (col("l_partkey") + lit(k.toLong * 10000000L)).as("p")))
    li.as("x").join(li.as("y"), col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("u"), col("y.p").as("v"))
  }
  private def chain(n: Long): DataFrame =
    spark.range(n).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
  private def ccChain(pairs: DataFrame): Long =
    Dedup.connectedComponents(pairs, maxIter = 40)
      .select(countDistinct(col("cluster"))).head().getLong(0)

  // ---- the table; run order is part of the protocol ----
  // The legacy sweep runs first and the round-7 sections (bootstrap
  // onward) after it: running those first shifted every legacy section
  // ~6 minutes later into the JVM and behind the BPE probe's multi-GB
  // driver-heap churn, which inflated late legacy sections up to 8×
  // (emb-lsh-10x measured 4.4 s after legacy-first ordering vs 36.9 s
  // after new-first) — section order is part of the measurement protocol.
  private def sections: Seq[Section] = Seq(
    // near-dup pipeline: linear wall-clock growth = the Σ bucket²
    // candidate bound holds; super-linear would mean a hidden n² term
    Probe("neardup", docs, (d, _) => Dedup.nearDupPairs(d, threshold = 0.7).count(),
      field("pairs"), (a, b) =>
        f"pairs ratio=${b.n.toDouble / a.n}%.2f (expect ≈$copies), " +
          f"time ratio=${b.secs / a.secs}%.2f (linear ⇒ ≈$copies or less with fixed overhead)",
      bare = true),

    // chunk-dedup scaling: one hash shuffle + one window — the other
    // shape SCALE.md claims is linear. Same replicated corpus, same
    // shipped operator (Dedup.chunkOwnership) the q73 numbers come from.
    Probe("chunks", docs, (d, _) => Dedup.chunkOwnership(d, chunkTokens = 16)
      .filter(col("rn") === 1).count(), field("kept"), timeRatio("chunk-dedup", "data")),

    // ANN brute-force top-k scaling: with the two-level top-k the
    // per-query merge receives parts×k rows no matter the corpus size,
    // so wall-clock must track the SCAN (linear), not the merge.
    Probe("ann", embs, (c, _) => Similarity.bruteForceTopK(c, queries, k = 10).count(),
      field("rows"), timeRatio("ann", "corpus",
        " (merge input is parts×k per query at any scale)")),

    // EXACT prefix-filter similarity join scaling: the candidate set is
    // bounded by rare-shingle collisions, so replicated corpora (zero
    // cross-copy similarity) must scale linearly, like the LSH path but
    // with the extra document-frequency shuffle.
    Probe("prefix", small, (d, _) => Dedup.prefixFilterNearDups(d, threshold = 0.7).count(),
      field("pairs"), pairsRatio("prefix")),

    // PageRank scaling: per iteration one edge-shuffle join + one
    // aggregate, so wall-clock must track edge count.
    Probe("pagerank", edges, (e, _) => Graph.pageRankMicro(e, 3).count(),
      field("nodes"), timeRatio("pagerank", "edges")),

    // Equi-depth binning scaling: globalRank's range-partition + narrow
    // binning must track row count — the shape that replaced q99's
    // single-partition ntile window.
    Probe("equidepth", shift(Tables.orders(spark, dir).select(col("o_orderkey"),
        (col("o_totalprice") * 100).cast("long").as("cents")), "o_orderkey", 1000000000L),
      (o, _) => graft.operators.Scale.equiDepthBins(o, 10, "cents", "o_orderkey")
        .groupBy("bin").count().count(),
      field("bins"), timeRatio("equidepth", "rows")),

    // Cross-corpus fuzzy decontamination scaling: the TRAIN side grows,
    // the eval side stays fixed (the production shape) — per-bucket
    // expansion is |train_b|×|eval_b|, so wall-clock must track the
    // train scan + its bucket shuffle, linearly.
    // eval derives from the 1× REPLICA (c0-prefixed tokens), so its docs
    // really match copy-0 of any replicated train side and the exact
    // verify stage has pairs to score at every scale (a raw-text eval
    // would match nothing and leave the verify stage untimed)
    Probe("cross", docs, (train, _) => Dedup.crossNearDupPairs(train,
        docs(1).filter(col("doc_id") % 37 === 0)
          .select(col("doc_id"), concat(col("text"), lit(" tail")).as("text")),
        threshold = 0.7).count(),
      field("pairs"), (a, b) => f"cross-decon time ratio=${b.secs / a.secs}%.2f for " +
        f"${copies}x train (fixed eval side; 1x pairs=${a.n})"),

    // Bigram-LM scoring scaling: two count aggs + one join back over the
    // bigram stream — pure shuffle-agg shapes, must be linear.
    Probe("lm", docs, (d, _) => TextAnalysis.bigramNll(d).count(),
      field("docs"), timeRatio("lm", "docs")),

    // Classifier-fit scaling: training is ONE moment-sum aggregate over
    // the corpus (the driver solve is O(d³), constant) — wall-clock must
    // track the scan, and the weights must be IDENTICAL at every
    // replication (the same rows contribute the same exact-integer
    // moments regardless of how many disjoint copies surround them —
    // here labels/features are content-derived so each copy adds
    // proportional moments; we check time, not weights, across scales).
    Probe("fit", n => {
      val toks = split(col("text"), " ")
      docs(n).select(
        lit(1L).as("f_bias"),
        size(toks).cast("long").as("f_ntok"),
        floor(size(array_distinct(toks)).cast("long") * 1000000L /
          size(toks).cast("long")).cast("long").as("f_distinct_ppm"),
        when(col("doc_id") % 2 === 0, 1L).otherwise(-1L).as("y"))
    }, (f, _) => {
      graft.ml.LinearModel.fitRidgeNano(
        f, Seq("f_bias", "f_ntok", "f_distinct_ppm"), "y", lambda = 1.0)
      0L
    }, timeOnly, timeRatio("classifier-fit", "docs")),

    // Changelog-compaction scaling: partial+final max(struct) — the
    // map-side combine caps the exchange at |keys| rows per task, so
    // wall-clock must track the scan even when every key is hot.
    Probe("compact", shift(Tables.events(spark, dir)
        .select("user_id", "event_type", "event_id", "ts", "value"), "user_id", 100000000L),
      (ev, _) => ev.select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .groupBy("user_id", "event_type")
        .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("m"))
        .count(),
      field("keys"), timeRatio("compaction", "events")),

    // SemDeDup scaling: k scales WITH the corpus (the paper's regime —
    // constant mean cluster size), so Σ cluster² grows linearly and
    // wall-clock must track the scan + the k-means rounds, never n².
    Probe("semdedup", embs, (c, n) => Similarity
        .semDedup(c, k = 16 * n, iters = 2, threshold = 0.99)
        .filter(!col("kept")).count(),
      field("dropped"), timeRatio("semdedup", "corpus",
        " (k grows with n: constant mean cluster size)")),

    // Dedup-REWRITE scaling: min-owner agg + hash join + per-doc
    // re-assembly — three shuffles, all partial-agg or equi-join; the
    // replicated corpus (zero cross-copy chunk overlap) must be linear.
    Probe("rewrite", docs, (d, _) => Dedup.dedupRewrite(d, chunkTokens = 16)
        .agg(sum("n_kept")).collect()(0).getLong(0),
      field("kept"), timeRatio("rewrite", "data")),

    // Memorization-risk scaling: stride-1 window hash counts + join-back
    // + per-doc agg — window-grain rows but every stage is a partial agg
    // or hash equi-join, so replicated corpora (disjoint window hashes
    // across copies) must be linear.
    Probe("memrisk", docs, (d, _) => Dedup.memorizationRisk(d, l = 16, minCount = 2)
        .agg(sum("dup_windows")).collect()(0).getLong(0),
      field("dup_windows"), timeRatio("memrisk", "data")),

    // Containment-join scaling: df-capped gram equi-join (Σ df² bound).
    // Replicated copies share no grams (per-copy token prefixes), so
    // candidate fan-out — and wall-clock — must stay linear.
    Probe("contain", small, (d, _) =>
        Dedup.containmentPairs(d, k = 5, tauBp = 5000, dfCap = 100).count(),
      field("pairs"), pairsRatio("containment")),

    // Weighted-jaccard join scaling: same zero-cross-similarity
    // replication — weighted prefix postings and Σ prefix-df² pair
    // fan-out must stay linear in copies.
    Probe("wjj", small, (d, _) => Dedup.weightedJaccardJoin(d, tauBp = 6000).count(),
      field("pairs"), pairsRatio("wjj")),

    // Containment persistent-block footprint: the one-shuffle shape
    // (capped bounded-heap collect per gram) pins NOTHING in executor
    // block storage — reported vs what persisting the full explode
    // would cost on a boilerplate-heavy corpus (shared template prefix
    // in every doc). Must be 0.
    Bespoke("contain-bytes", () => {
      def storedBytes(): Long =
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val boiler = base.limit(500).select(col("doc_id"),
        concat(lit("the quick brown fox jumps over the lazy dog and " * 8),
          col("text")).as("text"))
      val g = boiler.select(col("doc_id"), explode(array_distinct(
          TextAnalysis.shingles(col("text"), 5))).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      g.count()
      val explodedBytes = storedBytes()
      g.unpersist(true)
      clearBlocks()
      Dedup.containmentPairs(boiler, k = 5, tauBp = 5000, dfCap = 100).count()
      val checkpointedBytes = storedBytes()
      clearBlocks()
      println(f"[scaleprobe] containment checkpoint bytes=$checkpointedBytes " +
        f"vs full-explode bytes=$explodedBytes " +
        f"(ratio=${checkpointedBytes.toDouble / math.max(explodedBytes, 1)}%.3f — " +
        "one-shuffle capped-collect shape pins no executor blocks)")
    }),

    // MMR selection: per-step cost is O(n·d) via the running penalty
    // column (one cosine against the latest pick), so total work — and
    // wall-clock — must grow ~linearly in k; the recompute-from-scratch
    // form would grow ~quadratically (step i pays i cosines per row).
    Probe("mmr", _ => emb, (c, k) => Similarity.mmrSelect(c, mmrQuery, k = k).count(),
      (k, _) => s"k=$k", (a, b) => f"mmr time ratio=${b.secs / a.secs}%.2f for 4x k " +
      "(linear ⇒ ≈4; the recompute-from-scratch form ⇒ ≈16)",
      scales = Seq("warmup" -> 8, "k8" -> 8, "k32" -> 32)),

    // Label propagation: same per-iteration join+agg shape as PageRank
    // (one shuffle on src, one two-key aggregate), so wall-clock must
    // track |E| linearly across the replicated disjoint copies.
    Probe("lpa", edges, (e, _) => Graph.labelPropagation(e, 3).count(),
      field("nodes"), timeRatio("lpa", "edges")),

    // Domain re-weighting: the bigram-LM chain (already probed above as
    // lm-*) plus a source-grain agg and two 1-row broadcasts — the
    // extra work over bigramNll must be corpus-size independent, so the
    // ratio should match the lm probe's.
    Probe("reweight", n => docs(n).withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(20)).cast("string"))),
      (d, _) => TextAnalysis.domainReweight(d).count(),
      field("sources"), timeRatio("reweight", "docs")),

    // PQ ANN: train (narrow assign + fixed m·k centroid agg) + encode +
    // ADC search (narrow scan, bounded top-k) — every stage is linear in
    // corpus rows, so end-to-end wall-clock must track N. Same fixed
    // query set as the ann probe.
    Probe("pq", embs, (c, _) => Similarity.pqTopK(c, queries, topK = 5).count(),
      field("rows"), timeRatio("pq", "corpus")),

    // Image dHash: the decode+hash pass is narrow (payloads never
    // shuffle) — probed on replicated docs. The banded pair join is
    // probed separately on md5-scattered hash tables (no planted
    // collisions) so bucket sizes stay O(1) and the measured growth is
    // the shuffle itself; the catalog's 40-base synthetic corpus is
    // DELIBERATELY degenerate (copy-heavy) and would probe Σ bucket²
    // blowup instead — the documented run-exact-dedup-first case.
    Probe("phash", docs, (d, _) => {
      val media = graft.multimodal.Multimodal.syntheticImagesFromDocuments(spark, d)
      graft.multimodal.Multimodal.imageDHash(spark, media).count()
    }, field("hashed"), timeRatio("phash decode+hash", "images")),
    Probe("phashjoin", n => docs(n).select(col("doc_id").as("media_id") +:
        (0 until 4).map(b => pmod(TextAnalysis.md5Long(concat_ws("|",
          col("doc_id").cast("string"), lit(b.toString))), lit(65536)).cast("int").as(s"b$b")): _*),
      (h, _) => graft.multimodal.Multimodal.imageNearDupPairs(spark, h).count(),
      field("pairs"), timeRatio("phash band-join", "hashes")),

    // Exact AUC: corpus aggregates once into a bounded score histogram;
    // the prefix sum runs over the HISTOGRAM (same distinct-score count
    // at any N), so growth is the corpus scan alone.
    Probe("auc", n => docs(n).select((pmod(col("doc_id"), lit(5)) === 0).as("pos"),
        pmod(size(split(col("text"), "\\s+")).cast("long") * 37L, lit(1000L)).as("score")),
      (s, _) => { graft.ml.Eval.aucExact(s, "score", "pos").collect(); 0L },
      timeOnly, timeRatio("auc", "docs")),

    // Triangle counting: the degree-ordered wedge volume — the dominant
    // term — grows exactly linearly over disjoint copies; wall must
    // track it.
    Probe("tri", partEdges, (e, _) => Graph.triangleCount(e).head().getLong(2),
      field("triangles"), timeRatio("triangles", "edges")),

    // RA link prediction (q229 shape): hub-capped wedge join — disjoint
    // copies preserve per-copy degrees, so capped wedge volume
    // (Σ min(deg,64)²) grows linearly; wall must track it.
    Probe("link", partEdges, (edges, _) => {
      val e0 = edges.distinct()
      val adj = e0.select(col("u").as("z"), col("v").as("n"))
        .unionAll(e0.select(col("v").as("z"), col("u").as("n")))
      val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
      val piv = adj.join(deg, "z").filter(col("d") <= 64)
      val cand = piv.as("x").join(piv.as("y"),
          col("x.z") === col("y.z") && col("x.n") < col("y.n"))
        .groupBy(col("x.n").as("u"), col("y.n").as("v"))
        .agg(sum(expr("1000000 div x.d")).as("ra_micro"))
      cand.join(e0, cand("u") === e0("u") && cand("v") === e0("v"), "left_anti").count()
    }, field("candidates"), timeRatio("link", "edges")),

    // CDC chunking: per-doc windows + one chunk-hash agg — wall must be
    // linear in corpus tokens (prefixed copies keep chunk statistics).
    Probe("cdc", docs, (d, _) => Dedup.cdcChunks(d)
        .groupBy("chunk_hash").count().filter(col("count") >= 2).count(),
      field("sharedChunks"), timeRatio("cdc", "tokens")),

    // Aho-Corasick blocklist: ONE automaton pass per row vs k contains()
    // scans — wall must stay flat as the term list grows 16x, where the
    // composed form grows with k.
    Bespoke("ac", () => {
      val terms: Seq[String] = (0 until 256).map(i => s"zz${i}q needle")
      def hits(label: String, m: Column): Double = timed(label, n => s"hits=$n")(
        base.select(m.as("m")).filter(size(col("m")) > 0).count()).secs
      def ac(label: String, ts: Seq[String]) = hits(s"ac-$label",
        graft.functions.MultiMatchFunctions.graftMultiMatch(col("text"), ts))
      def composed(label: String, ts: Seq[String]) = hits(s"contains-$label",
        sort_array(filter(typedLit(ts), t => contains(col("text"), t))))
      ac("warmup", terms.take(16))
      val ac16 = ac("16-terms", terms.take(16))
      val ac256 = ac("256-terms", terms)
      val co16 = composed("16-terms", terms.take(16))
      val co256 = composed("256-terms", terms)
      println(f"[scaleprobe] ac growth=${ac256 / ac16}%.2f vs contains growth=" +
        f"${co256 / co16}%.2f for 16x terms (automaton must stay ~flat)")
    }),

    // langId: one graft_multi_count automaton pass vs 25 composed
    // length-replace passes — same labels, the constant factor is the
    // whole point.
    Bespoke("langid", () => {
      def lang(label: String, f: Column => Column) = timed(s"langid-$label", _ => "")(
        base.select(f(col("text")).as("l")).groupBy("l").count().count()).secs
      lang("warmup", TextAnalysis.langId)
      val fast = lang("automaton", TextAnalysis.langId)
      val composed = lang("composed", TextAnalysis.langIdComposed)
      println(f"[scaleprobe] langid composed/automaton=${composed / fast}%.2fx " +
        "(one AC pass replaces 25 replace passes)")
    }),

    // C4 line filter: pure higher-order array exprs, one narrow scan —
    // wall must be linear in corpus size.
    Probe("c4", n => docs(n).select(col("doc_id"), transform(
        sequence(lit(0), shiftright(size(split(col("text"), " ")) + 7, 3) - 1),
        i => concat(array_join(
          slice(split(col("text"), " "), i * 8 + 1, lit(8)), " "), lit(".")))
        .as("lines")),
      (d, _) => TextAnalysis.c4LineFilter(d).count(),
      field("kept"), timeRatio("c4", "docs")),

    // survivorship: components + two cluster-keyed aggs — linear in
    // members (the near-dup pair generation is probed separately above).
    Probe("golden", docs, (d, _) => Dedup.goldenRecords(
        d.withColumn("source", concat(lit("s"), col("doc_id") % 7)),
        d.filter(col("doc_id") % 10 < 3)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))).count(),
      field("clusters"), timeRatio("golden", "members")),

    // connected components on a CHAIN — the adversarial topology for
    // component resolution: diameter = n, so 1-hop propagation needs n
    // rounds (unrunnable here) while star contraction needs ~log2(n).
    // 10× the chain should add ~constant rounds (log 10 ≈ 3), so wall
    // grows far SLOWER than data — the property SCALE.md claims.
    // Scales are in units of 10k chain links.
    Probe("cc-chain", n => chain(n * 10000L), (c, _) => ccChain(c),
      (n, comps) => s"n=${n * 10000L} components=$comps",
      timeRatio("cc-chain", "chain length",
        " (log-round contraction ⇒ well below data ratio)"),
      scales = Seq("warmup" -> 1, "1x" -> 10, s"${copies}x" -> 10 * copies)),

    // embedding hyperplane-LSH near-dup (the q30/q243 candidate
    // generator, now the slowest bench headline's first stage) on
    // sign-masked copies: pairs must grow exactly linearly and wall must
    // track the Σ bucket² candidate bound, never pairs².
    // THE SIZING RULE IS THE PROBE: with knobs held fixed at the q243
    // sizing (56/8 = 7 bits/band), 10× data measured 45× wall — the
    // candidate surface grows n²/2^r when bucket space stays constant.
    // The documented rule adds log2(copies) sign bits per band
    // (7 → 11 ⇒ 88 planes / 8 bands), which per-band Long buckets can
    // hold (63-bit/band ceiling); wall must then track the data.
    Probe("emb-lsh", flipped, (c, n) => Similarity.embeddingNearDups(c, threshold = 0.966,
        nPlanes = if (n == 1) 56 else 88, bands = 8).count(),
      field("pairs"), (a, b) =>
        f"emb-lsh pairs ratio=${b.n.toDouble / math.max(a.n, 1)}%.2f " +
          f"time ratio=${b.secs / a.secs}%.2f for ${copies}x corpus " +
          "(sign-masked copies; bits/band grown by log2 copies per the sizing rule)",
      scales = Seq("warmup-1x" -> 1, "1x" -> 1, s"${copies}x-rule-sized" -> copies)),

    // winnowing fingerprint matching (the q294 shape): per-copy token
    // prefixes change every gram, so cross-copy fingerprints never
    // collide and the pair count must replicate exactly linearly. Also
    // measures the native graft_winnow kernel against the composed
    // array_distinct/transform/array_min form it replaced — the
    // interpreted-HOF tax grows with corpus size, the kernel's doesn't.
    Bespoke("winnow", () => {
      def winnow(label: String, n: Int, native: Boolean): Run = {
        val hs = graft.functions.GramHashFunctions
          .graftGramMd5(TextAnalysis.wsTokens(col("text")), 3)
        val fcol =
          if (native) graft.functions.WinnowFunctions.graftWinnow(hs, 4)
          else when(size(hs) < 4, array(array_min(hs)))
            .otherwise(array_distinct(transform(
              sequence(lit(1), size(hs) - 3), i => array_min(slice(hs, i, lit(4))))))
        val fps = docs(n).select(col("doc_id"), explode(fcol).as("fp"))
        val capped = fps.join(
          fps.groupBy("fp").agg(count(lit(1)).as("df")).filter(col("df") <= 50)
            .select("fp"), "fp")
        timed(s"winnow-$label", p => s"pairs=$p")(capped.as("a").join(capped.as("b"), Seq("fp"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id"), col("b.doc_id"))
          .agg(count(lit(1)).as("nfp")).filter(col("nfp") >= 2).count())
      }
      // warm BOTH variants before the timed runs — codegen/JIT warmup on
      // only one side would inflate the reported speedup
      winnow("warmup-1x-native", 1, native = true)
      winnow("warmup-1x-composed", 1, native = false)
      val n1 = winnow("1x-native", 1, native = true)
      val nn = winnow(s"${copies}x-native", copies, native = true)
      val c1 = winnow("1x-composed", 1, native = false)
      println(f"[scaleprobe] winnow pairs ratio=${nn.n.toDouble / math.max(n1.n, 1)}%.2f " +
        f"(expect ≈$copies), time ratio=${nn.secs / n1.secs}%.2f; " +
        f"native vs composed at 1x: ${c1.secs / n1.secs}%.1fx faster")
    }),

    // weighted-jaccard exact verify (the q176/q97 Σmin): the native
    // graft_weighted_overlap merge walk against the composed
    // map_zip_with fold it replaced, over each doc's sorted (token,
    // count) list paired with its successor's. The pair lists are built
    // and pinned untimed, so only the scoring is timed; both spellings
    // must return the same Σ.
    Bespoke("woverlap", () => {
      def overlap(label: String, n: Int, native: Boolean): Run = {
        val lists = docs(n)
          .select(col("doc_id"), explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), TextAnalysis.md5Long(col("tok")).as("t"))
          .agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("t"), col("c")))).as("l"))
        val pairs = lists.select(col("doc_id"), col("l").as("la"))
          .join(lists.select((col("doc_id") - 1).as("doc_id"), col("l").as("lb")), "doc_id")
          .localCheckpoint()
        val (a, b) = (col("la"), col("lb"))
        val w =
          if (native) graft.functions.WeightedOverlapFunctions.graftWeightedOverlap(a, b)
          else aggregate(map_values(map_zip_with(map_from_entries(a), map_from_entries(b),
              (_, x, y) => least(coalesce(x, lit(0L)), coalesce(y, lit(0L))))),
            lit(0L), (acc, x) => acc + x)
        timed(s"woverlap-$label", v => s"sum=$v")(pairs.select(sum(w)).head().getLong(0))
      }
      // warm both spellings before the timed runs, as winnow does
      overlap("warmup-1x-native", 1, native = true)
      overlap("warmup-1x-composed", 1, native = false)
      val n1 = overlap("1x-native", 1, native = true)
      val nn = overlap(s"${copies}x-native", copies, native = true)
      val c1 = overlap("1x-composed", 1, native = false)
      val cn = overlap(s"${copies}x-composed", copies, native = false)
      println(f"[scaleprobe] woverlap time ratio=${nn.secs / n1.secs}%.2f for ${copies}x docs; " +
        f"native vs composed: ${c1.secs / n1.secs}%.1fx faster at 1x, " +
        f"${cn.secs / nn.secs}%.1fx at ${copies}x; sums agree=${n1.n == c1.n && nn.n == cn.n}")
    }),

    // ---- round-7 sections: after the legacy sweep (see above) ----

    // Bootstrap CI (q207 shape): B=200 content-addressed resamples —
    // grid explode × sample join × per-source order stats. The grid is
    // B× the sample, so wall must track corpus size linearly when the
    // per-source sample grows with it.
    Probe("bootstrap", docs, (d, _) => {
      val t = d.select(col("doc_id"), (col("doc_id") % 7).as("source"),
          (length(col("text")).cast("long") % 1000L).as("sc"))
        .localCheckpoint()
      val bySrc = Window.partitionBy("source")
      val r = t.withColumn("rn", row_number().over(bySrc.orderBy("doc_id")) - 1)
        .withColumn("n", count(lit(1)).over(bySrc))
        .localCheckpoint()
      val grid = r.select(col("source"), col("rn"), col("n"),
          explode(sequence(lit(0), lit(199))).as("b"))
        .select(col("source"), col("b"), col("n"),
          pmod(TextAnalysis.md5Long(concat(lit("bs:"),
            col("source"), lit(":"), col("b").cast("string"),
            lit(":"), col("rn").cast("string"))), col("n")).as("pick"))
      val m = grid
        .join(r.select(col("source"), col("rn").as("pick"), col("sc")),
          Seq("source", "pick"))
        .groupBy("source", "b")
        .agg(sum("sc").as("ssum"), max("n").as("nn"))
        .select(col("source"), col("b"), expr("ssum div nn").as("mean_b"))
      m.withColumn("q", row_number().over(bySrc.orderBy("mean_b", "b")))
        .filter(col("q") === 5 || col("q") === 196)
        .groupBy("source")
        .agg(max(when(col("q") === 5, col("mean_b"))).as("lo"),
          max(when(col("q") === 196, col("mean_b"))).as("hi"))
        .count()
    }, field("sources"), timeRatio("bootstrap", "sample",
      " (grid is B x sample at any scale)")),

    // DBSCAN role/cluster resolution (q243 shape, pair list given):
    // degree agg + two core semi-joins + star-contraction CC + border
    // lookup — all equi-joins on node-sized tables; disjoint pair-list
    // copies must scale linearly. Pairs are synthetic (deterministic id
    // arithmetic) so the probe isolates DBSCAN from LSH candidate cost.
    Probe("dbscan", n => stack(n)(k =>
        base.select((col("doc_id") + lit(k.toLong * 10000000L)).as("id"))),
      (ids, _) => {
        // chain segments of 4 (cores inside, ends are borders) + noise:
        // ids ≡ 0..3 (mod 8) link consecutively; 4..7 stay isolated
        val p = ids.filter(col("id") % 8 < 3)
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        Similarity.dbscanFromPairs(ids, p, minPts = 3, idCol = "id")
          .filter(col("role") === "core").select("cluster").distinct().count()
      }, field("coreClusters"), timeRatio("dbscan", "pairs")),

    // Personalized PageRank (q255 shape): per iteration one edge join +
    // one dst aggregate, mass originating only at seeds — same linear
    // per-round cost contract as global PageRank, plus the seed flags.
    // The synthetic build is pinned OUTSIDE the timing (the ANF
    // section's discipline): unpinned, the 2n-copy join lineage
    // re-executes through both the operator's own checkpoint AND the
    // seed-flag join, and the probe times the corpus synthesis, not PPR.
    Probe("ppr", n => edges(n).localCheckpoint(), (e, _) => Graph
        .personalizedPageRankMicro(e, e.select(col("src").as("id")).filter(col("id") % 97 === 0),
          iterations = 3)
        .filter(col("rank_micro") > 0).count(),
      field("nonzeroNodes"), timeRatio("ppr", "edges")),

    // ANF reach sketches (q291 shape): h hops of bit_or FM-register
    // propagation — 32 bytes of state per node, one shuffle per hop;
    // disjoint copies must scale linearly per hop.
    Probe("anf", n => edges(n).localCheckpoint(), (e, _) => {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      var sk = nodes.selectExpr("id" +: (0 to 3).map(t =>
          s"abs(hash(id, $t)) AS g$t"): _*)
        .selectExpr("id" +: (0 to 3).map(t =>
          s"CAST(g$t & (-g$t) AS BIGINT) AS s$t"): _*)
        .localCheckpoint()
      (1 to 3).foreach { _ =>
        val inbox = e.join(sk.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id"))
          .agg(expr("bit_or(s0)").as("b0"), expr("bit_or(s1)").as("b1"),
            expr("bit_or(s2)").as("b2"), expr("bit_or(s3)").as("b3"))
        sk = sk.join(inbox, Seq("id"), "left_outer")
          .selectExpr("id" +:
            (0 to 3).map(t => s"s$t | coalesce(b$t, 0L) AS s$t"): _*)
          .localCheckpoint()
      }
      sk.count()
    }, field("nodes"), timeRatio("anf", "edges")),

    // BPE training feasibility at a REAL vocab: 32k merges. The
    // distributed part is ONE word-frequency aggregation; the merge
    // loop is driver-local over the vocab-bounded dict — this probe
    // measures that loop's wall and driver heap. The sf0.1 synthetic
    // corpus holds only 31 distinct words (BPE exhausts at 89 merges),
    // so the 32k-merge regime trains on corpus word-4-GRAM types —
    // tens of thousands of multi-character types with corpus-derived
    // frequencies, the dict-size shape of a real web-corpus vocabulary.
    Bespoke("bpe32k", () => {
      import java.lang.management.{ManagementFactory, MemoryType}
      import scala.jdk.CollectionConverters._
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      def peakHeap(): Long = pools.filter(_.getType == MemoryType.HEAP)
        .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
      val toks = TextAnalysis.wsTokens(col("text"))
      val gdocs = base.select(array_join(transform(
        sequence(lit(1), greatest(size(toks) - 3, lit(1))),
        i => concat_ws("_", slice(toks, i, lit(4)))), " ").as("text"))
        .localCheckpoint()
      val vocab = gdocs.select(explode(TextAnalysis.wsTokens(col("text"))).as("w"))
        .distinct().count()
      pools.foreach(_.resetPeakUsage())
      val before = peakHeap()
      val t0 = System.nanoTime()
      val table = TextAnalysis.bpeTrain(gdocs, merges = 32000)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scaleprobe] bpe32k: vocabTypes=$vocab merges=${table.size} " +
        f"time=$secs%.2fs " +
        f"peakHeapDelta=${(peakHeap() - before).toDouble / (1 << 20)}%.0f MiB " +
        "(merge loop is driver-local; corpus work is the one dict aggregation)")
      clearBlocks()
    }),

    // Shuffle-BYTE scaling of the keys-only LSH pipelines and the
    // star-contraction CC round shape (round-8 verdict: the §2.3 byte
    // reductions are invisible in sf0.1 wall-clock — measure the bytes
    // themselves). 1× vs N× corpora give the scaling rows for SCALE.md.
    Bespoke("shuffle-bytes", () => {
      val snapshot = new ShuffleBytes(spark)
      def bytes(label: String)(body: => Long): Long = {
        val (n, r, w) = snapshot(body)
        println(f"[scaleprobe] bytes-$label: rows=$n " +
          f"shuffleRead=${r / 1024}%d KiB shuffleWrite=${w / 1024}%d KiB")
        clearBlocks()
        r
      }
      def ratio(tag: String, r1: Long, rn: Long, what: String): Unit =
        println(f"[scaleprobe] $tag shuffle-read ratio=" +
          f"${rn.toDouble / math.max(r1, 1)}%.2f for ${copies}x $what")
      // keys-only MinHash LSH (q31/q60/q107 family)
      def minhash(n: Int) = Dedup.nearDupPairs(docs(n), threshold = 0.7).count()
      bytes("minhash-warm")(minhash(1))
      ratio("minhash", bytes("minhash-1x")(minhash(1)),
        bytes(s"minhash-${copies}x")(minhash(copies)), "docs")
      // keys-only hyperplane LSH, rule-sized (q30/q243/q286 family);
      // same per-copy sign-mask construction as the emb-lsh wall probe
      def lsh(n: Int, planes: Int) =
        Similarity.embeddingNearDups(flipped(n), 0.966, nPlanes = planes, bands = 8).count()
      ratio("emb-lsh", bytes("emb-lsh-1x")(lsh(1, 56)),
        bytes(s"emb-lsh-${copies}x-rule-sized")(lsh(copies, 88)), "corpus")
      // star-contraction CC on a chain (the round-8 one-less-exchange
      // round shape; log-round contraction)
      ratio("cc", bytes("cc-chain-1x")(ccChain(chain(100000L))),
        bytes(s"cc-chain-${copies}x")(ccChain(chain(copies * 100000L))), "chain")
      snapshot.close()
    })
  )

  def run(): Unit = sections.filter(s => only.forall(_.exists(s.name.contains))).foreach {
    case p: Probe => probe(p)
    case b: Bespoke => b.body()
  }
}
