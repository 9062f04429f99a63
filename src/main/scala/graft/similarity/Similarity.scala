package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Cosine is computed as a sequential double fold over the zipped arrays
  * (`aggregate(zip_with(...))`) — pure Catalyst expressions, stays in
  * codegen, and is bit-exact with the equivalent explicit-double
  * evaluation in DuckDB (verified: list_sum/list_transform/list_zip), so
  * exact-value oracles hold without rounding tricks.
  *
  * Scale design:
  *  - brute force: broadcast the (small) query set against the (huge)
  *    corpus — one scan, no shuffle of the corpus, per-partition partial
  *    top-k before the final k-merge.
  *  - IVF: corpus pre-bucketed by a coarse quantizer (here: nearest of a
  *    handful of deterministic centroids); queries probe only their
  *    `nprobe` nearest buckets → scan cost drops by ~nBuckets/nprobe.
  *    At 100 TB the bucket id is a partition column, so probing prunes
  *    parquet partitions at the scan.
  */
object Similarity {

  /** Hyperplane-LSH skew valve: buckets holding more members than this
    * are dropped before pair expansion (per-bucket work ≤ cap²). One
    * value for every LSH entry point and for q286's oracle, so the
    * Spark side and its DuckDB mirror cannot drift apart.
    */
  val DefaultMaxBucket = 1000

  /** Sequential-fold dot product of two float-array columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Composed (builtin-functions) cosine — the semantic reference form;
    * bit-exact with the DuckDB oracle's explicit-double SQL.
    */
  def cosineComposed(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native fused-loop cosine (graft.functions.CosineSimilarity): same
    * sequential-double-fold semantics bit-for-bit (asserted in
    * SimilaritySpec), no per-row array allocation, full codegen.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.graftCosine(a, b)

  /** Partition-local (map-side) top-k on (query_id, neighbor_id, sim)
    * rows: a NARROW pass (no exchange) keeping at most k rows per query
    * per input partition under the (sim DESC, neighbor_id ASC) ranking,
    * via a bounded heap per query. The per-query global window downstream
    * then receives ≤ |queries| × numPartitions × k rows instead of the
    * whole scored set — at 100 TB the final exchange carries k-merge
    * inputs, not the corpus, and no reducer sorts |corpus| rows.
    *
    * Results are identical to ranking the unpruned set: any global top-k
    * row is in its partition's local top-k under the same total order,
    * and (query, neighbor) rows are unique so the cut admits no ties.
    * Ordering edge cases are matched to Spark's sort: NaN ranks above all
    * values (Double.compare), -0.0 is normalized to 0.0, null sim ranks
    * last (desc → nulls last).
    */
  private[graft] def localTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val schema = scored.schema
    val qi = schema.fieldIndex("query_id")
    val ni = schema.fieldIndex("neighbor_id")
    val si = schema.fieldIndex("sim")
    val cmpN: (Any, Any) => Int = schema(ni).dataType match {
      case LongType    => (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case IntegerType => (a, b) => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case StringType  => (a, b) => a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
      case dt => throw new IllegalArgumentException(s"unsupported neighbor id type $dt")
    }
    def sim(r: Row): Double =
      if (r.isNullAt(si)) Double.NegativeInfinity else r.getDouble(si) + 0.0
    // heap head = WORST kept row (lowest sim, then largest neighbor id)
    val worstFirst: Ordering[Row] = (x: Row, y: Row) => {
      val c = java.lang.Double.compare(sim(y), sim(x))
      if (c != 0) c else cmpN(x.get(ni), y.get(ni))
    }
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    scored.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[Row]]
      it.foreach { r =>
        val h = heaps.getOrElseUpdate(r.get(qi),
          scala.collection.mutable.PriorityQueue.empty[Row](worstFirst))
        if (h.size < k) h.enqueue(r)
        else if (worstFirst.compare(r, h.head) < 0) { h.dequeue(); h.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  /** Exact brute-force top-k neighbors for each query vector.
    *
    * `queries`: (query_id, q_embedding); `corpus`: (idCol, embCol).
    * The query side is broadcast — the corpus is scanned once with no
    * shuffle, [[localTopK]] prunes each partition to k rows per query
    * map-side, and only the ≤ parts × k survivors per query shuffle into
    * the final window k-merge. Self-matches (query_id == neighbor id)
    * are excluded.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      keep: Column = lit(true)): DataFrame = {
    // `keep` restricts candidate (corpus row, query row) pairs BEFORE
    // scoring — e.g. hard-negative mining keeps only rows whose label
    // differs from the query's. Applied pre-cosine so filtered pairs
    // never pay the dot product.
    val joined = corpus.join(broadcast(queries), col("query_id") =!= col(idCol))
      .filter(keep)
      .withColumn("sim", cosine(col("q_embedding"), col(embCol)))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    localTopK(joined.select(col("query_id"), col(idCol).as("neighbor_id"), col("sim")), k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF bucket assignment: portable md5-60bit of the id, mod nBuckets —
    * any engine can recompute the identical index layout (the q46 oracle
    * does), and re-building the index on a different cluster/partitioning
    * yields the same buckets (reproducible index builds).
    */
  def ivfBucket(id: Column, nBuckets: Int): Column =
    pmod(graft.textops.TextAnalysis.md5Long(id.cast("string")), lit(nBuckets))

  /** Deterministic coarse centroids: mean embedding of each id-hash
    * bucket. A stand-in for k-means that needs no iteration and is
    * reproducible; the IVF mechanics (assign → prune → search) are
    * identical with trained centroids. Element sums are quantized to
    * exact integers (1e-6) before aggregation so the centroid is
    * independent of partition/merge order — nondeterministic centroids
    * would make probe selection, and thus the whole result, flap.
    */
  /** Order-independent mean embeddings per group: element sums quantized
    * to exact integers (1e-6) before aggregation, means recovered with a
    * fixed division order — the single definition of the quantized-mean
    * contract that the q46/q61 oracles mirror.
    */
  private def quantizedMeans(
      grouped: DataFrame, groupCol: String, dim: Int, embCol: String): DataFrame = {
    val aggs = count(lit(1)).as("cnt") +:
      (0 until dim).map(i => sum(
        round(element_at(col(embCol), i + 1).cast("double") * 1000000).cast("long"))
        .as(s"s$i"))
    grouped.groupBy(groupCol)
      .agg(aggs.head, aggs.tail: _*)
      .select(col(groupCol),
        array((0 until dim).map(i =>
          (col(s"s$i").cast("double") / 1000000 / col("cnt")).cast("float")): _*)
          .as("centroid"))
  }

  def coarseCentroids(
      corpus: DataFrame,
      nBuckets: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // dim probe tolerates an empty corpus (routine post-filter at scale):
    // dim=1 analyzes fine and zero rows flow through to an empty result
    val dim = corpus.select(size(col(embCol))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(1)
    quantizedMeans(
      corpus.withColumn("bucket", ivfBucket(col(idCol), nBuckets)),
      "bucket", dim, embCol)
  }

  /** IVF top-k: assign corpus rows to their id-hash bucket, assign each
    * query to its `nprobe` nearest centroids, and search only those
    * buckets. Returns the same schema as bruteForceTopK (approximate
    * results — recall depends on quantizer quality). Fully deterministic:
    * portable buckets + order-independent centroids + bit-exact cosine.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nBuckets: Int = 16,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    probeAndSearch(
      corpus.withColumn("bucket", ivfBucket(col(idCol), nBuckets)),
      coarseCentroids(corpus, nBuckets, idCol, embCol),
      queries, k, nprobe, idCol, embCol)

  /** [[ivfTopK]] over an ALREADY-bucketed corpus and precomputed
    * centroid table — the sharing entry for multi-config consumers: a
    * probe sweep (q319 runs nprobe ∈ {1,2,4,8}) assigns buckets and
    * aggregates centroids ONCE and reuses both across every level,
    * instead of rebuilding the identical assignment per level.
    * Centroids are order-independent by construction (quantized means),
    * so sharing cannot change any level's result.
    */
  private[graft] def ivfTopKPrebuilt(
      bucketed: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    probeAndSearch(bucketed, centroids, queries, k, nprobe, idCol, embCol)

  /** The IVF probe+search core, shared by the build-per-query form and
    * the persisted-index form: rank centroids per query, keep the
    * `nprobe` nearest, search only those buckets.
    */
  private def probeAndSearch(
      bucketed: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String,
      embCol: String): DataFrame = {
    val probeW = Window.partitionBy("query_id").orderBy(col("csim").desc, col("bucket"))
    val probes = queries.join(broadcast(centroids), lit(true))
      .withColumn("csim", cosine(col("q_embedding"), col("centroid")))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("q_embedding"), col("bucket"))
    val joined = bucketed.join(broadcast(probes),
        bucketed("bucket") === probes("bucket") && col("query_id") =!= col(idCol))
      .withColumn("sim", cosine(col("q_embedding"), col(embCol)))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    // map-side partial top-k (localTopK) before the per-query k-merge:
    // the final exchange carries ≤ parts × k rows per query, not the
    // whole probed bucket contents.
    localTopK(joined.select(col("query_id"), col(idCol).as("neighbor_id"), col("sim")), k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persist an IVF index: the corpus laid out parquet-partitioned BY
    * BUCKET (so probe-time bucket predicates prune whole partitions at
    * the scan — at 100 TB the probe reads nprobe/nBuckets of the data,
    * via dynamic partition pruning from the broadcast probe set) plus
    * the centroid table. Index builds are reproducible: same corpus →
    * same buckets, same quantized centroids, on any cluster layout.
    */
  def writeIvfIndex(
      corpus: DataFrame,
      indexDir: String,
      nBuckets: Int = 16,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    corpus.withColumn("bucket", ivfBucket(col(idCol), nBuckets))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$indexDir/corpus")
    coarseCentroids(corpus, nBuckets, idCol, embCol)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** Search a persisted IVF index — identical results to [[ivfTopK]] on
    * the same corpus (float embeddings and centroids round-trip parquet
    * bit-exactly; SimilaritySpec asserts equality).
    */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    probeAndSearch(
      spark.read.parquet(s"$indexDir/corpus"),
      spark.read.parquet(s"$indexDir/centroids"),
      queries, k, nprobe, idCol, embCol)

  /** Squared-L2 distance as a sequential double fold (bit-exact across
    * engines, like [[dot]]) — composed higher-order form, kept as the
    * executable spec of the fold order.
    */
  def l2sqComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0),
      (acc, x) => acc + x)

  /** Native fused-loop squared-L2 (graft.functions.L2SquaredDistance):
    * same sequential-double-fold semantics bit-for-bit (asserted in
    * VectorExpressionsSpec), no zipped intermediate array — the k-means
    * assignment evaluates this k times per row inside an interpreted
    * `transform`, where the composed form's per-element lambda dispatch
    * and allocation dominate the round.
    */
  def l2sq(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.graftL2sq(a, b)

  /** Deterministic Lloyd's k-means over an embedding column: md5-bucket
    * means as init (the same reproducible seeding as IVF), then `iters`
    * assign→update rounds. Everything is order-independent: centroid
    * updates quantize element sums to exact integers, assignment breaks
    * distance ties by cluster id, distances are sequential double folds —
    * so the final assignment is a pure function of the data, replayable
    * on any engine (the q61 oracle unrolls both rounds in SQL).
    *
    * Scale shape: assignment is NARROW — the centroid table packs into a
    * single cluster-ascending array row, broadcasts, and each corpus row
    * computes its argmin with a higher-order fold in the scan projection.
    * No per-row k-way expansion and no corpus-wide shuffle per round
    * (the old shape cross-joined k centroid rows and ranked them with a
    * row_number window PARTITIONed on the vector id — a full-corpus
    * exchange every iteration, iters× the dominant cost at 100 TB). The
    * only exchange per round is the k-sized centroid-update aggregate
    * (map-side partial). The fold keeps the first strictly-smaller d2
    * over the cluster-sorted array, so ties still break to the lowest
    * cluster id and d2 stays the same sequential IEEE fold — bit-exact
    * with the window form and the unrolled SQL oracles (q61/q119).
    */
  def kmeansLite(
      corpus: DataFrame,
      k: Int = 16,
      iters: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val dim = corpus.select(size(col(embCol))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(1) // empty corpus → empty result
    def assign(centroids: DataFrame): DataFrame = {
      val packed = centroids.agg(
        sort_array(collect_list(struct(col("cluster"), col("centroid"))))
          .as("cents"))
      corpus.join(broadcast(packed), lit(true))
        .withColumn("scored", transform(col("cents"), c =>
          struct(l2sq(col(embCol), c.getField("centroid")).as("d2"),
            c.getField("cluster").as("cluster"))))
        .withColumn("best", aggregate(col("scored"),
          struct(lit(Double.PositiveInfinity).as("d2"), lit(-1L).as("cluster")),
          (acc, s) => when(s.getField("d2") < acc.getField("d2"), s).otherwise(acc)))
        .select(col(idCol), col(embCol), col("best.cluster").as("cluster"))
    }
    var centroids = quantizedMeans(
        corpus.withColumn("cluster", ivfBucket(col(idCol), k)),
        "cluster", dim, embCol)
    var assigned = assign(centroids)
    (2 to iters).foreach { _ =>
      centroids = quantizedMeans(assigned, "cluster", dim, embCol)
      assigned = assign(centroids)
    }
    assigned.select(col(idCol), col("cluster"))
  }

  /** One level of GROUPED k-means refinement for [[semDedup]]'s
    * oversized clusters: every parent cluster P in `big` is k-way
    * re-clustered IN ONE PASS — child centroids are keyed by the
    * combined label (P+1)·k + sub (injective across recursion depths),
    * and each row's argmin runs over only its own parent's k children
    * (centroid lists packed per parent and broadcast — the centroid
    * table is #parents·k rows, never corpus-sized). Same deterministic
    * machinery as [[kmeansLite]]: id-hash seeding, quantized centroid
    * sums, tie-break on child label via the sorted fold.
    */
  private def kmeansRefine(
      big: DataFrame,
      k: Int,
      iters: Int,
      idCol: String,
      embCol: String): DataFrame = {
    val dim = big.select(size(col(embCol))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(1)
    def assign(centroids: DataFrame): DataFrame = {
      val packed = centroids
        .withColumn("parent", expr(s"cluster div $k - 1"))
        .groupBy("parent")
        .agg(sort_array(collect_list(struct(col("cluster"), col("centroid"))))
          .as("cents"))
      big.join(broadcast(packed), col("cluster") === col("parent"))
        .withColumn("scored", transform(col("cents"), c =>
          struct(l2sq(col(embCol), c.getField("centroid")).as("d2"),
            c.getField("cluster").as("cluster"))))
        .withColumn("best", aggregate(col("scored"),
          struct(lit(Double.PositiveInfinity).as("d2"), lit(-1L).as("cluster")),
          (acc, s) => when(s.getField("d2") < acc.getField("d2"), s).otherwise(acc)))
        .select(col(idCol), col("best.cluster").as("cluster"), col(embCol))
    }
    var centroids = quantizedMeans(
      big.select(((col("cluster") + 1) * k + ivfBucket(col(idCol), k))
        .as("cluster"), col(embCol)),
      "cluster", dim, embCol)
    var out = assign(centroids)
    (2 to iters).foreach { _ =>
      centroids = quantizedMeans(out, "cluster", dim, embCol)
      out = assign(centroids)
    }
    out
  }

  /** Deterministic pseudo-random hyperplane weight for plane `p`,
    * dimension `i` — in [-1, 1]. Public so oracle builders can replay
    * the exact bucketing ([[embeddingNearDups]] and the q30 DuckDB
    * oracle must derive identical signatures from identical constants).
    */
  def planeWeight(p: Int, i: Int): Double =
    // deliberately the (deprecated) productHash: these constants are
    // PINNED — the q30/q102/q106 oracles bake them as SQL literals, so
    // the hash function must never drift (caseClassHash seeds differ).
    // ONE definition, shared with the native band-bucket kernel.
    graft.functions.HyperplaneBandsExpr.planeWeight(p, i)

  /** (id, emb, band, bucket) rows — one per signature band — from
    * random-hyperplane sign-bit signatures; the candidate-generation
    * core shared by [[embeddingNearDups]] and the occupancy report
    * [[embeddingBucketStats]]. Empty corpora yield an empty frame with
    * the caller's id type (no row to read the dimensionality from; at
    * scale an empty post-filter source is routine and must not throw).
    */
  def hyperplaneBuckets(
      corpus: DataFrame,
      nPlanes: Int = 16,
      bands: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val firstRow = corpus.select(size(col(embCol))).head(1)
    if (firstRow.isEmpty)
      return corpus.select(col(idCol), col(embCol),
        lit(0).as("band"), lit(0L).as("bucket")).limit(0)
    val dim = firstRow.head.getInt(0)
    // one sign-bit Long bucket PER BAND: bucket bit j of band bi is the
    // sign of plane bi·rowsPerBand + j — the bucket-space ceiling is 63
    // bits PER BAND (2^63 values), which is what the documented "grow
    // nPlanes with the corpus" rule leans on at ~1e9 vectors.
    val rowsPerBand = nPlanes / bands
    require(rowsPerBand <= 63,
      s"rowsPerBand must fit one Long bucket, got $rowsPerBand")
    // All nPlanes dot products + every band's sign-bit fold in ONE
    // native fused loop (HyperplaneBandsExpr — guide §1.2 per-task
    // work): higher-order functions run INTERPRETED, so the former
    // composed form (transform over an array<array<double>> literal of
    // aggregate(zip_with(...)) dots, then a sign-bit fold per band)
    // allocated a zipped array and dispatched a lambda per element PER
    // PLANE per row — 56–88 × 64 boxed multiply-adds on every corpus
    // vector in the q30/q243/q286 family. Bit-for-bit equivalence with
    // the composed spelling (fold order, null/dim-mismatch edge
    // behavior, NaN sign ranking) is pinned in VectorExpressionsSpec.
    corpus.select(col(idCol), col(embCol),
      posexplode(graft.functions.VectorFunctions.graftHyperplaneBands(
        col(embCol), nPlanes, bands, dim)).as(Seq("band", "bucket")))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, bucketed by
    * random-hyperplane LSH signature so candidate generation avoids the
    * full cross join: vectors agreeing on any `bands` of the sign-bit
    * signature meet in a bucket.
    *
    * Scale guards (same shape as Dedup.lshCandidatesWithSigs): bucket
    * members are gathered in ONE shuffle and buckets above `maxBucket`
    * are dropped — a degenerate corpus (e.g. all-zero embeddings hashing
    * to one signature) stays bounded instead of going quadratic in a hot
    * bucket, trading recall on pathological buckets only ([[
    * embeddingBucketStats]] quantifies exactly what a cap drops).
    * Candidate pairs colliding in several bands are deduplicated BEFORE
    * the cosine is computed, so each pair pays the dot product exactly
    * once.
    *
    * SIZE nPlanes TO THE CORPUS: each band has 2^(nPlanes/bands) possible
    * bucket values, so mean bucket size ≈ n / 2^(nPlanes/bands). With the
    * defaults (16 planes / 4 bands = 16 values per band) a corpus beyond
    * ~16k vectors pushes every HEALTHY bucket over maxBucket=1000 and the
    * guard would silently drop them all. Grow nPlanes by `bands` planes
    * (one sign bit per band → 2× buckets) per corpus doubling, at a
    * per-band recall cost of one more agreeing bit — e.g. 32 planes for
    * ~1M vectors, 48 for ~1B — or raise maxBucket in step. The guard
    * protects against pathological skew, not against under-provisioned
    * bucket space. `Measure scale` probes both regimes on sign-masked 10×
    * corpora: knobs held fixed the candidate surface grows ~n²/2^r (45×
    * wall for 10× data), with the sizing rule applied (+log2(10) bits
    * per band) wall tracks the data. Buckets are per-band Longs, so the
    * rule has headroom to 63 bits PER band — far past any corpus.
    */
  def embeddingNearDups(
      corpus: DataFrame,
      threshold: Double,
      nPlanes: Int = 16,
      bands: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // keys-only bucket gathering (the Dedup.lshCandidatePairs shape —
    // guide §2.3 "shuffle keys, not payloads"): the (band, bucket)
    // exchange carries (id, band, bucket) rows, never the embeddings —
    // carrying the vector on every band row shuffles bands × dim × 4 B
    // per vector (8 × 64 floats ≈ 2 KB) and the pair-dedup exchange then
    // re-shuffled TWO embeddings per candidate row. Embeddings are
    // re-attached to the (small) distinct pair set below.
    val banded = hyperplaneBuckets(corpus, nPlanes, bands, idCol, embCol)
      .select(col(idCol).as("id"), col("band"), col("bucket"))
    val buckets = banded.groupBy("band", "bucket")
      .agg(collect_list(col("id")).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    nearDupsFromBuckets(buckets, corpus, threshold, idCol, embCol)
  }

  /** Verified near-dup pairs from pre-gathered live-bucket member lists
    * (`(band, bucket, members)`, already guard-filtered) — the pair
    * generation + embedding re-attach + cosine verify stage of
    * [[embeddingNearDups]], factored so a multi-config consumer (q286
    * computes bucket OCCUPANCY and pairs per width) can share ONE
    * signature + bucket-gather pass between both readers instead of
    * running the whole hyperplane pipeline twice per width.
    */
  private[graft] def nearDupsFromBuckets(
      buckets: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val pairsCol = flatten(transform(col("members"), (x, i) =>
      transform(slice(col("members"), i + 2, size(col("members"))),
        y => struct(least(x, y).as("id_a"), greatest(x, y).as("id_b")))))
    // pairs are distinct, so each pair pays the cosine exactly once
    // (unchanged contract); referenced once by the linear attach chain
    // below, so no materialization barrier is needed
    val pairs = buckets
      .select(explode(pairsCol).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    // attach by joining the corpus projection directly: the pair set is
    // small (broadcast side), so the corpus streams through both joins
    // without shuffling — no checkpoint, no extra pass
    val vecs = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("emb").as("emb_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("emb").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("emb_a"), col("emb_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Cross-corpus embedding near-dup join: every (left, right) pair
    * with cosine ≥ threshold — embedding-space fuzzy decontamination,
    * the [[embeddingNearDups]] counterpart of
    * `Dedup.crossNearDupPairs`. Both sides bucket independently under
    * the SAME hyperplanes (the geometry is data-independent, so one
    * sign-bit disagreement breaks a band on either side identically),
    * then ONE (band, bucket) equi-join of pre-gathered member lists
    * emits only cross pairs; per-bucket expansion ≤ maxBucket² with the
    * two-sided skew guard (each side's over-full buckets drop). A pair
    * colliding in several bands pays the cosine once
    * (dropDuplicates before scoring). Id spaces stay independent —
    * equal ids across sides never merge. The nPlanes-vs-corpus sizing
    * note on [[embeddingNearDups]] applies to EACH side.
    */
  def crossEmbeddingNearDups(
      left: DataFrame,
      right: DataFrame,
      threshold: Double,
      nPlanes: Int = 16,
      bands: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // keys-only per-side bucket gathering + embedding re-attach, the
    // same §2.3 restructure as [[embeddingNearDups]]
    def bucketed(side: DataFrame, out: String): DataFrame =
      hyperplaneBuckets(side, nPlanes, bands, idCol, embCol)
        .select(col(idCol).as("id"), col("band"), col("bucket"))
        .groupBy("band", "bucket")
        .agg(collect_list(col("id")).as(out))
        .filter(size(col(out)).between(1, maxBucket))
    val pairs = bucketed(left, "ml")
      .join(bucketed(right, "mr"), Seq("band", "bucket"))
      .select(explode(flatten(transform(col("ml"), x =>
        transform(col("mr"), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    def vecs(side: DataFrame, pairCol: String): DataFrame =
      side.select(col(idCol).as(pairCol), col(embCol).as(s"emb_$pairCol"))
    pairs
      .join(vecs(left, "id_a"), "id_a")
      .join(vecs(right, "id_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("emb_id_a"), col("emb_id_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): SEMANTIC deduplication —
    * cluster the embedding space with deterministic k-means
    * ([[kmeansLite]]), then compare vectors pairwise ONLY within their
    * cluster and drop every vector whose cosine to a lower-id
    * cluster-mate reaches `threshold` (the same keep-min pair-domination
    * contract as the LSH near-dup paths, so the whole operator replays
    * in SQL — the q119 oracle unrolls k-means + pairs + drops).
    * Catches paraphrase/template duplicates that share no n-grams, the
    * gap exact and MinHash dedup both miss.
    *
    * Scale shape: the quadratic comparison is confined to clusters —
    * cost is Σ cluster², never n². Size `k` to the corpus (the paper
    * runs k ≈ n/1000, keeping mean cluster size constant — at 100 TB /
    * ~10¹¹ docs that is k ≈ 10⁵⁻⁸, not this catalog-scale default of
    * 16; see the sizing rule below). `maxCluster` is the same safety
    * valve as the LSH paths' maxBucket, but unlike a cap it does NOT
    * surrender recall: a cluster the seeding leaves oversized (dense
    * regions — exactly where duplicates concentrate) is RECURSIVELY
    * RE-CLUSTERED (k-way, up to `maxDepth` levels, all still-oversized
    * clusters of a level re-clustered in ONE grouped pass), and a
    * cluster still oversized after `maxDepth` (e.g. an all-identical
    * corpus, which k-means cannot separate — every point ties to the
    * same centroid) falls back to a deterministic id-hash SALT split
    * into ⌈size/maxCluster⌉ groups, so duplicates are still found
    * within each bounded group (bounded, distributed recall loss on
    * pathological clusters instead of total exemption). Pairing is a
    * plain cluster-keyed self-join (one shuffle), so maximal clusters
    * stream through the join rather than materializing a members list
    * per bucket row.
    *
    * Sizing rule (mirrors [[embeddingNearDups]]): pick k so n/k ≈ the
    * cluster size you want to pair within (10²-10³); the recursion is
    * the backstop for seeding skew, not a substitute for sizing k.
    *
    * Cluster labels: top-level labels are 0..k-1; a depth-d sub-cluster
    * of parent P gets (P+1)·k + sub (injective across depths, so labels
    * stay collision-free Longs); salt-fallback groups get the NEGATIVE
    * label −((P+1)·S + salt + 1) with S the level's max salt count —
    * deterministic for a given corpus, distinguishable (< 0) from
    * k-means labels. With no oversized clusters (any corpus where
    * n ≤ maxCluster holds per cluster, e.g. the catalog tables at the
    * library default) the output is byte-identical to plain
    * kmeansLite + within-cluster pairing, which is what the q119
    * oracle replays.
    */
  def semDedup(
      corpus: DataFrame,
      k: Int = 16,
      iters: Int = 2,
      threshold: Double = 0.95,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxCluster: Int = 10000,
      maxDepth: Int = 3): DataFrame = {
    // label space: depth-d labels grow like k^(d+1); silent Long
    // wraparound would MERGE unrelated clusters (wrong verdicts, no
    // error), so the bound fails loudly here. At the paper-scale
    // k ≈ 10⁵⁻⁶ pass maxDepth 1-2 (mean cluster size is already the
    // knob; one refinement level bounds the skew tail).
    require(BigInt(k + 1).pow(maxDepth + 1) * 2 < BigInt(Long.MaxValue),
      s"cluster-label space overflows Long: k=$k with maxDepth=$maxDepth " +
        "(lower maxDepth — at large k one refinement level suffices)")
    // k-means re-derives its iterations on every downstream action, and
    // the assignment feeds three consumers (both join sides + output) —
    // cut the lineage once.
    var assigned = kmeansLite(corpus, k, iters, idCol, embCol)
      .join(corpus.select(col(idCol), col(embCol)), idCol)
      .withColumn("cluster", col("cluster").cast("long"))
      .localCheckpoint()
    // Recursive refinement: at each level, re-cluster ALL oversized
    // clusters in one grouped k-means pass (centroids keyed by the
    // combined child label (P+1)·k + sub, assignment confined to the
    // parent's k children).
    def oversizedIds(df: DataFrame): Array[Long] = df.groupBy("cluster")
      .agg(count(lit(1)).as("csz")).filter(col("csz") > maxCluster)
      .select("cluster").collect().map(_.getLong(0)).sorted
    var depth = 0
    var oversized = oversizedIds(assigned)
    while (depth < maxDepth && oversized.nonEmpty) {
      val big = assigned.filter(col("cluster").isin(oversized.toIndexedSeq: _*))
      val ok = assigned.filter(!col("cluster").isin(oversized.toIndexedSeq: _*))
      val prev = assigned
      assigned = ok.unionByName(
          kmeansRefine(big, k, iters, idCol, embCol)
            .select(prev.columns.map(col).toIndexedSeq: _*))
        .localCheckpoint()
      prev.unpersist(blocking = false)
      depth += 1
      oversized = oversizedIds(assigned)
    }
    // Salt fallback for clusters k-means cannot shrink (identical
    // points tie-break to one centroid at every depth): deterministic
    // id-hash split into ⌈csz/maxCluster⌉ groups — each bounded, each
    // still paired internally.
    if (oversized.nonEmpty) {
      val bigSizes = assigned.groupBy("cluster")
        .agg(count(lit(1)).as("csz"))
        .filter(col("cluster").isin(oversized.toIndexedSeq: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nSalts = bigSizes.map { case (c, sz) =>
        c -> ((sz + maxCluster - 1) / maxCluster) }
      val maxSalts = nSalts.values.max
      // fallback labels -((P+1)·S + salt + 1) are computed in Spark SQL
      // where a Long overflow wraps silently and merges groups — bound
      // it loudly here (P ≤ max oversized label, S = maxSalts)
      require((BigInt(oversized.max) + 1) * maxSalts + maxSalts <
        BigInt(Long.MaxValue),
        s"salt-fallback label space overflows Long " +
          s"(maxLabel=${oversized.max}, salts=$maxSalts) — raise maxCluster")
      assigned = assigned.withColumn("cluster",
        when(col("cluster").isin(oversized.toIndexedSeq: _*),
          -((col("cluster") + 1) * maxSalts +
            pmod(graft.textops.TextAnalysis.md5Long(col(idCol).cast("string")),
              element_at(typedLit(nSalts), col("cluster"))) + 1))
          .otherwise(col("cluster")))
        .localCheckpoint()
    }
    // Salt-fallback groups (cluster < 0) always pair: their salt count
    // was chosen to put the EXPECTED size at maxCluster (hash imbalance
    // can overshoot by a small factor — work is bounded by construction
    // either way); a positive cluster over maxCluster cannot exist here
    // unless maxDepth recursion plus salting were both disabled.
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("csz"))
    val live = assigned.join(broadcast(sizes
      .filter(col("csz") <= maxCluster || col("cluster") < 0)
      .select("cluster")), Seq("cluster"))
    val dropped = live
      .select(col("cluster"), col(idCol).as("id_a"), col(embCol).as("emb_a"))
      .join(live.select(col("cluster"), col(idCol).as("id_b"),
        col(embCol).as("emb_b")), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    assigned.join(dropped.withColumn("dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("dup").isNull.as("kept"))
  }

  /** Per-band hyperplane-LSH bucket-occupancy report — the
    * [[embeddingNearDups]] counterpart of `Dedup.simHashBucketStats`:
    * quantifies how full the sign-bit buckets are and what a given
    * `maxBucket` cap would drop, so both the skew guard and the
    * nPlanes-vs-corpus sizing (see [[embeddingNearDups]]) are tuned
    * from measurement, not guessed.
    */
  def embeddingBucketStats(
      corpus: DataFrame,
      nPlanes: Int = 16,
      bands: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    graft.dedup.Dedup.bucketOccupancyStats(
      hyperplaneBuckets(corpus, nPlanes, bands, idCol, embCol), maxBucket)

  /** Per-group semantic centroid drift: cosine between each group's mean
    * embedding and the whole-corpus mean — the embedding-space analog of
    * `TextAnalysis.tokenDrift` (which watches the LEXICAL mixture). A
    * group whose centroid swings away from the corpus centroid signals a
    * source whose content distribution is drifting — the monitor a
    * training-mix pipeline alarms on.
    *
    * Exactness: per-element values quantize to integer micro-units
    * BEFORE any sum (the k-means/IVF pattern), so the per-dimension sums
    * are order-independent BIGINTs; the centroid dot/norms are then
    * exact integer products summed over the (dims-bounded) dimension
    * axis, and only the final cosine division is floating point —
    * bit-reproducible at any partitioning.
    *
    * Scale shape: the only corpus-sized shuffle is the per-(group, dim)
    * partial+final sum — map-side combine reduces it to
    * parts × groups × dims rows; the global centroid (dims rows)
    * BROADCASTS into the group-grain join; everything after is
    * groups × dims sized.
    */
  def centroidDrift(
      vecs: DataFrame,
      groupCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val ex = vecs.select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("xq", round(col("x").cast("double") * 1000000).cast("long"))
    def mean(df: DataFrame, keys: String*): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(sum("xq").as("sq"), count(lit(1)).as("c"))
        .withColumn("m",
          round(col("sq").cast("double") / col("c")).cast("long"))
    val byGroup = mean(ex, groupCol, "pos")
    val global = mean(ex, "pos")
      .select(col("pos"), col("m").as("mg"))
    byGroup.join(broadcast(global), "pos")
      .groupBy(groupCol)
      .agg(max(col("c")).as("n_vecs"),
        sum(col("m") * col("mg")).as("dot"),
        sum(col("m") * col("m")).as("nl"),
        sum(col("mg") * col("mg")).as("ng"))
      .select(col(groupCol), col("n_vecs"),
        round(col("dot").cast("double") /
          (sqrt(col("nl").cast("double")) * sqrt(col("ng").cast("double"))), 6)
          .as("drift_cos"))
  }

  /** Int8 scalar quantization report: per-dimension corpus min/max →
    * 0..255 code per element → reconstruction-error stats per vector —
    * the compression pass that turns 100 TB of float32 embeddings into
    * 25 TB of int8 (the standard serving/ANN-index trade) WITH the
    * fidelity evidence (max / mean absolute error) the decision needs.
    *
    * Exactness: min/max over floats involve no arithmetic (exact on any
    * engine/partitioning); code and reconstruction are pure double
    * arithmetic in a fixed association order, and errors quantize to
    * integer micro-units before the per-vector sum — bit-identical in
    * SQL replay. Degenerate dimensions (min = max) code to 0 and
    * reconstruct exactly.
    *
    * Scale shape: one dims-keyed aggregation (64-ish rows out,
    * partial-aggregated), BROADCAST back onto the element stream, one
    * vector-keyed aggregation — two shuffles, both map-side combined;
    * nothing corpus-quadratic.
    */
  def int8QuantReport(
      corpus: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val ex = corpus.select(col(idCol),
      posexplode(col(embCol)).as(Seq("pos", "x")))
    val stats = ex.groupBy("pos")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    ex.join(broadcast(stats), "pos")
      .withColumn("xd", col("x").cast("double"))
      .withColumn("mnd", col("mn").cast("double"))
      .withColumn("mxd", col("mx").cast("double"))
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(round(lit(255) * (col("xd") - col("mnd")) /
            (col("mxd") - col("mnd"))).cast("long")))
      .withColumn("recon",
        col("mnd") + col("code") * (col("mxd") - col("mnd")) / lit(255))
      .withColumn("err_micro",
        round(lit(1000000) * abs(col("xd") - col("recon"))).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_dims"),
        max("err_micro").as("max_err_micro"),
        sum("err_micro").as("sum_err_micro"))
      .select(col(idCol), col("n_dims"), col("max_err_micro"),
        expr("sum_err_micro div n_dims").as("mean_err_micro"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR'98): greedily pick `k` vectors maximizing
    * `relWeight·cos(v, query) − divWeight·max_{s∈selected} cos(v, s)` —
    * the diverse-subset primitive behind dedup-aware retrieval and
    * training-example curation (relevant AND mutually non-redundant).
    *
    * Scores quantize to integer micro-units before each argmax (ties cut
    * on vec_id), so selection is bit-stable across engines; `relWeight`
    * and `divWeight` must be spelled as the SAME double literals in any
    * replaying oracle (passing e.g. 1−0.7 would differ from DuckDB's
    * decimal-exact `1 - 0.7`).
    *
    * Scale shape: relevance is computed ONCE in a narrow pass; the
    * diversity penalty is a RUNNING column — after each pick, the
    * frame is rewritten as `pen := max(pen, cos(emb, lastPick))` (one
    * cosine per surviving row, the pick's dim floats inlined as a
    * literal) and re-checkpointed, so step i costs O(n·d) and the
    * whole selection O(k·n·d) — NOT the O(k²·n·d) a recompute-from-
    * scratch `greatest` over all i selected vectors would cost (at
    * k=1000 curation runs that is 1× vs ~500× corpus scans). The
    * already-picked row is dropped by an equality filter on the single
    * latest id (the running max makes the growing `isin` blacklist
    * unnecessary). No shuffle, no window, nothing quadratic in the
    * corpus; the greedy loop is inherently sequential (step i+1's
    * penalty needs step i's pick), so this is k scan-bound jobs over
    * checkpointed blocks.
    *
    * The running max is bit-identical to the recomputed form: max over
    * doubles involves no arithmetic, and each cosine is evaluated on
    * the same (emb, pick) float pair either way.
    */
  def mmrSelect(
      candidates: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      relWeight: Double = 0.7,
      divWeight: Double = 0.3,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // pen starts at the step-1 neutral 0.0 (score = relWeight·rel); the
    // FIRST update overwrites it with the lone cosine — not max(0, cos)
    // — so an all-negative-cosine neighborhood penalizes exactly as the
    // literal "max over selected" definition (and its oracle) demands.
    var frame = candidates
      .select(col(idCol).cast("long").as("vec_id"), col(embCol).as("emb"))
      .withColumn("rel", cosine(col("emb"), typedLit(queryVec)))
      .withColumn("pen", lit(0.0))
      .localCheckpoint()
    var selected = Vector.empty[(Long, Long)] // (vec_id, score_micro)
    var exhausted = false
    for (_ <- 0 until k if !exhausted) {
      val top = frame
        .withColumn("score_micro",
          round((lit(relWeight) * col("rel") - lit(divWeight) * col("pen")) * 1e6)
            .cast("long"))
        .sort(col("score_micro").desc, col("vec_id"))
        .select("vec_id", "emb", "score_micro")
        .take(1)
      if (top.isEmpty) exhausted = true // corpus exhausted before k picks
      else {
        val pickId = top(0).getLong(0)
        val pickEmb = top(0).getSeq[Float](1)
        selected :+= ((pickId, top(0).getLong(2)))
        if (selected.size < k) {
          val prev = frame
          val newCos = cosine(col("emb"), typedLit(pickEmb))
          frame = frame
            .filter(col("vec_id") =!= pickId)
            .withColumn("pen",
              if (selected.size == 1) newCos
              else greatest(col("pen"), newCos))
            .localCheckpoint()
          prev.unpersist(blocking = false)
        }
      }
    }
    selected.zipWithIndex
      .map { case ((id, sc), i) => (i + 1L, id, sc) }
      .toDF("rank", "vec_id", "score_micro")
  }

  /** Product-quantization codebooks + codes (Jégou et al., TPAMI 2011):
    * each vector splits into `m` contiguous subvectors; each subspace
    * trains its own deterministic Lloyd quantizer (the [[kmeansLite]]
    * iteration: md5(id|sub) bucket-mean init, quantized centroid
    * updates, tie-to-lowest-code argmin) and every vector is encoded as
    * its m nearest-centroid codes. Returns (codes, codebook):
    * codes = (idCol, codes array<int> indexed by subspace),
    * codebook = (sub, code, centroid).
    *
    * This is the 100 TB memory path for embedding search: m·log2(k) bits
    * per vector (here 4 bytes) replace 4·dim bytes — a 64-dim float
    * corpus compresses 64× — and the code table becomes the thing that
    * fits scan-resident where raw vectors cannot. Training runs on the
    * corpus here (catalog scale); at 100 TB train the codebook on a
    * content-addressed sample ([[graft.operators.Scale]] q52-style) —
    * the iteration is identical and the sample bound is k·m·oversample.
    *
    * Everything is order-independent and replayable on any engine
    * (the q149 oracle unrolls all m subspaces × `iters` rounds in SQL):
    * subspace points never shuffle raw text, the per-round exchange is
    * the (m·k)-row centroid aggregate (map-side partial), and assignment
    * is a narrow broadcast fold exactly like [[kmeansLite]].
    */
  def pqTrain(
      corpus: DataFrame,
      m: Int = 4,
      k: Int = 16,
      iters: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding"): (DataFrame, DataFrame) = {
    val dim = corpus.select(size(col(embCol))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(m)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val ds = dim / m
    val md5Long = graft.textops.TextAnalysis.md5Long(_)
    // (id, sub, subemb): the per-subspace point set. Narrow — each row
    // carries ds floats, m rows per vector.
    val points = corpus.select(
      col(idCol),
      posexplode(array((0 until m).map(s =>
        slice(col(embCol), s * ds + 1, ds)): _*)).as(Seq("sub", "subemb")))
    // One Lloyd family per subspace, trained in the SAME jobs: the
    // centroid key folds (sub, code) into sub*k + code so the shared
    // quantizedMeans aggregate trains all m codebooks in one exchange.
    def means(assigned: DataFrame): DataFrame =
      quantizedMeans(assigned
          .withColumn("cluster", col("sub") * k + col("code")),
        "cluster", ds, "subemb")
        .select((col("cluster") / k).cast("int").as("sub"),
          pmod(col("cluster"), lit(k)).cast("int").as("code"),
          col("centroid"))
    def assign(codebook: DataFrame): DataFrame = {
      val packed = codebook.groupBy("sub").agg(
        sort_array(collect_list(struct(col("code"), col("centroid"))))
          .as("cents"))
      points.join(broadcast(packed), "sub")
        .withColumn("scored", transform(col("cents"), c =>
          struct(l2sq(col("subemb"), c.getField("centroid")).as("d2"),
            c.getField("code").as("code"))))
        .withColumn("best", aggregate(col("scored"),
          struct(lit(Double.PositiveInfinity).as("d2"), lit(-1).as("code")),
          (acc, s) => when(s.getField("d2") < acc.getField("d2"), s).otherwise(acc)))
        .select(col(idCol), col("sub"), col("subemb"),
          col("best.code").cast("int").as("code"))
    }
    var codebook = means(points.withColumn("code",
      pmod(md5Long(concat_ws("|", col(idCol).cast("string"),
        col("sub").cast("string"))), lit(k)).cast("int")))
    var assigned = assign(codebook)
    (2 to iters).foreach { _ =>
      codebook = means(assigned)
      assigned = assign(codebook)
    }
    val codes = assigned.groupBy(col(idCol))
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
    (codes, codebook)
  }

  /** [[bruteForceTopK]] under squared-L2 instead of cosine — the exact
    * reference a PQ/ADC ranking is audited against (ADC approximates
    * L2², so the recall denominator must be the L2 truth, not the
    * cosine one). Same scale shape: broadcast queries, one corpus scan,
    * two-level bounded top-k.
    */
  def bruteForceTopKL2(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (-l2sq(col("q_embedding"), col(embCol))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    localTopK(scored, k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), (-col("sim")).as("d2"), col("rank"))
  }

  /** PQ top-k via asymmetric distance computation (ADC): per query,
    * precompute the m×k table of exact subspace distances to every
    * codebook centroid; a corpus row's approximate distance is then m
    * table lookups summed in subspace order — no decode, no vector math
    * per row, and the per-query tables (q·m·k doubles) broadcast.
    *
    * Scale shape mirrors [[bruteForceTopK]]: ONE narrow scan of the code
    * table (which is 64× smaller than the raw corpus — see [[pqTrain]]),
    * per-partition bounded-heap top-k, and only ≤ parts·k survivors per
    * query reach the final k-merge. Approximate results — recall is the
    * codebook's to buy (larger k / more subspaces), measured the same
    * way q110 audits IVF.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      topK: Int,
      m: Int = 4,
      k: Int = 16,
      iters: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (codes, codebook) = pqTrain(corpus, m, k, iters, idCol, embCol)
    val dim = corpus.select(size(col(embCol))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(m)
    val ds = dim / m
    // Exact per-subspace distance table: (query, sub, code) → d2.
    val dtab = queries.select(
        col("query_id"),
        posexplode(array((0 until m).map(s =>
          slice(col("q_embedding"), s * ds + 1, ds)): _*)).as(Seq("sub", "qsub")))
      .join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        l2sq(col("qsub"), col("centroid")).as("d2"))
    // Pack ALL query tables into one broadcast row: per (query, sub) an
    // array of d2 indexed by code, per query an array of those indexed
    // by sub, then one collect_list over the (small) query set.
    val dmat = dtab.groupBy("query_id", "sub")
      .agg(transform(sort_array(collect_list(struct(col("code"), col("d2")))),
        s => s.getField("d2")).as("darr"))
      .groupBy("query_id")
      .agg(transform(sort_array(collect_list(struct(col("sub"), col("darr")))),
        s => s.getField("darr")).as("dmat"))
    val qpack = dmat.agg(
      sort_array(collect_list(struct(col("query_id"), col("dmat")))).as("qs"))
    // ADC: zip the row's codes with the query's per-subspace tables and
    // fold the looked-up distances in subspace order (left-associated
    // sequential sum — the oracle mirrors the association exactly).
    val scored = codes.join(broadcast(qpack), lit(true))
      .select(col(idCol), col("codes"), explode(col("qs")).as("q"))
      .filter(col("q.query_id") =!= col(idCol))
      .select(col("q.query_id").as("query_id"), col(idCol).as("neighbor_id"),
        (-aggregate(
          zip_with(col("codes"), col("q.dmat"),
            (c, darr) => element_at(darr, c.cast("int") + 1)),
          lit(0.0), (acc, x) => acc + x)).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    localTopK(scored, topK)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), (-col("sim")).as("adc_d2"),
        col("rank"))
  }

  /** Two-stage PQ search, the form that actually ships: ADC ranks a
    * `shortlist`-deep candidate set from the compressed codes (the only
    * full-corpus pass — on the 64×-smaller code table), then the
    * shortlist alone is re-ranked by EXACT L2 against the raw vectors.
    * High-dimensional distance concentration makes raw ADC@k a blunt
    * instrument (quantization error rivals the spread between true
    * neighbors), but it is an excellent FILTER: the exact refine then
    * spends O(queries·shortlist) full-vector reads instead of
    * O(queries·corpus). Recall is the shortlist's hit rate, priced by
    * the q155 audit.
    */
  def pqTopKRefined(
      corpus: DataFrame,
      queries: DataFrame,
      topK: Int,
      shortlist: Int = 100,
      m: Int = 4,
      k: Int = 16,
      iters: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val cand = pqTopK(corpus, queries, shortlist, m, k, iters, idCol, embCol)
      .select(col("query_id"), col("neighbor_id"))
    // candidate set is queries×shortlist rows — broadcast it onto the
    // corpus so the raw-vector fetch is one scan with no corpus shuffle
    val exact = corpus
      .select(col(idCol).as("neighbor_id"), col(embCol).as("n_emb"))
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        l2sq(col("q_embedding"), col("n_emb")).as("d2"))
    val w = Window.partitionBy("query_id").orderBy(col("d2").asc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "neighbor_id", "d2", "rank")
  }

  /** ±1 Johnson-Lindenstrauss projection masks: bit i of `jlMasks(j)` is
    * the sign of matrix entry (i, j) — 16 output dims over ≤64 input
    * dims from a pinned SplitMix64 stream (seed 4242). PINNED like the
    * hyperplane constants: the q182 oracle bakes these longs into its
    * SQL, so the stream must never drift. A ±1 (Achlioptas) matrix keeps
    * every projected coordinate a plain signed SUM of inputs — no
    * gaussian sampling, no scaling inside the fold — which is what
    * makes the projection bit-reproducible across engines.
    */
  val jlMasks: IndexedSeq[Long] = {
    var x = 4242L
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    IndexedSeq.fill(16)(next())
  }

  /** Signs of projection column `j` over `dim` inputs (+1.0 / −1.0). */
  def jlSigns(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i => if (((jlMasks(j) >>> i) & 1L) == 1L) 1.0 else -1.0)

  /** Sampled silhouette — the cluster-quality audit for [[kmeansLite]]/
    * [[semDedup]]: for each sampled vector, a = mean distance to its own
    * cluster's OTHER members, b = the best other-cluster mean, and
    * s = (b−a)/max(a,b) ∈ [−1, 1] (negative = probably mis-assigned;
    * singletons score 0 by convention). ARI (q194) needs ground-truth
    * labels; silhouette audits the geometry alone.
    *
    * Exactness: embeddings micro-quantize (round(1e6·x), the kmeansLite
    * convention), distances are round(sqrt(Σ Δ²)) — integer sums under
    * 2^53 and a correctly-rounded sqrt, so every a/b/s value is
    * bit-reproducible across engines and partitionings; the final s_bp
    * uses an explicit floor (b−a is signed). Scale shape: cost is
    * sample × corpus distances by construction — the SAMPLE is the knob
    * (the q136 contract: the estimate converges in sample size, not
    * corpus fraction); the sampled side broadcasts, per-(i, cluster)
    * sums combine map-side, nothing is ever corpus × corpus.
    */
  def silhouetteSampled(
      corpus: DataFrame,
      labels: DataFrame,
      samplePred: Column,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val q = (c: Column) =>
      transform(c, x => round(x.cast("double") * 1000000).cast("long"))
    val sids = corpus.filter(samplePred)
      .select(col(idCol).cast("long").as("__sid"))
    val all = corpus.join(labels, idCol)
      .select(col(idCol).cast("long").as("j"), q(col(embCol)).as("ej"),
        col("cluster").as("cj"))
      .localCheckpoint() // spine AND broadcast sample both read this
    val sample = all.join(sids, all("j") === sids("__sid"), "left_semi")
      .select(col("j").as("i"), col("ej").as("ei"), col("cj").as("ci"))
    val d = round(sqrt(aggregate(
      zip_with(col("ei"), col("ej"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x).cast("double"))).cast("long")
    val per = all.join(broadcast(sample), col("j") =!= col("i"))
      .select(col("i"), col("ci"), col("cj"), d.as("d"))
      .groupBy("i", "ci", "cj")
      .agg(sum("d").as("sd"), count(lit(1)).as("cnt"))
    per
      .select(col("i"), col("ci"),
        when(col("cj") === col("ci"), expr("sd div cnt")).as("a0"),
        when(col("cj") =!= col("ci"), expr("sd div cnt")).as("b0"))
      .groupBy(col("i").as(idCol), col("ci").as("cluster"))
      .agg(max("a0").as("a_micro"), min("b0").as("b_micro"))
      .withColumn("num", lit(10000L) * (col("b_micro") - col("a_micro")))
      .withColumn("den", greatest(col("a_micro"), col("b_micro")))
      .withColumn("s_bp",
        when(col("a_micro").isNull || col("b_micro").isNull ||
          col("den") === 0, lit(0L))
          .otherwise(expr("(num - pmod(num, den)) div den")))
      .drop("num", "den")
  }

  /** DBSCAN roles + clusters from a PRECOMPUTED eps-neighbor pair list
    * (Ester et al. KDD'96, decomposed for a distributed engine): the
    * quadratic part of DBSCAN is the neighbor search, and that is
    * exactly what the banded LSH candidate generators already bound —
    * so this takes `pairs` (undirected, each pair once, already
    * eps-filtered, e.g. from [[embeddingNearDups]]) and runs only the
    * label-assignment logic:
    *
    *  - core: |eps-neighbors| ≥ minPts − 1 (the standard ≥ minPts
    *    including the point itself)
    *  - cluster: connected components over CORE–CORE edges
    *    (Dedup.connectedComponents — star-contraction, O(log n) rounds),
    *    keep-min labels; an isolated core keeps its own id
    *  - border: non-core with ≥1 core neighbor → the MIN adjacent core's
    *    cluster (a deterministic tiebreak where classic DBSCAN is
    *    order-dependent)
    *  - noise: everything else, cluster = −1
    *
    * Scale: degree count and role joins are equi-joins on node-sized
    * tables; nothing here exceeds the pair list already paid for.
    * Returns (idCol, role ∈ core|border|noise, cluster).
    */
  def dbscanFromPairs(
      nodes: DataFrame,
      pairs: DataFrame,
      minPts: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(minPts >= 2, s"minPts must be >= 2, got $minPts")
    // pairs is typically an expensive lineage (LSH candidates + exact
    // verify); ed feeds FOUR consumers below (degrees, two core
    // semi-joins, border lookup) — without the pin each one re-runs the
    // whole near-dup pipeline (measured: q243 9–19 s → ~5 s at sf0.1)
    val ed = pairs.select(col("id_a").as("s"), col("id_b").as("d"))
      .union(pairs.select(col("id_b").as("s"), col("id_a").as("d")))
      .localCheckpoint()
    val deg = ed.groupBy("s").agg(count(lit(1)).as("deg"))
    val core = deg.filter(col("deg") >= minPts - 1).select(col("s").as("id"))
    val coreEdges = ed
      .join(core.withColumnRenamed("id", "s"), Seq("s"), "left_semi")
      .join(core.withColumnRenamed("id", "d"), Seq("d"), "left_semi")
      .select(col("s").as("id_a"), col("d").as("id_b"))
    val cc = graft.dedup.Dedup.connectedComponents(coreEdges)
    val coreCl = core.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
      .localCheckpoint() // read twice below (core join + border lookup)
    val border = ed
      .join(core.withColumnRenamed("id", "s"), Seq("s"), "left_anti")
      .join(coreCl.select(col("id").as("d"), col("cluster")), Seq("d"))
      .groupBy(col("s").as("id"))
      .agg(min("cluster").as("cluster"))
    nodes.select(col(idCol))
      .join(coreCl.select(col("id").as(idCol),
        col("cluster").as("c_cl")), Seq(idCol), "left")
      .join(border.select(col("id").as(idCol),
        col("cluster").as("b_cl")), Seq(idCol), "left")
      .select(col(idCol),
        when(col("c_cl").isNotNull, "core")
          .when(col("b_cl").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("c_cl"), col("b_cl"), lit(-1L)).as("cluster"))
  }
}
