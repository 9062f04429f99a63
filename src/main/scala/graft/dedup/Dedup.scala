package graft.dedup

import graft.textops.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, all expressed as
  * shuffle-lean DataFrame pipelines over built-in (codegen'd) functions:
  *
  *  - exact: hash-groupBy on content digest — one shuffle, partial agg.
  *  - MinHash + LSH: shingle → H independent min-hashes → band → bucket
  *    join. Candidate generation never compares all pairs: docs only meet
  *    inside an LSH bucket, so cost is Σ bucket² instead of n² — the only
  *    approach that survives 100 TB.
  *  - SimHash: 64-bit sign-of-weighted-sums sketch; near-dups differ in
  *    few bits; bucketing on bit-bands gives the same n²-avoidance.
  *  - n-gram Jaccard: exact verification stage for LSH candidates.
  *
  * Determinism: all hashing is xxhash64 (fixed seed), so results are
  * stable across runs/partitionings.
  */
object Dedup {

  // ---------- exact ----------

  /** Content-hash dedup groups: one row per distinct text, the kept
    * (minimum) id, and the duplicate count. At scale this is a single
    * hash-partitioned aggregation on the 32-byte digest, never on the
    * full text.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep-first exact dedup: drops all but the min-id copy of each text. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, idCol)
  }

  /** Chunk-level exact-substring dedup (ExactSubstr-style): fixed
    * `chunkTokens`-token chunks hashed with the portable 60-bit md5;
    * ownership rank `rn` = global first occurrence by (id, chunk index).
    * rn == 1 rows are the kept chunks. One shuffle on the chunk hash;
    * the ownership window reuses that same partitioning. Output columns:
    * (idCol, ci, h, rn). q73's oracle replays this chunking exactly.
    *
    * Scale caveat: the per-hash window SORTS each hash's occurrences on
    * one reducer — fine for ownership REPORTS, but a boilerplate chunk
    * repeated across a billion documents lands on a single task. When
    * only the kept/dropped verdict is needed (not ranks), use
    * [[dedupRewrite]]'s min-owner aggregate shape instead: it map-side
    * combines the hot hash to one row per partition.
    */
  def chunkOwnership(
      docs: DataFrame,
      chunkTokens: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.wsTokens(col(textCol))
    val chunks = docs
      .select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0),
          ceil(size(col("toks")) / chunkTokens.toDouble).cast("int") - 1)).as("ci"))
      .select(col(idCol), col("ci"),
        TextAnalysis.md5Long(
          concat_ws(" ",
            slice(col("toks"), col("ci") * chunkTokens + 1, lit(chunkTokens)))).as("h"))
    chunks.withColumn("rn",
      row_number().over(Window.partitionBy("h").orderBy(idCol, "ci")))
  }

  // ---------- MinHash + LSH ----------

  /** MinHash signature: for each of `numHashes` permutation stand-ins,
    * the min over the doc's `k`-token shingles. Computed by the native
    * fused graft_minhash expression (tokens → shingle bytes → one hash →
    * affine mixes → running minima): no shingle materialization, no
    * explode, NO SHUFFLE — the signature job is scan-bound at any scale.
    */
  def minHashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      numHashes: Int = 64): DataFrame =
    docs.select(col(idCol),
      graft.functions.MinHashFunctions.graftMinHash(
        TextAnalysis.wsTokens(col(textCol)), k, numHashes).as("sig"))

  /** LSH candidate pairs: split the signature into `bands` bands of
    * H/bands rows; docs sharing any band-hash land in one bucket and form
    * candidate pairs (a < b). Pair emission is bounded per bucket — a
    * giant bucket (degenerate shingles) would explode quadratically, so
    * buckets above `maxBucket` are dropped (logged upstream if needed) —
    * the standard skew guard at scale.
    */
  def lshCandidates(
      signatures: DataFrame,
      idCol: String = "doc_id",
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame =
    lshCandidatePairs(signatures, idCol, bands, maxBucket)

  /** Distinct candidate pairs from band buckets, KEYS ONLY: the
    * (band, bucket) exchange carries (id, band, bucket) rows — ~24 B per
    * banded row — never the signatures. Carrying the H-long signature
    * through every band row (the pre-round-8 shape) shuffles
    * bands × H × 8 bytes per doc (32 bands × 96 longs ≈ 24 KB/doc, ~30×
    * the payload of the doc ids) just so the estimate stage can avoid a
    * join; at corpus scale that is the dominant shuffle of the whole
    * near-dup pipeline. Shuffling the keys and re-attaching signatures
    * to the (small) candidate-pair set afterwards moves ~30× fewer
    * bytes (guide §2.3 "shuffle keys and metadata instead of payloads").
    * Multi-band collisions collapse in the `distinct` here, on bare id
    * pairs — the cheapest possible point.
    */
  def lshCandidatePairs(
      signatures: DataFrame,
      idCol: String = "doc_id",
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    val banded = bandBuckets(signatures, idCol, bands)
      .select(col(idCol).as("id"), col("band"), col("bucket"))
    // ONE shuffle: gather each bucket's member ids, expand pairs
    // in-bucket. maxBucket bounds the holistic member list AND the
    // quadratic pair expansion — the skew guard for degenerate buckets.
    val buckets = banded.groupBy("band", "bucket")
      .agg(collect_list(col("id")).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    val pairsCol = flatten(transform(col("members"), (x, i) =>
      transform(slice(col("members"), i + 2, size(col("members"))),
        y => struct(least(x, y).as("id_a"), greatest(x, y).as("id_b")))))
    buckets
      .select(explode(pairsCol).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** Candidate pairs CARRYING both signatures — [[lshCandidatePairs]]
    * with the signatures attached back by two id-joins. NOTE: references
    * `signatures` three times (banding + both attach sides); callers for
    * whom the signature map is expensive must pass a MATERIALIZED frame
    * (NearDupStream checkpoints its batch signatures).
    * Emits each candidate pair ONCE (pre-round-8 this emitted one row
    * per colliding band; all consumers treat the output as a set).
    */
  /** (id, sig, band, bucket) rows — one per signature band. The bucket
    * key is xxhash64 over (band, rotl-xor fold of the band's signature
    * rows): all numeric, no per-row string assembly (concat of H longs
    * per doc was measurable at scale). Shift/xor only: safe under ANSI
    * overflow checking; a fold collision just adds a candidate pair that
    * downstream estimation/verification discards. Shared by the batch
    * LSH join and the streaming bucket store (NearDupStream).
    */
  def bandBuckets(
      signatures: DataFrame,
      idCol: String = "doc_id",
      bands: Int = 16): DataFrame =
    signatures.select(
      col(idCol), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => {
          val rows = size(col("sig")) / bands
          val folded = aggregate(
            slice(col("sig"), b * rows + 1, rows), lit(-7046029254386353131L),
            (acc, x) => shiftleft(acc, 21).bitwiseOR(shiftrightunsigned(acc, 43))
              .bitwiseXOR(xxhash64(x)))
          xxhash64(lit("band"), b, folded)
        }))
        .as(Seq("band", "bucket")))

  def lshCandidatesWithSigs(
      signatures: DataFrame,
      idCol: String = "doc_id",
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame =
    lshCandidatePairs(signatures, idCol, bands, maxBucket)
      .join(signatures.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(signatures.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .select("id_a", "id_b", "sig_a", "sig_b")

  /** Exact n-gram Jaccard for (id_a, id_b) candidate pairs: each side's
    * distinct shingle set is attached by join, then |∩|/|∪| is a per-row
    * codegen'd array_intersect — no shingle explode, no per-shingle
    * shuffle, no re-grouping. Only docs that appear in a pair pay the
    * shingle computation (semi-join prune): at scale |pairs| ≪ |corpus|,
    * so the two id-joins shuffle candidate neighborhoods only.
    *
    * Shingles are intersected as their portable 60-bit md5 hashes, not
    * strings: the arrays the pair join replicates shrink ~10× (8-byte
    * longs vs ~25-char strings) and the per-pair intersect compares
    * longs — this was the dominant cost of the whole near-dup pipeline
    * at sf0.1. Exactness vs the oracle is preserved because the oracle
    * replays the identical hash: even a (≈1e-12 per pair) collision
    * merges the same two shingles on both engines.
    */
  def ngramJaccard(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3): DataFrame = {
    val ids = pairs.select(explode(array(col("id_a"), col("id_b"))).as("pid")).distinct()
    // localCheckpoint: both attach joins reference this table — without
    // materialization the md5 scan runs twice. Size is bounded by the
    // semi-join prune (docs that appear in a pair), which at scale is
    // ≪ corpus by the candidate-generation contract.
    val sh = docs.join(ids, col(idCol) === col("pid"), "left_semi")
      .select(col(idCol).as("id"),
        graft.functions.GramHashFunctions.graftGramMd5(
          TextAnalysis.wsTokens(col(textCol)), k, distinct = true).as("sh"))
      .localCheckpoint()
    ngramJaccardOnSets(sh, pairs)
  }

  /** [[ngramJaccard]] over a PRECOMPUTED (id, sh) hashed-shingle table —
    * for callers that already materialized the sets (the prefix-filter
    * join), so the md5 scan isn't paid again per verify side.
    */
  def ngramJaccardOnSets(shSets: DataFrame, pairs: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    pairs
      .join(shSets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shSets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", inter)
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"), 4))
      .select("id_a", "id_b", "jaccard")
  }

  /** Signature-estimated Jaccard for candidate pairs: fraction of equal
    * MinHash components — a per-pair zip (no shingle explode), used to
    * discard far-below-threshold candidates before the expensive exact
    * verification join. Estimator std ≈ sqrt(j(1-j)/H).
    */
  def estimateJaccard(
      pairsWithSigs: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    pairsWithSigs
      .withColumn("est_jaccard", sigEstimate(col("sig_a"), col("sig_b")))
      .select("id_a", "id_b", "est_jaccard")

  /** The MinHash Jaccard estimator as a column: fraction of equal
    * signature components — one spelling shared by [[estimateJaccard]]
    * and the fused verify stages so the pre-filter semantics cannot
    * drift between paths.
    */
  private[graft] def sigEstimate(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB,
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") /
      size(sigA).cast("double")

  /** MinHash near-dup pipeline: LSH candidates → signature-estimate
    * pre-filter (5σ margin below threshold) → exact n-gram Jaccard.
    * The pre-filter keeps the verify join small when the corpus has many
    * moderately-similar pairs (the common case in web-scale text): only
    * near-threshold candidates pay for the shingle join.
    *
    * Recall budget (what makes the output deterministic enough to gate
    * on): with H=96 hashes in 32 bands of 3 rows, a true pair at j=0.7
    * misses every band with prob (1-0.7³)³² ≈ 1.4e-6, and the 5σ estimate
    * margin loses it with prob ≈ 3e-7 — so even a corpus with hundreds of
    * exactly-at-threshold pairs reproduces the exact brute-force answer
    * with ≥ 99.9% probability per run (at j ≥ 0.9 the miss probability is
    * ~1e-18, i.e. bit-deterministic). Banding cost scales linearly in H;
    * rows=3 keeps random low-j collisions negligible (p ≈ j³ per band).
    */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 96,
      bands: Int = 32): DataFrame = {
    // Candidate generation is KEYS-ONLY (lshCandidatePairs): the banded
    // exchange never carries signatures, so the corpus-wide shuffle is
    // (id, band, bucket) rows. The signature map itself is scan-bound
    // and recomputed lazily where needed (recomputing beats persist() at
    // sf0.1 — cache materialization barrier + churn cost more than the
    // extra map-side pass — and at scale it avoids a corpus-sized
    // materialization entirely).
    val sigs = minHashSignatures(docs, idCol, textCol, k, numHashes)
    // localCheckpoint: the pair set is referenced twice below (the
    // participant prune and the attach join) — without materialization
    // the whole sig→band→bucket pipeline would execute twice. The
    // checkpointed set is small by construction.
    val pairs = lshCandidatePairs(sigs, idCol, bands).localCheckpoint()
    val ids = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("pid")).distinct()
    // ONE participant-only pass computes BOTH per-doc features — the
    // MinHash signature (estimate pre-filter) and the hashed shingle set
    // (exact verify). Docs that appear in a candidate pair are ≪ corpus
    // by the candidate-generation contract, so the expensive per-doc
    // feature computation is semi-join-pruned AND paid once (pre-round-8
    // the estimate and verify stages each ran their own feature pass).
    val feats = docs.join(ids, col(idCol) === col("pid"), "left_semi")
      .select(col(idCol).as("id"),
        graft.functions.MinHashFunctions.graftMinHash(
          TextAnalysis.wsTokens(col(textCol)), k, numHashes).as("sig"),
        graft.functions.GramHashFunctions.graftGramMd5(
          TextAnalysis.wsTokens(col(textCol)), k, distinct = true).as("sh"))
      .localCheckpoint()
    val margin = 5.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    // Fused estimate + verify: the signature pre-filter runs as a cheap
    // zip over the attached sigs; only surviving rows pay the shingle
    // intersect. Same output set as the former two-stage pipeline
    // (est ≥ t−margin AND jaccard ≥ t), one attach join instead of two.
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    pairs
      .join(feats.select(col("id").as("id_a"),
        col("sig").as("sig_a"), col("sh").as("sh_a")), "id_a")
      .join(feats.select(col("id").as("id_b"),
        col("sig").as("sig_b"), col("sh").as("sh_b")), "id_b")
      .filter(sigEstimate(col("sig_a"), col("sig_b")) >= threshold - margin)
      .withColumn("inter", inter)
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus near-dup join: every (left, right) pair with n-gram
    * Jaccard ≥ threshold — the FUZZY decontamination primitive. Exact
    * n-gram decontamination (shared 5-grams against a broadcast eval
    * dictionary) misses an eval item that was lightly paraphrased into
    * the training corpus; this catches any rewrite that keeps ≥ t of the
    * shingle set, at LSH cost instead of |L|×|R|.
    *
    * Same machinery as [[nearDupPairs]] — MinHash signatures, banded
    * buckets, estimate pre-filter, exact hashed-shingle verify — but the
    * two sides bucket independently and only CROSS pairs are emitted
    * (no in-corpus pairs from either side). One shuffle per side into
    * the (band, bucket) join; per-bucket expansion is |L_b|×|R_b|,
    * bounded by maxBucket² via the same skew guard as the self-join
    * (both sides' over-full buckets drop — recall-for-boundedness, the
    * guarded trade every production LSH join makes). The id spaces of
    * the two corpora are independent (outputs are (id_a from left,
    * id_b from right) — equal ids on both sides never collide because
    * the sides are never unioned).
    *
    * Recall budget: identical to [[nearDupPairs]] — the band-collision
    * probability depends only on (numHashes, bands, j), not on which
    * corpus each side of a pair came from.
    */
  def crossNearDupPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 96,
      bands: Int = 32,
      maxBucket: Int = 1000): DataFrame = {
    // keys-only per-side bucket gathering (same §2.3 trade as
    // lshCandidatePairs): the (band, bucket) join exchanges one id-list
    // row per non-empty bucket, never the signatures
    def bucketed(side: DataFrame, out: String): DataFrame =
      bandBuckets(minHashSignatures(side, idCol, textCol, k, numHashes),
        idCol, bands)
        .select(col(idCol), col("band"), col("bucket"))
        .groupBy("band", "bucket")
        .agg(collect_list(col(idCol)).as(out))
        .filter(size(col(out)).between(1, maxBucket))
    // localCheckpoint: the cross-pair set is referenced three times
    // below (two per-side participant prunes + the attach join)
    val pairs = bucketed(left, "ml").join(bucketed(right, "mr"),
        Seq("band", "bucket"))
      .select(explode(flatten(transform(col("ml"), x =>
        transform(col("mr"), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
      .localCheckpoint()
    val margin = 5.0 * math.sqrt(threshold * (1 - threshold) / numHashes)
    // per-side participant features — signature AND hashed-shingle set
    // in ONE pruned pass per side (ngramJaccard's single-table attach
    // can't serve here: the two id spaces may overlap without naming
    // the same document)
    def feats(side: DataFrame, pairCol: String): DataFrame =
      side.join(pairs.select(col(pairCol).as("pid")).distinct(),
          col(idCol) === col("pid"), "left_semi")
        .select(col(idCol).as(pairCol),
          graft.functions.MinHashFunctions.graftMinHash(
            TextAnalysis.wsTokens(col(textCol)), k, numHashes)
            .as(s"sig_$pairCol"),
          graft.functions.GramHashFunctions.graftGramMd5(
            TextAnalysis.wsTokens(col(textCol)), k, distinct = true)
            .as(s"sh_$pairCol"))
    val inter = size(array_intersect(col("sh_id_a"), col("sh_id_b")))
    pairs
      .join(feats(left, "id_a"), "id_a")
      .join(feats(right, "id_b"), "id_b")
      .filter(sigEstimate(col("sig_id_a"), col("sig_id_b")) >=
        threshold - margin)
      .withColumn("inter", inter)
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sh_id_a")) + size(col("sh_id_b")) - col("inter"))
            .cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------- exact similarity self-join (prefix filtering) ----------

  /** EXACT all-pairs Jaccard similarity self-join via prefix filtering
    * (the AllPairs/PPJoin family of algorithms): same output contract as
    * [[nearDupPairs]] but with no LSH and hence NO recall budget — every
    * pair at (rounded) jaccard ≥ t is guaranteed present.
    *
    * How it avoids n²: order every doc's distinct k-shingles by ascending
    * global document frequency (ties broken on the shingle value — a
    * total order shared by all docs), and index only the PREFIX of the
    * `|s| - ⌈t·|s|⌉ + 1` rarest shingles. A pair with J(x,y) ≥ t has
    * overlap ≥ ⌈t·max(|x|,|y|)⌉, and two sets whose overlap is ≥ α must
    * share an element within their first `|s| - α + 1` elements of the
    * common order (pigeonhole), so prefix collisions generate ALL true
    * pairs. A globally-frequent shingle enters a doc's prefix only when
    * everything else in that doc is even more frequent, so the inverted
    * index — and the Σ bucket² pair expansion — tracks rare-shingle
    * collision structure instead of hot-shingle buckets.
    *
    * Candidates then pass the length filter (J ≤ min/max, so
    * min ≥ t·max or the pair can't reach t) before the exact
    * intersection verify. All bounds use `t - 1e-4` because the output
    * contract compares the 4-decimal ROUNDED jaccard (a true j of
    * t - 0.00004 rounds up into the answer set and must not be pruned).
    *
    * Degenerate corpora (thousands of identical docs) produce quadratic
    * OUTPUT — every pair really is a near-dup — so unlike the LSH paths
    * there is no maxBucket guard to trade recall for skew; the answer
    * itself is the bound. Run [[exactDedup]] first when that's a concern.
    */
  def prefixFilterNearDups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val te = threshold - 1e-4 // rounded-contract safety margin
    // 60-bit hashed shingles throughout — same representation the verify
    // stage intersects, and (df, hash) is as good a canonical total order
    // as (df, string) for the prefix lemma. localCheckpoint: FIVE
    // consumers (df count, rarity join, bucket index, both verify sides)
    // would otherwise recompute the md5 scan — the single most expensive
    // step — once each; the materialized table is (docs × H·8B) and
    // spills to disk, the standard persist-the-sets step every published
    // set-similarity-join implementation takes.
    val sh = docs
      .select(col(idCol).as("id"),
        graft.functions.GramHashFunctions.graftGramMd5(
          TextAnalysis.wsTokens(col(textCol)), k, distinct = true).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    val exploded = sh.select(col("id"), explode(col("sh")).as("g"))
    // global document frequency: the canonical rarity order (one agg)
    val freq = exploded.groupBy("g").agg(count(lit(1)).as("df"))
    // per doc: sort shingles by (df, shingle), keep the prefix — with
    // each kept shingle's 1-based POSITION in the doc's full order (the
    // PPJoin positional-filter input)
    val prefixes = exploded.join(freq, "g")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ordered"))
      .select(col("id"), size(col("ordered")).as("n"),
        transform(col("ordered"), x => x.getField("g")).as("sorted"))
      .select(col("id"), col("n"),
        posexplode(slice(col("sorted"), lit(1),
          (col("n") - ceil(col("n") * te).cast("int") + 1))).as(Seq("p0", "g")))
      .select(col("id"), col("n"), col("g"), (col("p0") + 1).as("p"))
    // ONE shuffle gathers each prefix-shingle's postings; pairs expand
    // in-bucket with the LENGTH filter (J ≤ min/max) and the PPJoin
    // POSITIONAL filter applied BEFORE materialization: a pair colliding
    // at positions (px, py) can overlap at most 1 + min(nx−px, ny−py)
    // shingles, and J ≥ t needs overlap ≥ t/(1+t)·(nx+ny) — collisions
    // that can't reach the bound never become candidates. A true pair is
    // never lost: its FIRST common prefix shingle always passes, and
    // distinct() keeps a pair if any collision survived.
    val buckets = prefixes.groupBy("g")
      .agg(collect_list(struct(col("id"), col("n"), col("p"))).as("members"))
      .filter(size(col("members")) >= 2)
    val alphaNeed = te / (1 + te)
    val pairsCol = flatten(transform(col("members"), (x, i) =>
      filter(
        transform(slice(col("members"), i + 2, size(col("members"))),
          y => struct(
            least(x.getField("id"), y.getField("id")).as("id_a"),
            greatest(x.getField("id"), y.getField("id")).as("id_b"),
            least(x.getField("n"), y.getField("n")).as("nmin"),
            greatest(x.getField("n"), y.getField("n")).as("nmax"),
            (lit(1) + least(x.getField("n") - x.getField("p"),
              y.getField("n") - y.getField("p"))).as("ubound"))),
        p => p.getField("nmin").cast("double") >= p.getField("nmax") * te
          && p.getField("ubound").cast("double") >=
            (p.getField("nmin") + p.getField("nmax")) * alphaNeed)))
    // localCheckpoint: the verify stage references the pair set twice
    // (both attach joins) — same cut as nearDupPairs
    val cands = buckets
      .select(explode(pairsCol).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
      .localCheckpoint()
    ngramJaccardOnSets(sh, cands)
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT all-pairs WEIGHTED (multiset) jaccard join — every pair with
    * Σ min(cntA, cntB) / Σ max(cntA, cntB) ≥ `tauBp`/10000 over
    * whitespace-token COUNTS. The bag-semantics companion to
    * [[prefixFilterNearDups]] (V-SMART-Join / weighted-AllPairs family):
    * set jaccard can't see that a doc repeating one token 100× is very
    * unlike one mentioning it once; q97 scores KNOWN pairs, this one
    * FINDS the pairs.
    *
    * Same three exact filters as the set form, weight-generalized:
    *  - length: J ≤ min(Wa,Wb)/max(Wa,Wb), so 10⁴·Wmin ≥ tauBp·Wmax;
    *  - prefix: with the length filter in force the required overlap is
    *    ≥ τ·Wa, so a qualifying pair's FIRST shared token (canonical
    *    (df, token) order) must sit where the remaining tail weight is
    *    still ≥ τ·Wa — only those head positions are indexed;
    *  - positional: at a collision the overlap is bounded by the SMALLER
    *    remaining tail weight, and (10⁴+tauBp)·bound ≥ tauBp·(Wa+Wb)
    *    must still be reachable, or the collision never becomes a
    *    candidate.
    * Verify is the q97 map_zip_with Σ min in exact longs. One shuffle
    * gathers prefix postings; pair fan-out is Σ (prefix-df)², never
    * docs². Output: (id_a, id_b, inter_w, wa, wb, jw_bp).
    */
  def weightedJaccardJoin(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tauBp: Int = 6000): DataFrame = {
    // hashed-token counts: (id, t, c) with one row per DISTINCT token,
    // plus each doc's total weight W = Σ c (token multiplicity mass)
    val tokc = docs
      .select(col(idCol).as("id"),
        explode(TextAnalysis.wsTokens(col(textCol))).as("tok"))
      .groupBy(col("id"), TextAnalysis.md5Long(col("tok")).as("t"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // df count, prefix build, and both verify sides
    val w = tokc.groupBy("id").agg(sum("c").as("wt"))
    val freq = tokc.groupBy("t").agg(count(lit(1)).as("df"))
    // per doc: canonical (df, t) order with a LINEAR running weight —
    // one distributed global prefix sum over (id, df, t) order plus a
    // per-doc offset (the q162/q175 grouped-rank trick; a per-position
    // slice-fold would be O(tokens²) per doc). Index only the head
    // positions whose tail weight (incl. the token) still reaches the
    // τ·W floor a qualifying pair needs.
    val ordered = tokc.join(freq, "t")
    val cum = graft.operators.Scale.prefixSumLongBy(
      ordered, Seq("id", "df", "t"), "c", "cum")
    val offs = cum.groupBy("id").agg(min(col("cum") - col("c")).as("off"))
    val prefixes = cum.join(offs, "id").join(w, "id")
      // tail(p) = wt − cumBefore(p), cumBefore = cum − c − off
      .select(col("id"), col("wt"), col("t"),
        (col("wt") - (col("cum") - col("c") - col("off"))).as("tail"))
      .filter(col("tail") * 10000L >= col("wt") * tauBp)
    val buckets = prefixes.groupBy("t")
      .agg(collect_list(struct(col("id"), col("wt"), col("tail"))).as("ms"))
      .filter(size(col("ms")) >= 2)
    val pairsCol = flatten(transform(col("ms"), (x, i) =>
      filter(
        transform(slice(col("ms"), i + 2, size(col("ms"))),
          y => struct(
            least(x.getField("id"), y.getField("id")).as("id_a"),
            greatest(x.getField("id"), y.getField("id")).as("id_b"),
            least(x.getField("wt"), y.getField("wt")).as("wmin"),
            greatest(x.getField("wt"), y.getField("wt")).as("wmax"),
            least(x.getField("tail"), y.getField("tail")).as("ub"))),
        p => p.getField("wmin") * 10000L >= p.getField("wmax") * tauBp
          && p.getField("ub") * (10000L + tauBp) >=
            (p.getField("wmin") + p.getField("wmax")) * tauBp)))
    val cands = buckets
      .select(explode(pairsCol).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
      .localCheckpoint() // both verify attach joins read this
    // exact verify: Σ min over the token-count maps (q97's scorer)
    val maps = tokc.groupBy("id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("t"), col("c"))))).as("m"))
      .join(w, "id")
    val attach = cands
      .join(maps.select(col("id").as("id_a"), col("m").as("ma"),
        col("wt").as("wa")), "id_a")
      .join(maps.select(col("id").as("id_b"), col("m").as("mb"),
        col("wt").as("wb")), "id_b")
    attach
      .withColumn("inter_w", expr(
        """aggregate(map_values(map_zip_with(ma, mb,
          |  (k, a, b) -> least(coalesce(a, 0L), coalesce(b, 0L)))),
          |  0L, (acc, x) -> acc + x)""".stripMargin))
      .select(col("id_a"), col("id_b"), col("inter_w"),
        col("wa"), col("wb"),
        expr("inter_w * 10000 div (wa + wb - inter_w)").as("jw_bp"))
      .filter(col("jw_bp") >= tauBp)
  }

  // ---------- cluster resolution (transitive closure) ----------

  /** Connected components over near-dup pairs: alternating large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Near-duplicate similarity is
    * not transitive, so production dedup groups pairs into components
    * and keeps one representative per component — this is that step.
    *
    * Why star contraction and not 1-hop min-label propagation: label
    * propagation needs DIAMETER rounds, and a pathological chain-shaped
    * dup cluster (serial edits, boilerplate drift) at corpus scale can
    * have diameter in the thousands. The star operations shortcut
    * pointers every round, so the round count is O(log n) no matter the
    * topology — a diameter-50 path converges in ~6 rounds (GraphSpec
    * would fail on the propagation form at maxIter 12).
    *
    * Per round: large-star hangs every node's LARGER neighbors off the
    * minimum of its closed neighborhood; small-star then hangs the
    * SMALLER neighbors (and the node) off that minimum. Both are one
    * keyed agg + one join over the current edge set — linear shuffles,
    * no neighborhood materialized in memory. The fixpoint is the star
    * forest: every non-root points directly at its component's min id.
    *
    * Convergence = the edge set is a star forest, the exact common
    * fixpoint of both passes (Kiveris et al. §3): every node is either
    * a pure root or a child holding exactly ONE parent that is itself
    * a root. That is TWO conditions — (i) no node is both a child
    * (src) and a parent (dst), and (ii) no child holds two distinct
    * parents. Condition (i) alone is NOT a valid fixpoint check:
    * {(3→1),(3→2)} has disjoint src/dst sets yet node 3 holds two
    * parents and components {1},{2} are still unmerged — exactly the
    * shape non-transitive near-dup pairs produce (A~C, B~C, A≁B); the
    * DedupSpec "shared child" test pins it. Both conditions fold into
    * ONE map-side-combinable groupBy over the edge union — one
    * exchange per probe, not the distinct+semi-join it replaced.
    * Hitting the cap fails loudly: silently-split clusters make a
    * wrongly "deduplicated" corpus. `localCheckpoint` per round
    * truncates the branching lineage (each round reads the previous
    * edge set thrice). Deterministic: min-based, so the same labels
    * fall out on any partitioning.
    *
    * Returns (id, cluster) where cluster = min id in the component.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // checkpoint input pairs once: the upstream lineage (LSH + exact
    // verify) must not re-execute per round
    val input = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    // directed child → parent: every edge points at its smaller endpoint
    var g = input
      .filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .distinct()
      .localCheckpoint()

    // large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
    // Output stays child → parent (v > u ≥ m; never a self-loop).
    // NO terminal distinct: each row of n emits at most one (v, m) and
    // the dst>src filter keeps one orientation, so output rows ≤ input
    // edge rows by construction — no growth to bound. Duplicate (v, m)
    // rows are invisible to smallStar (min over dups = min) and die in
    // its terminal distinct, so deduping here bought nothing but a full
    // extra exchange per round (guide §2.4: a `distinct` on data whose
    // consumer tolerates duplicates is an accidental shuffle).
    def largeStar(e: DataFrame): DataFrame = {
      val n = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = n.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      n.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    }
    // small-star(u) on the directed graph (all out-neighbors < u):
    // m = min(Γ(u)); emit (v, m) for v ∈ Γ(u) ∪ {u}, v ≠ m.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("src").agg(min("dst").as("m"))
      e.join(m, "src")
        .select(explode(array(
          struct(col("src").as("s"), col("m").as("d")),
          struct(col("dst").as("s"), col("m").as("d")))).as("x"))
        .select(col("x.s").as("src"), col("x.d").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // star-forest fixpoint test: group the edge union by node — a
    // node seen from the src side (s=1) is a child, from the dst side
    // (s=0) a parent; `d` carries the parent ids. Violations: child
    // AND parent (mn≠mx), or a child with TWO DISTINCT parents, spelt
    // min(d)≠max(d) rather than countDistinct (which Spark plans as a
    // second aggregate phase — min/max keep the whole probe ONE
    // map-side-combinable exchange). Pure-dst groups carry d = the
    // node itself (constant, so mind=maxd); mixed groups may corrupt
    // the d range but are already caught by mn≠mx.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("src").as("node"), lit(1).as("s"), col("dst").as("d"))
        .union(e.select(col("dst").as("node"), lit(0).as("s"),
          col("dst").as("d")))
        .groupBy("node")
        .agg(min("s").as("mn"), max("s").as("mx"),
          min("d").as("mind"), max("d").as("maxd"))
        .filter(col("mn") =!= col("mx") ||
          (col("mx") === 1 && col("mind") =!= col("maxd")))
        .isEmpty
    // No pre-loop probe (that was one isEmpty job + one star-forest job
    // per execution): a star forest is a FIXPOINT of the composed round
    // — largeStar re-emits each child→root edge unchanged (the root is
    // its own closed-neighborhood min at src>dst invariant) and
    // smallStar relabels children to that same root — and the empty set
    // trivially so. Running the first round unconditionally therefore
    // returns the identical edge set on already-converged input, and
    // the common case (real work to do) saves two scheduler round-trips.
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(g)).localCheckpoint()
      g.unpersist(blocking = false)
      g = next
      i += 1
      converged = isStarForest(g)
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds " +
        "(star contraction needs ~log2(n) — raise maxIter or inspect the " +
        "edge set for adversarial growth)")
    // fixpoint is a star forest: every dst is a component root. Roots
    // label themselves; nodes only ever seen in self-pairs label
    // themselves too (the union keeps the old contract: every id that
    // appears in `pairs` gets a label).
    input
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
      .join(g.select(col("src").as("id"), col("dst").as("root")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster"))
  }

  /** Keep-one-per-cluster dedup: drops every doc whose component
    * representative (min id) is a different doc. Docs in no pair are
    * their own component and survive.
    */
  def dedupByClusters(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("__loser"))
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** Golden-record survivorship merge — the MDM/entity-resolution step
    * AFTER clustering: [[dedupByClusters]] keeps one arbitrary-rule
    * winner per near-dup component, but a curation pipeline often wants
    * a field-wise MERGE of the cluster instead (keep the longest text,
    * the modal source, the breadth stats). One row per multi-member
    * cluster with:
    *   - `rep_id`: smallest member id (the stable cluster key),
    *   - `src_mode`: most frequent `sourceCol` value, ties to the
    *     lexicographically smallest (min(struct(-cnt, src)) — the LPA
    *     tie-break idiom, deterministic on any partitioning),
    *   - `golden_text_id`/`golden_text_chars`: the member with the
    *     longest `textCol` (ties to the smallest id),
    *   - `n_members`/`n_sources`/`total_chars`.
    *
    * Scale shape: components come from [[connectedComponents]] (label
    * propagation, no quadratic step); everything after is two keyed aggs
    * on (cluster) and (cluster, source) — map-side combinable, never
    * wider than the member table. Texts never shuffle: only their
    * lengths ride the agg (the winner's id is returned, not its body).
    */
  def goldenRecords(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val cc = connectedComponents(pairs)
      .select(col("id").as(idCol), col("cluster").as("cluster_id"))
    val members = docs
      .select(col(idCol), length(col(textCol)).cast("long").as("tc"),
        col(sourceCol).as("__src"))
      .join(cc, idCol) // inner: only docs that are in some pair
    val perCluster = members.groupBy("cluster_id").agg(
      count(lit(1)).as("n_members"),
      min(col(idCol)).as("rep_id"),
      countDistinct(col("__src")).as("n_sources"),
      sum("tc").as("total_chars"),
      max(struct(col("tc"), (-col(idCol)).as("nid"))).as("gw"))
    val srcMode = members
      .groupBy("cluster_id", "__src").agg(count(lit(1)).as("cnt"))
      .groupBy("cluster_id")
      .agg(min(struct((-col("cnt")).as("nc"), col("__src"))).as("sm"))
      .select(col("cluster_id"), col("sm.__src").as("src_mode"))
    perCluster.join(srcMode, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("rep_id"),
        col("src_mode"), col("n_sources"),
        (-col("gw.nid")).as("golden_text_id"),
        col("gw.tc").as("golden_text_chars"),
        col("total_chars"))
  }

  // ---------- SimHash ----------

  /** SimHash bit width and band layout (4 bands of 15 bits over a 60-bit
    * sketch). 60 bits because the per-token hash is the engine-portable
    * md5-60bit (TextAnalysis.md5Long), which makes sketches verifiable
    * bit-for-bit against any engine with md5 (the DuckDB oracle does).
    */
  val SimHashBits  = 60
  val SimHashBands = 4
  val SimHashBandWidth: Int = SimHashBits / SimHashBands

  /** SimHash: per token-hash bit, majority vote (+1/-1 per occurrence)
    * across the doc's tokens; the sign vector packed into a long.
    * Near-dup docs differ in few bits. Computed by the native
    * `graft_simhash` expression — ONE pass per document (md5 each token
    * once, update 60 counters, full codegen), so the sketch job is a
    * narrow map over the scan: NO explode, NO shuffle, no intermediate
    * arrays. See [[simHashComposed]] for the builtin-composed reference
    * form the expression is spec-equated against.
    */
  def simHash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.SimHashFunctions.graftSimHash(
        TextAnalysis.wsTokens(col(textCol))).as("simhash"))

  /** Composed-builtin reference form of [[simHash]] (60 filter+size
    * traversals per doc vs the native expression's single pass) — kept
    * as the cross-check the SimHashExpressionSpec equates bit-for-bit.
    */
  def simHashComposed(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lh = transform(TextAnalysis.wsTokens(col(textCol)),
      t => TextAnalysis.md5Long(t))
    val hashed = docs.select(col(idCol), lh.as("lh"))
    val packed = (0 until SimHashBits).map(b =>
      // bit b set iff set-bit occurrences outnumber clear: 2·|set| > |all|
      when(size(filter(col("lh"),
          h => shiftright(h, b).bitwiseAND(1) === 1)) * 2 > size(col("lh")),
        shiftleft(lit(1L), b)).otherwise(0L))
      .reduce((x, y) => x.bitwiseOR(y))
    hashed.select(col(idCol), packed.as("simhash"))
  }

  /** Hamming distance between two packed 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: docs whose sketches agree on one of four
    * 15-bit bands are candidates (≤ maxDist differing bits verified
    * exactly). Same collect-members shape as [[lshCandidatesWithSigs]]:
    * ONE shuffle gathers each (band, bucket)'s members, and buckets above
    * `maxBucket` are dropped — the skew guard that keeps a degenerate
    * corpus (e.g. near-empty docs all sketching to the same band values)
    * from expanding O(n²) pairs in a hot bucket, at the documented cost
    * of recall inside dropped buckets only. Pairs colliding in several
    * bands are deduplicated BEFORE the hamming distance is scored.
    *
    * Note the output contract includes the band condition: a pair at
    * distance ≤ maxDist whose differing bits spread across all 4 bands is
    * (by design) not a candidate — with maxDist < 4 the pigeonhole
    * guarantees no misses.
    */
  /** Per-band LSH bucket-occupancy diagnostics: how full the (band,
    * bucket) cells are, and what the `maxBucket` skew guard would drop —
    * the observability counterpart of the guard itself. Every capped
    * operator in this library trades recall inside over-full buckets for
    * bounded fan-out; this report makes that trade measurable instead of
    * silent (run it before picking `maxBucket`, the same way
    * q100_skew_report sizes salting). Per band: pair-generating buckets
    * (≥2 members), the largest bucket, buckets over the cap, candidate
    * pairs Σ n·(n−1)/2, and the pairs surviving the cap. One shuffle on
    * (band, bucket) then a 4-row aggregate — all-integer, oracle-exact.
    */
  def simHashBucketStats(
      sketches: DataFrame,
      idCol: String = "doc_id",
      maxBucket: Int = 1000): DataFrame = {
    val bandMask = (1L << SimHashBandWidth) - 1
    val banded = sketches.select(col(idCol),
      posexplode(array((0 until SimHashBands).map(i =>
        shiftright(col("simhash"), i * SimHashBandWidth).bitwiseAND(bandMask)): _*))
        .as(Seq("band", "bucket")))
    bucketOccupancyStats(banded, maxBucket)
  }

  /** [[simHashBucketStats]] for the MinHash-LSH path: occupancy of the
    * [[bandBuckets]] cells feeding [[lshCandidates]]. Rows-only checked
    * (the xxhash64 bucket keys have no DuckDB spelling), but the stats
    * core is the same oracle-verified aggregation as q101/q102.
    */
  def minHashBucketStats(
      signatures: DataFrame,
      idCol: String = "doc_id",
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame =
    bucketOccupancyStats(
      bandBuckets(signatures, idCol, bands).select("band", "bucket"), maxBucket)

  /** The occupancy aggregation behind [[simHashBucketStats]],
    * [[minHashBucketStats]] and `Similarity.embeddingBucketStats`: per
    * band, pair-generating buckets, the largest bucket, buckets over
    * the cap, and candidate pairs before/after the cap — over any
    * (band, bucket)-exploded frame.
    */
  private[graft] def bucketOccupancyStats(
      banded: DataFrame, maxBucket: Int): DataFrame =
    banded.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        max("n").as("max_bucket"),
        sum(when(col("n") > maxBucket, 1L).otherwise(0L)).as("n_dropped"),
        sum(expr("n * (n - 1) div 2")).as("pairs_total"),
        sum(when(col("n") <= maxBucket, expr("n * (n - 1) div 2"))
          .otherwise(0L)).as("pairs_within_cap"))
      .orderBy("band")

  def simHashNearDups(
      sketches: DataFrame,
      idCol: String = "doc_id",
      maxDist: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val bandMask = (1L << SimHashBandWidth) - 1
    val banded = sketches.select(col(idCol), col("simhash"),
      posexplode(array((0 until SimHashBands).map(i =>
        shiftright(col("simhash"), i * SimHashBandWidth).bitwiseAND(bandMask)): _*))
        .as(Seq("band", "bucket")))
    val buckets = banded.groupBy("band", "bucket")
      .agg(collect_list(struct(col(idCol).as("id"), col("simhash").as("sh"))).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    // carry xor(sh_a, sh_b) per pair — order-symmetric, so the pair dedup
    // runs on one long before bit_count scores the survivors
    val pairsCol = flatten(transform(col("members"), (x, i) =>
      transform(slice(col("members"), i + 2, size(col("members"))),
        y => struct(
          least(x.getField("id"), y.getField("id")).as("id_a"),
          greatest(x.getField("id"), y.getField("id")).as("id_b"),
          x.getField("sh").bitwiseXOR(y.getField("sh")).as("xr")))))
    buckets
      .select(explode(pairsCol).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.xr").as("xr"))
      .distinct()
      .select(col("id_a"), col("id_b"), bit_count(col("xr")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Exact duplicated-substring spans, the token-level dedup primitive
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499): every maximal token span covered by
    * some `l`-token window whose content occurs ≥2 times corpus-wide —
    * ANY alignment, intra- or inter-document (unlike chunkOwnership's
    * fixed l-token grid, which misses shifted copies). Emitted spans
    * are what a masking/removal pass cuts.
    *
    * Scale shapes: stride-1 windows are a narrow generate (|tokens|
    * rows — the cost inherent to the algorithm; suffix-array builds
    * trade this same volume into a global sort); duplicate detection is
    * ONE partial+final count on the window hash; the cover explode
    * fans out ×l on DUPLICATED positions only; span merging windows
    * per document (bounded by doc length, never corpus-wide).
    * Output: (doc_id, span_start, span_end(exclusive), span_tokens).
    */
  def duplicatedSpans(docs: DataFrame, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.wsTokens(col("text"))
    // window fingerprint = md5Long60 of the space-joined l-gram — the
    // engine's standard 60-bit portable hash (cdcChunks, winnowing,
    // fingerprint), replacing the former 32-char md5 HEX string: the
    // duplicate-gram exchange carries 8 bytes per window instead of
    // ~48, and no hex string is allocated per corpus position
    // (guide §2.3 narrower types). The q118 oracle mirrors the same
    // extraction, so both engines compute the identical function.
    val wins = docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= l)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - l),
          i => TextAnalysis.md5Long(
            concat_ws(" ", slice(col("toks"), i + 1, lit(l))))))
          .as(Seq("pos", "g")))
    val dupGrams = wins.groupBy("g")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select("g")
    val dupPos = wins.join(dupGrams, "g").select("doc_id", "pos")
    // Merge the [pos, pos+l) cover intervals directly (guide §2.4):
    // the former shape exploded every window into its l covered
    // indices, ran a corpus×l distinct, and windowed over the index
    // rows. Interval merge touches one row per duplicated window: a
    // new island starts exactly where pos exceeds the running max end
    // of all earlier intervals in the doc (pos == prev end means the
    // covered index ranges touch — same island, as consecutive covered
    // indices were). Both windows share one per-doc sort; per-doc
    // frames stay bounded (never a global window).
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + l)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dupPos
      .withColumn("newIsland",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("island", sum("newIsland")
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + l).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Corpus-wide exact chunk dedup WITH document reconstruction — the
    * C4/CCNet cleaning shape: split every document into fixed
    * `chunkTokens`-token chunks, keep only each chunk's globally FIRST
    * occurrence (lexicographic (doc_id, chunk_idx)), and re-assemble
    * the surviving chunks back into a rewritten document. Unlike
    * [[chunkOwnership]] (which reports ownership), this emits the
    * cleaned corpus itself: one row per non-empty input doc with the
    * rewritten text (possibly "" when every chunk is owned elsewhere).
    *
    * Scale shape: ownership is a per-hash MIN aggregate, not a
    * row_number window — so a boilerplate chunk repeated across a
    * billion documents map-side combines to one row per partition
    * instead of sorting a billion-row window partition on one reducer.
    * Three shuffles total (min-owner agg on the chunk hash, the
    * hash-keyed ownership join — one lookup row per hash, no expansion —
    * and the per-doc re-assembly agg).
    * Reconstruction sorts only WITHIN a document (`array_sort` on
    * (chunk_idx, chunk) structs) — never a global ordering.
    */
  def dedupRewrite(
      docs: DataFrame,
      chunkTokens: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = TextAnalysis.wsTokens(col(textCol))
    val chunks = docs
      .select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0),
          ceil(size(col("toks")) / chunkTokens.toDouble).cast("int") - 1)).as("ci"))
      .select(col(idCol), col("ci"),
        concat_ws(" ",
          slice(col("toks"), col("ci") * chunkTokens + 1, lit(chunkTokens))).as("chunk"))
      .withColumn("h", TextAnalysis.md5Long(col("chunk")))
    val owners = chunks.groupBy("h")
      .agg(min(struct(col(idCol).as("oid"), col("ci").as("oci"))).as("owner"))
    chunks.join(owners, "h")
      .withColumn("kept",
        col("owner.oid") === col(idCol) && col("owner.oci") === col("ci"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("ci"), col("chunk"))))),
            x => x.getField("chunk")), " ").as("new_text"))
  }

  /** Canonical-representative selection for near-dup clusters: given the
    * [[connectedComponents]] labeling `(id, cluster)` and the document
    * table, keep ONE document per cluster — the member scoring highest
    * on `scoreCol` (ties broken toward the smallest id), the "keep the
    * longest/best version" policy production dedup applies after
    * clustering. Emits (cluster_id, rep_doc_id, rep_score, cluster_size).
    *
    * Scale shape: a single partial+final aggregate per cluster — argmax
    * via `max(struct(score, -id))`, so no per-cluster window sort and a
    * pathologically huge cluster still map-side combines.
    */
  def clusterRepresentatives(
      clusters: DataFrame,
      docs: DataFrame,
      scoreCol: Column,
      idCol: String = "doc_id"): DataFrame = {
    val scored = clusters.join(
      docs.select(col(idCol).as("id"), scoreCol.cast("long").as("score")), "id")
    scored.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("score"), (-col("id")).as("nid"))).as("m"))
      .select(col("cluster").as("cluster_id"),
        (-col("m.nid")).as("rep_doc_id"),
        col("m.score").as("rep_score"),
        col("cluster_size"))
  }

  /** Per-document memorization-risk score (the Lee et al. 2107.06499 /
    * Carlini 2202.07646 observation: verbatim text repeated ≥ `minCount`
    * times corpus-wide is what models memorize first): the fraction, in
    * exact ppm, of a document's stride-1 `l`-token windows whose window
    * hash occurs at least `minCount` times in the corpus. Documents
    * shorter than `l` tokens have no windows and score 0.
    *
    * Shares [[duplicatedSpans]]'s window machinery but returns the
    * per-document RATE (the filter/priority signal) rather than span
    * offsets (the surgery input).
    *
    * Scale shape: windows are token-grain but the count aggregate
    * map-side combines on the window hash (hot boilerplate windows
    * never ship their occurrences), the count table joins back on the
    * same hash key (one shuffle each side), and the per-doc rollup is a
    * partial+final agg — no window functions, nothing quadratic.
    */
  def memorizationRisk(
      docs: DataFrame,
      l: Int = 16,
      minCount: Int = 2): DataFrame = {
    val base = docs.select(col("doc_id"),
      TextAnalysis.wsTokens(col("text")).as("toks"))
    val wins = base
      .filter(size(col("toks")) >= l)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - l),
          i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(l)))))).as("g"))
    val counts = wins.groupBy("g").agg(count(lit(1)).as("cnt"))
    val perDoc = wins.join(counts, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("cnt") >= minCount, 1L).otherwise(0L)).as("dup_windows"))
    base.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
      .withColumn("risk_ppm",
        when(col("n_windows") === 0, lit(0L))
          .otherwise(expr("1000000 * dup_windows div n_windows")))
  }

  /** Asymmetric containment join: pairs where the smaller document's
    * distinct `k`-shingle set is ≥ `tauBp`/10000 contained in the
    * larger's (|A∩B| / |A| with |A| ≤ |B|) — the quote/subset detector
    * jaccard misses: a 30-token quote inside a 500-token article has
    * jaccard ≈ 0.06 but containment 1.0. The standard signal for
    * eval-answer leakage inside long documents.
    *
    * Candidate generation is ONE shuffle of the distinct (doc, gram)
    * table: grams group on an 8-byte gram hash and a bounded-heap
    * collect ([[graft.functions.CappedDistinctAggregator]]) returns each
    * gram's full doc list iff the gram sits in 2..`dfCap` documents —
    * grams beyond the cap (boilerplate, the same bounded recall trade as
    * the LSH maxBucket guard) poison their buffer to O(1) and drop, so a
    * 10⁹-occurrence gram costs a flag, not a list. Pairs then expand
    * IN PLACE from each sorted doc list (fan-out Σ df² over surviving
    * grams, never |docs|²) — no df-count pre-pass, no join-back, no
    * gram self-join, and nothing pinned in executor block storage (the
    * earlier shape localCheckpointed the survivor table; this one is
    * pure lineage end to end). Containment is then an integer
    * cross-product test (`10000·shared ≥ tauBp·min(na,nb)` avoided in
    * favor of the equivalent div form so the emitted bp value is exact).
    */
  def containmentPairs(
      docs: DataFrame,
      k: Int = 5,
      tauBp: Int = 8000,
      dfCap: Int = 100): DataFrame = {
    import org.apache.spark.sql.Encoders
    // hashed grams: the one shuffle ships 8-byte keys, not ~40-byte
    // 5-token strings (the oracle hashes identically; md5Long collisions
    // are ~1e-6 over a bench-scale gram vocabulary and merely merge two
    // grams' doc lists when they do occur). Sizes come off a second
    // narrow scan and join onto the TINY pair table at the end — riding
    // ng through the gram shuffle instead measures ~25% slower (wider
    // shuffle rows + struct lambdas in the expansion beat the scan
    // they save).
    val sh = graft.functions.GramHashFunctions.graftGramMd5(
      TextAnalysis.wsTokens(col("text")), k, distinct = true)
    val grams = docs.select(col("doc_id"), explode(sh).as("g"))
    val sizes = docs.select(col("doc_id"), size(sh).cast("long").as("ng"))
    val capped = udaf(new graft.functions.CappedDistinctAggregator(dfCap),
      Encoders.scalaLong)
    grams
      .groupBy("g")
      .agg(capped(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2) // over-cap grams poisoned to [] here
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("id_a"), col("ng").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("ng").as("nb")), "id_b")
      .select(
        when(col("na") <= col("nb"), col("id_a")).otherwise(col("id_b"))
          .as("contained_id"),
        when(col("na") <= col("nb"), col("id_b")).otherwise(col("id_a"))
          .as("container_id"),
        col("shared"),
        least(col("na"), col("nb")).as("n_contained"),
        expr("10000 * shared div least(na, nb)").as("containment_bp"))
      .filter(col("containment_bp") >= tauBp)
  }

  /** Threshold-calibration report: the exact jaccard distribution over a
    * content-addressed sample of document pairs, as a basis-point
    * histogram (bucket = jbp div 1000, so 0..10). The curation question
    * it answers: where does THIS corpus's organic pair-similarity mass
    * sit, i.e. where should the near-dup threshold cut? LSH bucket stats
    * (q101/q102) report collision structure; this reports the similarity
    * measure itself.
    *
    * Scale shape: the sample predicate is a content-addressed md5 permille
    * on the id (reproducible, append-stable, evaluated in the scan stage),
    * so downstream work is sample²/2 pairs — BOUNDED BY CONSTRUCTION, and
    * the broadcast self-join of the sampled shingle sets is deliberate
    * (choose `samplePermille` so the sample stays ~10⁴ docs at any corpus
    * size; at 100 TB that's permille ≪ 1 — the estimate converges in
    * sample size, not corpus fraction).
    */
  def pairSimHistogram(
      docs: DataFrame,
      samplePermille: Int = 40,
      k: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sampled = docs.filter(
      pmod(TextAnalysis.md5Long(concat(lit("pairsim"), col(idCol).cast("string"))),
        lit(1000L)) < samplePermille)
    val sets = sampled.select(col(idCol).cast("long").as("id"),
        graft.functions.GramHashFunctions.graftGramMd5(
          TextAnalysis.wsTokens(col(textCol)), k, distinct = true).as("sh"))
      .localCheckpoint() // both sides of the self-join read this
    val pairs = sets.as("a").join(
      broadcast(sets.select(col("id").as("id_b"), col("sh").as("sh_b"))),
      col("id") < col("id_b"))
    pairs
      .withColumn("inter",
        size(array_intersect(col("sh"), col("sh_b"))).cast("long"))
      .withColumn("jbp",
        expr("10000 * inter div (size(sh) + size(sh_b) - inter)"))
      .groupBy(expr("jbp div 1000").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket")
  }

  /** Content-defined chunking (FastCDC-family, token granularity): cut
    * each document AFTER token position i whenever the rolling w-token
    * gram hash ending at i satisfies h ≡ 0 (mod divisor) — so a chunk
    * boundary depends only on a LOCAL w-token window, never on absolute
    * position. That is the property fixed-size chunking (chunkOwnership
    * / q73) lacks: there, one inserted token shifts every later chunk
    * and kills all downstream matches; here an edit reflows at most the
    * chunks whose windows it touches — every cutpoint at or after the
    * edit's window survives verbatim (shifted), and so does every later
    * chunk. Expected chunk length = `divisor` tokens.
    *
    * Returns one row per chunk: (doc_id, chunk_idx, chunk_hash,
    * n_tokens), chunk_hash = md5-60bit of the space-joined chunk.
    *
    * Scale shape: tokenization + the gram lags + the cut prefix-sum +
    * the chunk reassembly all run inside ONE doc-keyed partitioning (the
    * two window specs and the groupBy share it — a single shuffle of the
    * token stream); no global state, no single-partition window. The
    * reference has no chunking at all (its unit is the whole file,
    * /root/reference/src/mr/worker.go map path); this is the extension
    * surface a petabyte dedup pipeline needs.
    */
  def cdcChunks(
      docs: DataFrame,
      w: Int = 4,
      divisor: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 2 && divisor >= 2, s"degenerate cdc params w=$w div=$divisor")
    val byDoc = Window.partitionBy(idCol).orderBy("i")
    val toks = docs.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("i", "tok")))
    val gram = concat_ws(" ",
      ((w - 1) to 1 by -1).map(d => lag("tok", d).over(byDoc)) :+ col("tok"): _*)
    val cut = toks.withColumn("cut",
      when(col("i") >= w - 1 &&
        pmod(TextAnalysis.md5Long(gram), lit(divisor.toLong)) === 0L, 1L)
        .otherwise(0L))
    val prefix = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    cut
      .withColumn("chunk_idx", coalesce(sum("cut").over(prefix), lit(0L)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(
        TextAnalysis.md5Long(
          array_join(transform(
            sort_array(collect_list(struct(col("i"), col("tok")))),
            _.getField("tok")), " ")).as("chunk_hash"),
        count(lit(1)).as("n_tokens"))
  }
}
