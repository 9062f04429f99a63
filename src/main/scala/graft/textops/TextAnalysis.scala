package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID, and document
  * fingerprinting. All are pure Column expressions built from codegen'd
  * built-ins — no UDFs in the hot path — so they stay inside
  * WholeStageCodegen and scale linearly with the scan.
  */
object TextAnalysis {

  // ---------- tokenization ----------

  /** Whitespace tokens (empties dropped — split keeps trailing "").
    * Native single-pass byte-scan kernel (WsTokensExpr), bit-identical
    * to the composed `filter(split(text, "\\s+"), t => t =!= "")` it
    * replaced (TextKernelExpressionsSpec pins the equivalence): no
    * regex, no full-string decode, no empty-token allocations —
    * tokenization fronts EVERY text query's scan stage, so this is the
    * hottest expression in the engine.
    */
  def wsTokens(text: Column): Column =
    graft.functions.TextKernelFunctions.graftWsTokens(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish subword count estimate: words are split into ~4-char units
    * (ceil(len/4)), punctuation runs count one token each — a cheap,
    * deterministic stand-in for a real BPE vocab with the right order of
    * magnitude (≈ chars/4 for English-like text).
    */
  def bpeIshTokenCount(text: Column): Column =
    aggregate(
      wsTokens(text),
      lit(0L),
      (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long"))

  // ---------- quality scoring ----------

  /** Exposed so oracle SQL can be generated from the same profile. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from")

  def stopwordRatio(text: Column): Column = {
    val toks = wsTokens(text)
    when(size(toks) === 0, 0.0)
      .otherwise(
        size(filter(toks, t => t.isin(stopwords: _*))).cast("double") /
          size(toks).cast("double"))
  }

  /** Fraction of characters that are not letters or spaces. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(
        (length(text) - length(regexp_replace(text, "[^a-zA-Z ]", "")))
          .cast("double") / length(text).cast("double"))

  /** Composite quality score in [0,1], unrounded: long-enough docs with
    * low punctuation noise and a natural stopword share score high — the
    * standard cheap pre-filter before expensive pipeline stages.
    * Consumers that cross the oracle boundary must quantize at scale 0
    * (round(raw·10^k)→long), NOT round(raw, k) — see q69's Scaladoc.
    */
  def qualityScoreRaw(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 100.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    lenScore * 0.4 + punctScore * 0.4 + stopScore * 0.2
  }

  /** 4-decimal presentation form of [[qualityScoreRaw]]. */
  def qualityScore(text: Column): Column = round(qualityScoreRaw(text), 4)

  // ---------- language identification ----------

  /** Tiny per-language marker profiles (function words + diacritics).
    * A real system ships trained n-gram profiles; the mechanism — score
    * per language from cheap text features, take the argmax — is what
    * matters and is identical at scale.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is ", " that "),
    "de" -> Seq(" der ", " die ", " und ", " ist ", " nicht "),
    "fr" -> Seq(" le ", " la ", " et ", " est ", " les "),
    "es" -> Seq(" el ", " la ", " que ", " es ", " los "),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Heuristic language guess: argmax of marker-hit counts ("und" if no
    * marker fires). Deterministic tie-break by profile order.
    *
    * All 25 markers are counted by ONE `graft_multi_count` automaton
    * pass over the padded text (non-overlapping counts — bit-equal to
    * the replace-based form, which is what the q33/q208 oracles spell),
    * instead of 25 separate length−replace passes; per-language scores
    * are then integer sums over the counts array. Measured ~4× on the
    * half-doc scorer (q208). [[langIdComposed]] keeps the builtin-only
    * reference form the spec equates this against.
    */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val sorted = langMarkers.flatMap(_._2).distinct.sorted
    val idx = sorted.zipWithIndex.toMap
    val counts =
      graft.functions.MultiMatchFunctions.graftMultiCount(padded, sorted)
    val scores = langMarkers.map { case (lang, markers) =>
      (lang,
        markers.map(m => element_at(counts, idx(m) + 1)).reduce(_ + _))
    }
    argmaxLang(scores)
  }

  /** Builtin-composed reference form of [[langId]] (k replace passes per
    * row) — the expression tree the oracles mirror; TextAnalysisSpec
    * asserts langId == langIdComposed over the corpus.
    */
  private[graft] def langIdComposed(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val scores = langMarkers.map { case (lang, markers) =>
      val score = markers.map(m =>
        (length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(m), "")))
          / m.length).reduce(_ + _)
      (lang, score)
    }
    argmaxLang(scores)
  }

  /** Argmax over the per-language scores, spelled linearly: one
    * `greatest` over (score, −profile index, lang) structs, so a tie
    * goes to the earlier profile, and each struct already carries "und"
    * when its own score is ≤ 0 — the winner's lang is the answer, read
    * once. A fold of `when(score > acc.score)` doubles the expression
    * tree per language and pushed q208's two-argmax projection past the
    * 64 KB method limit.
    */
  private def argmaxLang(scores: Seq[(String, Column)]): Column =
    greatest(scores.zipWithIndex.map { case ((lang, score), i) =>
      struct(score.as("score"), lit(-i).as("rank"),
        when(score <= 0, "und").otherwise(lang).as("lang"))
    }: _*).getField("lang")

  // ---------- fingerprinting ----------

  /** Rolling (winnowing-style) document fingerprint: the minimum shingle
    * hash over all `k`-token shingles. Two documents sharing their
    * rarest shingle collide — a cheap near-dup prefilter; full MinHash
    * lives in graft.dedup.
    */
  def shingles(text: Column, k: Int): Column = {
    // Two structural rules keep this linear — higher-order functions run
    // INTERPRETED (no codegen subexpression elimination), so:
    //  1. the token array is BOUND ONCE via a 1-element transform (a
    //     naive `val toks = wsTokens(text)` re-tokenizes at every use
    //     site, and worse, a subtree referenced inside a lambda body
    //     re-evaluates PER ELEMENT — the original index-lambda form
    //     re-split the whole document for each shingle position:
    //     O(tokens²) per doc, measured 5 s for a 250 k-gram explode);
    //  2. the k-gram itself is a k-way zip of k slices (lambda bodies
    //     touch only lambda variables), never an indexed slice of the
    //     outer array. Output is byte-identical to the indexed form:
    //     element j = tokens j..j+k-1 space-joined, one trailing
    //     whole-doc shingle when the doc is shorter than k.
    element_at(transform(array(wsTokens(text)), toks =>
      when(size(toks) < k, array(concat_ws(" ", toks)))
        .otherwise {
          val m = size(toks) - (k - 1)
          (1 to k).map(i => slice(toks, lit(i), m))
            .reduceLeft((acc, part) =>
              zip_with(acc, part, (a, b) => concat(a, lit(" "), b)))
        }), 1)
  }

  /** Lower 60 bits of md5 as a signed long: an engine-portable hash
    * (md5 exists in Spark, DuckDB, Trino, …) so fingerprints are
    * verifiable across engines. For a hot pure-Spark path, xxhash64 is
    * ~4× faster — fingerprinting is a once-per-document scan op, so
    * portability wins here.
    */
  def md5Long(s: Column): Column =
    // native digest-byte kernel (Md5Long60Expr) — bit-identical to the
    // composed conv(substring(md5(s), 18, 15), 16, 10) cast long it
    // replaced (TextKernelExpressionsSpec), with no hex string, no
    // substring, no base-16 parse per hash
    graft.functions.TextKernelFunctions.graftMd5Long(s)

  def fingerprint(text: Column, k: Int = 3): Column =
    array_min(graft.functions.GramHashFunctions.graftGramMd5(
      wsTokens(text), k, distinct = false))

  /** SymSpell-style deletion neighborhood: the string itself plus every
    * delete-one-character variant. Two strings at edit distance ≤ 1
    * (substitution, insertion, or deletion) always share at least one
    * variant, so joining on variants generates ALL ed≤1 candidate pairs
    * — |s|+1 index rows per string instead of an n² distance matrix.
    */
  def deletionVariants(s: Column): Column =
    array_union(
      array(s),
      transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i))))

  // ---------- retrieval / curation scoring ----------

  /** Top-k TF-IDF terms per document: tf·ln(N/df), quantized to 1e-4 per
    * (doc, term) so ranking is engine-portable (ties broken by term).
    * Two shuffles — (doc,term) term-frequency and (term) document
    * frequency — plus a broadcast scalar N; at corpus scale the df join
    * keys on the term dictionary, which is the small side.
    */
  def tfIdfTop(
      docs: DataFrame,
      k: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), explode(wsTokens(col(textCol))).as("term"))
    val tf = toks.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_q",
        round(col("tf") * log(col("n") / col("df")) * 10000).cast("long"))
    val w = Window.partitionBy(idCol).orderBy(col("score_q").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"),
        (col("score_q").cast("double") / 10000).as("score"), col("rank"))
  }

  /** Per-document token-distribution Shannon entropy in micro-nats:
    * H = Σ (n/N)·ln(N/n) over the doc's token frequencies — the
    * repetition/diversity quality signal (template spam and keyword
    * stuffing score LOW; the complement of the rarity/perplexity family,
    * which scores improbability, not self-repetition). Zipf-typical
    * prose lands in a band; filters cut both tails.
    *
    * Exactness: each term quantizes to integer micro-nats BEFORE the
    * per-doc sum (the q62/q105 pattern) and the final division is
    * integer (micro-nat total div token count), so the score is
    * bit-identical on any engine/partitioning. Docs with zero tokens
    * are absent (unscorable, the bigramNll contract).
    *
    * Scale shape: two keyed aggregations ((doc,term) then doc — both
    * partial-aggregated map-side) and one join back on the doc key;
    * nothing corpus-quadratic, no windows, no driver state.
    */
  def tokenEntropy(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(wsTokens(col(textCol))).as("t"))
      .groupBy(idCol, "t").agg(count(lit(1)).as("n"))
    val tot = tf.groupBy(idCol).agg(sum("n").as("nt"))
    tf.join(tot, idCol)
      .withColumn("q", round(lit(1000000) * col("n") *
        log(col("nt").cast("double") / col("n"))).cast("long"))
      .groupBy(idCol)
      .agg(max("nt").as("n_tokens"), sum("q").as("sq"))
      .select(col(idCol), col("n_tokens"),
        expr("sq div n_tokens").as("ent_micronat"))
  }

  /** One greedy left-to-right merge round of BPE pair (l, r) over a
    * symbol array, as a pure fold (no UDF): append each symbol unless
    * the accumulator ends with `l` and the symbol is `r`, in which case
    * the pair fuses. Greedy-correct without a merged-flag because a
    * fused token (l+r, strictly longer than l since r is non-empty) can
    * never equal `l` and so never re-fuses within the round.
    */
  private def mergeOnce(sym: Column, l: String, r: String): Column =
    aggregate(sym, array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1), s))))
        .otherwise(concat(acc, array(s))))

  /** Train a byte-pair-encoding merge table on the corpus (the Sennrich
    * BPE algorithm): start from characters, repeatedly fuse the
    * highest-frequency adjacent symbol pair. The ONLY corpus-sized work
    * is ONE distributed aggregation — the word-frequency dictionary —
    * whose result is vocab-bounded (millions of rows for a 100 TB text
    * corpus, not corpus-sized); it is collected once and the merge loop
    * runs on the driver over the in-memory dict, exactly as production
    * tokenizer trainers do. A driver-coordinated loop of per-merge Spark
    * jobs would launch 32k jobs for a real 32k vocab — the scheduling
    * overhead, not the arithmetic, would dominate. Deterministic: ties
    * break on (count desc, l, r) — the same table falls out on any
    * partitioning or engine, and bit-identically to the previous
    * distributed-round formulation (the spec pins both the reference
    * equality and the ≤2-job launch bound).
    *
    * Returns the ordered merge table. Not SQL-expressible (each round's
    * argmax feeds the next round's rewrite), so its catalog entry is
    * rows-only checked; the spec pins equality with an independent
    * driver-side reference implementation instead.
    */
  def bpeTrain(
      docs: DataFrame,
      merges: Int,
      textCol: String = "text"): Seq[(String, String)] = {
    import scala.collection.mutable
    // job 1 (+1 AQE result stage): the word-frequency dictionary
    val dict: Array[(Array[String], Long)] = docs
      .select(explode(wsTokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0).split("").filter(_.nonEmpty), r.getLong(1)))
    // Incremental pair bookkeeping (the Sennrich learn_bpe structure):
    // a full per-round recount is O(merges × corpus-vocab symbols) —
    // fine for a catalog-sized table, ~minutes-to-hours at a real 32k
    // vocab. Instead maintain the exact pair→count map plus a
    // pair→word-ids index and, per merge, resegment ONLY the words
    // containing the winning pair (subtract their old adjacencies, add
    // the new). The index may hold stale ids — a word rewritten by a
    // later merge may have lost the pair — which costs a no-op resegment
    // (subtract/add cancel), never a wrong count, so the argmax sequence
    // is IDENTICAL to the naive recount (the spec pins equality against
    // an independent reference).
    val words: Array[Array[String]] = dict.map(_._1)
    val freqs: Array[Long] = dict.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    // pair → word ids holding it. NOT a BitSet: BitSet allocates its
    // backing array up to the LARGEST id (≈25 KB for one high word id),
    // and a real vocab holds >1M live pairs — measured 6.5 GiB of
    // driver heap in BitSet form vs tens of MB as plain int buffers.
    // Appends may duplicate an id (a pair occurring twice in one word);
    // the merge loop tolerates that — the second resegment of an
    // already-rewritten word is a no-op.
    val where = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    // exact ordered view of counts for O(log) argmax: every count
    // mutation does remove+insert, so the head is always the true
    // (count desc, l, r) winner — no lazy/stale heap entries. A linear
    // argmax scan per merge is O(merges × |pairs|): measured 717 s for
    // 32k merges over a 210k-type vocab; this structure reads minutes
    // off the same training run.
    val ordered = mutable.TreeSet.empty[(Long, String, String)](
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String))
    def addWord(wid: Int, sym: Array[String], sign: Long): Unit = {
      var i = 0
      while (i < sym.length - 1) {
        val k = (sym(i), sym(i + 1))
        val old = counts.getOrElse(k, 0L)
        if (old != 0L) ordered.remove((old, k._1, k._2))
        val c = old + sign * freqs(wid)
        if (c == 0L) {
          counts.remove(k)
          // count 0 is EXACT: no word contains k anymore, so its id set
          // is all-stale — drop it (the index otherwise only grows, and
          // at a 200k-type vocab the dead sets dominate driver heap)
          where.remove(k)
        }
        else { counts(k) = c; ordered.add((c, k._1, k._2)) }
        if (sign > 0) {
          val ids = where.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Int])
          // same-word occurrences arrive consecutively — a last-element
          // check removes nearly all duplicates without a set
          if (ids.isEmpty || ids.last != wid) ids += wid
        }
        i += 1
      }
    }
    words.indices.foreach(wid => addWord(wid, words(wid), 1L))
    val table = mutable.ArrayBuffer.empty[(String, String)]
    while (table.size < merges && counts.nonEmpty) {
      val (_, bl, br) = ordered.head
      val best = (bl, br)
      table += best
      where.remove(best).foreach(_.foreach { wid =>
        val old = words(wid)
        // same left-to-right merge as the mergeOnce fold the segmenter
        // applies: the merged symbol becomes the new "last", so it can
        // seed the next merge site but never re-matches `l` alone
        val out = mutable.ArrayBuffer.empty[String]
        old.foreach { s =>
          if (out.nonEmpty && out.last == bl && s == br)
            out(out.length - 1) = out.last + s
          else out += s
        }
        if (out.length != old.length) {
          addWord(wid, old, -1L)
          words(wid) = out.toArray
          addWord(wid, words(wid), 1L)
        }
      })
    }
    table.toSeq
  }

  /** A PINNED merge table: the output of `bpeTrain(documents WHERE
    * doc_id < 100, merges = 12)` over the sf0.01 corpus, frozen as the
    * trained artifact the oracle-checked q108 APPLY path segments with
    * (training itself is inherently iterative — not one SQL statement —
    * so it is pinned by TextAnalysisSpec's reference-equality test
    * instead, and the artifact it produces is what ships; the standard
    * train-once / apply-everywhere split of a production tokenizer).
    * Intentionally FROZEN as of the pin date (2026-08-14): the testdata
    * regenerates between rounds, and stability must not depend on the
    * corpus — both the query and its oracle apply THIS table, wherever
    * it came from. Re-pin only deliberately (the q108/q140 oracles
    * interpolate it).
    */
  val pinnedMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "w"), ("s", "t"), ("i", "n"), ("o", "r"), ("l", "u"),
    ("m", "er"), ("a", "t"), ("a", "r"), ("p", "ar"), ("f", "i"), ("fi", "l"))

  /** Segment text with a trained merge table: per token, start from
    * characters and apply every merge in table order (the standard BPE
    * encoder). A pure column expression — the merge table compiles into
    * `table.size` chained folds, so segmentation is a narrow map over
    * the corpus at any scale.
    */
  def bpeSegment(text: Column, table: Seq[(String, String)]): Column =
    transform(wsTokens(text), w =>
      table.foldLeft(filter(split(w, ""), s => s =!= "")) {
        case (sym, (l, r)) => mergeOnce(sym, l, r)
      })

  /** Corpus-trained bigram LM quality score (the CCNet-family
    * perplexity filter, self-trained so no external model ships): each
    * doc's average negative log-likelihood under an add-1-smoothed
    * bigram model of the WHOLE corpus. Gibberish and boilerplate score
    * high (improbable transitions / pathologically probable ones are
    * both visible); typical prose scores low.
    *
    * Engine-portable by construction: every per-position surprisal
    * ln((c1+V)/(c2+1)) is quantized to integer micro-nats BEFORE the
    * per-doc sum (the q62 pattern — integer sums are order-independent
    * where double sums are not), and only the final average divides.
    *
    * Scale shape: two shuffles train the model (bigram counts, then
    * context totals — both partial-aggregated map-side), one shuffle
    * joins counts back onto the bigram stream, one keyed agg scores
    * docs. Hot bigrams (stopword pairs) skew the count join's build
    * side, not a single reducer — and AQE's skew split covers the probe.
    * Returns (idCol, n_bigrams, avg_nll); docs under 2 tokens have no
    * bigrams and are absent (callers treat missing as unscorable).
    */
  def bigramNll(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bigramSurprisals(docs, idCol, textCol)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("q").as("sumq"))
      .select(col(idCol), col("n_bigrams"),
        round(col("sumq").cast("double") / col("n_bigrams") / 1000000, 4)
          .as("avg_nll"))

  /** [[bigramNll]] at integer grain: (idCol, n_bigrams, nll_micro) with
    * nll_micro = floor(Σq / n) micro-nats — the form rank-based
    * consumers (the q147 ensemble) compose without ever touching a
    * float average.
    */
  def bigramNllMicro(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bigramSurprisals(docs, idCol, textCol)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("q").as("sumq"))
      .select(col(idCol), col("n_bigrams"),
        expr("sumq div n_bigrams").as("nll_micro"))

  /** The shared quantized-surprisal stream under [[bigramNll]] and
    * [[domainReweight]]: one row per bigram position, keyed by `idCol`
    * (a doc id for per-doc scoring, a source for mixture design), with
    * `q` = round(1e6 · ln((c1+V)/(c2+1))) micro-nats under the
    * corpus-wide add-1 bigram model.
    */
  private def bigramSurprisals(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val bi = docs
      .select(col(idCol), wsTokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (p, c) => struct(p.as("prev"), c.as("cur")))).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.cur").as("cur"))
    val c2 = bi.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("prev").agg(sum("c2").as("c1"))
    val v = c2.agg(count_distinct(col("cur")).as("v"))
    bi.join(c2, Seq("prev", "cur"))
      .join(c1, "prev")
      .crossJoin(broadcast(v))
      .withColumn("q", round(lit(1000000) *
        log((col("c1") + col("v")).cast("double") / (col("c2") + 1)))
        .cast("long"))
      .select(col(idCol), col("q"))
  }

  /** DoReMi-style domain re-weighting (arXiv:2305.10429's excess-loss
    * signal, one-shot form): score every source by its average bigram
    * surprisal under the corpus-wide LM, and weight each source
    * proportionally to its CLIPPED EXCESS over the corpus average —
    * sources the corpus model finds hardest get upweighted, sources at
    * or below average get 0. (The full DoReMi runs this inside a
    * bilevel proxy-model loop; the excess-loss weighting over a fixed
    * reference model is its standard one-shot approximation.)
    *
    * Exact-integer end to end: per-position micro-nat quantization
    * (shared with [[bigramNll]]), per-source floor-div averages,
    * weight_bp = floor(10000 · excess / Σ excess). When NO source
    * exceeds the corpus average (Σ excess = 0, e.g. a perfectly
    * homogeneous corpus) every source gets the uniform
    * floor(10000 / n_sources). Basis points may sum below 10000 (floor
    * loss) — callers renormalize at use if they need an exact simplex.
    *
    * Scale shape: [[bigramSurprisals]]'s model build is the only
    * corpus-sized work; on top of it sit one source-grain agg and a
    * 1-row broadcast of (corpus average, Σ excess, n_sources). Sources
    * whose docs all have <2 tokens have no bigrams and are absent.
    */
  def domainReweight(
      docs: DataFrame,
      groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val per = bigramSurprisals(docs, groupCol, textCol)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("q").as("sumq"))
      .select(col(groupCol), col("n_bigrams"),
        expr("sumq div n_bigrams").as("src_nll_micro"),
        col("sumq"))
      .localCheckpoint() // feeds the totals agg AND the final select
    val tot = per.agg(
      expr("sum(sumq) div sum(n_bigrams)").as("corpus_nll_micro"),
      count(lit(1)).as("n_sources"))
    val withExcess = per.crossJoin(broadcast(tot))
      .withColumn("excess_micro",
        greatest(lit(0L), col("src_nll_micro") - col("corpus_nll_micro")))
    val totExcess = withExcess.agg(sum("excess_micro").as("tot_excess"))
    withExcess.crossJoin(broadcast(totExcess))
      .select(col(groupCol), col("n_bigrams"), col("src_nll_micro"),
        col("corpus_nll_micro"), col("excess_micro"),
        when(col("tot_excess") > 0,
          expr("10000 * excess_micro div tot_excess"))
          .otherwise(expr("10000 div n_sources"))
          .cast("long").as("weight_bp"))
  }

  /** Per-group token-distribution drift: KL(P_group ‖ P_corpus) in
    * integer nano-nats, plus token volume — the mixture-design
    * diagnostic ("which source no longer looks like the corpus") run
    * before re-weighting sources. No smoothing is needed: every group
    * token is a corpus token, so the log's argument is always positive.
    *
    * Engine-portable: each distinct (group, token) contributes
    * floor(1e9 · p_g·ln(p_g/p_c)) — quantized BEFORE the per-group sum
    * (floor, not round: its result is association-independent on both
    * engines), so the sum is an exact integer fold in any order.
    *
    * Scale shape: one (group, token)-keyed count agg (map-side partial)
    * is the only corpus-sized shuffle; token totals re-aggregate from
    * it on the token dictionary, group totals and the corpus total are
    * tiny broadcasts. The dictionary-grain count table feeds four
    * consumers, so its lineage is cut once.
    */
  def tokenDrift(
      docs: DataFrame,
      groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val st = docs
      .select(col(groupCol), explode(wsTokens(col(textCol))).as("tok"))
      .groupBy(groupCol, "tok").agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
    val ns = st.groupBy(groupCol).agg(sum("c_st").as("n_s"))
    val ct = st.groupBy("tok").agg(sum("c_st").as("c_t"))
    val n = st.agg(sum("c_st").as("n"))
    st.join(broadcast(ns), groupCol)
      .join(ct, "tok")
      .crossJoin(broadcast(n))
      .withColumn("q", floor(lit(1000000000) *
        (col("c_st").cast("double") / col("n_s") *
          log(col("c_st").cast("double") * col("n") /
            (col("n_s").cast("double") * col("c_t"))))).cast("long"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_distinct_tokens"), sum("q").as("kl_nano"))
      .join(broadcast(ns), groupCol)
      .select(col(groupCol), col("n_s").as("n_tokens"),
        col("n_distinct_tokens"), col("kl_nano"))
  }

  /** DSIR importance log-weights (Xie et al., arXiv:2302.03169 — data
    * selection with importance resampling): score every document by how
    * much more likely its HASHED unigram features are under a target
    * distribution than under the raw corpus,
    * Σ_tokens [ln p_target(bucket) − ln p_raw(bucket)], with add-1
    * smoothing over the `buckets`-sized feature space. Selecting the
    * top-weight documents tilts a raw crawl toward the target domain
    * without training a classifier.
    *
    * Engine-portable: the per-bucket weight delta quantizes to integer
    * micro-nats (floor) before any per-doc sum, and per-doc totals are
    * integer folds of count×delta.
    *
    * Scale shape: both feature tables live on the `buckets`-sized hash
    * space (never the open vocabulary), so model state is a broadcast
    * at any corpus size; the only corpus-sized shuffle is the
    * (doc, bucket) count agg. `isTarget` marks the in-domain rows
    * (e.g. a trusted source) inside the same corpus scan.
    */
  def dsirLogWeights(
      docs: DataFrame,
      isTarget: Column,
      buckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tk = docs
      .select(col(idCol), isTarget.as("is_tgt"),
        explode(wsTokens(col(textCol))).as("tok"))
      .withColumn("b", pmod(md5Long(col("tok")), lit(buckets)))
    val raw = tk.groupBy("b").agg(count(lit(1)).as("c_raw"),
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("c_tgt"))
      .localCheckpoint() // feeds both totals and the weight table
    val totals = raw.agg(sum("c_raw").as("n_raw"), sum("c_tgt").as("n_tgt"))
    val w = raw.crossJoin(broadcast(totals))
      .withColumn("dw", floor(lit(1000000) *
        (log((col("c_tgt") + 1).cast("double") / (col("n_tgt") + buckets)) -
          log((col("c_raw") + 1).cast("double") / (col("n_raw") + buckets))))
        .cast("long"))
      .select("b", "dw")
    tk.groupBy(idCol, "b").agg(count(lit(1)).as("c_db"))
      .join(broadcast(w), "b")
      .groupBy(idCol)
      .agg(sum("c_db").as("n_tokens"),
        sum(col("c_db") * col("dw")).as("logweight_micro"))
  }

  /** Per-group vocabulary coverage: what fraction of each group's tokens
    * fall OUTSIDE the corpus top-`vocabSize` vocabulary (count-desc,
    * token-asc at the boundary, so the cut is deterministic on any
    * engine) — the tokenizer-coverage / OOV-rate check run per source
    * before committing to a vocabulary. Rate in integer micro-units
    * (floor), so the per-group numbers hash-compare exactly.
    *
    * Scale shape: the token count table aggregates with map-side
    * partials; the top-`vocabSize` cut is a bounded TakeOrdered (never a
    * full sort of the open vocabulary); the vocab then BROADCASTS to a
    * narrow membership probe — the corpus-sized token stream shuffles
    * only for the final per-group agg.
    */
  def vocabCoverage(
      docs: DataFrame,
      vocabSize: Int = 1000,
      groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val tk = docs.select(col(groupCol), explode(wsTokens(col(textCol))).as("tok"))
    val vocab = tk.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(true).as("in_vocab"))
    tk.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_micro",
        floor(lit(1000000) * col("n_oov").cast("double") / col("n_tokens"))
          .cast("long"))
  }

  /** BM25 ranked retrieval: score every document against a fixed query
    * term set and return the top `k` (Robertson/Spärck Jones; the
    * Lucene-default `ln(1 + (N-df+0.5)/(df+0.5))` idf form, which stays
    * positive for df > N/2 terms where the classic form goes negative).
    *
    * Per-term contributions are quantized to integer micro-units BEFORE
    * the per-doc sum (the q62/q105 pattern), so the score is independent
    * of partition/merge order and hash-matches the oracle.
    *
    * Scale shape: doc length is computed NARROWLY (`size(tokens)` — no
    * shuffle, carried through the tf aggregate via `first`); the token
    * stream is filtered to the query terms BEFORE its only shuffle, so
    * the tf aggregate's input is |queryTerms|-bounded per doc, not
    * corpus-token-sized; corpus stats (N, avgdl) and the per-term df
    * table are 1-row/|queryTerms|-row broadcasts; the final top-k plans
    * as a bounded TakeOrdered, never a full sort.
    */
  def bm25(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = docs.select(col(idCol),
        size(wsTokens(col(textCol))).as("dl"),
        explode(wsTokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    val tf = toks.groupBy(idCol, "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(size(wsTokens(col(textCol)))).as("total_dl"))
    // identical double expression trees on both engines (left-assoc):
    // idf = ln(1 + (n - df + 0.5) / (df + 0.5))
    // tfn = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n"))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      // (k1 + 1) stays a symbolic double ADD (not a pre-folded Scala
      // constant): the oracle spells `(1.2 + 1.0)` too, so both engines
      // produce the identical double — a folded 2.2 literal can differ
      // from the runtime sum by 1 ulp and flip the hash.
      .withColumn("tfn",
        col("tf") * (lit(k1) + lit(1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .withColumn("c_q", round(lit(1000000.0) * col("idf") * col("tfn")).cast("long"))
    // cut on the exact integer score (deterministic ties), then re-sort
    // the k survivors on the rounded display score for a stable output
    scored.groupBy(idCol)
      .agg(sum("c_q").as("score_q"))
      .orderBy(col("score_q").desc, col(idCol))
      .limit(k)
      .select(col(idCol),
        round(col("score_q").cast("double") / 1000000, 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty, SIGIR'01): score(d,Q) = Σ_q ln((tf_dq + μ·cf_q/|C|) /
    * (|d| + μ)) — the language-modeling counterpart to [[bm25]]'s
    * probabilistic ranking, and the one that handles ABSENT query terms
    * gracefully (a missing term costs ln of the smoothed collection
    * probability instead of contributing nothing, so short docs aren't
    * rewarded for omission). Scores quantize to integer micro-nats per
    * (doc, term) BEFORE the per-doc sum.
    *
    * Scale shape (q127's discipline): the only corpus-wide work is the
    * term-filtered tf aggregate and two broadcast-sized stats
    * (per-query-term collection counts, 1-row totals); the dense
    * doc × |Q| grid is |Q| rows per doc, built map-side; the cut is a
    * bounded TakeOrdered. Query terms absent from the corpus would make
    * the smoothed probability 0 (ln undefined) — require cf > 0 via an
    * inner join and document the contract.
    */
  def queryLikelihood(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int = 20,
      mu: Int = 2000,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val dls = docs.select(col(idCol), size(wsTokens(col(textCol))).as("dl"))
    val tf = docs
      .select(col(idCol), explode(wsTokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val cf = docs
      .select(explode(wsTokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("cf"))
    val stats = docs.agg(
      sum(size(wsTokens(col(textCol)))).as("total_tokens"))
    dls
      .select(col(idCol), col("dl"),
        explode(typedLit(queryTerms)).as("term"))
      .join(tf, Seq(idCol, "term"), "left_outer")
      .join(broadcast(cf), "term") // inner: cf > 0 contract
      .crossJoin(broadcast(stats))
      .withColumn("c_q",
        round(lit(1000000.0) * log(
          (coalesce(col("tf"), lit(0L)) +
            lit(mu.toDouble) * col("cf") / col("total_tokens")) /
            (col("dl") + lit(mu.toDouble)))).cast("long"))
      .groupBy(idCol)
      .agg(sum("c_q").as("score_q"))
      .orderBy(col("score_q").desc, col(idCol))
      .limit(k)
      .select(col(idCol),
        round(col("score_q").cast("double") / 1000000, 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09): merge N ranked
    * lists of the same id space into one ranking by
    * `Σ_lists 1/(k + rank)` — the standard way to combine heterogeneous
    * retrievers (BM25 × embedding ANN × quality priors) without score
    * calibration, since only RANKS cross lists.
    *
    * Contributions quantize to integer micro-units before the per-id
    * sum (order-independent); ties cut deterministically on
    * (fused score, id).
    *
    * Scale shape: input rankings are top-N bounded by construction
    * (each retriever already cut to its k), so the union + partial+final
    * sum moves ≤ Σ|lists| rows; the final cut is a bounded TakeOrdered.
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      k: Int = 60,
      topK: Int = 20,
      idCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contributions = rankings
      .map(_.select(col(idCol), col(rankCol)))
      .reduce(_ unionByName _)
      .withColumn("c_q",
        round(lit(1000000.0) / (lit(k.toDouble) + col(rankCol))).cast("long"))
    contributions.groupBy(idCol)
      .agg(sum("c_q").as("rrf_q"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_q").desc, col(idCol))
      .limit(topK)
      .select(col(idCol), col("n_lists"),
        round(col("rrf_q").cast("double") / 1000000, 4).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
  }

  // ---------- Gopher-style quality rule filter ----------

  /** Gopher-rule quality report (Rae et al., arXiv:2112.11446 §A1.1,
    * the heuristic pre-filter a production corpus runs before any model
    * scoring): per document, a boolean verdict per rule plus the
    * composed `keep` flag. Rules (defaults from the paper, bullet/
    * ellipsis line rules omitted — the corpus is single-line):
    *
    *   - len_ok      minTokens ≤ n_tokens ≤ maxTokens
    *   - mean_len_ok mean word length in [3, 10] chars
    *   - sym_ok      symbol words ("#", "...", "…") ≤ 10% of tokens
    *   - alpha_ok    ≥ 80% of words contain a letter
    *   - stop_ok     ≥ 2 stopword hits (of the shared 10-word list)
    *
    * Every ratio test is an integer cross-product of exact token counts
    * (`10·sym ≤ n`, `5·alpha ≥ 4·n`, `3n ≤ chars ≤ 10n`) — no float
    * division anywhere, so verdicts are bit-stable across engines and
    * partitionings and the whole report is one narrow codegen'd scan.
    */
  def gopherRules(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Int = 40,
      maxTokens: Int = 100000,
      stops: Seq[String] =
        Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it"),
      passthrough: Seq[String] = Nil): DataFrame = {
    // `passthrough` columns ride the projection untouched so downstream
    // aggregates (e.g. the q135 dataset card) stay in the SAME scan
    // instead of re-reading the corpus to recover dropped columns
    val toks = wsTokens(col(textCol))
    val pass = passthrough.map(col)
    docs
      .select(Seq(
        col(idCol),
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L), (a, w) => a + length(w)).as("word_chars"),
        size(filter(toks, w => w.rlike("[a-zA-Z]"))).cast("long").as("alpha_words"),
        size(filter(toks, w => w.isin("#", "...", "…"))).cast("long").as("sym_words"),
        size(filter(toks, w => w.isin(stops: _*))).cast("long").as("stop_hits"))
        ++ pass: _*)
      .select(Seq(
        col(idCol), col("n_tokens"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens).as("len_ok"),
        (col("word_chars") >= col("n_tokens") * 3 &&
          col("word_chars") <= col("n_tokens") * 10).as("mean_len_ok"),
        (col("sym_words") * 10 <= col("n_tokens")).as("sym_ok"),
        (col("alpha_words") * 5 >= col("n_tokens") * 4).as("alpha_ok"),
        (col("stop_hits") >= 2).as("stop_ok"))
        ++ pass: _*)
      .withColumn("keep",
        col("len_ok") && col("mean_len_ok") && col("sym_ok") &&
          col("alpha_ok") && col("stop_ok"))
  }

  /** URL canonicalization — the web-crawl dedup key: the same page
    * arrives as `HTTPS://WWW.Site.COM:443/p?utm_source=x&b=2&a=1#sec`
    * and `https://www.site.com/p?a=1&b=2`, and a byte-exact URL dedup
    * misses the equivalence. Normalizes: scheme+host lowercased, default
    * ports dropped (443/https, 80/http), fragment stripped, `utm_*`
    * tracking params removed, remaining query params sorted. Path CASE
    * IS PRESERVED (paths are case-sensitive by spec). Pure
    * split/filter/sort Column expressions — evaluates in the scan stage,
    * mirrorable verbatim in any engine with list functions.
    */
  def urlCanonicalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val scheme = lower(element_at(split(noFrag, "://"), 1))
    val rest = element_at(split(noFrag, "://"), 2)
    // the authority ends at the FIRST of '/' or '?' (fragment already
    // stripped): a URL with a query but no path — 'https://site.com?a=1',
    // a common crawl shape — must not fold '?a=1' into the host
    val hostport = element_at(split(rest, "[/?]"), 1)
    val host = lower(element_at(split(hostport, ":"), 1))
    val port = try_element_at(split(hostport, ":"), lit(2))
    val portPart = when(port.isNotNull &&
        !((scheme === "https" && port === "443") ||
          (scheme === "http" && port === "80")),
      concat(lit(":"), port)).otherwise(lit(""))
    val pathq = rest.substr(length(hostport) + 1, length(rest))
    val path = element_at(split(pathq, "\\?"), 1)
    val query = try_element_at(split(pathq, "\\?"), lit(2))
    val keep = array_sort(filter(split(query, "&"),
      p => !p.startsWith("utm_") && p =!= ""))
    concat(scheme, lit("://"), host, portPart, path,
      when(size(keep) > 0, concat(lit("?"), array_join(keep, "&")))
        .otherwise(lit("")))
  }

  /** The classic UTF-8-decoded-as-Latin-1 mojibake digraphs (the ftfy
    * repertoire's accented-Latin core): é encoded as UTF-8 C3 A9 and
    * re-decoded as Latin-1 renders "Ã©", and so on. Exposed so oracle
    * SQL generates from the same table. Patterns are mutually
    * prefix-free, so replacement order doesn't matter; kept sorted for
    * determinism.
    */
  val mojibakeMap: Seq[(String, String)] = Seq(
    "Ã¡" -> "á", "Ã¤" -> "ä", "Ã§" -> "ç", "Ã¨" -> "è", "Ã©" -> "é",
    "Ã®" -> "î", "Ã¯" -> "ï", "Ã±" -> "ñ", "Ã³" -> "ó", "Ã´" -> "ô",
    "Ã¶" -> "ö", "Ãº" -> "ú", "Ã¼" -> "ü").sortBy(_._1)

  /** Repair [[mojibakeMap]] digraphs (literal, non-overlapping
    * left-to-right replaces — engine-portable semantics). */
  def mojibakeRepair(text: Column): Column =
    mojibakeMap.foldLeft(text) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }

  /** Total mojibake digraph occurrences — ONE graft_multi_count
    * automaton pass (bit-equal to the per-pattern length−replace
    * composition the oracle spells). */
  def mojibakeCount(text: Column): Column = {
    val counts = graft.functions.MultiMatchFunctions.graftMultiCount(
      text, mojibakeMap.map(_._1))
    aggregate(counts, lit(0L), (a, x) => a + x)
  }

  /** C4-style LINE-level cleaning (Raffel et al., JMLR 2020 §2.2) — the
    * gap between the doc-level Gopher gate ([[gopherRules]]) and the
    * paragraph-dedup rewrite (Dedup.paragraphDedupRewrite): boilerplate
    * lives on individual lines (nav bars, cookie banners, code spills),
    * so C4 keeps a line only if it reads like a sentence, then drops the
    * page if too little survives.
    *
    * Rules, applied to a pre-split `array<string>` lines column:
    *   - keep a line iff it ends in a terminal punctuation mark, has at
    *     least `minWords` whitespace words, and contains no `lineBan`
    *     marker (C4 drops any line with the word "javascript");
    *   - drop the whole document if ANY raw line contains a `docBan`
    *     marker (C4 pages with "lorem ipsum" or "{") or if fewer than
    *     `minLines` lines survive.
    *
    * Returns the input columns plus `kept_lines`/`n_lines`/`n_kept`,
    * filtered to surviving documents. Pure higher-order Column
    * expressions over the lines array — a single narrow projection, no
    * explode/shuffle, so the pass stays inside WholeStageCodegen and
    * scales with the scan at any corpus size.
    */
  def c4LineFilter(
      docs: DataFrame,
      linesCol: String = "lines",
      minWords: Int = 5,
      minLines: Int = 3,
      terminal: Seq[String] = Seq(".", "!", "?", "\""),
      lineBan: Seq[String] = Seq("javascript"),
      docBan: Seq[String] = Seq("lorem ipsum", "{")): DataFrame = {
    val lines = col(linesCol)
    def lineWords(l: Column): Column =
      size(filter(split(l, "\\s+"), w => w =!= ""))
    def keepLine(l: Column): Column =
      terminal.map(t => l.endsWith(lit(t))).reduce(_ || _) &&
        lineWords(l) >= minWords &&
        lineBan.map(m => !l.contains(lit(m))).reduce(_ && _)
    val banned =
      docBan.map(m => exists(lines, l => l.contains(lit(m)))).reduce(_ || _)
    docs
      .withColumn("kept_lines", filter(lines, keepLine(_)))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_kept", size(col("kept_lines")).cast("long"))
      .filter(col("n_kept") >= minLines && !banned)
  }
}
