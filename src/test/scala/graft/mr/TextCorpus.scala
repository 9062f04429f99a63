package graft.mr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions.withClue

/** One MapReduce input corpus: the eight `pg-*.txt` texts in `dir`, and
  * the word-count lines they must yield, one `"<word> <count>"` line per
  * key in `mymrout` format, at `golden`.
  */
final case class MrCorpus(label: String, dir: String, golden: String) {
  def glob: String = s"$dir/pg-*.txt"

  /** The input texts' paths, sorted (the order mrsequential.go reads). */
  def files: Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(p => p.matches(".*/pg-.*\\.txt")).toSeq.sorted

  def goldenLines: Seq[String] =
    Files.readAllLines(Paths.get(golden), StandardCharsets.UTF_8).asScala.toSeq
}

/** The MapReduce test corpora (FIXTURES.md §1).
  *
  * [[generated]] is a seeded stand-in for the reference lab's eight
  * Project Gutenberg texts: the same file names at about the same byte
  * sizes, written as prose-shaped lines over a Zipf(1.1) vocabulary
  * (the `text_files` generator of `perfbench/gen.py`). The vocabulary
  * opens with common English function words, "the" at rank 1, and goes
  * on with random letter-words that include a non-ASCII letter, so the
  * tokenizer sees multi-byte code points and `len` counts UTF-8 bytes.
  * Its expected word-count lines come from [[MapReduce.sequential]], the
  * port of mrsequential.go, which is also what produced the reference's
  * `mymrout` (GoldenParitySpec's "oracle validity" check pins that).
  *
  * The corpus is generated once per JVM into a temp directory and is
  * identical on every run. The directory is removed at JVM exit, not
  * before: the speculation test's forked driver reads it while the
  * suite runs.
  */
object TextCorpus {
  private val Seed = 42L
  private val VocabSize = 30000
  private val ZipfExponent = 1.1

  /** The reference corpus's file names and byte sizes (FIXTURES.md §1). */
  private val Sizes: Seq[(String, Int)] = Seq(
    "pg-being_ernest.txt" -> 138885,
    "pg-dorian_gray.txt" -> 453168,
    "pg-frankenstein.txt" -> 441033,
    "pg-grimm.txt" -> 540174,
    "pg-huckleberry_finn.txt" -> 594262,
    "pg-metamorphosis.txt" -> 139054,
    "pg-sherlock_holmes.txt" -> 581863,
    "pg-tom_sawyer.txt" -> 412665)

  /** The most frequent English words, roughly in rank order. */
  private val FunctionWords = Seq(
    "the", "of", "and", "to", "a", "in", "that", "he", "was", "it", "his",
    "is", "with", "as", "I", "for", "had", "you", "not", "be", "her", "on",
    "at", "by", "which", "have", "or", "from", "this", "him", "but", "all",
    "she", "they", "were", "my", "are", "me", "one", "their", "so", "an",
    "said", "them", "we", "who", "would", "been", "will", "no", "when",
    "there", "if", "more", "out", "up", "into", "do", "any", "your", "what",
    "has", "man", "could", "other", "than", "our", "some", "very", "time",
    "upon", "about", "may", "its", "only", "now", "like", "little", "then",
    "can", "should", "made", "did", "us", "such", "great", "before", "must",
    "two", "these", "see", "know", "over", "much", "down", "after", "first")

  /** Letters of the random vocabulary words; "é" is two UTF-8 bytes. */
  private val Letters = "abcdefghijklmnopqrstuvwxyzé"

  lazy val generated: MrCorpus = {
    val dir = Files.createTempDirectory("graft-text-corpus")
    // deleteOnExit runs in reverse registration order: files, then dir
    dir.toFile.deleteOnExit()
    val rng = new java.util.Random(Seed)
    val vocab = vocabulary(rng)
    val cdf = zipfCdf(vocab.length)
    val paths = Sizes.map { case (name, bytes) =>
      write(dir.resolve(name), text(rng, vocab, cdf, bytes))
    }
    val lines = MapReduce.sequential(paths.map(_.toString), MrApps.wcMap, MrApps.wcReduce)
      .map(kv => s"${kv.key} ${kv.value}\n")
    val golden = write(dir.resolve("mymrout"), lines.mkString)
    MrCorpus("generated", dir.toString, golden.toString)
  }

  /** The reference lab's corpus and its committed golden `mymrout`. Fails
    * with [[ReferenceCorpus.require]]'s fixture-root message where the
    * reference tree is absent. */
  def reference: MrCorpus = MrCorpus("reference",
    ReferenceCorpus.require(ReferenceCorpus.MainDir), ReferenceCorpus.GoldenWc)

  /** Runs `body` on every corpus on this machine, naming the corpus in
    * any failure: [[generated]], then [[reference]] wherever the
    * reference tree exists. */
  def each(body: MrCorpus => Unit): Unit = {
    val corpora =
      if (Files.isDirectory(Paths.get(ReferenceCorpus.Root))) Seq(generated, reference)
      else Seq(generated)
    for (c <- corpora) withClue(s"[${c.label} corpus] ")(body(c))
  }

  private def write(p: Path, s: String): Path = {
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
    p.toFile.deleteOnExit()
    p
  }

  private def vocabulary(rng: java.util.Random): Array[String] = {
    val words = new java.util.LinkedHashSet[String](FunctionWords.asJava)
    while (words.size < VocabSize) {
      val len = 3 + rng.nextInt(7)
      words.add(Seq.fill(len)(Letters.charAt(rng.nextInt(Letters.length))).mkString)
    }
    words.asScala.toArray
  }

  /** Cumulative Zipf weights 1/rank^s; StrictMath keeps them bit-identical
    * on every JVM. */
  private def zipfCdf(n: Int): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    for (i <- 0 until n) {
      acc += 1.0 / StrictMath.pow(i + 1.0, ZipfExponent)
      cdf(i) = acc
    }
    cdf
  }

  /** Prose-shaped text of at least `bytes` UTF-8 bytes, ending at a line
    * end: sentences of 4-23 Zipf-drawn words, capitalized, with commas
    * and end marks, wrapped at about 70 characters. */
  private def text(rng: java.util.Random, vocab: Array[String], cdf: Array[Double],
      bytes: Int): String = {
    val sb = new java.lang.StringBuilder
    var written = 0
    var lineLen = 0
    def emit(s: String): Unit = {
      sb.append(s)
      written += GoText.goLen(s)
      lineLen += s.length
    }
    while (written < bytes) {
      val words = 4 + rng.nextInt(20)
      for (w <- 0 until words) {
        val k = java.util.Arrays.binarySearch(cdf, rng.nextDouble() * cdf.last)
        val word = vocab(if (k >= 0) k else -k - 1)
        if (lineLen >= 70) { sb.append('\n'); written += 1; lineLen = 0 }
        else if (lineLen > 0) emit(" ")
        emit(if (w == 0) word.capitalize else word)
        if (w == words - 1) emit(if (rng.nextInt(8) == 0) "?" else ".")
        else if (rng.nextInt(12) == 0) emit(",")
      }
    }
    sb.append('\n').toString
  }
}
