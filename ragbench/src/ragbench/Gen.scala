package ragbench

import scala.collection.mutable

/** SplitMix64: a tiny PRNG whose output depends only on the seed, so the
  * generated inputs are byte-identical across JDK versions (java.util.Random
  * is stable too, but its bounded draws are awkward to reason about). */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
}

/** Zipf(s) draws over ranks 0 until n, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def draw(r: Rng): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

final case class Doc(id: Long, text: String)

/** A question with the sentence it was drawn from; `expected` is empty for
  * off-vocabulary questions, whose words never occur in the corpus. */
final case class Question(text: String, expected: String) {
  def offVocab: Boolean = expected.isEmpty
}

/** One writer batch: `replaced` ids already live before the batch, the rest new. */
final case class UpsertBatch(rows: Seq[Doc], replaced: Int)

/** Every input the benchmark feeds the system, made from one seed.
  *
  * The corpus imitates the shape of the sf0.1 `documents` table (5,000 docs of
  * about 300 characters drawn from a small technical vocabulary) and adds a
  * Zipf-distributed synthetic vocabulary, so that questions built from a
  * sentence's rare words have one clear source. Corpus words use no `x` or
  * `z`; off-vocabulary words use only those consonants, so they can never match
  * corpus text. */
final class Gen(val seed: Long) {
  import Gen._

  private def rng(stream: Int) = new Rng(seed * 0x2545F4914F6CDD1DL + stream)

  val vocab: Array[String] = {
    val r = rng(1)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < SyntheticWords) {
      val w = (1 to r.between(2, 4)).map(_ =>
        s"${Consonants(r.nextInt(Consonants.length))}${Vowels(r.nextInt(Vowels.length))}").mkString
      if (!BaseWords.contains(w)) seen += w
    }
    seen.toArray
  }
  private val vocabZipf = new Zipf(vocab.length, 1.0)

  private def sentence(r: Rng): String =
    (1 to r.between(5, 10)).map { _ =>
      if (r.nextDouble() < 0.4) BaseWords(r.nextInt(BaseWords.length))
      else vocab(vocabZipf.draw(r))
    }.mkString(" ") + "."

  private def docText(r: Rng, lo: Int, hi: Int): String =
    (1 to r.between(lo, hi)).map(_ => sentence(r)).mkString(" ")

  /** The serving corpus: ids 0 until ServeDocs. */
  lazy val serveDocs: IndexedSeq[Doc] = {
    val r = rng(2)
    (0 until ServeDocs).map(i => Doc(i.toLong, docText(r, 4, 7)))
  }

  private def sentencesOf(text: String): Array[String] =
    text.split("(?<=\\.) ").map(_.trim).filter(_.nonEmpty)

  private def rareWords(s: String): Array[String] =
    s.stripSuffix(".").split(" ").filterNot(BaseWords.contains).distinct

  private val vocabRank: Map[String, Int] = vocab.zipWithIndex.toMap

  /** A question from the QuestionWords least frequent words of `s` (so it
    * points at `s` and few other sentences), or None if `s` has fewer
    * synthetic words. */
  private def questionFrom(s: String): Option[Question] = {
    val words = rareWords(s).sortBy(w => -vocabRank(w))
    if (words.length < QuestionWords) None
    else Some(Question(s"What about ${words.take(QuestionWords).mkString(" ")}?", s))
  }

  private def offVocabQuestion(r: Rng): Question = {
    def word = (1 to r.between(2, 3)).map(_ =>
      s"${OffConsonants(r.nextInt(OffConsonants.length))}${Vowels(r.nextInt(Vowels.length))}").mkString
    Question(s"What about $word $word $word?", "")
  }

  /** Distinct serving questions: most from a corpus sentence, a seeded share
    * off-vocabulary. */
  lazy val questionPool: IndexedSeq[Question] = {
    val r = rng(3)
    val seen = mutable.LinkedHashMap.empty[String, Question]
    while (seen.size < PoolSize) {
      val q =
        if (r.nextDouble() < OffVocabShare) Some(offVocabQuestion(r))
        else {
          val sents = sentencesOf(serveDocs(r.nextInt(serveDocs.length)).text)
          questionFrom(sents(r.nextInt(sents.length)))
        }
      q.filterNot(x => seen.contains(x.text)).foreach(x => seen(x.text) = x)
    }
    seen.values.toIndexedSeq
  }

  /** The order clients send questions in: Zipf-skewed pool indexes, so
    * popular questions repeat the way users repeat them. */
  lazy val questionStream: Array[Int] = {
    val r = rng(4)
    val z = new Zipf(PoolSize, StreamZipfS)
    // rank -> pool index through a seeded permutation, so the popular
    // questions are not simply the first ones generated
    val perm = (0 until PoolSize).toArray
    for (i <- perm.indices.reverse) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    Array.fill(StreamLength)(perm(z.draw(r)))
  }

  /** Share of the first `n` stream draws that repeat an earlier draw. */
  def repeatShare(n: Int): Double =
    if (n <= 0) 0.0 else 1.0 - questionStream.take(n).distinct.length.toDouble / n

  /** Writer batches: half replace live ids, half add new ones. Ids are
    * serving-collection ids (doc id * IdStride). */
  lazy val upsertBatches: IndexedSeq[UpsertBatch] = {
    val r = rng(5)
    val live = mutable.ArrayBuffer.from(serveDocs.map(d => d.id * IdStride))
    var nextDoc = ServeDocs.toLong
    (0 until UpsertBatchCount).map { _ =>
      val replacedIds = mutable.LinkedHashSet.empty[Long]
      while (replacedIds.size < UpsertRows / 2) replacedIds += live(r.nextInt(live.length))
      val fresh = (0 until UpsertRows - replacedIds.size).map { _ =>
        val id = nextDoc * IdStride; nextDoc += 1; live += id; id
      }
      UpsertBatch((replacedIds.toSeq ++ fresh).map(id => Doc(id, docText(r, 4, 7))),
        replacedIds.size)
    }
  }

  /** The offline corpus: BatchDocs documents recombined from serving-corpus
    * sentences, longer than a serving doc so each one makes several chunks. */
  lazy val batchDocs: IndexedSeq[Doc] = {
    val r = rng(6)
    val sents = serveDocs.flatMap(d => sentencesOf(d.text))
    (0 until BatchDocs).map { i =>
      Doc(i.toLong, (1 to r.between(6, 12)).map(_ => sents(r.nextInt(sents.length))).mkString(" "))
    }
  }

  /** The chunks `Chunkers.fixedCharChunks(size)` makes of `docs`, with
    * collection ids: a plain character slice, as the chunker documents. */
  def chunks(docs: Seq[Doc], size: Int): IndexedSeq[Doc] =
    docs.flatMap { d =>
      d.text.grouped(size).zipWithIndex.collect {
        case (c, i) if c.nonEmpty => Doc(d.id * IdStride + i, c)
      }
    }.toIndexedSeq

  /** QA pairs over the offline corpus: a question from a sentence that lies
    * whole inside one chunk, expecting that sentence. */
  lazy val qaPairs: IndexedSeq[Question] = {
    val r = rng(7)
    val seen = mutable.LinkedHashMap.empty[String, Question]
    while (seen.size < QaCount) {
      val text = batchDocs(r.nextInt(batchDocs.length)).text
      // sentence spans in the doc; a span inside one chunk starts and ends
      // in the same BatchChunkChars window
      val starts = sentencesOf(text).scanLeft(0)((at, s) => at + s.length + 1)
      val whole = sentencesOf(text).zip(starts).collect {
        case (s, at) if at / BatchChunkChars == (at + s.length - 1) / BatchChunkChars => s
      }
      if (whole.nonEmpty)
        questionFrom(whole(r.nextInt(whole.length)))
          .filterNot(q => seen.contains(q.text)).foreach(q => seen(q.text) = q)
    }
    seen.values.toIndexedSeq
  }

  /** MD5 over every generated input, in a fixed order: equal digests mean
    * byte-identical inputs. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def add(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    serveDocs.foreach(d => add(s"${d.id}:${d.text}"))
    questionPool.foreach(q => add(s"${q.text}|${q.expected}"))
    questionStream.foreach(i => add(i.toString))
    upsertBatches.foreach(b => b.rows.foreach(d => add(s"${d.id}:${d.text}")))
    batchDocs.foreach(d => add(s"${d.id}:${d.text}"))
    qaPairs.foreach(q => add(s"${q.text}|${q.expected}"))
    md.digest().map("%02x".format(_)).mkString
  }
}

object Gen {
  /** The sf0.1 documents' vocabulary. */
  val BaseWords: IndexedSeq[String] = IndexedSeq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer")
  private val Consonants = "bcdfghklmnprstvw"
  private val OffConsonants = "xz"
  private val Vowels = "aeiou"

  val SyntheticWords = 4000
  val ServeDocs = 5000
  val PoolSize = 2000
  val QuestionWords = 4
  val OffVocabShare = 0.05
  val StreamZipfS = 1.0
  val StreamLength = 100000
  val UpsertRows = 50
  val UpsertBatchCount = 200
  val BatchDocs = 10000
  val BatchChunkChars = 400
  val QaCount = 600
  /** Collection id = doc id * IdStride + chunk index; docs stay short enough
    * that a doc never has IdStride chunks. */
  val IdStride = 64L
}
