package ragbench

import scala.collection.mutable
import graft.functions.TextKernels
import graft.rag.ExtractiveLlm

/** What `RagPipeline.evalBatch` must return for one QA pair. */
final case class Expected(sourceIds: Seq[Long], answer: String, success: Boolean, grade: Double)

/** The benchmark's own evaluation of QA pairs over a collection, against
  * which every `evalBatch` row is checked. It follows the pipeline's
  * documented semantics, not its code: cosine top-k with scores rounded to 6
  * decimals (half up), BM25 top-k (Lucene idf, k1=1.2, b=0.75, each term's
  * score lifted to integer millionths before the sum), both fused by
  * reciprocal rank (1/(60 + rank)); every ranking breaks ties on the lower
  * id. Then the `ExtractiveLlm` answer on the fused contexts in rank order,
  * the fallback when it has none, and the judge's grade of that answer. */
object RefPipeline {
  val RrfC = 60
  val K1 = 1.2
  val B = 0.75

  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Cosine top-k of each query vector. Rounded scores keep the order of
    * raw ones but can tie them, so only rows within a rounding step of the
    * k-th score can make the top k; those are scored exactly as the engine
    * does, rounded, and ranked by rounded score descending (NaN last), then
    * id. The first pass scores every row against all queries at once, on all
    * cores, so each row is read once. */
  def cosineTopK(rows: IndexedSeq[Row], qvs: IndexedSeq[Array[Double]], k: Int): IndexedSeq[Seq[Long]] = {
    val qn = qvs.map(q => math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))).toArray
    val approx = Array.ofDim[Double](qvs.length, rows.length)
    java.util.stream.IntStream.range(0, rows.length).parallel().forEach { i =>
      val v = rows(i).vector
      val vn = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      var q = 0
      while (q < qvs.length) {
        val qv = qvs(q)
        var ab = 0.0; var j = 0
        while (j < v.length) { ab += v(j) * qv(j); j += 1 }
        approx(q)(i) = if (vn * qn(q) == 0.0) Double.NaN else ab / (vn * qn(q))
        q += 1
      }
    }
    Main.parallel(qvs.length) { q =>
      val scored = approx(q).filterNot(_.isNaN)
      java.util.Arrays.sort(scored)
      val kth = scored.lift(scored.length - k).getOrElse(Double.NegativeInfinity)
      rows.indices.filter(i => approx(q)(i).isNaN || approx(q)(i) >= kth - 1e-6)
        .map(i => (round6(BruteForce.cosine(rows(i).vector, qvs(q))), rows(i).id))
        .sortBy { case (s, id) => (s.isNaN, if (s.isNaN) 0.0 else -s, id) }
        .take(k).map(_._2)
    }
  }

  /** BM25 over `texts` for questions whose terms lie in `terms`: postings
    * hold (row, lifted term score) for those terms only. */
  final class Bm25(ids: IndexedSeq[Long], texts: IndexedSeq[String], terms: Set[String]) {
    private val postings: Map[String, Seq[(Int, Long)]] = {
      val tf = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Int)]]
      val dl = texts.indices.map { i =>
        val toks = TextKernels.tokensLocal(texts(i))
        toks.filter(terms.contains).groupBy(identity).foreach { case (t, occ) =>
          tf.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += (i -> occ.length)
        }
        toks.length.toDouble
      }
      val n = texts.length.toDouble
      val avgdl = dl.sum / n
      def lifted(df: Double, tf: Double, d: Double): Long = {
        val s = StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0) *
          (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * (d / avgdl))))
        math.floor(round6(s) * 1e6 + 0.5).toLong
      }
      tf.map { case (t, p) => t -> p.map { case (i, f) => i -> lifted(p.length, f, dl(i)) }.toSeq }.toMap
    }

    def topK(question: String, k: Int): Seq[Long] = {
      val score = mutable.HashMap.empty[Int, Long]
      TextKernels.tokensLocal(question).distinct.foreach { t =>
        postings.getOrElse(t, Nil).foreach { case (i, s) => score(i) = score.getOrElse(i, 0L) + s }
      }
      score.toSeq.sortBy { case (i, s) => (-s, ids(i)) }.take(k).map(h => ids(h._1))
    }
  }

  /** Reciprocal rank fusion of two rankings, best first. */
  def fuse(cosine: Seq[Long], bm25: Seq[Long], k: Int): Seq[Long] = {
    def rrf(ranked: Seq[Long], id: Long): Double = {
      val r = ranked.indexOf(id)
      if (r < 0) 0.0 else 1.0 / (RrfC + r + 1)
    }
    (cosine ++ bm25).distinct.map(id => (rrf(cosine, id) + rrf(bm25, id), id))
      .sortBy { case (s, id) => (-s, id) }.take(k).map(_._2)
  }

  /** The expected row of each QA pair over `rows`. */
  def expect(rows: IndexedSeq[Row], qa: IndexedSeq[Question], k: Int): IndexedSeq[Expected] = {
    val terms = qa.flatMap(q => TextKernels.tokensLocal(q.text)).toSet
    val bm25 = new Bm25(rows.map(_.id), rows.map(_.text), terms)
    val cosine = cosineTopK(rows, qa.map(q => Ingest.embed(q.text)), k)
    val textOf = rows.iterator.map(r => r.id -> r.text).toMap
    Main.parallel(qa.length) { i =>
      val q = qa(i)
      val ids = fuse(cosine(i), bm25.topK(q.text, k), k)
      val raw = ExtractiveLlm.answerOrNull(q.text, ids.map(textOf))
      val answer = Option(raw).getOrElse(ExtractiveLlm.Fallback)
      Expected(ids, answer, raw != null, ExtractiveLlm.judge(q.text, q.expected, answer))
    }
  }
}
