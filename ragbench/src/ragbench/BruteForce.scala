package ragbench

/** One collection row as the benchmark mirrors it: the stored float vector. */
final case class Row(id: Long, vector: Array[Float], text: String)

/** A ranked hit of the brute-force search; `score` is NaN for a zero-norm row. */
final case class Hit(id: Long, score: Double, text: String)

/** The benchmark's own exact cosine top-k, against which served results are
  * checked. Arithmetic follows the engine's cosine kernel (float elements
  * widened to double, dot / (|a|·|b|), null for a zero norm) and its order
  * (score descending, nulls last, id ascending). */
object BruteForce {
  val TieEps = 1e-6

  def cosine(v: Array[Float], q: Array[Double]): Double = {
    if (v.length != q.length) return Double.NaN
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < v.length) {
      val x = v(i).toDouble; val y = q(i)
      ab += x * y; aa += x * x; bb += y * y; i += 1
    }
    val d = math.sqrt(aa) * math.sqrt(bb)
    if (d == 0.0) Double.NaN else ab / d
  }

  private val order: Ordering[Hit] = (a: Hit, b: Hit) =>
    if (a.score.isNaN != b.score.isNaN) (if (a.score.isNaN) 1 else -1)
    else if (!a.score.isNaN && a.score != b.score) java.lang.Double.compare(b.score, a.score)
    else java.lang.Long.compare(a.id, b.id)

  /** All rows scored, best first: the check needs the scores past the k-th. */
  def ranked(rows: Iterable[Row], q: Array[Double]): IndexedSeq[Hit] =
    rows.iterator.map(r => Hit(r.id, cosine(r.vector, q), r.text)).toIndexedSeq.sorted(order)

  /** Whether `served` ids are a valid top-k of `ranked`: the same size, every
    * served id scores within TieEps of the k-th score or better, and every id
    * scoring more than TieEps above the k-th score is served. Ties at the k-th
    * score may therefore resolve either way. Returns None when valid, else the
    * reason. */
  def check(served: Seq[Long], ranked: IndexedSeq[Hit], k: Int): Option[String] = {
    val want = math.min(k, ranked.length)
    if (served.length != want) return Some(s"served ${served.length} ids, expected $want")
    if (served.distinct.length != served.length) return Some(s"duplicate ids in ${served.mkString(",")}")
    if (want == 0) return None
    val kth = ranked(want - 1).score
    def s(h: Hit) = if (h.score.isNaN) Double.NegativeInfinity else h.score
    val kthS = if (kth.isNaN) Double.NegativeInfinity else kth
    val byId = ranked.iterator.map(h => h.id -> h).toMap
    served.find(id => !byId.get(id).exists(h => s(h) >= kthS - TieEps))
      .map(id => s"id $id is not within $TieEps of the top-$want (k-th score $kth)")
      .orElse(ranked.takeWhile(h => s(h) > kthS + TieEps).find(h => !served.contains(h.id))
        .map(h => s"id ${h.id} (score ${h.score}) missing; k-th score $kth"))
  }
}
