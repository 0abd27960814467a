package ragbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.functions.TextEmbed
import graft.ingest.Chunkers
import graft.store.Collection

/** The paper's ingest path, driven through the engine's public functions:
  * W6 fixed-size character chunks (`Chunkers.fixedCharChunks`), the column
  * embedder (`TextEmbed.withEmbed`), then `Collection.create` + `insert`.
  * Every workload builds its collection this way. */
object Ingest {
  val Dim = 384

  final case class Result(collection: Collection, rows: Long, seconds: Double) {
    def rowsPerSecond: Double = rows / seconds
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Chunks, embeds and inserts `docs` into a fresh collection `name`; the
    * time is that of `create` + `insert`, inside which the whole plan runs.
    * Traced, the chunk and embed plans also run on their own first, so each
    * layer's self time is the difference between nested calls. */
  def run(spark: SparkSession, docs: Seq[Doc], chunkChars: Int,
          root: String, name: String): Result = {
    import spark.implicits._
    val chunks = Chunkers.fixedCharChunks(docs.map(d => (d.id, d.text)).toDF("doc_id", "text"), chunkChars)
      .select((col("doc_id") * Gen.IdStride + col("chunk_id")).as("id"), col("chunk_text").as("text"))
    val embedded = TextEmbed.withEmbed(chunks, "text", "vector", Dim).select("id", "vector", "text")
    if (Trace.on) {
      Trace.span("ingest.chunk")(noop(chunks))
      Trace.span("functions.embed_rows")(noop(embedded))
    }
    // timed in both modes: the whole plan runs inside insert
    val t0 = System.nanoTime()
    val c = Trace.span("store.insert") {
      val c = Collection.create(spark, root, name, Dim, overwrite = true)
      c.insert(embedded)
      c
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val expected = docs.iterator.map(d => (d.text.length + chunkChars - 1) / chunkChars).sum.toLong
    val rows = c.df.count()
    if (rows != expected)
      throw new Check(s"ingest of $name made $rows rows searchable, expected $expected chunks")
    Result(c, rows, secs)
  }

  /** Embeds (id, text) rows for an upsert, as a writer would. */
  def embedRows(spark: SparkSession, rows: Seq[Doc]): DataFrame = {
    import spark.implicits._
    TextEmbed.withEmbed(rows.map(d => (d.id, d.text)).toDF("id", "text"), "text", "vector", Dim)
      .select("id", "vector", "text")
  }

  /** The stored rows, as the brute-force check mirrors them. */
  def readBack(c: Collection): Seq[Row] =
    c.df.select("id", "vector", "text").collect().toSeq.map { r =>
      Row(r.getLong(0), r.getSeq[Float](1).toArray, r.getString(2))
    }

  private val stop = TextEmbed.Stopwords.toSet
  private val tokenHash = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The embedding `TextEmbed.embedScala` documents, with each token's hash
    * computed once: kept tokens and their 5-character prefixes each add ±1
    * to bucket h mod dim (h = the first 60 bits of the token's MD5, sign from
    * bit 8), then signed square roots, L2-normalized. The read-back checks
    * hold the stored vectors to it. */
  def embed(text: String): Array[Double] = {
    val kept = text.toLowerCase.split("[^a-z0-9]+").filter(t => t.nonEmpty && !stop(t))
    val signed = new Array[Double](Dim)
    (kept ++ kept.map(_.take(5))).foreach { t =>
      val h: Long = tokenHash.computeIfAbsent(t, t => java.nio.ByteBuffer.wrap(
        java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))).getLong >>> 4)
      signed((h % Dim).toInt) += (if (((h >> 8) & 1L) == 1L) 1.0 else -1.0)
    }
    val v = signed.map(x => math.signum(x) * math.sqrt(math.abs(x)))
    var sq = 0.0
    v.foreach(x => sq += x * x)
    val n = math.sqrt(sq)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** The row a correct ingest or upsert stores for `d`: `embed` narrowed
    * to the stored float. */
  def row(d: Doc): Row = Row(d.id, embed(d.text).map(_.toFloat), d.text)

  /** `row` of each doc, computed on all cores. */
  def reference(docs: IndexedSeq[Doc]): IndexedSeq[Row] = Main.parallel(docs.length)(i => row(docs(i)))

  /** None when the rows read back are exactly `want`, else the first difference. */
  def compare(rows: Seq[Row], want: Map[Long, Row]): Option[String] =
    if (rows.length != want.size) Some(s"collection holds ${rows.length} rows, expected ${want.size}")
    else rows.find(r => !want.get(r.id).exists(w =>
      w.text == r.text && java.util.Arrays.equals(w.vector, r.vector)))
      .map(r => s"row ${r.id} differs from the expected collection state")
}

/** A failed correctness check: the run fails with this one-line cause. */
final class Check(msg: String) extends RuntimeException(msg)
