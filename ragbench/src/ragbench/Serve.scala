package ragbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.functions.TextEmbed
import graft.model.QueryResponse
import graft.rag.{ExtractiveLlm, RagServer}
import graft.store.Collection

/** One `POST /query` sent in the timed phase. The writer had finished
  * `doneBefore` upserts when it was sent and had begun `begunAfter` when its
  * reply arrived, so the server answered from one of the collection states
  * in between. */
final case class Req(seq: Int, question: Int, startNs: Long, endNs: Long,
                     status: Int, body: String, doneBefore: Int, begunAfter: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One writer upsert. */
final case class Up(batch: Int, startNs: Long, endNs: Long, rows: Int, bytesWritten: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** `serve` and `serve_write`: closed-loop clients against `RagServer` over
  * loopback, the second with one closed-loop upsert writer beside them. */
object Serve {
  val K = 5
  val ServeChunkChars = 800
  /** Untimed builds of a slice that take the ingest path's one-off JIT and
    * codegen cost, then timed builds of the whole serving collection. */
  val WarmBuilds = 2
  val WarmDocs = 500
  val SetupReps = 4

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def post(port: Int, question: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
        .header("Content-Type", "application/json")
        .timeout(java.time.Duration.ofSeconds(120))
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"question":${Json.str(question)}}""")).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(dirBytes).sum
    else f.length()

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .count(_.getName.endsWith(".parquet"))

  /** Traced: one request's layers in processQuery's order, each called
    * directly in its own span, then a whole processQuery. */
  private def layerCalls(b: Bench, coll: Collection, server: RagServer, q: String, seq: Long): Unit = {
    val qv = Trace.span("functions.embed_query", seq)(TextEmbed.embedScala(q, Ingest.Dim))
    val hits = Trace.span("store.search", seq) {
      b.filesPerSearch.add(parquetFiles(coll.dataDir))
      coll.search(qv, K).select("id", "text").collect()
    }
    val ctx = hits.map(r => Option(r.getString(1)).getOrElse("")).toSeq
    val raw = Trace.span("rag.llm.answer", seq)(ExtractiveLlm.answerOrNull(q, ctx))
    Trace.span("rag.encode", seq)(RagServer.toJson(QueryResponse(
      Option(raw).getOrElse(ExtractiveLlm.Fallback), ctx,
      hits.map(_.getLong(0).toString).toSeq, raw != null)))
    Trace.span("rag.server.process", seq)(server.processQuery(q))
  }

  /** Traced runs of a workload without a server: a few requests through every
    * serving layer, so those per-layer names are measured there too. */
  def probeServing(b: Bench, coll: Collection, questions: Seq[String]): Unit = {
    val server = new RagServer(coll, dim = Ingest.Dim)
    val port = server.start(0)
    try questions.zipWithIndex.foreach { case (q, i) =>
      Trace.span("bench.request", -2L - i) {
        layerCalls(b, coll, server, q, -2L - i)
        Trace.span("rag.server.request", -2L - i)(post(port, q))
      }
    } finally server.stop()
  }

  /** Traced runs of a workload without a writer: one upsert, so the upsert
    * layer is measured there too. */
  def probeUpsert(b: Bench, coll: Collection, batch: Int): Up = {
    val rows = Ingest.embedRows(b.spark, b.gen.upsertBatches(batch).rows)
    val s = System.nanoTime()
    Trace.span("store.upsert")(coll.upsert(rows))
    Up(batch, s, System.nanoTime(), Gen.UpsertRows, dirBytes(new java.io.File(coll.dataDir)))
  }

  /** Writer throughput, commits and write amplification (bytes of each new
    * snapshot over bytes of the upserted rows: id, float vector, text). */
  def upsertExtras(ups: Seq[Up], gen: Gen): Seq[(String, Double)] = Seq(
    "store.upsert_rows_per_s" -> (if (ups.isEmpty) 0.0 else ups.map(_.rows).sum / ups.map(_.ms / 1000).sum),
    "store.versions_committed" -> ups.length.toDouble,
    "store.write_amplification" -> (if (ups.isEmpty) 0.0 else
      ups.map(_.bytesWritten).sum.toDouble / ups.map(u => gen.upsertBatches(u.batch).rows
        .map(d => 8L + 4L * Ingest.Dim + d.text.getBytes("UTF-8").length).sum).sum))

  /** Before the session: the harness's mirror of the serving collection,
    * embedded from the generated docs. */
  def prepare(gen: Gen, writer: Boolean): Bench => Outcome = {
    val mirror = new Mirror(Ingest.reference(gen.chunks(gen.serveDocs, ServeChunkChars)))
    b => run(b, mirror, writer)
  }

  private def run(b: Bench, mirror: Mirror, writer: Boolean): Outcome = {
    val gen = b.gen
    val pool = gen.questionPool
    val nClients = if (writer) b.cpus - 1 else b.cpus

    // set-up: warm the ingest path on a slice, build the collection several
    // times, keeping the last; then start the server and warm it with one
    // request per client
    (0 until WarmBuilds).foreach(r =>
      Ingest.run(b.spark, gen.serveDocs.take(WarmDocs), ServeChunkChars, b.collections, s"warm$r"))
    val ingests = (0 until SetupReps).map(r =>
      Ingest.run(b.spark, gen.serveDocs, ServeChunkChars, b.collections, s"serve$r"))
    val coll = ingests.last.collection
    val t0s = System.nanoTime()
    val server = new RagServer(coll, dim = Ingest.Dim)
    val port = server.start(0)
    (0 until nClients).map(c => b.thread(s"warmup-$c")(post(port, pool(c).text))).foreach(_.join())
    val startSecs = (System.nanoTime() - t0s) / 1e9
    Main.phase("setup")

    // timed phase
    val begun = new AtomicInteger(0)
    val done = new AtomicInteger(0)
    val next = new AtomicInteger(0)
    val reqs = new ConcurrentLinkedQueue[Req]()
    val ups = new ConcurrentLinkedQueue[Up]()
    val errors = new ConcurrentLinkedQueue[String]()
    val t0 = System.nanoTime()
    val deadline = t0 + b.seconds * 1000000000L
    val clients = (0 until nClients).map { c =>
      b.thread(s"client-$c") {
        while (System.nanoTime() < deadline) {
          val seq = next.getAndIncrement()
          val qi = gen.questionStream(seq % gen.questionStream.length)
          val q = pool(qi).text
          Trace.span("bench.request", seq) {
            if (Trace.on) layerCalls(b, coll, server, q, seq)
            val before = done.get()
            val s = System.nanoTime()
            val (status, body) =
              try Trace.span("rag.server.request", seq)(post(port, q))
              catch { case e: java.io.IOException => (-1, e.toString) }
            reqs.add(Req(seq, qi, s, System.nanoTime(), status, body, before, begun.get()))
          }
        }
      }
    }
    val writerThread = if (!writer) None else Some(b.thread("writer") {
      var i = 0
      while (System.nanoTime() < deadline && i < gen.upsertBatches.length) {
        val batch = gen.upsertBatches(i)
        val rows = Ingest.embedRows(b.spark, batch.rows)
        begun.incrementAndGet()
        val s = System.nanoTime()
        val (replaced, inserted) = Trace.span("store.upsert")(coll.upsert(rows))
        val e = System.nanoTime()
        done.incrementAndGet()
        ups.add(Up(i, s, e, batch.rows.length, dirBytes(new java.io.File(coll.dataDir))))
        if (replaced != batch.replaced || inserted != batch.rows.length - batch.replaced)
          errors.add(s"upsert $i reported ($replaced replaced, $inserted inserted), " +
            s"expected (${batch.replaced}, ${batch.rows.length - batch.replaced})")
        // read-your-writes: a search for one upserted row's own text
        val own = batch.rows(i % batch.rows.length)
        val ids = coll.search(TextEmbed.embedScala(own.text, Ingest.Dim), K)
          .select("id").collect().map(_.getLong(0))
        if (!ids.contains(own.id))
          errors.add(s"read-your-writes: after upsert $i a search for row ${own.id}'s text " +
            s"returned [${ids.mkString(",")}]")
        i += 1
      }
    })
    clients.foreach(_.join())
    writerThread.foreach(_.join())
    val tEnd = reqs.asScala.map(_.endNs).maxOption.getOrElse(System.nanoTime())
    val heapMb = b.heapGrowthMb()
    server.stop()
    Main.phase("timed")

    // correctness: every reply against the brute-force top-k of a state the
    // server could have answered from
    val upList = ups.asScala.toSeq.sortBy(_.batch)
    upList.foreach(u => mirror.apply(gen.upsertBatches(u.batch)))
    val finalRows = Ingest.readBack(coll)
    mirror.checkFinal(finalRows).foreach(errors.add)
    val reqList = reqs.asScala.toSeq.sortBy(_.seq)
    val verdicts = reqList.map(r => mirror.verify(pool(r.question).text, r, K))
    val reqErrors = verdicts.zip(reqList).collect {
      case (v, r) if v.error.nonEmpty => s"request ${r.seq}: ${v.error.get}"
    }
    val answered = verdicts.filter(_.recall.nonEmpty)
    val recall = Stats.mean(answered.flatMap(_.recall))
    val firstSeen = reqList.zip(verdicts).groupBy(_._1.question).values.map(_.minBy(_._1.seq)).toSeq
    val grades = firstSeen.collect { case (r, v) if !pool(r.question).offVocab =>
      ExtractiveLlm.judge(pool(r.question).text, pool(r.question).expected, v.answer)
    }

    // traced: measure the layers this workload does not call
    val probeUps = if (Trace.on && !writer) Seq(probeUpsert(b, coll, 0)) else Nil
    if (Trace.on) BatchEval.probePipeline(b, coll.df)

    val lat = reqList.map(_.ms)
    val secs = (tEnd - t0) / 1e9
    val notFound = reqList.count(_.status == 404)
    val details = Seq(
      "clients" -> nClients.toString,
      "requests" -> reqList.length.toString,
      "distinct_questions" -> firstSeen.length.toString,
      "repeat_share" -> Json.num(gen.repeatShare(reqList.length)),
      "not_found_404" -> notFound.toString,
      "recall_at_5" -> Json.num(recall),
      "query_p95_ms" -> Stats.reportable(lat, 0.95).map(Json.num).getOrElse("null"),
      "query_tail" -> Stats.tail(lat).map { case (p, v) => s"""{"p":$p,"ms":${Json.num(v)}}""" }.getOrElse("null"),
      "upserts" -> upList.length.toString,
      "upsert_rows_per_s" -> Json.num(upsertExtras(upList, gen).head._2),
      "setup_ingest_s" -> ingests.map(r => Json.num(r.seconds)).mkString("[", ",", "]"),
      "setup_server_s" -> Json.num(startSecs))
    Outcome(
      metrics = Seq(
        M("setup_s", b.sessionSeconds + Stats.median(ingests.map(_.seconds)) + startSecs, "s"),
        M("query_p50_ms", Stats.median(lat), "ms"),
        M("query_qps", reqList.length / secs, "1/s"),
        M("ingest_rows_per_s", Stats.median(ingests.map(_.rowsPerSecond)), "rows/s"),
        M("mean_grade", Stats.mean(grades), "ratio"),
        M("heap_used_mb", heapMb, "MB")),
      attempted = reqList.length + upList.length,
      failed = reqErrors.length + errors.size,
      errors = reqErrors ++ errors.asScala,
      details = details,
      layerExtras = ("ingest.chunks" -> gen.serveDocs.length.toDouble) +: upsertExtras(upList ++ probeUps, gen))
  }
}

/** The benchmark's copy of the serving collection: the state a correct
  * set-up builds, then one state per upsert the writer finished. */
final class Mirror(base: Seq[Row]) {
  private val states = scala.collection.mutable.ArrayBuffer(
    base.iterator.map(r => r.id -> r).toMap)
  private val rankedCache = new java.util.concurrent.ConcurrentHashMap[(String, Int), IndexedSeq[Hit]]()

  def apply(batch: UpsertBatch): Unit =
    states += states.last ++ batch.rows.map(d => d.id -> Ingest.row(d))

  private def ranked(q: String, state: Int): IndexedSeq[Hit] =
    rankedCache.computeIfAbsent((q, state), _ =>
      BruteForce.ranked(states(state).values, Ingest.embed(q)))

  /** The collection read back at the end must equal the last state. */
  def checkFinal(rows: Seq[Row]): Option[String] = Ingest.compare(rows, states.last)

  final case class Verdict(error: Option[String], recall: Option[Double], answer: String)

  /** A reply is correct if, for some state it could have been answered
    * from, a 200 serves a valid top-k (ties allowed), with each context the
    * text of its id and the answer the LLM gives on those contexts, and a 404
    * carries the LLM's fallback and happens exactly when the LLM falls back
    * on the brute-force top-k. */
  def verify(q: String, r: Req, k: Int): Verdict = {
    val candidates = (r.doneBefore to math.min(r.begunAfter, states.length - 1))
    def on200: Verdict = {
      val m = try Json.parse(r.body).asInstanceOf[Map[String, Any]]
      catch { case e: Exception => return Verdict(Some(s"unparseable 200 body: ${e.getMessage}"), None, "") }
      val ids = m("source_ids").asInstanceOf[Vector[Any]].map(_.toString.toLong)
      val ctx = m("context").asInstanceOf[Vector[Any]].map(_.toString)
      val answer = m("response").toString
      val results = candidates.map { s =>
        val rk = ranked(q, s)
        val err = BruteForce.check(ids, rk, k)
          .orElse(ids.zip(ctx).find { case (id, c) => !states(s).get(id).exists(_.text == c) }
            .map { case (id, _) => s"context of id $id is not its text" })
          .orElse(Option.when(answer != ExtractiveLlm.answer(q, ctx))(
            "answer differs from the LLM's answer on the served contexts"))
          .orElse(Option.when(m("success") != true)("200 without success"))
        val top = rk.take(k).map(_.id).toSet
        (err, ids.count(top.contains).toDouble / math.max(1, top.size))
      }
      results.find(_._1.isEmpty) match {
        case Some(_) => Verdict(None, Some(1.0), answer)
        case None => Verdict(results.head._1, Some(results.map(_._2).max), answer)
      }
    }
    def on404: Verdict = {
      val detail = try Json.parse(r.body).asInstanceOf[Map[String, Any]].get("detail")
      catch { case _: Exception => None }
      if (!detail.contains(ExtractiveLlm.Fallback))
        return Verdict(Some(s"404 without the LLM's fallback: ${r.body.take(200)}"), None, "")
      val ok = candidates.exists { s =>
        ExtractiveLlm.answerOrNull(q, ranked(q, s).take(k).map(_.text)) == null
      }
      Verdict(Option.when(!ok)("404, but the LLM answers on the brute-force top-k"), None,
        ExtractiveLlm.Fallback)
    }
    r.status match {
      case 200 => on200
      case 404 => on404
      case s => Verdict(Some(s"HTTP $s: ${r.body.take(200)}"), None, "")
    }
  }
}
