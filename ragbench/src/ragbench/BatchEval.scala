package ragbench

import org.apache.spark.sql.{DataFrame, Row => SRow}
import graft.functions.TextEmbed
import graft.rag.RagPipeline

/** `batch_eval`: the paper's offline pipeline on one driver thread. The timed
  * phase ingests the enlarged corpus `Ingests` times, then answers and grades
  * `EvalCalls` batches of QA pairs with `RagPipeline.evalBatch` (k=5, the
  * ExtractiveLlm stub) over the last ingested collection. The work is fixed,
  * so `--seconds` does not apply. */
object BatchEval {
  val K = 5
  val SetupReps = 3
  val WarmDocs = 500
  val WarmQuestions = 5
  val EvalBatchSize = 40
  val Ingests = 4
  val EvalCalls = 3

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def qaFrame(b: Bench, from: Int, n: Int): DataFrame = {
    import b.spark.implicits._
    val qa = b.gen.qaPairs
    (from until from + n).map(i => (i.toLong, qa(i % qa.length).text, qa(i % qa.length).expected))
      .toDF("qid", "question", "expected_answer")
  }

  /** Eval of one QA batch: its rows and the seconds evalBatch took. With
    * `layers`, each nested layer first runs as its own traced action: cosine
    * and BM25 retrieval, their hybrid fusion, then answering. */
  private def evalCall(b: Bench, qa: DataFrame, coll: DataFrame, layers: Boolean): (Array[SRow], Double) = {
    if (layers) {
      val q = qa.select("qid", "question")
      val qv = TextEmbed.withEmbed(q, "question", "qv", Ingest.Dim)
      Trace.span("rag.pipeline.retrieve_cosine")(noop(RagPipeline.retrieveAll(qv, coll, K)))
      Trace.span("rag.pipeline.retrieve_bm25")(noop(RagPipeline.bm25All(q, coll, K)))
      Trace.span("rag.pipeline.retrieve_hybrid")(noop(RagPipeline.retrieveHybrid(qv, coll, K)))
      Trace.span("rag.pipeline.answer")(noop(RagPipeline.answerBatch(q, coll, K, Ingest.Dim)))
    }
    val t0 = System.nanoTime()
    val rows = Trace.span("rag.pipeline.eval") {
      RagPipeline.evalBatch(qa, coll, K, Ingest.Dim)
        .select("qid", "answer", "source_ids", "success", "grade").collect()
    }
    (rows, (System.nanoTime() - t0) / 1e9)
  }

  /** Traced runs of the serving workloads: one small batch through every
    * pipeline layer, so those per-layer names are measured there too. */
  def probePipeline(b: Bench, coll: DataFrame): Unit =
    evalCall(b, qaFrame(b, 0, WarmQuestions), coll, layers = true)

  /** Before the session: the rows a correct ingest stores and the row
    * evalBatch must return for each evaluated question. */
  def prepare(gen: Gen): Bench => Outcome = {
    val rows = Ingest.reference(gen.chunks(gen.batchDocs, Gen.BatchChunkChars))
    val qa = (0 until EvalCalls * EvalBatchSize).map(i => gen.qaPairs(i % gen.qaPairs.length))
    val expected = RefPipeline.expect(rows, qa, K)
    val byId = rows.iterator.map(r => r.id -> r).toMap
    b => run(b, byId, expected)
  }

  private def run(b: Bench, reference: Map[Long, Row], expected: IndexedSeq[Expected]): Outcome = {
    val gen = b.gen
    val docs = gen.batchDocs

    // set-up: ingest a slice several times, then one eval to warm the
    // answer path
    val reps = (0 until SetupReps).map(r =>
      Ingest.run(b.spark, docs.take(WarmDocs), Gen.BatchChunkChars, b.collections, s"warm$r"))
    val repSecs = reps.map(_.seconds)
    val warmEvalSecs = evalCall(b, qaFrame(b, 0, WarmQuestions), reps.last.collection.df, layers = false)._2
    Main.phase("setup")
    val ingested = (0 until Ingests).map(i =>
      Ingest.run(b.spark, docs, Gen.BatchChunkChars, b.collections, s"batch${i % 2}"))
    val coll = ingested.last.collection.df

    final case class Call(from: Int, seconds: Double, rows: Array[SRow])
    val evaluated = (0 until EvalCalls).map { c =>
      val from = c * EvalBatchSize
      val (rows, secs) = evalCall(b, qaFrame(b, from, EvalBatchSize), coll, layers = Trace.on && c == 0)
      Call(from, secs, rows)
    }
    val heapMb = b.heapGrowthMb()
    Main.phase("timed")

    // correctness: the collection is the chunks as the harness embeds them;
    // one row per question, known source ids, grades in [0, 1], each row as
    // the harness's own evaluation gives it, and one output digest per
    // question for every run of this seed
    val errors = Seq.newBuilder[String]
    var failed = 0
    Ingest.compare(Ingest.readBack(ingested.last.collection), reference)
      .foreach { e => failed += 1; errors += e }
    evaluated.foreach { call =>
      val want = (call.from until call.from + EvalBatchSize).map(_.toLong).toSet
      val got = call.rows.map(_.getLong(0))
      if (got.length != want.size || got.toSet != want) {
        errors += s"eval batch at ${call.from}: ${got.length} rows for ${want.size} questions"
        failed += (want -- got).size
      }
      call.rows.foreach { r =>
        val qid = r.getLong(0)
        val ids = r.getSeq[Long](2)
        val bad = ids.filterNot(reference.contains)
        val grade = r.getDouble(4)
        val want = expected.lift(qid.toInt).getOrElse(Expected(Nil, "", success = false, Double.NaN))
        val err =
          if (qid < call.from || qid >= call.from + EvalBatchSize) Some("not a question of its batch")
          else if (bad.nonEmpty) Some(s"unknown source ids ${bad.mkString(",")}")
          else if (!(grade >= 0.0 && grade <= 1.0) || r.isNullAt(1)) Some(s"grade $grade / answer ${r.get(1)}")
          else if (ids != want.sourceIds)
            Some(s"source ids [${ids.mkString(",")}], expected [${want.sourceIds.mkString(",")}]")
          else if (r.getString(1) != want.answer || r.getBoolean(3) != want.success)
            Some(s"answer (success ${r.getBoolean(3)}) differs from the LLM's on the expected contexts")
          else Option.when(grade != want.grade)(s"grade $grade, expected ${want.grade}")
        err.foreach { e => failed += 1; errors += s"question $qid: $e" }
      }
    }
    val digests = evaluated.flatMap(_.rows).map(r => r.getLong(0).toInt -> md5(
      s"${r.getString(1)}|${r.getSeq[Long](2).mkString(",")}|${r.getBoolean(3)}|${r.getDouble(4)}"))
      .sortBy(_._1)
    errors ++= b.checkDigests("batch_eval", digests)

    val grades = evaluated.flatMap(_.rows.map(_.getDouble(4)))
    // traced: measure the serving and upsert layers this workload does not call
    val probeUps = if (!Trace.on) Nil else {
      Serve.probeServing(b, ingested.last.collection, gen.questionPool.take(b.cpus).map(_.text))
      Seq(Serve.probeUpsert(b, ingested.last.collection, 0))
    }
    val evalSecs = evaluated.map(_.seconds).sum
    val questions = evaluated.length * EvalBatchSize
    Outcome(
      metrics = Seq(
        M("setup_s", b.sessionSeconds + Stats.median(repSecs) + warmEvalSecs, "s"),
        M("query_p50_ms", Stats.median(evaluated.map(_.seconds * 1000 / EvalBatchSize)), "ms"),
        M("query_qps", questions / evalSecs, "1/s"),
        M("ingest_rows_per_s", Stats.median(ingested.map(_.rowsPerSecond)), "rows/s"),
        M("mean_grade", Stats.mean(grades.toSeq), "ratio"),
        M("heap_used_mb", heapMb, "MB")),
      attempted = ingested.length + questions,
      failed = failed,
      errors = errors.result(),
      details = Seq(
        "ingests" -> ingested.length.toString,
        "rows_per_ingest" -> ingested.last.rows.toString,
        "eval_calls" -> evaluated.length.toString,
        "eval_questions" -> questions.toString,
        "eval_questions_per_s" -> Json.num(questions / evalSecs),
        "eval_digest" -> Json.str(md5(digests.map(_._2).mkString)),
        "setup_ingest_s" -> repSecs.map(Json.num).mkString("[", ",", "]"),
        "setup_eval_s" -> Json.num(warmEvalSecs)),
      layerExtras = ("ingest.chunks" -> ingested.last.rows.toDouble) +: Serve.upsertExtras(probeUps, gen))
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
