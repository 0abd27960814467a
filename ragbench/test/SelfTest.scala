package ragbench

/** Tests of the benchmark's own code (no Spark session needed):
  * `python3 ragbench/run.py --self-test`. Exits non-zero on any failure. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def row(id: Long, v: Float*) = Row(id, v.toArray, s"text $id")

  def main(args: Array[String]): Unit = {
    test("generator: the same seed gives byte-identical inputs") {
      val a = new Gen(7); val b = new Gen(7)
      eq(a.digest, b.digest, "digest")
      eq(a.questionStream.toSeq.take(500), b.questionStream.toSeq.take(500), "stream")
      eq(a.repeatShare(300), b.repeatShare(300), "repeat share")
    }
    test("generator: another seed gives other inputs") {
      assert(new Gen(7).digest != new Gen(8).digest)
    }
    test("generator: questions are distinct, off-vocabulary words never occur in the corpus") {
      val g = new Gen(3)
      eq(g.questionPool.map(_.text).distinct.length, Gen.PoolSize, "distinct questions")
      val corpus = g.serveDocs.flatMap(_.text.stripSuffix(".").split("[ .]+")).toSet
      val off = g.questionPool.filter(_.offVocab)
      assert(off.nonEmpty, "no off-vocabulary questions")
      off.foreach(q => q.text.stripPrefix("What about ").stripSuffix("?").split(" ")
        .foreach(w => assert(!corpus.contains(w), s"$w occurs in the corpus")))
      g.questionPool.filterNot(_.offVocab).take(50).foreach(q =>
        assert(g.serveDocs.exists(_.text.contains(q.expected)), s"no source for ${q.text}"))
    }
    test("generator: upsert batches replace half, add half; QA answers lie in one chunk") {
      val g = new Gen(3)
      g.upsertBatches.take(5).foreach { b =>
        eq(b.rows.length, Gen.UpsertRows, "batch rows"); eq(b.replaced, Gen.UpsertRows / 2, "replaced")
        eq(b.rows.map(_.id).distinct.length, b.rows.length, "distinct ids")
      }
      val chunks = g.chunks(g.batchDocs, Gen.BatchChunkChars).map(_.text)
      g.qaPairs.take(20).foreach(q => assert(chunks.exists(_.contains(q.expected)), q.expected))
    }

    // a hand-made collection of six rows, scored against q = (1, 0, 0)
    val q = Array(1.0, 0.0, 0.0)
    val rows = Seq(
      row(1, 1f, 0f, 0f), // 1.0
      row(2, 0f, 1f, 0f), // 0.0
      row(3, 1f, 1f, 0f), // 0.7071
      row(4, 0f, 0f, 0f), // zero norm: no score, ranks last
      row(5, 1f, 0f, 1f), // 0.7071, ties with 3
      row(6, -1f, 0f, 0f)) // -1.0
    test("brute force: cosine top-k orders by score, then id, zero norm last") {
      val ranked = BruteForce.ranked(rows, q)
      eq(ranked.map(_.id), Seq(1L, 3L, 5L, 2L, 6L, 4L), "order")
      assert(math.abs(ranked(1).score - math.sqrt(0.5)) < 1e-12)
      assert(ranked(5).score.isNaN, "zero norm has no score")
    }
    test("brute force: a tie at the k-th score may resolve either way, nothing else may") {
      val ranked = BruteForce.ranked(rows, q)
      eq(BruteForce.check(Seq(1L, 3L), ranked, 2), None, "exact")
      eq(BruteForce.check(Seq(1L, 5L), ranked, 2), None, "tie swapped")
      assert(BruteForce.check(Seq(3L, 5L), ranked, 2).nonEmpty, "missing the best row")
      assert(BruteForce.check(Seq(1L, 2L), ranked, 2).nonEmpty, "a row below the k-th score")
      assert(BruteForce.check(Seq(1L), ranked, 2).nonEmpty, "too few ids")
      assert(BruteForce.check(Seq(1L, 1L), ranked, 2).nonEmpty, "a duplicate id")
    }

    test("reference embedding: bit-identical to TextEmbed.embedScala") {
      val g = new Gen(3)
      (g.serveDocs.take(200).map(_.text) ++ g.questionPool.take(50).map(_.text) ++
        Seq("", "the of a", "Übung 42 x-y_z")).foreach { t =>
        assert(java.util.Arrays.equals(Ingest.embed(t), graft.functions.TextEmbed.embedScala(t, Ingest.Dim)), t)
      }
    }
    test("reference pipeline: BM25 ranks by integer score, then the lower id") {
      val bm = new RefPipeline.Bm25(IndexedSeq(1L, 2L, 3L, 4L),
        IndexedSeq("apple banana", "apple apple cherry", "cherry date", "banana"), Set("apple", "cherry"))
      // 1 and 3 score alike: one query term once, in docs of equal length
      eq(bm.topK("Apple, cherry?", 5), Seq(2L, 1L, 3L), "ranking")
      eq(bm.topK("apple cherry", 2), Seq(2L, 1L), "top-2")
      eq(RefPipeline.round6(0.1234565), 0.123457, "half up")
    }
    test("reference pipeline: rank fusion sums 1/(60 + rank), ties to the lower id") {
      // 3 (second by cosine) and 9 (second by BM25) tie
      eq(RefPipeline.fuse(Seq(7L, 3L, 5L), Seq(7L, 9L, 5L), 4), Seq(7L, 5L, 3L, 9L), "fused")
    }
    test("served replies: a 404 is correct only with the LLM's fallback as its detail") {
      val m = new Mirror(Ingest.reference(IndexedSeq(Doc(64, "alpha beta gamma."))))
      def reply(body: String) = m.verify("What about xaxa zozo?", Req(0, 0, 0, 1, 404, body, 0, 0), 5).error
      eq(reply(s"""{"detail":${Json.str(graft.rag.ExtractiveLlm.Fallback)}}"""), None, "fallback")
      assert(reply("""{"detail":"Error: boom"}""").nonEmpty, "an error passed as a fallback")
      assert(m.verify("alpha beta?", Req(0, 0, 0, 1, 404,
        s"""{"detail":${Json.str(graft.rag.ExtractiveLlm.Fallback)}}""", 0, 0), 5).error.nonEmpty,
        "a 404 where the LLM answers")
    }

    test("percentiles: linear interpolation between closest ranks") {
      val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
      eq(Stats.median(xs), 3.0, "median")
      eq(Stats.percentile(xs, 0.25), 2.0, "p25")
      eq(Stats.percentile(Seq(1.0, 2.0), 0.5), 1.5, "median of two")
    }
    test("percentiles: reported only with at least ten samples beyond") {
      val xs = (1 to 200).map(_.toDouble)
      assert(Stats.supported(200, 0.95), "p95 of 200")
      assert(!Stats.supported(199, 0.95), "p95 of 199")
      assert(Stats.supported(100, 0.9) && !Stats.supported(99, 0.9), "p90 at 100")
      assert(Stats.reportable(xs, 0.95).nonEmpty && Stats.reportable(xs.take(150), 0.95).isEmpty)
      eq(Stats.tail(xs.take(150)).map(_._1), Some(0.9), "tail of 150")
      eq(Stats.tail(xs.take(15)).map(_._1), None, "tail of 15")
    }
    test("json: the server's reply shape parses") {
      val m = Json.parse("""{"response":"a \"b\"\n","context":["x","y"],"source_ids":["64","128"],"success":true}""")
        .asInstanceOf[Map[String, Any]]
      eq(m("response"), "a \"b\"\n", "response")
      eq(m("source_ids"), Vector("64", "128"), "ids")
      eq(m("success"), true, "success")
    }

    println(s"ragbench self-test: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
