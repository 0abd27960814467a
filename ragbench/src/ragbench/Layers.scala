package ragbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Per-layer numbers of a traced run, from its spans and the Spark work the
  * listener attributed to them. Every workload reports every name; a layer
  * the workload never calls reads 0. */
object Layers {

  /** Span name -> metric: median duration in ms. */
  val TimedMs: Seq[(String, String)] = Seq(
    "functions.embed_query" -> "functions.embed_query_ms",
    "store.search" -> "store.search_ms",
    "rag.llm.answer" -> "rag.llm.answer_ms",
    "rag.encode" -> "rag.encode_ms",
    "rag.server.process" -> "rag.server.process_ms",
    "rag.server.request" -> "rag.server.request_ms",
    "store.upsert" -> "store.upsert_ms")

  /** Layers traced as separate actions, each run with the plans it nests
    * (embed_rows includes the chunking, insert both; hybrid includes cosine
    * and BM25, answer the hybrid, eval the answer): median inclusive seconds.
    * A layer's self time is the difference from the layer it nests. */
  val NestedS: Seq[String] = Seq("ingest.chunk", "functions.embed_rows", "store.insert",
    "rag.pipeline.retrieve_cosine", "rag.pipeline.retrieve_bm25", "rag.pipeline.retrieve_hybrid",
    "rag.pipeline.answer", "rag.pipeline.eval")

  /** Layers whose Spark work is reported per call. */
  val SparkLayers: Seq[String] = Seq("store.search", "store.upsert") ++ NestedS

  val SparkCounters: Seq[(String, String, String)] = Seq(
    ("jobs", "spark_jobs", "count"), ("tasks", "tasks", "count"),
    ("input_rows", "input_rows", "count"), ("shuffle_bytes", "shuffle_bytes", "bytes"),
    ("cpu_ms", "cpu_ms", "ms"))

  /** Counters these layers' plans cannot make nonzero, left out: the ingest
    * plans read an in-memory relation, which reports no input rows, and
    * neither they nor the exact search shuffle. */
  val NotProduced: Set[String] = Set("ingest.chunk_input_rows", "ingest.chunk_shuffle_bytes",
    "functions.embed_rows_input_rows", "functions.embed_rows_shuffle_bytes",
    "store.insert_input_rows", "store.insert_shuffle_bytes", "store.search_shuffle_bytes")

  val Extras: Seq[(String, String)] = Seq(
    "store.upsert_rows_per_s" -> "rows/s", "store.versions_committed" -> "count",
    "store.write_amplification" -> "ratio", "ingest.chunks" -> "count")

  /** `marks` says per layer counter whether it repeated exactly over at
    * least two calls ("exact"), differed ("varying"), or came from one call
    * ("single"). */
  final case class Report(metrics: Seq[M], marks: Seq[(String, String)])

  private def counter(w: Work, name: String): Double = name match {
    case "shuffle_bytes" => (w.shuffleReadBytes + w.shuffleWriteBytes).toDouble
    case n => w.fields.find(_._1 == n).map(_._2).getOrElse(0.0)
  }

  def report(spans: Seq[Span], l: WorkListener, out: Outcome, b: Bench): Report = {
    val byName = spans.groupBy(_.name)
    def durs(n: String) = byName.getOrElse(n, Nil).map(_.ms)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val work = (s: Span) => l.of(s.id).getOrElse(new Work)

    val timed = TimedMs.map { case (span, metric) => M(metric, med(durs(span)), "ms") }
    val process = byName.getOrElse("rag.server.process", Nil).map(s => s.request -> s.ms).toMap
    val overhead = byName.getOrElse("rag.server.request", Nil)
      .flatMap(s => process.get(s.request).map(s.ms - _))
    val nested = NestedS.map(n => M(s"${n}_s", med(durs(n)) / 1000, "s"))
    val searches = byName.getOrElse("store.search", Nil)
    val perCall = SparkLayers.flatMap { layer =>
      val calls = byName.getOrElse(layer, Nil).map(work)
      SparkCounters.collect { case (c, suffix, unit) if !NotProduced(s"${layer}_$suffix") =>
        M(s"${layer}_$suffix", if (calls.isEmpty) 0.0 else Stats.mean(calls.map(counter(_, c))), unit)
      }
    }
    val marks = for {
      layer <- SparkLayers
      calls = byName.getOrElse(layer, Nil).map(work)
      if calls.nonEmpty
      (c, _) <- calls.head.fields
    } yield s"$layer.$c" -> (
      if (calls.length < 2) "single"
      else if (Work.Deterministic(c) && calls.map(counter(_, c)).distinct.length == 1) "exact"
      else "varying")
    val extras = Extras.map { case (n, unit) => M(n, out.layerExtras.toMap.getOrElse(n, 0.0), unit) }
    Report(
      timed ++ Seq(
        M("rag.server.overhead_ms", med(overhead), "ms"),
        M("store.search_scheduler_delay_ms",
          if (searches.isEmpty) 0.0 else Stats.mean(searches.map(work(_).schedulerDelayMs.toDouble)), "ms"),
        M("store.files_per_search",
          Stats.mean(b.filesPerSearch.asScala.toSeq.map(_.toDouble)), "count")) ++
        nested ++ perCall ++ extras,
      marks)
  }

  /** Spans (one JSON object a line, with their Spark work) and the layer
    * table, into the results dir. */
  def write(o: Main.Opts, spans: Seq[Span], l: WorkListener, r: Report): Unit = {
    val base = s"${o.workload}-seed${o.seed}"
    val lines = spans.map { s =>
      val w = l.of(s.id).map(w => "," + w.fields.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString(",")).getOrElse("")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"request":${s.request},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"thread":${Json.str(s.thread)}$w}"""
    }
    Files.write(Paths.get(o.results, s"$base-spans.jsonl"), lines.asJava)
    Files.write(Paths.get(o.results, s"$base-layers.json"), Json.obj(Seq(
      "metrics" -> Json.obj(r.metrics.map(m => m.name -> Json.num(m.value))),
      "repeatable" -> Json.obj(r.marks.map { case (k, mark) => k -> Json.str(mark) })))
      .getBytes(UTF_8))
    r.metrics.foreach(m => println(f"ragbench layer ${m.name}%-44s ${m.value}%14.4f ${m.unit}"))
    r.marks.foreach { case (k, mark) => println(s"ragbench counter $k $mark") }
    println(s"ragbench trace ${spans.length} spans written to ${o.results}/$base-spans.jsonl")
  }

  /** Traced against untraced end-to-end numbers of the last untraced run of
    * this workload in the same results dir. */
  def overhead(o: Main.Opts, traced: Seq[M]): Unit = {
    val f = Paths.get(o.results, s"${o.workload}-untraced.json")
    if (!Files.exists(f)) println("ragbench overhead: no untraced run of this workload to compare with")
    else {
      val base = Json.parse(new String(Files.readAllBytes(f), UTF_8)).asInstanceOf[Map[String, Any]]
      for (m <- traced if Seq("query_p50_ms", "query_qps", "ingest_rows_per_s").contains(m.name);
           u <- base.get(m.name).collect { case d: Double => d })
        println(f"ragbench overhead ${m.name}%-20s traced ${m.value}%.4f untraced $u%.4f ratio ${m.value / u}%.4f")
    }
  }
}
