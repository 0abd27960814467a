package ragbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

final case class M(name: String, value: Double, unit: String)

/** What a workload measured and checked. `errors` are failed checks, each a
  * one-line cause; `layerExtras` are per-layer numbers that do not come from
  * spans. */
final case class Outcome(metrics: Seq[M], attempted: Int, failed: Int, errors: Seq[String],
                         details: Seq[(String, String)], layerExtras: Seq[(String, Double)])

/** The run's shared state: session, inputs, clock budget and scratch dirs.
  * `heapBaselineMb` is the heap the harness's inputs and reference data
  * held before the session started. */
final class Bench(val spark: SparkSession, val gen: Gen, val seconds: Int, work: String,
                  results: String, inputsMd5: String, val sessionSeconds: Double,
                  val heapBaselineMb: Double) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val collections = s"$work/collections"
  val filesPerSearch = new ConcurrentLinkedQueue[Int]()
  private val failures = new ConcurrentLinkedQueue[Throwable]()

  /** Starts a worker; anything it throws fails the run after the join. */
  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => try body catch { case e: Throwable => failures.add(e); () }, name)
    t.setDaemon(true)
    t.start()
    t
  }

  def rethrow(): Unit = Option(failures.peek()).foreach(e => throw e)

  /** Driver heap the program holds at this point: heap in use after full
    * collections, less the harness's own baseline. */
  def heapGrowthMb(): Double = Main.heapUsedMb() - heapBaselineMb

  /** Compares per-question output digests with those an earlier run of this
    * seed on the same inputs stored in the results dir, whatever the engine
    * sources were then; then stores the union. */
  def checkDigests(workload: String, digests: Seq[(Int, String)]): Seq[String] = {
    val f = Paths.get(results, s"$workload-seed${gen.seed}-${inputsMd5.take(12)}.digests")
    val old: Map[Int, String] =
      if (!Files.exists(f)) Map.empty
      else Files.readAllLines(f).asScala.map(_.split(" ")).collect { case Array(k, v) => k.toInt -> v }.toMap
    val errs = digests.collect { case (k, d) if old.get(k).exists(_ != d) =>
      s"question $k: output digest $d differs from an earlier run of seed ${gen.seed} (${old(k)})"
    }
    val merged = old ++ digests
    Files.write(f, merged.toSeq.sortBy(_._1).map { case (k, v) => s"$k $v" }.asJava)
    errs
  }
}

object Main {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Logs how far into the run a phase ended (to the log, not the report). */
  def phase(what: String): Unit =
    System.err.println(f"ragbench phase $what%-12s ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")

  val Workloads = Seq("serve", "serve_write", "batch_eval")

  /** f(0) … f(n - 1), computed on all cores. */
  def parallel[A: scala.reflect.ClassTag](n: Int)(f: Int => A): IndexedSeq[A] = {
    val out = new Array[A](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out.toIndexedSeq
  }

  /** Driver heap in use after full collections: the least of three, a
    * moment apart, so blocks Spark's cleaner frees after the first
    * collection are not counted. */
  def heapUsedMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, results: String, commit: String, sources: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("results"), m.getOrElse("commit", "none"),
      m.getOrElse("sources", "src/main/scala"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def main(args: Array[String]): Unit = sys.exit(run(parse(args)))

  private def sourceMd5(root: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(p => Files.isRegularFile(p)).toSeq
      .map(p => base.relativize(p).toString -> p).sortBy(_._1)
      .foreach { case (rel, p) => md.update(rel.getBytes(UTF_8)); md.update(Files.readAllBytes(p)) }
    md.digest().map("%02x".format(_)).mkString
  }

  def run(o: Opts): Int = {
    val gen = new Gen(o.seed)
    val inputsMd5 = gen.digest
    val sourcesMd5 = sourceMd5(o.sources)
    phase("inputs")
    println(s"ragbench seed ${o.seed}: inputs md5 $inputsMd5, ${gen.questionPool.length} distinct " +
      s"serving questions (${gen.questionPool.count(_.offVocab)} off-vocabulary)")
    // the harness's reference data, made before Spark starts so that the
    // heap baseline holds it
    val workload: Bench => Outcome = o.workload match {
      case "serve" => Serve.prepare(gen, writer = false)
      case "serve_write" => Serve.prepare(gen, writer = true)
      case "batch_eval" => BatchEval.prepare(gen)
    }
    val heapBaselineMb = heapUsedMb()
    phase("reference")

    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"ragbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .withExtensions(new graft.GraftExtensions)
    val spark = graft.GraftSession.applyExtraConf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    phase("session")
    val listener = new WorkListener
    if (o.trace) {
      spark.sparkContext.addSparkListener(listener)
      Trace.start(spark.sparkContext)
    }
    val b = new Bench(spark, gen, o.seconds, o.work, o.results, inputsMd5, sessionSeconds, heapBaselineMb)
    val out =
      try {
        val r = workload(b)
        b.rethrow()
        phase("checked")
        r
      } catch {
        case e: Check => Outcome(Nil, 1, 1, Seq(e.getMessage), Nil, Nil)
      }

    val meta = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "trace" -> o.trace.toString,
      "nproc" -> cpus.toString, "master" -> Json.str(s"local[$cpus]"),
      "driver_heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> Json.str(spark.version), "java" -> Json.str(System.getProperty("java.version")),
      "commit" -> Json.str(o.commit), "sources_md5" -> Json.str(sourcesMd5),
      "inputs_md5" -> Json.str(inputsMd5),
      "data" -> Json.str("generated from the seed in the shape of the sf0.1 documents table; " +
        "no file outside the benchmark is read"),
      "llm" -> Json.str("graft.rag.ExtractiveLlm stub: answer and judge latencies are not a real LLM's"),
      "session_start_s" -> Json.num(sessionSeconds),
      "heap_baseline_mb" -> Json.num(heapBaselineMb))
    println(s"ragbench meta ${Json.obj(meta)}")
    out.details.foreach { case (k, v) => println(s"ragbench detail $k $v") }
    out.metrics.foreach(m => println(f"ragbench metric ${m.name}%-20s ${m.value}%14.4f ${m.unit}"))

    val metrics: Seq[M] =
      if (!o.trace) {
        if (out.errors.isEmpty)
          Files.write(Paths.get(o.results, s"${o.workload}-untraced.json"),
            Json.obj(out.metrics.map(m => m.name -> Json.num(m.value))).getBytes(UTF_8))
        out.metrics
      } else {
        Trace.drain(spark.sparkContext)
        val layers = Layers.report(Trace.all, listener, out, b)
        Layers.write(o, Trace.all, listener, layers)
        Layers.overhead(o, out.metrics)
        layers.metrics
      }
    spark.stop()
    phase("stopped")

    val correct = out.errors.isEmpty
    out.errors.take(5).foreach(e => System.err.println(s"ragbench: FAIL: $e"))
    if (!correct) println(s"ragbench: FAIL: ${out.errors.head}" +
      (if (out.errors.length > 1) s" (and ${out.errors.length - 1} more)" else ""))
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1, out.attempted).toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    if (correct) 0 else 1
  }
}
