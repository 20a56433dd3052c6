package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One run of one workload:
  * {{{
  *   graftbench.Main --workload serve|mutate|curate --seed N --seconds S
  *                   --trace 0|1 --work DIR --out DIR
  * }}}
  * Untraced (`--trace 0`) it measures the end-to-end metrics. Traced, it
  * measures three windows of a third each (untraced, traced, untraced),
  * reports the per-layer metrics of the traced one and the tracing
  * overhead against the other two, and writes the spans to `--out`. The
  * last stdout line is the result JSON. */
object Main {

  /** Setup repetitions whose median is `setup_s`. */
  val SetupReps = 3

  val Workloads: Seq[String] = Seq("serve", "mutate", "curate")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms",
    "throughput_per_s" -> "1/s", "write_amp" -> "ratio", "space_amp" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try {
      val w: Workload = workload match {
        case "serve" => new Serve(spark, seed)
        case "mutate" => new Mutate(spark, seed)
        case "curate" => new Curate(spark, seed)
      }
      // every repetition builds the same state from the seed in a fresh
      // directory; the last one is what the window runs against
      val setups = (1 to SetupReps).map { r =>
        val t0 = System.nanoTime()
        w.setup(s"$work/setup$r")
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      w.warmup()
      val warmupS = (System.nanoTime() - w0) / 1e9

      // A traced run splits the window in three: untraced, traced,
      // untraced. The overhead compares the traced third with the two
      // untraced ones, so warm-up drift across the run cancels out.
      val windowS = if (traced) seconds / 3 else seconds
      // a window's op count is discrete: rates divide by its measured wall
      // time (the last ops end past the deadline), not by `seconds`
      def timedRun(tracer: Tracer, rec: Recorder): Double = {
        val t0 = System.nanoTime()
        w.run(windowS, tracer, rec)
        (System.nanoTime() - t0) / 1e9
      }
      val off = new Tracer(spark, enabled = false)
      val first = new Recorder
      val firstS = timedRun(off, first)
      val (recs, wallS, layers) = if (!traced) (Seq(first), firstS, Map.empty[String, Double]) else {
        val rec = new Recorder
        val collector = new Collector(spark)
        collector.register()
        Heap.reset()
        val tracer = new Tracer(spark, enabled = true)
        val tracedS = timedRun(tracer, rec)
        collector.drain()
        val last = new Recorder
        val lastS = timedRun(off, last)
        val p50 = (rs: Seq[Recorder]) => Stats.median(rs.flatMap(_.of(w.primaryKinds)).map(_.ms))
        val overhead = 100.0 * (p50(Seq(rec)) / p50(Seq(first, last)) - 1.0)
        val layers = Layers.summarize(tracer.spans, collector, w.counters, w.resultRows(rec),
          Heap.peakMb, overhead)
        Files.createDirectories(Paths.get(out))
        val spanFile = Paths.get(out, s"spans-$workload-$seed.jsonl")
        Files.write(spanFile, Layers.spansJsonl(tracer.spans, collector).getBytes(StandardCharsets.UTF_8))
        println(s"spans: ${tracer.spans.size} written to $spanFile")
        (Seq(first, rec, last), firstS + tracedS + lastS, layers)
      }

      val f0 = System.nanoTime()
      val outcome = w.finish(recs, wallS)
      val finishS = (System.nanoTime() - f0) / 1e9
      val prim = recs.flatMap(_.of(w.primaryKinds)).map(_.ms)
      val attempted = recs.map(_.attempted).sum + outcome.checks
      val failures = recs.flatMap(_.failureList) ++ outcome.checkFailures
      val failed = recs.map(_.failedOps).sum + outcome.checkFailures.size
      val e2e = outcome.e2e ++ Map(
        "setup_s" -> (sessionS + Stats.median(setups)),
        "op_p50_ms" -> (if (prim.isEmpty) Double.NaN else Stats.median(prim)))
      val tail = Stats.highestSupported(prim.size)
      val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
      val report = outcome.report ++ Map(
        "workload" -> workload, "seed" -> seed, "window_s" -> wallS,
        "traced" -> traced, "session_s" -> sessionS, "setup_reps_s" -> setups,
        "warmup_s" -> warmupS, "finish_s" -> finishS,
        "op_samples" -> prim.size,
        "op_tail_percentile" -> tail.getOrElse(0.0),
        "op_tail_ms" -> tail.map(Stats.percentile(prim, _)).getOrElse(0.0),
        "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
        "spark_storage_memory_mb" -> storageMb,
        "failures" -> failures.take(20))
      println("report: " + Json.value(report))
      failures.take(20).foreach(f => println(s"FAILED: $f"))
      val metrics =
        if (traced) Layers.Names.map(n => n -> layers.getOrElse(n, 0.0))
        else EndToEnd.map { case (n, _) => n -> e2e(n) }
      val units = (EndToEnd ++ Layers.Names.map(n => n -> Layers.unit(n))).toMap
      println(Json.obj(Seq(
        "correct" -> failures.isEmpty,
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v) =>
          n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> units(n)))) })))))
    } finally spark.stop()
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.catalog.bench", "graft.sources.GvdbCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"$work/catalog")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
