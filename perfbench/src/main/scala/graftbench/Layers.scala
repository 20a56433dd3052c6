package graftbench

/** Turns a traced window (spans, listener records, workload counters)
  * into the per-layer metrics named in BENCHMARK.json. */
object Layers {

  /** Spans the benchmark records around engine calls: layer.name → metric
    * `layer.name_ms` (mean span time). */
  val TimedCalls: Seq[String] = Seq(
    "VectorDB.route", "VectorDB.collect", "embed.query", "embed.batch",
    "table.insert", "table.delete", "table.compact", "table.vacuum",
    "sources.upsert", "sources.merge",
    "ops.hnsw_build", "ops.dedup_exact", "ops.minhash_lsh", "ops.semantic_dedup", "ops.bulk_knn")

  /** Layers whose summed self time per op is reported. "bench" is the
    * benchmark's own op boundary (its self time is harness overhead). */
  val SelfTimeLayers: Seq[String] = Seq("bench", "VectorDB", "embed", "table", "sources", "ops")

  /** Counters a workload reports itself (0 where it has none). */
  val Counters: Seq[String] = Seq("table.bytes_written_per_op", "table.files",
    "table.tombstones", "ops.near_dup_pairs")

  val Names: Seq[String] = Seq(
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.driver_gap_ms",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_records_per_result", "spark.heap_peak_mb",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms") ++
    TimedCalls.map(_ + "_ms") ++ Counters ++
    SelfTimeLayers.map(_ + ".self_ms") ++ Seq("trace.overhead_pct", "trace.spans")

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms" else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_pct")) "%" else if (name.endsWith("_mb")) "MB"
    else if (name == "spark.input_records_per_result") "ratio" else "count"

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Self time of every span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> Stats.uncovered(s.start, s.end,
      kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))).toMap
  }

  /** `resultRows`: rows the workload's ops returned to the caller, the
    * denominator of `spark.input_records_per_result`. */
  def summarize(spans: Seq[Span], c: Collector, counters: Map[String, Double],
      resultRows: Long, heapPeakMb: Double, overheadPct: Double): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val roots = spans.filter(_.parent == 0L)
    val nOps = roots.size.max(1).toDouble
    val jobs = c.jobList
    val jobOp: Map[Int, Long] = jobs.flatMap(j =>
      j.group.flatMap(Tracer.spanOf).flatMap(byId.get).map(s => j.jobId -> s.op)).toMap
    val opJobs = jobs.filter(j => jobOp.contains(j.jobId)).groupBy(j => jobOp(j.jobId))
    val stageOp: Map[Int, Long] = jobs.filter(j => jobOp.contains(j.jobId))
      .flatMap(j => j.stages.map(_ -> jobOp(j.jobId))).toMap
    val st = c.stageList.filter(s => stageOp.contains(s.stageId))
    def perOp(f: StageRec => Double) = st.map(f).sum / nOps
    val gaps = roots.map(r => Stats.uncovered(r.start, r.end,
      opJobs.getOrElse(r.id, Nil).map(j => (j.start, j.end))))
    val self = selfTimes(spans)
    val phases = c.phaseList
    val calls = TimedCalls.map { call =>
      val Array(layer, name) = call.split('.')
      s"${call}_ms" -> mean(spans.filter(s => s.layer == layer && s.name == name).map(_.ms))
    }
    val selfs = SelfTimeLayers.map { l =>
      s"$l.self_ms" -> spans.filter(_.layer == l).map(s => self(s.id)).sum / nOps
    }
    (Seq(
      "spark.jobs_per_op" -> opJobs.values.map(_.size).sum / nOps,
      "spark.tasks_per_op" -> perOp(_.tasks),
      "spark.driver_gap_ms" -> mean(gaps),
      "spark.executor_run_ms" -> perOp(_.runMs),
      "spark.executor_cpu_ms" -> perOp(_.cpuMs),
      "spark.gc_ms" -> perOp(_.gcMs),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> perOp(_.spill.toDouble),
      "spark.input_records_per_result" ->
        (if (resultRows == 0) 0.0 else st.map(_.inputRecords).sum.toDouble / resultRows),
      "spark.heap_peak_mb" -> heapPeakMb,
      "plans.analysis_ms" -> mean(phases.map(_._1)),
      "plans.optimization_ms" -> mean(phases.map(_._2)),
      "plans.planning_ms" -> mean(phases.map(_._3))) ++
      calls ++ Counters.map(k => k -> counters.getOrElse(k, 0.0)) ++ selfs ++
      Seq("trace.overhead_pct" -> overheadPct, "trace.spans" -> spans.size.toDouble)).toMap
  }

  /** Spans as JSON lines, each with its self time and the Spark jobs its
    * job group ran. */
  def spansJsonl(spans: Seq[Span], c: Collector): String = {
    val self = selfTimes(spans)
    val jobsBySpan = c.jobList.flatMap(j => j.group.flatMap(Tracer.spanOf).map(_ -> j.jobId))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "ms" -> s.ms,
        "self_ms" -> self(s.id), "jobs" -> jobsBySpan.getOrElse(s.id, Nil)))
    }.mkString("", "\n", "\n")
  }
}

/** Minimal JSON writer for the benchmark's output. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Already-serialised JSON. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
