package graftbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.VectorDB
import graft.core.Result
import graft.filters.Filters

/** `serve`: filtered k-NN serving over an HNSW-indexed gvdb table.
  * A closed loop of [[Serve.Clients]] client threads; each sends its next
  * query when the previous answer is back. The query mix is seeded:
  * unfiltered by-vector queries take the index route, JSON-path-filtered
  * queries (selectivity log-uniform 0.1 %..50 %) take the exact route,
  * and text queries embed on the driver first. No writes. */
final class Serve(val spark: SparkSession, seed: Long) extends Workload {
  import Serve._

  private val centres = Gen.centres(seed, Clusters)
  private var docs: Vector[Doc] = Vector.empty
  private var db: VectorDB = _
  private var root: String = _
  private var loadBytes = 0L
  /** (load, index build) seconds of the last setup. */
  private var setupSplit = (0.0, 0.0)
  /** Answers kept for the oracles, which run after the window. */
  private val answers = new java.util.concurrent.ConcurrentLinkedQueue[Answer]()
  private val warmupFailures = mutable.ArrayBuffer[String]()

  override def setup(dir: String): Unit = {
    docs = Gen.docs(new Rng(seed), centres, 0L, Docs)
    db = new VectorDB(spark, "docs", dir, "hashing", Map("dim" -> Gen.Dim.toString),
      dim = Gen.Dim, newTable = true)
    root = db.table.root
    import spark.implicits._
    val t0 = System.nanoTime()
    db.insertEmbedded(docs.map(d => (d.metadata, d.embedding)).toDF("metadata", "embedding")
      .repartition(spark.sparkContext.defaultParallelism))
    val t1 = System.nanoTime()
    db.table.buildHnswIndex(efConstruction = EfConstruction)
    setupSplit = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    loadBytes = Disk.bytes(Disk.tableFiles(spark, root))
  }

  /** The seeded query stream of one client: blocks of two by-vector,
    * two filtered and one text query in seeded order, so every window
    * has the same mix. */
  private def queries(client: Int): Iterator[Query] = {
    val rng = new Rng(seed * 1000003L + client)
    def make(kind: String): Query = kind match {
      case "vector" => Query("vector", Gen.nearCentre(rng, rng.pick(centres.toIndexedSeq), 0.8), None, Nil)
      case "filtered" =>
        val sel = rng.logUniform(0.001, 0.5)
        val attack = Filters.Cmp("base.Attack", Filters.CmpOp.Lt, (sel * Gen.AttackRange).toInt)
        val preds = if (rng.chance(0.3)) Seq(attack, Filters.Contains("type", Gen.Types(rng.int(4))))
          else Seq(attack)
        Query("filtered", Gen.nearCentre(rng, rng.pick(centres.toIndexedSeq), 0.8), None, preds)
      case "text" => Query("text", null, Some(Gen.sentence(rng, 4)), Nil)
    }
    Iterator.continually(Mix.map(k => (rng.double(), k)).sortBy(_._1).map(_._2)).flatten.map(make)
  }

  /** One query as an op. Text queries go through `VectorDB.query`, which
    * embeds on the driver; a traced run also times that embedding alone
    * (`embed.query`, a fraction of a millisecond, counted in the tracing
    * overhead). The oracle's query vector is computed after the op. */
  private def ask(q: Query, tracer: Tracer, rec: Recorder): Unit =
    rec.time(q.kind, (r: Array[Result]) => r.length.toLong) {
      tracer.span("bench", s"query.${q.kind}") {
        val ds = q.text match {
          case Some(t) =>
            if (tracer.enabled) tracer.span("embed", "query")(db.embedder.embed(t))
            tracer.span("VectorDB", "route")(db.query(t, K))
          case None => tracer.span("VectorDB", "route")(db.queryByVector(q.vec, K, q.filters))
        }
        tracer.span("VectorDB", "collect")(ds.collect())
      }
    }.foreach { out =>
      answers.add(Answer(q.text.map(t => q.copy(vec = db.embedder.embed(t))).getOrElse(q), out))
    }

  /** The full closed-loop load for [[WarmupSeconds]], on query streams of
    * their own: query latency keeps falling for the first 10-20 s of load
    * while the JIT compiles the planner and engine paths, and a window
    * that starts inside that fall measures how far it has got. Its
    * answers go to the oracles with the timed ones. */
  override def warmup(): Unit = {
    val rec = new Recorder
    closedLoop(WarmupSeconds, -WarmupClients until 0, new Tracer(spark, enabled = false), rec)
    warmupFailures ++= rec.failureList
  }

  override def run(seconds: Double, tracer: Tracer, rec: Recorder): Unit =
    closedLoop(seconds, 0 until Clients, tracer, rec)

  /** One thread per client stream; each sends its next query when the
    * previous answer is back, until `seconds` have passed. */
  private def closedLoop(seconds: Double, clients: Seq[Int], tracer: Tracer, rec: Recorder): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = clients.map { c =>
      val t = new Thread(() => {
        val it = queries(c)
        while (System.nanoTime() < deadline) ask(it.next(), tracer, rec)
      }, s"serve-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  override val primaryKinds: Set[String] = Set("vector", "filtered", "text")

  override def counters: Map[String, Double] = Map(
    "table.files" -> Disk.dataFiles(Disk.tableFiles(spark, root), root).toDouble)

  override def finish(recs: Seq[Recorder], windowSeconds: Double): Outcome = {
    val failures = mutable.ArrayBuffer[String](warmupFailures.toSeq: _*)
    val byId = docs.map(d => d.id -> d).toMap
    val recalls = mutable.ArrayBuffer[Double]()
    val selectivities = mutable.ArrayBuffer[Double]()
    val all = answers.toArray(Array.empty[Answer]).toVector
    val pairs = docs.map(d => (d.id, d.embedding))
    all.par.map { a => // oracle work is off the clock; spread it over the cores
      val q = a.query
      if (q.filters.isEmpty) {
        val truth = Gen.topK(pairs, q.vec, K)
        Left((checkReturned(a, byId), indexRecall(a, truth)))
      } else {
        val eligible = docs.filter(d => passes(d, q.filters))
        val truth = Gen.topK(eligible.map(d => (d.id, d.embedding)), q.vec, K)
        Right((checkReturned(a, byId) ++ checkExact(a, truth),
          eligible.size.toDouble / docs.size))
      }
    }.seq.foreach {
      case Left((errs, r)) => failures ++= errs; recalls += r
      case Right((errs, s)) => failures ++= errs; selectivities += s
    }
    val meanRecall = if (recalls.isEmpty) 1.0 else recalls.sum / recalls.size
    if (meanRecall < RecallFloor)
      failures += f"indexed recall@$K $meanRecall%.3f below the floor $RecallFloor"
    val samples = recs.flatMap(_.all)
    val live = Disk.tableFiles(spark, root)
    val userBytes = docs.map(d => Gen.userBytes(d.metadata)).sum.toDouble
    val kinds = samples.groupBy(_.kind).map { case (k, v) => k -> v.size.toDouble / samples.size }
    val edges = Seq(0.0, 0.001, 0.003, 0.01, 0.03, 0.1, 0.3, 1.0)
    val hist = edges.sliding(2).map { case Seq(lo, hi) =>
      f"[$lo%.3f,$hi%.3f)" -> selectivities.count(s => s >= lo && s < hi)
    }.toMap
    Outcome(
      e2e = Map(
        "throughput_per_s" -> samples.size / windowSeconds,
        "write_amp" -> loadBytes / userBytes,
        "space_amp" -> Disk.bytes(live) / userBytes),
      report = Map(
        "docs" -> Docs, "dim" -> Gen.Dim, "clients" -> Clients, "k" -> K,
        "recall_at_10" -> meanRecall,
        "query_kind_share" -> kinds,
        "op_kind_p50_ms" -> samples.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.ms)) },
        "filter_selectivity_histogram" -> hist,
        "corpus_user_bytes" -> userBytes.toLong,
        "setup_load_s" -> setupSplit._1, "setup_index_build_s" -> setupSplit._2,
        "table_bytes" -> Disk.bytes(live)),
      checks = all.size + warmupFailures.size + 1,
      checkFailures = failures.toVector)
  }

  /** Every returned row is a live document at its true distance. */
  private def checkReturned(a: Answer, byId: Map[String, Doc]): Seq[String] = {
    val ids = a.result.map(_.id)
    val dupes = if (ids.distinct.length != ids.length) Seq(s"${a.query.kind}: duplicate ids") else Nil
    dupes ++ a.result.toSeq.flatMap { r =>
      byId.get(r.id) match {
        case None => Some(s"${a.query.kind}: unknown id ${r.id}")
        case Some(d) =>
          val t = Gen.cosine(d.embedding, a.query.vec)
          if (math.abs(t - r.distance) > DistTol) Some(f"${a.query.kind}: id ${r.id} distance ${r.distance}%.6f, true $t%.6f")
          else if (d.metadata != r.metadata) Some(s"${a.query.kind}: id ${r.id} metadata differs")
          else if (!passes(d, a.query.filters)) Some(s"${a.query.kind}: id ${r.id} fails the filter")
          else None
      }
    }
  }

  /** Exact-route answers equal the brute-force top-k: same length and
    * the same distance rank by rank at the 4-decimal contract. With every
    * returned row checked to be a matching document at its true distance
    * ([[checkReturned]]), ids can then differ only inside a distance tie. */
  private def checkExact(a: Answer, truth: Vector[(String, Double)]): Seq[String] =
    if (a.result.length != truth.length)
      Seq(s"filtered: ${a.result.length} rows, oracle ${truth.length}")
    else a.result.toSeq.zip(truth).collect {
      case (r, (id, d)) if math.abs(r.distance - d) > DistTol =>
        f"filtered: ${r.id} at ${r.distance}%.6f where the oracle ranks $id at $d%.6f"
    }

  /** Share of the brute-force top-k the indexed answer found; a returned
    * row tied with the k-th true distance counts as found. */
  private def indexRecall(a: Answer, truth: Vector[(String, Double)]): Double =
    if (truth.isEmpty) 1.0
    else {
      val kth = truth.last._2
      val ids = truth.map(_._1).toSet
      a.result.count(r => ids(r.id) || r.distance <= kth + TieTol).min(truth.size).toDouble / truth.size
    }
}

object Serve {
  val Docs = 600
  val Clusters = 24
  val Clients = 2
  val WarmupSeconds = 12.0
  /** Warm-up streams: one a core, so the planner and engine paths reach
    * the JIT's compile thresholds in fewer seconds than at [[Clients]]. */
  val WarmupClients: Int = Runtime.getRuntime.availableProcessors()
  val K = 10
  /** Indexed answers must find at least this share of the exact top-k. */
  val RecallFloor = 0.8
  val EfConstruction = 64
  /** The engine's distance contract: 4 decimals. */
  val DistTol = 1e-4
  val TieTol = 1e-9

  final case class Query(kind: String, vec: Array[Float], text: Option[String],
      filters: Seq[Filters.Pred])
  val Mix: Seq[String] = Seq("vector", "vector", "filtered", "filtered", "text")
  final case class Answer(query: Query, result: Array[Result])

  /** The oracle's own evaluation of the two predicate shapes the
    * generator emits. */
  def passes(d: Doc, preds: Seq[Filters.Pred]): Boolean = preds.forall {
    case Filters.Cmp("base.Attack", Filters.CmpOp.Lt, v: Int) => d.attack < v
    case Filters.Contains("type", t: String) => d.types.contains(t)
    case other => throw new IllegalArgumentException(s"no oracle for $other")
  }
}
