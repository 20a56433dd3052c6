package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.VectorDB
import graft.embed.EmbedOps
import graft.ops.Dedup

/** A generated curation corpus with its planted answers. */
final case class Corpus(texts: Vector[String], distinct: Int, clusterOf: Map[Int, Int])

object Corpus {
  val Words = 60

  /** Word 3-shingles, as the engine's MinHash stage shingles. */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** `bases` random texts; a share gets near-duplicate variants (1-2
    * word substitutions each, a planted cluster per base); then exact
    * copies of random texts are added, and all rows are shuffled; a
    * row's index is its doc_id. `clusterOf` maps the first row of every
    * text in a planted cluster (base or variant) to its cluster. */
  def generate(rng: Rng, bases: Int, nearDupShare: Double, exactShare: Double): Corpus = {
    val texts = mutable.ArrayBuffer[String]()
    val cluster = mutable.ArrayBuffer[Int]()
    (0 until bases).foreach { b =>
      val words = Vector.fill(Words)(rng.pick(Gen.Words))
      texts += words.mkString(" "); cluster += -1
      if (rng.chance(nearDupShare)) {
        cluster(cluster.size - 1) = b
        (0 until 1 + rng.int(3)).foreach { _ =>
          var w = words
          (0 until 1 + rng.int(2)).foreach { _ =>
            val i = rng.int(Words)
            var r = rng.pick(Gen.Words)
            while (r == w(i)) r = rng.pick(Gen.Words)
            w = w.updated(i, r)
          }
          texts += w.mkString(" "); cluster += b
        }
      }
    }
    val copies = (0 until (texts.size * exactShare / (1 - exactShare)).toInt).map(_ => rng.int(texts.size))
    val rows = (texts.indices ++ copies).map(i => (rng.double(), i)).sortBy(_._1).map(_._2)
    // the engine keeps the lowest doc_id (row) of every distinct text
    val firstRow = mutable.HashMap[String, Int]()
    rows.zipWithIndex.foreach { case (src, row) => firstRow.getOrElseUpdate(texts(src), row) }
    Corpus(rows.map(texts).toVector, firstRow.size,
      cluster.zipWithIndex.collect { case (c, src) if c >= 0 => firstRow(texts(src)) -> c }.toMap)
  }
}

/** `curate`: the batch LLM-data curation pipeline over a generated corpus
  * with planted exact and near duplicates. Each pass stages every step to
  * Parquet: exact dedup, MinHash-LSH near-dup pairs, embedding, semantic
  * dedup, bulk load of the survivors plus an HNSW build, and bulk
  * retrieval panels (`queryByVectors`) against the curated table. The
  * panels are the workload's timed ops; the passes give its docs/s. */
final class Curate(val spark: SparkSession, seed: Long) extends Workload {
  import Curate._
  import spark.implicits._

  private var corpus: Corpus = _
  private var input: String = _
  private var dir: String = _
  private var passes = 0
  private var db: VectorDB = _
  private var panelRng: Rng = _
  private val failures = mutable.ArrayBuffer[String]()
  private var checks = 0
  private val passSeconds = mutable.ArrayBuffer[Double]()
  private val stepSeconds = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val loadIndexS = mutable.ArrayBuffer[Double]()
  private var recall, precision, semanticDropped, nearPairs = 0.0
  private var survivors = 0L
  private var loadBytes, survivorBytes = 0L
  private val selfHits = mutable.ArrayBuffer[Double]()

  override def setup(d: String): Unit = {
    dir = d
    corpus = Corpus.generate(new Rng(seed), Bases, NearDupShare, ExactShare)
    input = s"$dir/corpus"
    corpus.texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(input)
    panelRng = new Rng(seed ^ 0x9a4e1L)
  }

  override def warmup(): Unit = ()

  private def step[T](tracer: Tracer, layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = tracer.span("bench", name)(tracer.span(layer, name)(body))
    stepSeconds.getOrElseUpdate(name, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
    out
  }

  /** One full pipeline pass over the corpus. */
  private def pass(tracer: Tracer, rec: Recorder): Unit = {
    passes += 1
    val p = s"$dir/pass$passes"
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(input)
    step(tracer, "ops", "dedup_exact") {
      val keep = Dedup.exact(docs, "text", "doc_id").select("doc_id")
      docs.join(keep, Seq("doc_id"), "left_semi").write.parquet(s"$p/exact")
    }
    val exact = spark.read.parquet(s"$p/exact")
    step(tracer, "ops", "minhash_lsh") {
      Dedup.minhashLshPairs(exact, "doc_id", "text", 3, Bands, RowsPerBand, Threshold)
        .write.parquet(s"$p/pairs")
      val pairs = spark.read.parquet(s"$p/pairs")
      exact.join(pairs.select(col("id_b").as("doc_id")), Seq("doc_id"), "left_anti")
        .write.parquet(s"$p/near")
      graft.core.PlanCache.release(spark)
    }
    step(tracer, "embed", "batch") {
      EmbedOps.withEmbedding(spark.read.parquet(s"$p/near"), "text", "hashing",
        Map("dim" -> Gen.Dim.toString)).write.parquet(s"$p/embedded")
    }
    val embedded = spark.read.parquet(s"$p/embedded")
    step(tracer, "ops", "semantic_dedup") {
      val centroids = embedded.where(pmod(xxhash64(col("doc_id")), lit(CentroidEvery)) === 0)
        .select(col("doc_id").as("cluster"), col("embedding").as("centroid"))
      Dedup.semanticDedup(embedded, "doc_id", "embedding", centroids, SemanticThreshold)
        .write.parquet(s"$p/semantic")
      graft.core.PlanCache.release(spark)
    }
    val l0 = System.nanoTime()
    db = new VectorDB(spark, "curated", p, "hashing", Map("dim" -> Gen.Dim.toString),
      dim = Gen.Dim, newTable = true)
    step(tracer, "table", "insert") {
      db.insertEmbedded(embedded.select(
        to_json(struct(col("doc_id"), col("text"))).as("metadata"), col("embedding")))
    }
    step(tracer, "ops", "hnsw_build")(db.table.buildHnswIndex(efConstruction = EfConstruction))
    loadIndexS += (System.nanoTime() - l0) / 1e9
    panel(tracer, rec)
    passSeconds += (System.nanoTime() - t0) / 1e9
    check(p)
  }

  /** Oracles of a pass, off the clock. */
  private def check(p: String): Unit = {
    val exactCount = spark.read.parquet(s"$p/exact").count()
    checks += 1
    if (exactCount != corpus.distinct)
      failures += s"exact dedup kept $exactCount docs, planted distinct ${corpus.distinct}"
    val found = spark.read.parquet(s"$p/pairs").select("id_a", "id_b").as[(Long, Long)].collect()
      .map { case (a, b) => (a.toInt, b.toInt) }.toSet
    val kept = spark.read.parquet(s"$p/exact").select("doc_id").as[Long].collect().map(_.toInt).toSet
    val truth = corpus.clusterOf.keys.filter(kept).groupBy(corpus.clusterOf).values
      .flatMap(ids => ids.toSeq.sorted.combinations(2).collect {
        case Seq(a, b) if Corpus.jaccard(Corpus.shingles(corpus.texts(a)),
          Corpus.shingles(corpus.texts(b))) >= Threshold => (a, b)
      }).toSet
    recall = if (truth.isEmpty) 1.0 else (found intersect truth).size.toDouble / truth.size
    precision = if (found.isEmpty) 1.0 else (found intersect truth).size.toDouble / found.size
    nearPairs = found.size
    checks += 1
    if (recall < NearDupFloor || precision < NearDupFloor)
      failures += f"near-dup recall $recall%.3f / precision $precision%.3f below $NearDupFloor"
    semanticDropped = spark.read.parquet(s"$p/semantic").agg(sum("n_dropped")).head().getLong(0)
    survivors = db.numRows
    val files = Disk.tableFiles(spark, db.table.root)
    loadBytes = Disk.bytes(files)
    survivorBytes = spark.read.parquet(s"$p/near").select("doc_id", "text").as[(Long, String)]
      .collect().map { case (id, t) => Gen.userBytes(s"""{"doc_id":$id,"text":"$t"}""") }.sum
  }

  /** One bulk retrieval panel: [[PanelQueries]] survivors query the
    * curated table by their own embeddings; each must find itself. */
  private def panel(tracer: Tracer, rec: Recorder): Unit = {
    val salt = panelRng.int(Int.MaxValue)
    val embedded = spark.read.parquet(s"$dir/pass$passes/embedded")
    val queries = embedded
      .orderBy(xxhash64(col("doc_id"), lit(salt))).limit(PanelQueries)
      .select(col("doc_id").as("query_id"), col("embedding"))
    rec.time("panel", (r: Array[(Long, String, Double)]) => r.length.toLong) {
      tracer.span("bench", "panel") {
        tracer.span("ops", "bulk_knn") {
          db.queryByVectors(queries, K).select("query_id", "metadata", "distance")
            .as[(Long, String, Double)].collect()
        }
      }
    }.foreach { got =>
      val hits = got.groupBy(_._1).count { case (q, rows) =>
        rows.exists { case (_, md, d) => md.startsWith(s"""{"doc_id":$q,""") && d <= Serve.DistTol }
      }
      selfHits += hits.toDouble / PanelQueries
    }
  }

  /** One pass, then panels until the window is over and at least
    * [[MinPanels]] panels have run. A later untraced window of a traced
    * run skips the pass and only adds panels. */
  override def run(seconds: Double, tracer: Tracer, rec: Recorder): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    if (passes == 0 || tracer.enabled) { pass(tracer, rec); n = 1 }
    while (System.nanoTime() < deadline || n < MinPanels) { panel(tracer, rec); n += 1 }
  }

  override val primaryKinds: Set[String] = Set("panel")

  override def counters: Map[String, Double] = Map(
    "ops.near_dup_pairs" -> nearPairs,
    "table.files" -> Disk.dataFiles(Disk.tableFiles(spark, db.table.root), db.table.root).toDouble)

  override def finish(recs: Seq[Recorder], windowSeconds: Double): Outcome = {
    val selfRecall = if (selfHits.isEmpty) 1.0 else selfHits.sum / selfHits.size
    if (selfRecall < SelfRecallFloor)
      failures += f"bulk retrieval found a query's own document in $selfRecall%.3f of queries"
    val corpusBytes = corpus.texts.map(_.length + 8L).sum
    Outcome(
      e2e = Map(
        "throughput_per_s" -> corpus.texts.size * passSeconds.size / passSeconds.sum,
        "write_amp" -> loadBytes.toDouble / survivorBytes,
        "space_amp" -> Disk.bytes(Disk.tableFiles(spark, db.table.root)).toDouble / survivorBytes),
      report = Map(
        "corpus_docs" -> corpus.texts.size, "planted_distinct" -> corpus.distinct,
        "planted_exact_dup_share" -> (1.0 - corpus.distinct.toDouble / corpus.texts.size),
        "planted_near_dup_share" -> corpus.clusterOf.size.toDouble / corpus.texts.size,
        "survivors_loaded" -> survivors, "near_dup_pairs" -> nearPairs,
        "near_dup_recall" -> recall, "near_dup_precision" -> precision,
        "semantic_dropped" -> semanticDropped, "self_retrieval_recall" -> selfRecall,
        "passes" -> passSeconds.size, "curate_docs_per_s" -> corpus.texts.size / Stats.median(passSeconds.toSeq),
        "load_index_s" -> Stats.median(loadIndexS.toSeq),
        "step_s" -> stepSeconds.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
        "corpus_bytes" -> corpusBytes),
      checks = checks + 1,
      checkFailures = failures.toVector)
  }
}

object Curate {
  val Bases = 700
  val NearDupShare = 0.15
  val ExactShare = 0.1
  val Bands = 16
  val RowsPerBand = 4
  val Threshold = 0.5
  val CentroidEvery = 64
  val SemanticThreshold = 0.05
  val EfConstruction = 64
  val PanelQueries = 32
  val MinPanels = 6
  val K = 10
  val NearDupFloor = 0.9
  val SelfRecallFloor = 0.9
}
