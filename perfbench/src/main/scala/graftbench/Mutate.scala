package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.VectorDB
import graft.filters.Filters

/** The benchmark's model of a gvdb table under the `mutate` op stream:
  * the live rows by id, which of them carry their content-hash id (so a
  * re-insert of their content is a duplicate), and every id deleted. */
final class TableModel {
  private val rows = mutable.HashMap[String, Doc]()
  private val order = mutable.ArrayBuffer[String]()
  private val pos = mutable.HashMap[String, Int]()
  private val hashed = mutable.LinkedHashSet[String]()
  val deleted: mutable.Set[String] = mutable.HashSet[String]()

  def size: Int = order.size
  def live: collection.Map[String, Doc] = rows
  def contains(id: String): Boolean = rows.contains(id)
  def get(id: String): Option[Doc] = rows.get(id)
  def hashedIds: collection.Set[String] = hashed

  private def put(id: String, d: Doc, contentHashed: Boolean): Unit = {
    if (!rows.contains(id)) { pos(id) = order.size; order += id }
    rows(id) = d
    if (contentHashed) hashed += id else hashed -= id
  }

  private def remove(id: String): Unit = if (rows.contains(id)) {
    val i = pos(id)
    val last = order.last
    order(i) = last; pos(last) = i
    order.remove(order.size - 1); pos -= id
    rows -= id; hashed -= id
    deleted += id
  }

  /** Dedup insert: ids are content hashes, the first of a batch wins and
    * an id already present is skipped. Returns the rows inserted. */
  def insert(batch: Seq[Doc]): Int = {
    var n = 0
    batch.foreach { d =>
      if (!rows.contains(d.id)) { put(d.id, d, contentHashed = true); n += 1 }
    }
    n
  }

  /** Keyed upsert: every (id, doc) replaces or inserts. */
  def upsert(batch: Seq[(String, Doc)]): Int = {
    batch.foreach { case (id, d) => put(id, d, contentHashed = false) }
    batch.size
  }

  /** MERGE with delete / update / insert arms: op 'd' deletes a matched
    * id, 'u' updates it, 'i' inserts an unmatched one; unmatched 'd' and
    * 'u' rows do nothing. Returns the rows changed. */
  def merge(batch: Seq[(String, Doc, Char)]): Int = batch.count {
    case (id, _, 'd') if rows.contains(id) => remove(id); true
    case (id, d, 'u') if rows.contains(id) => put(id, d, contentHashed = false); true
    case (id, d, 'i') if !rows.contains(id) => put(id, d, contentHashed = false); true
    case _ => false
  }

  def delete(ids: Seq[String]): Int = ids.count { id =>
    val hit = rows.contains(id)
    remove(id)
    hit
  }

  /** `n` distinct live ids drawn by `rng` (all of them if fewer). */
  def sample(rng: Rng, n: Int): Vector[String] = {
    val picked = mutable.LinkedHashSet[String]()
    val want = n.min(order.size)
    while (picked.size < want) picked += order(rng.int(order.size))
    picked.toVector
  }

  def sampleHashed(rng: Rng): Option[Doc] =
    if (hashed.isEmpty) None
    else {
      // hashed ⊆ order: draw from order until a hashed id comes up
      var id = order(rng.int(order.size))
      var tries = 0
      while (!hashed(id) && tries < 50) { id = order(rng.int(order.size)); tries += 1 }
      if (hashed(id)) rows.get(id) else None
    }

  /** Differences between a table's live rows and the model, empty when
    * they agree: same ids, no id twice, no deleted id back, and the same
    * metadata and embedding for every id. */
  def diff(table: Seq[(String, String, Array[Float])]): Vector[String] = {
    val out = mutable.ArrayBuffer[String]()
    val ids = table.map(_._1)
    if (ids.distinct.size != ids.size) out += s"${ids.size - ids.distinct.size} duplicate ids"
    val back = ids.filter(deleted)
    if (back.nonEmpty) out += s"${back.size} deleted ids came back (e.g. ${back.head})"
    val missing = rows.keySet.diff(ids.toSet)
    if (missing.nonEmpty) out += s"${missing.size} live ids missing (e.g. ${missing.head})"
    val extra = ids.toSet.diff(rows.keySet)
    if (extra.nonEmpty) out += s"${extra.size} ids the model does not have (e.g. ${extra.head})"
    val wrong = table.filter { case (id, md, e) =>
      rows.get(id).exists(d => d.metadata != md || !java.util.Arrays.equals(d.embedding, e))
    }
    if (wrong.nonEmpty) out += s"${wrong.size} rows differ from the model (e.g. ${wrong.head._1})"
    out.toVector
  }
}

/** `mutate`: one closed-loop client runs a seeded op stream against an
  * un-indexed catalog gvdb table — dedup inserts (a share duplicating live
  * content), keyed upserts through the gvdb writer, SQL MERGE with
  * delete/update/insert arms, deletes by id, filtered k-NN reads, and
  * compaction plus vacuum after every six writes. Batch sizes are
  * log-uniform from tens to a thousand rows ([[Mutate.Ladder]]). */
final class Mutate(val spark: SparkSession, seed: Long) extends Workload {
  import Mutate._
  import spark.implicits._

  private val centres = Gen.centres(seed, Clusters)
  private var reps = 0
  private var name: String = _
  private var db: VectorDB = _
  private var model: TableModel = _
  private var rng: Rng = _
  private var serial = 0L
  private var blocks = 0

  // input-property and amplification accounting over the whole run
  private var insertRows, dupRows, upsertRows, upsertTouched, mergeRows, mergeTouched = 0L
  private var userBytes, newBytes, writeOps, cycles = 0L
  private val tombstonesAtRead = mutable.ArrayBuffer[Double]()
  private val readFailures = mutable.ArrayBuffer[String]()
  private var readChecks = 0

  override def setup(dir: String): Unit = {
    reps += 1
    name = s"bench.mut.t$reps"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.mut")
    spark.sql(s"CREATE TABLE $name (id string, metadata string, embedding array<float>) USING gvdb")
    db = VectorDB.forName(spark, name, "hashing", Map("dim" -> Gen.Dim.toString), Gen.Dim)
    rng = new Rng(seed)
    model = new TableModel
    val initial = Gen.docs(rng, centres, 0L, InitialDocs)
    serial = InitialDocs
    db.insertEmbedded(docsDf(initial))
    model.insert(initial)
  }

  private def docsDf(ds: Seq[Doc]): DataFrame =
    ds.map(d => (d.metadata, d.embedding)).toDF("metadata", "embedding")

  private def freshDocs(n: Int): Vector[Doc] = {
    val out = Gen.docs(rng, centres, serial, n)
    serial += n
    out
  }

  private def randomId(): String = {
    val hex = (0 until 32).map(_ => "0123456789abcdef".charAt(rng.int(16))).mkString
    s"${hex.take(8)}-${hex.slice(8, 12)}-${hex.slice(12, 16)}-${hex.slice(16, 20)}-${hex.drop(20)}"
  }

  private def root: String = db.table.root

  /** Times a write op whose effect the model has already applied
    * (`applied` rows), adding the bytes of the files it creates. */
  private def write(rec: Recorder, kind: String, submittedBytes: Long, applied: Int)
      (body: => Unit): Unit = {
    val before = Disk.tableFiles(spark, root)
    rec.time(kind, (_: Unit) => applied.toLong)(body)
    newBytes += Disk.newBytes(before, Disk.tableFiles(spark, root))
    userBytes += submittedBytes
    writeOps += 1
  }

  /** Seeded shuffle. */
  private def shuffled[T](xs: Seq[T]): Seq[T] = xs.map(x => (rng.double(), x)).sortBy(_._1).map(_._2)

  private def insertOp(n: Int, tracer: Tracer, rec: Recorder): Unit = {
    val batch = (0 until math.round(n * DupShare).toInt).flatMap(_ => model.sampleHashed(rng))
    val dups = batch.size
    val rows = shuffled(batch ++ freshDocs(n - dups))
    insertRows += rows.size; dupRows += dups
    val applied = model.insert(rows)
    write(rec, "insert", rows.map(d => Gen.userBytes(d.metadata)).sum, applied) {
      tracer.span("bench", "insert") {
        tracer.span("table", "insert")(db.insertEmbedded(docsDf(rows)))
      }
    }
  }

  private def upsertOp(n: Int, tracer: Tracer, rec: Recorder): Unit = {
    val touched = model.sample(rng, (n * TouchedShare).toInt)
    val fresh = freshDocs(n)
    val rows = touched.zip(fresh) ++ fresh.drop(touched.size).map(d => (randomId(), d))
    upsertRows += rows.size; upsertTouched += touched.size
    val applied = model.upsert(rows)
    write(rec, "upsert", rows.map(r => 36L + Gen.userBytes(r._2.metadata)).sum, applied) {
      tracer.span("bench", "upsert") {
        val df = rows.map { case (id, d) => (id, d.metadata, d.embedding) }.toDF("id", "metadata", "embedding")
        tracer.span("sources", "upsert")(df.writeTo(name).option("upsert", "true").append())
      }
    }
  }

  private def mergeOp(n: Int, tracer: Tracer, rec: Recorder): Unit = {
    val matched = model.sample(rng, (n * TouchedShare).toInt)
    val fresh = freshDocs(n)
    val rows = matched.zip(fresh).map { case (id, d) => (id, d, if (rng.chance(0.3)) 'd' else 'u') } ++
      fresh.drop(matched.size).map(d => (randomId(), d, 'i'))
    mergeRows += rows.size; mergeTouched += matched.size
    val applied = model.merge(rows)
    write(rec, "merge", rows.map(r => 36L + Gen.userBytes(r._2.metadata)).sum, applied) {
      tracer.span("bench", "merge") {
        rows.map { case (id, d, op) => (id, d.metadata, d.embedding, op.toString) }
          .toDF("id", "metadata", "embedding", "op").createOrReplaceTempView("mutate_changes")
        tracer.span("sources", "merge")(spark.sql(
          s"""MERGE INTO $name AS t USING mutate_changes AS c ON t.id = c.id
             |WHEN MATCHED AND c.op = 'd' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET metadata = c.metadata, embedding = c.embedding
             |WHEN NOT MATCHED AND c.op <> 'd' THEN
             |  INSERT (id, metadata, embedding) VALUES (c.id, c.metadata, c.embedding)""".stripMargin))
      }
    }
  }

  private def deleteOp(n: Int, tracer: Tracer, rec: Recorder): Unit = {
    val ids = model.sample(rng, n.min(model.size / 10))
    val applied = model.delete(ids)
    write(rec, "delete", 36L * ids.size, applied) {
      tracer.span("bench", "delete") {
        tracer.span("table", "delete")(db.table.deleteIds(ids.toDF("id")))
      }
    }
  }

  private def maintain(tracer: Tracer, rec: Recorder): Unit = {
    val before = Disk.tableFiles(spark, root)
    rec.time("compact", (n: Int) => n.toLong) {
      tracer.span("bench", "compact") {
        tracer.span("table", "compact")(db.table.compactSmallFiles(CompactTargetRows))
      }
    }
    rec.time("vacuum") {
      tracer.span("bench", "vacuum")(tracer.span("table", "vacuum")(db.table.vacuum()))
    }
    newBytes += Disk.newBytes(before, Disk.tableFiles(spark, root))
    cycles += 1
  }

  private def readOp(n: Int, tracer: Tracer, rec: Recorder): Unit = {
    val sel = rng.logUniform(0.01, 0.5)
    val limit = (sel * Gen.AttackRange).toInt
    val preds = Seq(Filters.Cmp("base.Attack", Filters.CmpOp.Lt, limit))
    val q = Gen.nearCentre(rng, rng.pick(centres.toIndexedSeq), 0.8)
    tombstonesAtRead += db.table.tombstoneCount.toDouble
    rec.time("read", (r: Array[graft.core.Result]) => r.length.toLong) {
      tracer.span("bench", "read") {
        val ds = tracer.span("VectorDB", "route")(db.queryByVector(q, K, preds))
        tracer.span("VectorDB", "collect")(ds.collect())
      }
    }.foreach { got =>
      readChecks += 1
      val truth = Gen.topK(model.live.iterator.collect {
        case (id, d) if d.attack < limit => (id, d.embedding) }.toSeq, q, K)
      if (got.length != truth.size ||
          got.zip(truth).exists { case (r, (_, d)) => math.abs(r.distance - d) > Serve.DistTol })
        readFailures += s"read: ${got.map(_.id).mkString(",")} vs oracle ${truth.map(_._1).mkString(",")}"
    }
  }

  /** One cycle of the op stream: six writes and two reads, then
    * compaction and vacuum. The op order is fixed; the six batch sizes
    * are the log-uniform ladder [[Mutate.Ladder]], rotated by one place
    * a block so that over six blocks every write kind meets every size.
    * Contents (documents, touched ids, query vectors) come from the seed. */
  private val block = Vector[(Int, Tracer, Recorder) => Unit](
    insertOp, upsertOp, readOp, insertOp, mergeOp, deleteOp, readOp, insertOp)
  private val writeSlots = Vector(0, 1, 3, 4, 5, 7)

  private def runBlock(tracer: Tracer, rec: Recorder): Unit = {
    val sizes = writeSlots.indices.map(i => writeSlots(i) -> Ladder((i + blocks) % Ladder.size)).toMap
    block.indices.foreach(i => block(i)(sizes.getOrElse(i, 0), tracer, rec))
    maintain(tracer, rec)
    blocks += 1
  }

  /** One whole block, untimed. Without it the first timed block runs the
    * write paths cold, which raised the median write latency by a fifth
    * and doubled its spread across seeds. The model follows the block;
    * the run's accounting starts after it. */
  override def warmup(): Unit = {
    val rec = new Recorder
    runBlock(new Tracer(spark, enabled = false), rec)
    rec.failureList.foreach(readFailures += _)
    insertRows = 0; dupRows = 0; upsertRows = 0; upsertTouched = 0; mergeRows = 0; mergeTouched = 0
    userBytes = 0; newBytes = 0; writeOps = 0; cycles = 0
    tombstonesAtRead.clear()
  }

  /** Whole blocks only, a number fixed by `seconds` (one per
    * [[BlockSeconds]], at least one), so every run of a given length has
    * the same op composition whatever the speed of the build. */
  override def run(seconds: Double, tracer: Tracer, rec: Recorder): Unit =
    (0 until math.max(1, math.round(seconds / BlockSeconds).toInt)).foreach(_ => runBlock(tracer, rec))

  override val primaryKinds: Set[String] = Set("insert", "upsert", "merge", "delete")

  override def counters: Map[String, Double] = {
    val files = Disk.tableFiles(spark, root)
    Map(
      "table.bytes_written_per_op" -> (if (writeOps == 0) 0.0 else newBytes.toDouble / writeOps),
      "table.files" -> Disk.dataFiles(files, root).toDouble,
      "table.tombstones" -> (if (tombstonesAtRead.isEmpty) 0.0
        else tombstonesAtRead.sum / tombstonesAtRead.size))
  }

  override def finish(recs: Seq[Recorder], windowSeconds: Double): Outcome = {
    val rows = db.table.df.select("id", "metadata", "embedding").as[(String, String, Array[Float])]
      .collect().toSeq
    val endState = model.diff(rows)
    val samples = recs.flatMap(_.all)
    val writes = samples.filter(s => primaryKinds(s.kind) && s.ok)
    val writeSeconds = writes.map(_.ms).sum / 1000.0
    val reads = samples.filter(_.kind == "read").map(_.ms)
    val liveBytes = model.live.values.map(d => Gen.userBytes(d.metadata)).sum.toDouble
    def pct(p: Double, xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
    Outcome(
      e2e = Map(
        "throughput_per_s" -> writes.map(_.rows).sum / writeSeconds,
        "write_amp" -> newBytes.toDouble / userBytes,
        "space_amp" -> Disk.bytes(Disk.tableFiles(spark, root)) / liveBytes),
      report = Map(
        "initial_docs" -> InitialDocs, "live_rows_end" -> model.size,
        "write_ops" -> writes.size, "read_ops" -> reads.size,
        "query_p50_ms" -> pct(50, reads),
        "query_tail_percentile" -> Stats.highestSupported(reads.size).getOrElse(0.0),
        "query_tail_ms" -> Stats.highestSupported(reads.size).map(pct(_, reads)).getOrElse(0.0),
        "op_kind_counts" -> samples.groupBy(_.kind).map { case (k, v) => k -> v.size },
        "op_kind_p50_ms" -> samples.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.ms)) },
        "insert_duplicate_share" -> (if (insertRows == 0) 0.0 else dupRows.toDouble / insertRows),
        "upsert_touched_share" -> (if (upsertRows == 0) 0.0 else upsertTouched.toDouble / upsertRows),
        "merge_touched_share" -> (if (mergeRows == 0) 0.0 else mergeTouched.toDouble / mergeRows),
        "writes_per_compaction_cycle" -> writeSlots.size,
        "compaction_cycles" -> cycles,
        "user_bytes_submitted" -> userBytes, "bytes_written" -> newBytes,
        "live_user_bytes" -> liveBytes.toLong),
      checks = readChecks + 1,
      checkFailures = readFailures.toVector ++ endState.map("end state: " + _))
  }
}

object Mutate {
  val InitialDocs = 1000
  val Clusters = 16
  val K = 10
  /** Write batch sizes: log-uniform from 10 to 1000 rows. */
  val Ladder: Vector[Int] = Vector(10, 25, 63, 158, 398, 1000)
  /** Share of upsert and merge rows that address a live id. */
  val TouchedShare = 0.5
  /** Nominal wall time of one block of the op stream on 4 cores. */
  val BlockSeconds = 10.0
  /** Share of insert rows that repeat a live document's content. */
  val DupShare = 0.2
  val CompactTargetRows = 2000L
}
