package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** One timed operation. `rows` counts user rows it applied or returned. */
final case class Sample(kind: String, ms: Double, ok: Boolean, rows: Long = 0L)

/** Collects the samples of one timed window. Oracle failures found after
  * the window are added with [[fail]]. */
final class Recorder {
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val failures = new ConcurrentLinkedQueue[String]()

  /** Times `body` as one op of `kind`; an exception fails the op.
    * `rows` counts the user rows the op applied or returned. */
  def time[T](kind: String, rows: T => Long = (_: T) => 0L)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val out = body
      samples.add(Sample(kind, (System.nanoTime() - t0) / 1e6, ok = true, rows(out)))
      Some(out)
    } catch {
      case e: Exception =>
        samples.add(Sample(kind, (System.nanoTime() - t0) / 1e6, ok = false))
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
    }
  }

  def fail(msg: String): Unit = failures.add(msg)

  def all: Vector[Sample] = samples.asScala.toVector
  def of(kinds: Set[String]): Vector[Sample] = all.filter(s => kinds(s.kind))
  def failureList: Vector[String] = failures.asScala.toVector
  def attempted: Int = samples.size
  def failedOps: Int = all.count(!_.ok)
}

/** What a workload reports after its timed window. `e2e` holds every
  * end-to-end metric except `setup_s`; `report` the input properties and
  * the workload's own named figures. */
final case class Outcome(e2e: Map[String, Double], report: Map[String, Any],
    checks: Int, checkFailures: Vector[String])

trait Workload {
  def spark: SparkSession
  /** Builds inputs and engine state under `dir` from the seed alone. */
  def setup(dir: String): Unit
  /** Untimed ops that warm code paths before the window. */
  def warmup(): Unit
  /** Runs the load for `seconds`, recording into `rec`. */
  def run(seconds: Double, tracer: Tracer, rec: Recorder): Unit
  /** The op kinds whose latency is the workload's `op_*` figures. */
  def primaryKinds: Set[String]
  /** End-of-run oracles and metrics over every recorded sample;
    * `windowSeconds` is the timed wall time the recorders cover. */
  def finish(recs: Seq[Recorder], windowSeconds: Double): Outcome
  /** Per-layer counters for the traced window. */
  def counters: Map[String, Double]
  /** Rows the ops of `rec` returned or applied, for `spark.input_records_per_result`. */
  def resultRows(rec: Recorder): Long = rec.all.filter(s => primaryKinds(s.kind)).map(_.rows).sum
}

/** File accounting for the write- and space-amplification figures. */
object Disk {
  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every file of a table: its root and the `<root>.*` / `<root>__*`
    * sidecars (tombstones, snapshots, index tiers, staging), path → bytes. */
  def tableFiles(spark: SparkSession, root: String): Map[String, Long] = {
    val p = new Path(root)
    val f = fs(spark, root)
    if (!f.exists(p.getParent)) return Map.empty
    val name = p.getName
    f.listStatus(p.getParent)
      .filter(s => s.getPath.getName == name || s.getPath.getName.startsWith(name + ".") ||
        s.getPath.getName.startsWith(name + "__"))
      .flatMap { s =>
        if (s.isFile) Iterator(s.getPath.toString -> s.getLen)
        else {
          val it = f.listFiles(s.getPath, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .map(x => x.getPath.toString -> x.getLen)
        }
      }.toMap
  }

  def bytes(files: Map[String, Long]): Long = files.values.sum

  /** Bytes in `after` under paths that `before` did not have. */
  def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.collect { case (p, n) if !before.contains(p) || before(p) != n => n }.sum

  /** Data part files of the table root. */
  def dataFiles(files: Map[String, Long], root: String): Int = {
    val dir = new Path(root).toUri.getPath
    files.keys.count(k =>
      new Path(k).getParent.toUri.getPath == dir && new Path(k).getName.startsWith("part-"))
  }
}
