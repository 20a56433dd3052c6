package graft.sources

import java.util.OptionalLong

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.VectorSchema
import graft.table.VectorTable

/** DataSource V2 surface of the `gvdb` format: batch read/write,
  * streaming read (`MICRO_BATCH_READ` → the V2 `MicroBatchStream`s
  * below) and streaming write (`STREAMING_WRITE` →
  * [[GvdbStreamingWrite]]'s epoch-commit staging design — which also
  * makes `writeStream.toTable("cat.ns.t")` work by catalog name).
  *
  * Why V2 for batch: the V1 `PrunedFilteredScan.buildScan → .rdd` path
  * converted every row to external types (`Row` with Scala strings and
  * Seqs) and back — a per-row tax on every `format("gvdb")` consumer —
  * and its conservative `unhandledFilters = filters` contract made
  * Spark re-evaluate every pushed predicate above the scan. Here:
  *
  *  - [[GvdbBatchScan]] reports pushed filters as HANDLED (they are
  *    genuinely evaluated, by codegen, inside the scan) and streams
  *    `InternalRow`s straight through — zero conversions;
  *  - column pruning and predicate pushdown reach the parquet reader
  *    exactly as before (the scan plans a native parquet read
  *    underneath), and the plan shows as `BatchScan` with
  *    `PushedFilters`/`ReadSchema` in `description()`;
  *  - writes go through [[GvdbWriteBuilder]] → [[V1Write]], so SQL
  *    `INSERT INTO` (temp views, catalog tables) routes into the same
  *    dedup anti-join as the host-language facade. The table
  *    advertises `V1_BATCH_WRITE` but NOT `BATCH_WRITE`: the analyzer
  *    accepts either for `AppendData`, while `DataFrameWriter.save`
  *    checks `BATCH_WRITE` strictly and therefore keeps routing
  *    path-based writes through the V1 `CreatableRelationProvider` —
  *    preserving all four `SaveMode` semantics (V2 save() supports
  *    only Append/Overwrite and throws on ErrorIfExists/Ignore).
  *
  * Semantics (merge-on-read tombstones, `versionAsOf` time travel,
  * dedup-on-insert) are identical to the V1 relation — both delegate
  * to [[VectorTable]].
  */
class GvdbTable(spark: SparkSession, root: String, dimOpt: Option[Int],
    versionAsOf: Option[Int], changeFeed: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The table root, exposed for the ANN planner rewrite
    * ([[graft.plans.AnnRewriteRule]]): a bare scan of a LIVE gvdb table
    * is index-consultable like a bare parquet scan of the same root; a
    * version-pinned snapshot is not (the persisted index tracks the
    * live table, not the snapshot). */
  /** The resolved data root — lets host-language surfaces
    * ([[graft.VectorDB.forName]]) open the same files a catalog name
    * points at. */
  private[graft] def dataRoot: String = root

  private[graft] def indexableRoot: Option[String] =
    if (versionAsOf.isEmpty && !changeFeed) Some(root) else None

  override def name(): String =
    versionAsOf.fold(s"gvdb:$root")(v => s"gvdb:$root@v$v") +
      (if (changeFeed) " (changes)" else "")

  /** The LOGICAL schema — internal sidecar columns (the persisted LSH
    * bucket column) never leak through the format surface. In change
    * feed mode (`readChangeFeed=true`) the relation's rows are CDC
    * events, not table rows. */
  override def schema(): StructType =
    if (changeFeed) GvdbChangeFeed.schema else VectorSchema.schema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      // writes shape/validate the incoming columns themselves
      // (GvdbWrite.shape: match by name, cast to contract types), so
      // the analyzer's by-name output resolution is skipped
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (!new VectorTable(spark, root, 1).exists)
      throw new AnalysisException(
        errorClass = "PATH_NOT_FOUND", messageParameters = Map("path" -> root))
    new GvdbScanBuilder(spark, root, dimOpt, versionAsOf, changeFeed, maxFilesPerTrigger)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty,
      s"gvdb: cannot write to a versionAsOf=$versionAsOf snapshot (read-only history)")
    require(!changeFeed, "gvdb: the change feed is read-only")
    if (info.options.getBoolean("upsert", false))
      new GvdbUpsertWriteBuilder(spark, root, dimOpt, info)
    else new GvdbWriteBuilder(spark, root, dimOpt, info)
  }

  // ---- SQL `DELETE FROM t WHERE ...` / `TRUNCATE TABLE t` — the
  // merge-on-read tombstone delete ([[VectorTable.delete]]): matching
  // ids are appended to the tombstone side table, reads anti-join them
  // out, vacuum() makes them physical. O(matched ids), never a data
  // rewrite. Accepted only when EVERY predicate translates to the
  // source-filter algebra (the engine requires all-or-nothing for
  // metadata deletes); JSON-path predicates go through the facade's
  // delete(Column), which takes arbitrary expressions. ----

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    versionAsOf.isEmpty && !changeFeed &&
      filters.forall(f => GvdbFilters.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(versionAsOf.isEmpty && !changeFeed,
      "gvdb: DELETE targets the live table only")
    val cond = filters.flatMap(GvdbFilters.toColumn(_))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true)) // TRUNCATE
    new VectorTable(spark, root, dimOpt.getOrElse(1)).delete(cond)
    ()
  }
}

/** Driver-side parquet metadata reads for the gvdb scan: row counts
  * straight from the data files' footers — no Spark job, one footer
  * read per part file. The raw-minus-tombstones arithmetic is exact
  * because both sides carry each id at most once: data ids are unique
  * (the insert path's dedup anti-join — the table's core invariant),
  * and tombstone batches are disjoint by construction
  * ([[VectorTable.delete]] selects from the LIVE view, so an already-
  * tombstoned id can never re-match a later delete). */
private[graft] object GvdbFooters {
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile

  /** Footer row counts memoized per (path, length, mtime) — data files
    * are immutable once written (rewrites produce new names under new
    * mtimes), so each footer is opened at most ONCE per JVM and every
    * later statistics call costs only the directory listing. Without
    * this, plan-time stats over a 10⁴⁺-file table re-open every
    * footer per query (and per MICRO-BATCH under foreachBatch's stats
    * rewrite). Entries are ~100 bytes; even 10⁶ files is a few MB. */
  private val footerMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]

  private def footerRows(st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Long =
    footerMemo.computeIfAbsent(
      (st.getPath.toString, st.getLen, st.getModificationTime),
      _ => {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try java.lang.Long.valueOf(r.getRecordCount) finally r.close()
      }).longValue()

  /** Per-file min/max of a STRING column, memoized like the row
    * counts. `None` when any row-group with rows lacks binary
    * statistics for the column (an unprunable file — the caller must
    * treat it as a candidate). Parquet's statistics-truncation
    * contract (min' ≤ min, max' ≥ max) keeps range pruning built on
    * these SOUND: a truncated range can only widen. */
  private val colRangeMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String), Option[(String, String)]]

  private[graft] def colRangeOf(st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration,
      colName: String): Option[(String, String)] =
    colRangeMemo.computeIfAbsent(
      (st.getPath.toString, st.getLen, st.getModificationTime, colName),
      _ => {
        import scala.jdk.CollectionConverters._
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try {
          val perBlock = r.getFooter.getBlocks.asScala.toSeq
            .filter(_.getRowCount > 0)
            .map { b =>
              b.getColumns.asScala
                .find(_.getPath.toDotString == colName)
                .map(_.getStatistics)
                .collect {
                  case s: org.apache.parquet.column.statistics.BinaryStatistics
                      if s.hasNonNullValue =>
                    (s.genericGetMin.toStringUsingUTF8, s.genericGetMax.toStringUsingUTF8)
                }
            }
          if (perBlock.exists(_.isEmpty)) None
          else perBlock.flatten.reduceOption { (a, b) =>
            (if (a._1 <= b._1) a._1 else b._1, if (a._2 >= b._2) a._2 else b._2)
          }
        } finally r.close()
      })

  private def idRangeOf(st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Option[(String, String)] =
    colRangeOf(st, conf, graft.core.VectorSchema.ID)

  /** Driver-side footer statistics for every data-carrying part file
    * under `root`: (path, rows, id min/max). Zero-row files are
    * omitted — they can never hold a touched row. Feeds the file-group
    * CoW victim-lookup pruning: candidates = files whose id range
    * overlaps a touched id (plus the stat-less ones), so a CDC batch
    * reads the id column of the candidate files only, not the table. */
  def idStats(spark: SparkSession, root: String)
      : Seq[(String, Long, Option[(String, String)])] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val conf = spark.sparkContext.hadoopConfiguration
    val hfs = p.getFileSystem(conf)
    if (!hfs.exists(p)) Seq.empty
    else hfs.listStatus(p).toSeq.filter(_.getPath.getName.startsWith("part-"))
      .map(st => (st.getPath.toString, footerRows(st, conf), idRangeOf(st, conf)))
      .filter(_._2 > 0)
  }

  /** The part files that MAY satisfy every range constraint — the
    * JSON-filter file-skipping planner. A file is kept (conservative)
    * when a constraint's column lacks footer stats, or when any value
    * involved is non-ASCII (driver-side java String order diverges
    * from parquet's unsigned-byte order past ASCII). Zero-row files
    * are dropped outright. */
  def pruneFiles(spark: SparkSession, root: String,
      cs: Seq[GvdbPruneConstraint]): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val conf = spark.sparkContext.hadoopConfiguration
    val hfs = p.getFileSystem(conf)
    def ascii(s: String) = s.forall(_ < 128.toChar)
    hfs.listStatus(p).toSeq.filter(_.getPath.getName.startsWith("part-"))
      .filter(st => footerRows(st, conf) > 0)
      .filter { st =>
        cs.forall { c =>
          colRangeOf(st, conf, c.col) match {
            case Some((lo, hi)) if ascii(lo) && ascii(hi) && c.values.forall(ascii) =>
              c.op match {
                case "=" | "in" => c.values.exists(v => lo <= v && v <= hi)
                case "<" => lo < c.values.head
                case "<=" => lo <= c.values.head
                case ">" => hi > c.values.head
                case ">=" => hi >= c.values.head
                case _ => true
              }
            case _ => true
          }
        }
      }.map(_.getPath.toString)
  }

  /** Summed footer row counts of the parquet files under `dir`
    * (0 for a missing directory). */
  def rowCount(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val hfs = p.getFileSystem(conf)
    if (!hfs.exists(p)) 0L
    else hfs.listStatus(p).filter(_.getPath.getName.startsWith("part-"))
      .map(footerRows(_, conf)).sum
  }

  /** Summed footer row counts of an explicit file list (a snapshot
    * manifest's). */
  def rowCountOfFiles(spark: SparkSession, files: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      footerRows(p.getFileSystem(conf).getFileStatus(p), conf)
    }.sum
  }

  /** Live rows of the table at `root`: data-file footers minus
    * tombstone-file footers. */
  def liveRowCount(spark: SparkSession, root: String): Long =
    math.max(0L, rowCount(spark, root) - rowCount(spark, root + ".tombstones"))

  /** Rows of snapshot `version` at `root`: the manifest's file footers
    * minus the snapshot's recorded tombstones — the same
    * disjoint-batches/unique-ids arithmetic as the live count, pinned
    * to the manifest. */
  def snapshotRowCount(spark: SparkSession, root: String, version: Int): Long = {
    val table = new graft.table.VectorTable(spark, root, 1)
    math.max(0L, rowCountOfFiles(spark, table.snapshotFiles(version)) -
      rowCount(spark, root + s".snapshots/v$version/tombstones"))
  }
}

/** Pushdown negotiation: accepts every filter [[GvdbFilters]] can
  * translate (reported handled — the scan evaluates them), leaves the
  * rest (JSON-path probes, UDF predicates) to Spark above the scan.
  * A bare ungrouped `COUNT(*)` — over the live table OR a
  * version-pinned snapshot — is answered from parquet footers + the
  * (live or snapshot-recorded) tombstone count ([[GvdbFooters]])
  * without scanning a single row: the complete-pushdown contract.
  * Pushed filters, grouping and the change feed abstain (the footer
  * arithmetic wouldn't reflect them). */
class GvdbScanBuilder(spark: SparkSession, root: String, dimOpt: Option[Int],
    versionAsOf: Option[Int], changeFeed: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}

  private var required: StructType =
    if (changeFeed) GvdbChangeFeed.schema else VectorSchema.schema
  private var pushed: Array[Filter] = Array.empty
  private var countStarPushed = false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(f => GvdbFilters.toColumn(f).isDefined)
    pushed = ok
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  private def countStarAnswerable(agg: Aggregation): Boolean =
    !changeFeed && pushed.isEmpty &&
      agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head.isInstanceOf[CountStar]

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    countStarAnswerable(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (countStarAnswerable(agg)) { countStarPushed = true; true } else false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // after a complete aggregate pushdown the "columns" are the agg
    // outputs, not table columns — the count scan owns its schema
    if (!countStarPushed) required = requiredSchema

  override def build(): Scan =
    new GvdbBatchScan(spark, root, dimOpt, versionAsOf, required, pushed,
      changeFeed, maxFilesPerTrigger, countStarPushed)
}

/** The merge-on-read view as a V2 batch scan.
  *
  * Execution: the scan plans the MoR view as an internal Spark plan —
  * vectorized parquet scan of exactly the pruned columns, the handled
  * filters compiled into whole-stage codegen, the broadcast tombstone
  * anti-join (or the pinned `versionAsOf` manifest) — and exposes that
  * plan's partitions as [[InputPartition]]s. Each reader streams the
  * inner partition's `InternalRow`s straight through: no external-row
  * conversion anywhere (the V1 tax this migration removes), one
  * evaluation per pushed predicate, and the inner parquet scan keeps
  * its min/max row-group skipping. The inner plan is shuffle-free by
  * construction (scan → filter → project → broadcast anti-join), so
  * its partitions compute independently inside the host task — the
  * broadcast build side is materialized once, driver-side, when the
  * partitions are planned.
  */
class GvdbBatchScan(spark: SparkSession, root: String, dimOpt: Option[Int],
    versionAsOf: Option[Int], required: StructType, pushed: Array[Filter],
    changeFeed: Boolean = false, maxFilesPerTrigger: Option[Int] = None,
    countStarPushed: Boolean = false,
    private[graft] val jsonFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil,
    private[graft] val pruneCs: Seq[GvdbPruneConstraint] = Nil)
    extends Scan with Batch with SupportsReportStatistics {

  private[graft] def tableRoot: String = root

  /** Whether [[graft.plans.GvdbJsonFilterRule]] may map JSON-path
    * predicates onto this scan: live batch reads only (a version-
    * pinned manifest read keeps the pinned contract schema, the change
    * feed has its own schema, a pushed COUNT(*) never sees rows) and
    * the table must have opted into extract columns. */
  private[graft] def canMapJsonFilters: Boolean =
    versionAsOf.isEmpty && !changeFeed && !countStarPushed && jsonFilters.isEmpty &&
      new VectorTable(spark, root, 1).extractSpec.paths.nonEmpty

  private[graft] def withJsonFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      cs: Seq[GvdbPruneConstraint]): GvdbBatchScan =
    new GvdbBatchScan(spark, root, dimOpt, versionAsOf, required, pushed,
      changeFeed, maxFilesPerTrigger, countStarPushed, filters, cs)

  private val countSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("count(*)",
      org.apache.spark.sql.types.LongType, nullable = false)))

  override def readSchema(): StructType =
    if (countStarPushed) countSchema else required

  override def description(): String =
    s"gvdb $root${versionAsOf.fold("")(v => s"@v$v")}${if (changeFeed) " changes" else ""} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      (if (countStarPushed) "PushedAggregates: [COUNT(*)], " else "") +
      (if (jsonFilters.nonEmpty)
        s"PushedJsonFilters: [${jsonFilters.map(_.sql).mkString(", ")}], " +
          s"FileSkipConstraints: [${pruneCs.mkString(", ")}], "
      else "") +
      s"ReadSchema: ${readSchema().catalogString}"

  override def toBatch: Batch = {
    require(!changeFeed,
      "gvdb: readChangeFeed is a streaming option (spark.readStream); " +
        "batch CDC reads go through gvdb_changes(path, v1, v2)")
    this
  }

  /** Streaming read — the V2 half of the source's stream surface
    * (the sink stays a V1 `Sink` by capability fallback): the insert
    * feed by default, the snapshot change feed with
    * `readChangeFeed=true`. Both reuse [[GvdbReaderFactory]]'s
    * InternalRow passthrough; pruning/pushdown negotiated on this scan
    * apply to each micro-batch's inner plan. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    streamingUse = true
    if (changeFeed) new GvdbChangesMicroBatchStream(spark, root, required, pushed)
    else new GvdbMicroBatchStream(spark, root, required, pushed, maxFilesPerTrigger,
      checkpointLocation)
  }

  /** Set once the scan is claimed for a streaming read: micro-batch
    * stats must not claim the whole table's row count (the engine
    * re-evaluates stats per batch — a full-table numRows would both
    * mislead per-batch planning and re-list the table every trigger). */
  @volatile private var streamingUse = false

  // row-based passthrough; answered WITHOUT building the reader factory
  // so a plain .explain never plans (or runs broadcast jobs for) the
  // inner view
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  /** The inner MoR plan's RDD — built once, lazily, at execution time.
    * A pushed COUNT(*) short-circuits to ONE metadata-derived row
    * ([[GvdbFooters]] — footers minus tombstones, live or pinned to a
    * snapshot manifest; no data scan, no job beyond the single-row
    * local plan). */
  @transient private lazy val innerRdd: RDD[InternalRow] = {
    if (countStarPushed) {
      val n = versionAsOf match {
        case Some(v) => GvdbFooters.snapshotRowCount(spark, root, v)
        case None => GvdbFooters.liveRowCount(spark, root)
      }
      spark.range(0L, 1L, 1L, 1)
        .select(org.apache.spark.sql.functions.lit(n).as("count(*)"))
        .queryExecution.toRdd
    } else {
      val table = new VectorTable(spark, root, dimOpt.getOrElse(1))
      val view =
        if (jsonFilters.isEmpty) versionAsOf.map(table.asOf).getOrElse(table.df)
        else {
          // mapped JSON-path filters: read the EXTENDED view (extract
          // columns visible) over the footer-pruned file list, apply
          // the mapped conjuncts exactly, then fall through to the
          // contract projection — the extract columns never escape
          val kept =
            if (pruneCs.isEmpty) None
            else Some(GvdbFooters.pruneFiles(spark, root, pruneCs))
          val ext = table.dfExtended(kept)
          jsonFilters.foldLeft(ext) { (d, e) =>
            d.where(org.apache.spark.sql.graftbridge.GraftBridge.column(e))
          }
        }
      val base = view.select(VectorSchema.schema.fieldNames.map(col).toIndexedSeq: _*)
      val filtered = pushed.foldLeft(base) { (d, f) => d.where(GvdbFilters.toColumn(f).get) }
      // empty required set (zero-column plans) is a valid Project
      filtered.select(required.fieldNames.map(col).toIndexedSeq: _*)
        .queryExecution.toRdd
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    innerRdd.partitions.map(p =>
      GvdbInputPartition(p, innerRdd.preferredLocations(p).toArray))

  override def createReaderFactory(): PartitionReaderFactory =
    new GvdbReaderFactory(innerRdd)

  /** Real statistics instead of the "never broadcast" default — lets
    * Catalyst broadcast a small warehouse in the dim-enrichment join
    * shape, and gives join-side ESTIMATION a real row count instead of
    * the bytes heuristic. sizeInBytes is one FS listing; numRows is
    * the footer arithmetic of [[GvdbFooters.liveRowCount]] (driver
    * metadata reads, no job). Both computed at plan time for the LIVE
    * table; a version-pinned scan reports bytes only (its manifest's
    * tombstone count would need a job). */
  override def estimateStatistics(): Statistics = new Statistics {
    override val sizeInBytes: OptionalLong = {
      val p = new org.apache.hadoop.fs.Path(root)
      val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!hfs.exists(p)) OptionalLong.of(0L)
      else OptionalLong.of(
        hfs.listStatus(p).filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum)
    }
    override val numRows: OptionalLong =
      // abstain when filters were pushed: the scan's actual output is
      // the FILTERED rows, and reporting the full live count would
      // overstate numRows to the join planner for every filtered scan
      if (versionAsOf.isEmpty && !changeFeed && !streamingUse && pushed.isEmpty)
        OptionalLong.of(GvdbFooters.liveRowCount(spark, root))
      else OptionalLong.empty()
  }
}

/** A file-prunable constraint derived from a mapped JSON-path
  * conjunct: `col op value(s)` with op ∈ {=, in, <, <=, >, >=},
  * evaluated against per-file footer min/max at plan time. */
case class GvdbPruneConstraint(col: String, op: String, values: Seq[String]) {
  override def toString: String = s"$col $op ${values.mkString("{", ",", "}")}"
}

/** One inner-plan partition plus its locality hints (computed on the
  * driver at planning time — `preferredLocations` needs the driver's
  * block/file metadata). */
case class GvdbInputPartition(split: Partition, locations: Array[String])
    extends InputPartition {
  override def preferredLocations(): Array[String] = locations
}

/** Executor-side bridge: iterates the wrapped inner-plan partition
  * under the host task's context (so memory accounting, interruption
  * and metrics attribute to the consuming task). The rows are the
  * inner codegen's output buffers — the standard reused-row scan
  * contract every Spark source follows (buffering consumers copy). */
class GvdbReaderFactory(rdd: RDD[InternalRow]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val it = rdd.iterator(
      partition.asInstanceOf[GvdbInputPartition].split, TaskContext.get())
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

object GvdbChangeFeed {
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField}
  /** (id, change ∈ {'added','deleted'}, version) — the id-keyed CDC
    * contract of [[VectorTable.diffSnapshots]], stamped with the
    * snapshot version that produced each row. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("change", StringType, nullable = false),
    StructField("version", IntegerType, nullable = false)))
}

/** The warehouse as a streaming INSERT FEED (V2 `MicroBatchStream`):
  * `spark.readStream.format("gvdb").load(root)` emits each inserted
  * row exactly once, driven by the append-only data-file manifest
  * (file names ARE the progress marker because insert never rewrites a
  * part file, the Lucene segment contract). Deletes are NOT streamed —
  * tombstones hide rows from batch reads but never rewrite data files;
  * consumers who need deletes use the `readChangeFeed=true` stream or
  * the `gvdb_changes` TVF (the same split Delta makes between CDF and
  * plain streaming reads).
  *
  * Progress tracking is a persisted SEEN-FILES METADATA LOG
  * (FileStreamSource's design) under the query's checkpoint location:
  * each admitted batch appends ONE numbered entry holding exactly the
  * file names it admitted, and the offset the engine checkpoints every
  * micro-batch is just the log index ([[GvdbLogOffset]] — O(1) bytes).
  * Per-batch cost is therefore one directory listing plus one entry
  * write proportional to the NEW files; a restart rebuilds the seen
  * set from the newest COMPACT file plus the delta tail (every C-th
  * entry also writes the cumulative set — FileStreamSource's
  * compaction, `spark.graft.source.logCompactInterval`, default 10),
  * so restart IO is bounded by ~(1 + 1/C)× the file count however
  * many batches the query has run. At 100 TB file counts (10⁵–10⁶
  * part files) offsets and commits stay constant-size where the old
  * files-list-in-offset design wrote multi-MB JSON per batch. A
  * pre-log checkpoint's [[GvdbSourceOffset]] restarts cleanly: its
  * files fold into the seen set and progress from then on is logged.
  *
  * Admission control: `maxFilesPerTrigger` bounds each micro-batch's
  * file count ([[org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]]),
  * and Trigger.AvailableNow snapshots the listing at run start and
  * drains exactly to it. Single-writer contract as everywhere in the
  * table: a concurrent vacuum/reindex REWRITES files and would
  * invalidate outstanding offsets, exactly like compaction under a
  * FileStreamSource. */
class GvdbMicroBatchStream(spark: SparkSession, root: String,
    required: StructType, pushed: Array[Filter], maxFilesPerTrigger: Option[Int],
    checkpointLocation: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => ConnOffset, ReadAllAvailable, ReadLimit, ReadMaxFiles}
  import org.apache.hadoop.fs.Path

  private val rootPath = new Path(root)
  private def fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- the seen-files metadata log ----

  private val logDir = new Path(checkpointLocation, "gvdb_seen_files")
  private def logFs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every `CompactInterval`-th entry also writes `<i>.compact` — the
    * CUMULATIVE seen set as of entry i (FileStreamSource's compaction
    * design) — so a restart reads one compact file plus the delta tail
    * instead of every entry since the query began: restart IO is
    * bounded by ~(1 + 1/C) of the file count regardless of batch
    * count, and the write amplification is one O(total) file per C
    * batches (amortized O(total/C) per batch). Per-batch DELTA entries
    * are always written — replayed batches read exactly their own
    * entry regardless of compaction. */
  private val CompactInterval = spark.conf
    .get("spark.graft.source.logCompactInterval", "10").toInt

  /** In-memory mirror of the log, rebuilt ONCE per stream instance
    * from the newest compact file + the delta entries after it.
    * Legacy offsets' files join it on first sight. */
  private val seen = scala.collection.mutable.HashSet.empty[String]
  private var maxLogIndex: Int = 0
  locally {
    if (logFs.exists(logDir)) {
      val names = logFs.listStatus(logDir).toSeq.map(_.getPath.getName)
      val indices = names.filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toInt).sorted
      val compacts = names.filter(_.endsWith(".compact"))
        .map(_.stripSuffix(".compact")).filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toInt)
      // only a compact at or below the highest DELTA entry is usable
      // (a torn run could leave a compact without its delta twin);
      // 0.compact — the persisted LEGACY-offset fold — has no delta
      // twin by design and is always usable
      val base = compacts.filter(c => c == 0 || indices.contains(c))
        .sorted.lastOption.getOrElse(-1)
      if (base >= 0) seen ++= readFile(new Path(logDir, s"$base.compact"))
      indices.filter(_ > base).foreach(i => seen ++= readEntry(i))
      maxLogIndex = indices.lastOption.getOrElse(0)
    }
  }

  private def readFile(p: Path): Seq[String] = {
    val in = logFs.open(p)
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    GvdbSourceOffset.parseFiles(txt)
  }

  private def readEntry(i: Int): Seq[String] = readFile(new Path(logDir, i.toString))

  /** Atomic write (tmp + rename): a file either exists complete or not
    * at all. Overwrites are legal ONLY for an index the engine never
    * committed (a crash between our log write and the engine's offset
    * commit — the re-admission supersedes the orphan). */
  private def writeFile(p: Path, files: Iterable[String]): Unit = {
    logFs.mkdirs(logDir)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = logFs.create(tmp, true)
    try out.write(GvdbSourceOffset.filesJson(files.toSeq).getBytes("UTF-8")) finally out.close()
    logFs.delete(p, false)
    graft.core.HadoopFs.rename(logFs, tmp, p)
    ()
  }

  private def writeEntry(i: Int, files: Seq[String]): Unit =
    writeFile(new Path(logDir, i.toString), files)

  /** The log position of an engine-supplied offset; a LEGACY files
    * offset folds its list into the seen set and reads as position 0
    * (all of its files predate entry 1 by construction). The fold is
    * PERSISTED as `0.compact` the first time it is seen: once a log
    * offset commits, later restarts never see the legacy offset again,
    * so an in-memory-only fold would re-admit (duplicate) the legacy
    * files on the second restart after an upgrade. */
  private def position(o: ConnOffset): Int = GvdbSourceOffset.fromAny(o) match {
    case GvdbLogOffset(i) => i
    case GvdbSourceOffset(files) =>
      val foldMark = new Path(logDir, "0.compact")
      if (files.nonEmpty && !logFs.exists(foldMark)) writeFile(foldMark, files)
      seen ++= files
      0
    case other => throw new IllegalStateException(s"gvdb source: unreadable offset $other")
  }

  /** AvailableNow bound: the listing snapshotted when the trigger
    * starts — the run drains up to here (possibly over several capped
    * batches) and stops, ignoring files that land mid-run. */
  private var availableNowBound: Option[Set[String]] = None

  private def listNow(): Seq[String] =
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString).sorted

  override def initialOffset(): ConnOffset = GvdbLogOffset(0)

  override def deserializeOffset(json: String): ConnOffset = GvdbSourceOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(listNow().toSet)

  /** Admission-controlled progress: the engine hands over the CURRENT
    * position (committed or initial) and the read limit; a fresh batch
    * is admitted by writing ONE new log entry with its files (at most
    * `maxFilesPerTrigger`, in name order) and advancing the index. A
    * pending entry beyond `start` — written by a run that crashed
    * before the engine committed its offset — is re-offered as-is
    * first, so no admitted file is ever lost or re-listed. */
  override def latestOffset(start: ConnOffset, limit: ReadLimit): ConnOffset = {
    val startIdx = Option(start).map(position).getOrElse(0)
    if (maxLogIndex > startIdx) return GvdbLogOffset(maxLogIndex)
    val visible = availableNowBound match {
      case Some(bound) => listNow().filter(bound)
      case None => listNow()
    }
    val fresh = visible.filterNot(seen)
    val take = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles())
      case _: ReadAllAvailable => fresh
      case _ => fresh
    }
    if (take.isEmpty) start
    else {
      maxLogIndex += 1
      writeEntry(maxLogIndex, take)
      seen ++= take
      if (maxLogIndex % CompactInterval == 0)
        writeFile(new Path(logDir, s"$maxLogIndex.compact"), seen)
      GvdbLogOffset(maxLogIndex)
    }
  }

  override def latestOffset(): ConnOffset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** The delta files' rows as one inner batch plan — pinned logical
    * schema (an LSH-indexed table's files carry the internal bucket
    * column, which must not leak into the stream), the negotiated
    * pushed filters and pruning applied inside. A narrow plan by
    * construction (scan → filter → project — the [[GvdbStreamLegs]]
    * wrapping contract). The batch's files come from the LOG entries
    * in (start, end], NOT a fresh listing — a replayed batch reads
    * exactly what was admitted, whatever landed since. */
  override def planInputPartitions(start: ConnOffset, end: ConnOffset): Array[InputPartition] = {
    val newFiles = (GvdbSourceOffset.fromAny(start), GvdbSourceOffset.fromAny(end)) match {
      case (s: GvdbSourceOffset, e: GvdbSourceOffset) =>
        // legacy replay: both ends predate the log
        e.files.filterNot(s.files.toSet)
      case (s, e) =>
        val from = position(s)
        val to = position(e)
        ((from + 1) to to).flatMap(readEntry)
    }
    val legs =
      if (newFiles.isEmpty) Seq.empty
      else Seq(spark.read.schema(VectorSchema.schema).parquet(newFiles: _*))
    val (parts, factory) = GvdbStreamLegs.plan(legs, required, pushed)
    lastFactory = factory
    parts
  }

  /** Stashed by [[planInputPartitions]]; the engine creates the reader
    * factory for the same micro-batch immediately after planning it
    * (single-threaded per query), so the handoff is race-free. */
  @volatile private var lastFactory: PartitionReaderFactory = _

  override def createReaderFactory(): PartitionReaderFactory = lastFactory

  override def commit(end: ConnOffset): Unit = ()

  override def stop(): Unit = ()
}

/** Shared micro-batch planning for the V2 streams: each leg (an inner
  * batch DataFrame) gets the negotiated pushed filters and pruning
  * applied and is planned to its own `InternalRow` RDD; the returned
  * partitions carry (leg index, inner partition) and the factory
  * routes each to its leg's iterator on the executor.
  *
  * Wrapping contract: every leg's plan must be NARROW — scans, maps,
  * filters, projections and BROADCAST joins only. The inner partitions
  * compute inside foreign tasks, where a shuffle (no map stage ran) or
  * a multi-child RDD (`UnionRDD` re-derives child partition arrays,
  * which are `@transient` on executors) cannot execute — which is why
  * the change feed plans one leg per version step instead of a SQL
  * UNION, and why its diffs are broadcast-(anti/semi)-joins keyed on
  * the broadcast-small tombstone side, never a shuffled set
  * difference. */
private[sources] object GvdbStreamLegs {
  def plan(legs: Seq[DataFrame], required: StructType, pushed: Array[Filter])
      : (Array[InputPartition], PartitionReaderFactory) = {
    val rdds = legs.map { leg =>
      val filtered = pushed.foldLeft(leg) { (d, f) => d.where(GvdbFilters.toColumn(f).get) }
      filtered.select(required.fieldNames.map(col).toIndexedSeq: _*)
        .queryExecution.toRdd
    }.toArray
    val parts = rdds.zipWithIndex.flatMap { case (rdd, i) =>
      rdd.partitions.map(p =>
        GvdbStreamInputPartition(i, p, rdd.preferredLocations(p).toArray))
    }
    (parts.toArray[InputPartition], new GvdbStreamReaderFactory(rdds))
  }
}

/** One leg-tagged inner partition (locality resolved on the driver). */
case class GvdbStreamInputPartition(legIndex: Int, split: Partition,
    locations: Array[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = locations
}

/** Executor-side router: same InternalRow passthrough as
  * [[GvdbReaderFactory]], over the micro-batch's leg RDDs. */
class GvdbStreamReaderFactory(rdds: Array[RDD[InternalRow]]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val gp = partition.asInstanceOf[GvdbStreamInputPartition]
    val it = rdds(gp.legIndex).iterator(gp.split, TaskContext.get())
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** The warehouse as a streaming CHANGE FEED (Delta's `readChangeFeed`
  * analogue, V2 `MicroBatchStream`): emits the per-version deltas of
  * the table's manifest snapshots — inserts AND tombstone deletes,
  * which the plain insert feed contractually omits. Offsets are
  * SNAPSHOT VERSIONS ([[GvdbChangesOffset]]): progress is made when
  * the writer records a snapshot ([[VectorTable.snapshot]] — the
  * commit points of this table format), and each micro-batch is the
  * union of one [[VectorTable.diffSnapshots]] per version step, so
  * granularity survives even when several snapshots land between
  * triggers. Version 1 diffs against the empty table (everything
  * added). The per-step diffs are id-only anti-joins between pinned
  * manifests — the payload is never read, so a step's cost is bounded
  * by the id column of the two snapshots regardless of table width.
  * Same physical-rewrite caveat as every snapshot surface: vacuum and
  * reindex expire snapshots and with them outstanding change offsets. */
class GvdbChangesMicroBatchStream(spark: SparkSession, root: String,
    required: StructType, pushed: Array[Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.{Offset => ConnOffset}
  import org.apache.spark.sql.functions.lit

  private def table = new VectorTable(spark, root, 1)

  override def initialOffset(): ConnOffset = GvdbChangesOffset(0)

  override def deserializeOffset(json: String): ConnOffset =
    GvdbChangesOffset(""""version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"gvdb change feed: unreadable offset $json")))

  override def latestOffset(): ConnOffset =
    GvdbChangesOffset(table.snapshotVersions.lastOption.getOrElse(0))

  /** One or two NARROW legs per version step (the [[GvdbStreamLegs]]
    * wrapping contract rules out the textbook shuffled set-difference;
    * these legs are equivalent because the table format is append-only
    * between snapshots, inserts never resurrect tombstoned ids, and
    * tombstone sets are broadcast-small by the delete-file argument):
    *
    *  - ADDED(v): the manifest's NEW data files (files(v) ∖ files(v−1))
    *    anti-joined against broadcast(tombstones(v)) — new files carry
    *    exactly the inserted ids (dedup insert never rewrites), and the
    *    anti-join drops rows both inserted and deleted within the step;
    *  - DELETED(v): the v−1 snapshot semi-joined against
    *    broadcast(tombstones(v) ∖ tombstones(v−1)) — ids live at v−1
    *    and tombstoned since.
    *
    * Costs: ADDED scans only the delta files; DELETED scans the v−1
    * manifest once per step with a broadcast build side — the same IO
    * class as the batch `gvdb_changes` TVF. */
  override def planInputPartitions(start: ConnOffset, end: ConnOffset): Array[InputPartition] = {
    import org.apache.spark.sql.functions.broadcast
    def ver(o: ConnOffset): Int = o match {
      case g: GvdbChangesOffset => g.version
      case other => deserializeOffset(other.json).asInstanceOf[GvdbChangesOffset].version
    }
    val (from, to) = (ver(start), ver(end))
    val tbl = table
    val legs = ((from + 1) to to).flatMap { v =>
      val prevFiles = if (v == 1) Set.empty[String] else tbl.snapshotFiles(v - 1).toSet
      val newFiles = tbl.snapshotFiles(v).filterNot(prevFiles)
      val tombsCur = tbl.snapshotTombstones(v)
      val added =
        if (newFiles.isEmpty) None
        else Some(
          spark.read.schema(VectorSchema.schema).parquet(newFiles: _*)
            .select(col(VectorSchema.ID))
            .join(broadcast(tombsCur), Seq(VectorSchema.ID), "left_anti")
            .withColumn("change", lit("added")).withColumn("version", lit(v)))
      val deleted =
        if (v == 1) None
        else {
          val deltaTombs = tombsCur.join(broadcast(tbl.snapshotTombstones(v - 1)),
            Seq(VectorSchema.ID), "left_anti")
          Some(tbl.asOf(v - 1).select(col(VectorSchema.ID))
            .join(broadcast(deltaTombs), Seq(VectorSchema.ID), "left_semi")
            .withColumn("change", lit("deleted")).withColumn("version", lit(v)))
        }
      added.toSeq ++ deleted.toSeq
    }
    val (parts, factory) = GvdbStreamLegs.plan(legs, required, pushed)
    lastFactory = factory
    parts
  }

  @volatile private var lastFactory: PartitionReaderFactory = _

  override def createReaderFactory(): PartitionReaderFactory = lastFactory

  override def commit(end: ConnOffset): Unit = ()

  override def stop(): Unit = ()
}

/** The write path behind every V2 surface: batch `INSERT INTO` (a
  * `USING gvdb` temp view or a gvdb-catalog table) routes `AppendData`
  * → [[V1Write]] → the dedup insert, `OverwriteByExpression(true)`
  * (SaveMode.Overwrite / INSERT OVERWRITE) → truncate-and-insert; the
  * STREAMING half of the same builder yields [[GvdbStreamingWrite]]
  * (epoch-commit staging over the same insert). Every write surface
  * keeps the reference's ON-CONFLICT-DO-NOTHING contract
  * (duckvdb.py:56-61). */
class GvdbWriteBuilder(spark: SparkSession, root: String, dimOpt: Option[Int],
    info: LogicalWriteInfo, upsert: Boolean = false)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  private def extracts = GvdbWrite.extractOpts(k => Option(info.options.get(k)))

  override def build(): V1Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwriteIgnored: Boolean): Unit =
          if (upsert && !overwrite) GvdbUpsert(spark, root, data, dimOpt)
          else GvdbWrite.insert(spark, root, data, overwrite, dimOpt, extracts)
      }
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GvdbStreamingWrite(spark, root, dimOpt, overwrite,
        info.queryId(), info.schema(), upsert)
  }
}

/** The UPSERT write builder, selected by the `upsert` write option:
  * identical to [[GvdbWriteBuilder]] but (a) routes each batch/epoch
  * through [[GvdbUpsert]] (batch rows replace same-id rows — the
  * `vdb_upsert` semantics as a file-group CoW) and (b) carries the
  * `SupportsStreamingUpdateAsAppend` marker, so `outputMode("update")`
  * is ACCEPTED: Spark hands the sink each trigger's updated rows and
  * the sink applies them keyed. Without the option the plain builder
  * still rejects Update mode — mapping updates onto the first-wins
  * APPEND path would silently drop them (the r11 refusal, kept). */
class GvdbUpsertWriteBuilder(spark: SparkSession, root: String, dimOpt: Option[Int],
    info: LogicalWriteInfo)
    extends GvdbWriteBuilder(spark, root, dimOpt, info, upsert = true)
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
