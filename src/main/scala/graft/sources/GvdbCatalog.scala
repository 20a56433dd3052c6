package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{ArrayType, FloatType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.VectorSchema
import graft.table.VectorTable

/** Catalog plugin for gvdb vector tables — the reference's "one name ↔
  * one database file" contract (vdb.py:15-16: `/db/{name}.duckdb` on a
  * shared volume) lifted to Spark's catalog level:
  *
  * {{{
  *   spark.sql.catalog.vdb           = graft.sources.GvdbCatalog
  *   spark.sql.catalog.vdb.warehouse = /shared/volume/vdb
  *
  *   CREATE NAMESPACE vdb.prod
  *   CREATE TABLE vdb.prod.docs (id string, metadata string,
  *                               embedding array<float>) USING gvdb
  *   INSERT INTO vdb.prod.docs SELECT ...   -- dedup anti-join insert
  *   SELECT * FROM vdb.prod.docs            -- merge-on-read BatchScan
  * }}}
  *
  * Layout mirrors the reference's volume: `<warehouse>/<ns…>/<table>`
  * is the table's parquet root, with the engine's sidecars (tombstones,
  * snapshots, index tiers) as `<table>.<suffix>` siblings — so every
  * facade/TVF/format surface works on a catalog table's path
  * unchanged, and vice versa. `CREATE TABLE … LOCATION p` pins an
  * external root via a one-line pointer file, matching Spark's
  * external-table contract (the catalog entry owns the name, not the
  * data: DROP on an external table unlinks without deleting).
  *
  * The catalog keeps NO state beyond the filesystem — table existence
  * IS directory existence (the reference's file-per-database model),
  * so it needs no metastore service and concurrent Spark apps sharing
  * the warehouse path see the same catalog.
  */
class GvdbCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"gvdb catalog '$name' requires option 'spark.sql.catalog.$name.warehouse'"))
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nsPath(namespace: Array[String]): Path =
    new Path((warehouse +: namespace.toIndexedSeq).mkString("/"))

  /** The managed directory for an identifier — the table root, unless a
    * pointer file redirects to an external LOCATION. */
  private def managedPath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), ident.name())

  private def pointerPath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), ident.name() + ".location")

  /** Resolved data root: the external location if pinned, else the
    * managed directory itself. */
  private def tableRoot(ident: Identifier): String =
    if (!fs.exists(pointerPath(ident))) managedPath(ident).toString
    else {
      val in = fs.open(pointerPath(ident))
      try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    }

  /** A TABLE directory always contains parquet write artifacts
    * (`VectorTable.create` writes an empty parquet with its _SUCCESS
    * marker; rewrites leave part files); a NAMESPACE directory holds
    * only subdirectories and its external tables' `.location` pointer
    * FILES — so the test is for the parquet markers specifically, not
    * "any plain file" (which would classify a namespace of external
    * tables as itself a table). */
  private def isTableDir(p: Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists(st =>
      !st.isDirectory &&
        (st.getPath.getName == "_SUCCESS" || st.getPath.getName.startsWith("part-")))

  private def exists(ident: Identifier): Boolean =
    isTableDir(managedPath(ident)) || fs.exists(pointerPath(ident))

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(catalogName +: namespace.toIndexedSeq)
    // sidecars (tombstones, snapshots, index tiers) are dot-suffixed
    // siblings of their table dir and a nested NAMESPACE dir holds
    // only subdirectories, so a table is an undotted TABLE DIR — plus
    // every external table, listed by its `.location` pointer file
    val entries = fs.listStatus(dir).toSeq.map(_.getPath)
    val managed = entries
      .filter(p => !p.getName.contains(".") && isTableDir(p)).map(_.getName)
    val external = entries.filter(_.getName.endsWith(".location"))
      .map(_.getName.stripSuffix(".location"))
    (managed ++ external).distinct
      .map(n => Identifier.of(namespace, n))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident.asMultipartIdentifier)
    new GvdbTable(spark, tableRoot(ident), None, None)
  }

  /** SQL time travel by version — `SELECT … FROM cat.ns.t VERSION AS OF
    * v` resolves through this overload to the same pinned-manifest read
    * as the `versionAsOf` option / `gvdb_scan(path, v)` TVF. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident.asMultipartIdentifier)
    val v = scala.util.Try(version.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"gvdb time travel versions are integers, got '$version'"))
    new GvdbTable(spark, tableRoot(ident), None, Some(v))
  }

  /** SQL time travel by timestamp — `TIMESTAMP AS OF ts` arrives as
    * epoch MICROseconds (the TableCatalog contract) and resolves to the
    * last snapshot committed at or before it (Delta's rule, via
    * [[VectorTable.versionAt]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident.asMultipartIdentifier)
    val root = tableRoot(ident)
    val tsMillis = timestamp / 1000L
    val v = new VectorTable(spark, root, 1).versionAt(tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"gvdb: no snapshot of ${ident.name()} at or before timestamp " +
          s"${java.time.Instant.ofEpochMilli(tsMillis)}"))
    new GvdbTable(spark, root, None, Some(v))
  }

  /** Accepts an empty schema (`CREATE TABLE t USING gvdb LOCATION …`)
    * or the contract schema; anything else is rejected — the outer
    * schema of a vector table is fixed (duckvdb.py:32, SURVEY §1.3). */
  private def validateSchema(schema: StructType): Unit = {
    if (schema.isEmpty) return
    val names = schema.fieldNames.toSeq
    require(names == VectorSchema.schema.fieldNames.toSeq,
      s"gvdb tables have the fixed schema (id string, metadata string, " +
        s"embedding array<float>); got columns ${names.mkString(", ")}")
    val embType = schema(VectorSchema.EMBEDDING).dataType
    require(embType.isInstanceOf[ArrayType] &&
        embType.asInstanceOf[ArrayType].elementType == FloatType,
      s"gvdb 'embedding' column must be array<float>, got ${embType.simpleString}")
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (exists(ident)) throw new TableAlreadyExistsException(ident.asMultipartIdentifier)
    require(partitions.isEmpty, "gvdb tables do not support partitioning clauses")
    validateSchema(schema)
    if (!fs.exists(nsPath(ident.namespace())))
      throw new NoSuchNamespaceException(catalogName +: ident.namespace().toIndexedSeq)
    Option(properties.get(TableCatalog.PROP_LOCATION)) match {
      case Some(loc) =>
        // external table: validate/create the root FIRST, record the
        // pointer LAST — an unwritable/invalid LOCATION must fail
        // before the pointer exists, or the catalog is left with a
        // phantom entry whose scans fail. Creating the root only if
        // absent means pointing at an existing gvdb table adopts it.
        new VectorTable(spark, loc, 1).create()
        val out = fs.create(pointerPath(ident), false)
        try out.write(loc.getBytes("UTF-8")) finally out.close()
      case None =>
        new VectorTable(spark, managedPath(ident).toString, 1).create()
    }
    new GvdbTable(spark, tableRoot(ident), None, None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "gvdb tables have a fixed schema; ALTER TABLE is not supported")

  /** DROP: a managed table's data (and all sidecars) die with the
    * entry; an external table is unlinked only — its data root is
    * owned by whoever created it (Spark's external-table contract). */
  override def dropTable(ident: Identifier): Boolean =
    if (!exists(ident)) false
    else {
      val external = fs.exists(pointerPath(ident))
      if (!external) new VectorTable(spark, managedPath(ident).toString, 1).drop()
      fs.delete(pointerPath(ident), false)
      fs.delete(managedPath(ident), true)
      true
    }

  override def renameTable(oldIdent: Identifier, rawNewIdent: Identifier): Unit = {
    // The RENAME TO target may arrive name-only (empty namespace) or
    // fully qualified INCLUDING the catalog name (Spark hands the
    // parsed multipart through untrimmed) — normalize both to this
    // catalog's namespace space.
    val rawNs = rawNewIdent.namespace()
    val ns =
      if (rawNs.isEmpty) oldIdent.namespace()
      else if (rawNs.headOption.contains(catalogName)) rawNs.drop(1)
      else rawNs
    val newIdent = Identifier.of(ns, rawNewIdent.name())
    if (!exists(oldIdent)) throw new NoSuchTableException(oldIdent.asMultipartIdentifier)
    if (exists(newIdent)) throw new TableAlreadyExistsException(newIdent.asMultipartIdentifier)
    if (!fs.exists(nsPath(newIdent.namespace())))
      throw new NoSuchNamespaceException(catalogName +: newIdent.namespace().toIndexedSeq)
    // rename the table dir AND every dot-suffixed sidecar sibling, so
    // tombstones/snapshots/indexes follow the name
    val srcDir = nsPath(oldIdent.namespace())
    fs.listStatus(srcDir).toSeq.map(_.getPath)
      .filter(p => p.getName == oldIdent.name() || p.getName.startsWith(oldIdent.name() + "."))
      .foreach { p =>
        val newName = newIdent.name() + p.getName.stripPrefix(oldIdent.name())
        graft.core.HadoopFs.rename(fs, p, new Path(nsPath(newIdent.namespace()), newName))
      }
  }

  // ---- namespaces ----

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(n => !n.contains("."))
      .map(Array(_)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (!fs.exists(nsPath(namespace)))
      throw new NoSuchNamespaceException(catalogName +: namespace.toIndexedSeq)
    else Array.empty // single-level namespaces (one volume dir per ns)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespace.isEmpty || fs.exists(nsPath(namespace)))
      Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(catalogName +: namespace.toIndexedSeq)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (fs.exists(nsPath(namespace)))
      throw new NamespaceAlreadyExistsException((catalogName +: namespace.toIndexedSeq).toArray)
    fs.mkdirs(nsPath(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("gvdb namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      fs.delete(p, true)
    }
  }

  private implicit class IdentOps(ident: Identifier) {
    def asMultipartIdentifier: Seq[String] =
      (catalogName +: ident.namespace().toIndexedSeq) :+ ident.name()
  }

  // ---- maintenance procedures: `CALL cat.system.<proc>(…)` (the
  // DSv2 ProcedureCatalog surface, Spark 4's analogue of Iceberg's
  // system procedures) — the table-maintenance verbs that have no
  // DML spelling get a first-class SQL one:
  //   CALL vdb.system.compact('ns.t', 1000)  -> removed_files
  //   CALL vdb.system.vacuum('ns.t')         -> folded_tombstones
  //   CALL vdb.system.snapshot('ns.t')       -> version
  // Args bind by position or name (Spark coerces); the table argument
  // is the catalog-relative dotted name, resolved through the same
  // managed/external-location rules as every other surface. ----

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField}

  private def procTableRoot(dotted: String): String = {
    val parts = dotted.split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"gvdb: bad table argument '$dotted' (expected 'ns.table')")
    val id = Identifier.of(parts.init, parts.last)
    if (!exists(id)) throw new NoSuchTableException(id.asMultipartIdentifier)
    tableRoot(id)
  }

  private case class ProcResultScan(schema: StructType, out: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = out
    override def readSchema(): StructType = schema
  }

  /** One class per verb keeps the binding trivial: parameters are
    * fixed, bind() is identity (Spark's coercion has already shaped
    * the input row to [[parameters]]). */
  private abstract class MaintenanceProc(procName: String, desc: String,
      params: Array[ProcedureParameter], outSchema: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def run(input: InternalRow): InternalRow
    override def call(input: InternalRow): util.Iterator[Scan] =
      util.Collections.singletonList[Scan](
        ProcResultScan(outSchema, Array(run(input)))).iterator()
  }

  private def tableParam: ProcedureParameter =
    ProcedureParameter.in("table", StringType)
      .comment("catalog-relative dotted table name, e.g. 'ns.t'").build()

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"gvdb: procedures live under the 'system' namespace " +
        s"(CALL $catalogName.system.<proc>), got ${ident.namespace().mkString(".")}")
    ident.name() match {
      case "compact" => new MaintenanceProc("compact",
          "fold the small-file tail into ~target_rows-row files (raw rows preserved)",
          Array(tableParam, ProcedureParameter.in("target_rows", LongType).build()),
          StructType(Seq(StructField("removed_files", IntegerType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val root = procTableRoot(input.getUTF8String(0).toString)
          InternalRow(new VectorTable(spark, root, 1)
            .compactSmallFiles(input.getLong(1)))
        }
      }
      case "vacuum" => new MaintenanceProc("vacuum",
          "fold merge-on-read tombstones into the data (one rewrite, index rebuilt)",
          Array(tableParam),
          StructType(Seq(StructField("folded_tombstones", LongType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val root = procTableRoot(input.getUTF8String(0).toString)
          val folded = GvdbFooters.rowCount(spark, root + ".tombstones")
          new VectorTable(spark, root, 1).vacuum()
          InternalRow(folded)
        }
      }
      case "snapshot" => new MaintenanceProc("snapshot",
          "record a named version of the current files+tombstones for time travel",
          Array(tableParam),
          StructType(Seq(StructField("version", IntegerType, nullable = false)))) {
        override protected def run(input: InternalRow): InternalRow = {
          val root = procTableRoot(input.getUTF8String(0).toString)
          InternalRow(new VectorTable(spark, root, 1).snapshot())
        }
      }
      case other => throw new IllegalArgumentException(
        s"gvdb: unknown procedure '$other' (available: compact, vacuum, snapshot)")
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")) || namespace.isEmpty)
      Array("compact", "vacuum", "snapshot")
        .map(Identifier.of(Array("system"), _))
    else Array.empty
}
