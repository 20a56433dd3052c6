package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.core.VectorSchema
import graft.sources.GvdbTable
import graft.table.VectorTable

/** Row-level SQL for gvdb tables — `MERGE INTO` (the CDC-apply-by-SQL
  * surface: `MERGE INTO cat.ns.t USING changes ON t.id = c.id WHEN
  * MATCHED ...`), `UPDATE ... SET ... WHERE`, and `DELETE FROM` with
  * predicates the source-filter algebra can't express — via analyzer
  * rewrites onto the engine's existing tombstone-delete + dedup-insert
  * machinery (the `vdb_upsert` semantics) instead of Spark's
  * `SupportsRowLevelOperations` plumbing — and with the same
  * granularity a group-based connector would reach: rewrites are
  * FILE-GROUP copy-on-write ([[GvdbRowLevel.groupCopyOnWriteMutated]]),
  * replacing only the part files that hold touched rows. Subquery
  * predicates work throughout (the deferred Column evaluation re-plans
  * them like any Dataset operation).
  *
  * The rule runs in the analyzer's extended-resolution slot. Because
  * the table advertises `ACCEPT_ANY_SCHEMA`, Spark deliberately leaves
  * the whole merge UNRESOLVED for the connector (`skipSchemaResolution`
  * — the contract Delta uses to do its own merge preprocessing), and
  * `CheckAnalysis` would then reject it; this rule claims the
  * [[MergeIntoTable]] once its two child relations are resolved and
  * replaces it with [[GvdbMergeCommand]], deferring EXPRESSION
  * resolution (condition, action conditions, assignment values) to the
  * Dataset operations inside the command — each is wrapped as a
  * `Column` over the target-source join, where the ordinary analyzer
  * resolves it with the t/c alias qualifiers intact. The spec rides in
  * [[GvdbMergeSpec]], a plain holder rather than command fields, so
  * the command node itself carries no (unresolved) expressions.
  * `WHEN NOT MATCHED BY SOURCE` is supported; `UPDATE/INSERT *` star
  * actions are expanded by target-column name here (Spark only expands
  * them for row-level-operation tables).
  */
class GvdbMergeRule(spark: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case MergeIntoTable(target, source, cond,
        matched, notMatched, notMatchedBySource, withSchemaEvolution)
        if target.resolved && source.resolved && gvdbRoot(target).isDefined =>
      require(!withSchemaEvolution,
        "gvdb tables have a fixed schema; MERGE ... WITH SCHEMA EVOLUTION is not supported")
      GvdbMergeCommand(gvdbRoot(target).get, target, source,
        GvdbMergeSpec(cond,
          expandStars(matched, target, source),
          expandStars(notMatched, target, source),
          expandStars(notMatchedBySource, target, source)))

    // SQL UPDATE — same deferred-resolution lowering as the merge
    case UpdateTable(target, assignments, condition)
        if target.resolved && gvdbRoot(target).isDefined =>
      GvdbUpdateCommand(gvdbRoot(target).get, target,
        GvdbUpdateSpec(assignments, condition))

    // SQL DELETE whose predicate the source-filter algebra can't
    // express: SupportsDelete's metadata path would reject it, so
    // lower to the Column-evaluated tombstone delete instead.
    // Translatable predicates are left alone — the engine's
    // canDeleteWhere/deleteWhere path answers them from metadata.
    case DeleteFromTable(target, condition)
        if target.resolved && condition.resolved && gvdbRoot(target).isDefined &&
          !fullyTranslatable(condition) =>
      GvdbDeleteCommand(gvdbRoot(target).get, target, GvdbDeleteSpec(condition))
  }

  /** True when every conjunct of `cond` translates to a
    * `sources.Filter` — the SupportsDelete acceptance test, asked the
    * same way the engine asks it. */
  private def fullyTranslatable(cond: Expression): Boolean =
    splitConjunctivePredicates(cond).forall(e => GraftBridge.translateFilter(e).isDefined)

  /** The live table root, when the merge target is a writable gvdb
    * relation (a version-pinned snapshot or change feed has no
    * indexableRoot and falls through to Spark's own rejection). */
  private def gvdbRoot(plan: LogicalPlan): Option[String] = plan match {
    case s: SubqueryAlias => gvdbRoot(s.child)
    case r: DataSourceV2Relation => r.table match {
      case t: GvdbTable if t.indexableRoot.isDefined => Some(t.dataRoot)
      case _ => None
    }
    case _ => None
  }

  /** `UPDATE SET *` / `INSERT *` → explicit per-column assignments,
    * target column ← source column of the same name (Spark's own
    * star-expansion contract for merges). */
  private def expandStars(actions: Seq[MergeAction],
      target: LogicalPlan, source: LogicalPlan): Seq[MergeAction] = {
    def byName(ta: Attribute): Expression =
      source.output.find(_.name.equalsIgnoreCase(ta.name)).getOrElse(
        throw new IllegalArgumentException(
          s"MERGE ... *: source has no column '${ta.name}' to match the target's"))
    actions.map {
      case UpdateStarAction(c) =>
        UpdateAction(c, target.output.map(ta => Assignment(ta, byName(ta))), fromStar = true)
      case InsertStarAction(c) =>
        InsertAction(c, target.output.map(ta => Assignment(ta, byName(ta))))
      case other => other
    }
  }
}

/** Plain (non-Expression) holder for the merge spec: keeps the
  * possibly-still-unresolved expressions out of the command's
  * TreeNode-scanned product members, so `CheckAnalysis` sees a
  * resolved leaf command. */
case class GvdbMergeSpec(cond: Expression, matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction], notMatchedBySourceActions: Seq[MergeAction])

/** Shared evaluation pieces of the SQL row-level commands (MERGE /
  * UPDATE / DELETE over gvdb tables). */
private[graft] object GvdbRowLevel {

  def keyName(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.nameParts.last
    case other => other.sql
  }

  /** The assignment value for `field` (target value when unassigned —
    * the partial-UPDATE default). */
  def assignCol(assigns: Seq[Assignment], field: Attribute): Column =
    assigns.collectFirst {
      case Assignment(k, v) if keyName(k).equalsIgnoreCase(field.name) =>
        GraftBridge.column(v)
    }.getOrElse(GraftBridge.column(field))

  /** Cast target with containsNull KEPT true: Catalyst refuses a cast
    * that narrows element nullability, and the insert path's shape()
    * re-asserts the pinned schema anyway. */
  def relaxedType(field: Attribute): org.apache.spark.sql.types.DataType =
    field.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        org.apache.spark.sql.types.ArrayType(et, containsNull = true)
      case dt => dt
    }

  /** Pinned tombstone-table schema — a schema-less parquet read throws
    * on a file-less directory (reachable mid-append: the committer
    * creates the output dir before the job's plan runs). */
  private val tombSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(VectorSchema.ID,
      org.apache.spark.sql.types.StringType)))

  /** Runs `body` as one writer turn on `root`: a row-level command
    * reads the target snapshot it rewrites UNDER the lock, so no other
    * writer can commit between that read and the rewrite (inner
    * mutators reenter). */
  def withWriterLock[T](spark: SparkSession, root: String)(body: => T): T =
    graft.core.WriterLock.withLock(new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), root)(body)

  /** Which part files hold any of `touchedIds` (the CoW victims), and
    * the pinned id set those files carry. Pruned by parquet FOOTER id
    * statistics: only the files whose id [min,max] overlaps a touched
    * id (plus any stat-less file) have their id column READ — a CDC
    * batch against a 100 TB table scans the candidate files, not the
    * table. File ranges are insert-batch-scoped (the dedup insert
    * hash-shuffles within a batch, so each batch's files span that
    * batch's ids only), which is exactly the locality CDC touches
    * have. The range probe is a broadcast of the per-file stats
    * (#files rows, driver metadata — no data read) against the touched
    * keys; a false positive only costs a ride-along rewrite, never
    * correctness. `touchedIds` must be pinned (localCheckpoint) — the
    * returned victimIds frame is consumed AFTER the victims are
    * deleted. */
  private[graft] def victimLookup(spark: SparkSession, root: String,
      touchedIds: org.apache.spark.sql.DataFrame)
      : (Array[String], org.apache.spark.sql.DataFrame) = {
    val FileCol = "__gvdb_file"
    import spark.implicits._
    val stats = graft.sources.GvdbFooters.idStats(spark, root)
    val (known, unknown) = stats.partition(_._3.isDefined)
    val candKnown =
      if (known.isEmpty) Array.empty[String]
      else {
        val statsDf = known.map { case (f, _, r) => (f, r.get._1, r.get._2) }
          .toDF(FileCol, "__gvdb_lo", "__gvdb_hi")
        touchedIds.join(broadcast(statsDf),
            col(VectorSchema.ID) >= col("__gvdb_lo") &&
              col(VectorSchema.ID) <= col("__gvdb_hi"), "inner")
          .select(FileCol).distinct().collect().map(_.getString(0))
      }
    var candidates = (candKnown ++ unknown.map(_._1)).toSeq
    // Bloom pruning on top of the range probe: under content-hash ids
    // (UUIDv5) every file's range spans the keyspace and min/max keeps
    // the whole table candidate — the per-file id blooms
    // ([[graft.sources.IdBlooms]]) answer membership regardless of
    // layout. Touched ids are collected only under the probe cap (a
    // bigger merge brushes most files anyway); files with a valid
    // bloom entry and no maybe-hit drop out, files without an entry
    // stay conservative candidates.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touchedArr: Option[Array[String]] = {
      val capped = touchedIds.limit(graft.sources.IdBlooms.MaxProbeIds + 1)
        .collect().map(_.getString(0))
      if (capped.length > graft.sources.IdBlooms.MaxProbeIds) None else Some(capped)
    }
    // one manifest pass yields validity, hits AND the GC signal;
    // `bloomValid` is reused below for the lazy build's missing-set
    val (bloomValid, bloomHits, bloomTotal) = touchedArr match {
      case Some(ids) if graft.sources.IdBlooms.enabled(fs, root) =>
        graft.sources.IdBlooms.probeValid(spark, fs, root, ids)
      case _ => (Set.empty[String], Set.empty[String], 0L)
    }
    if (bloomValid.nonEmpty)
      candidates = candidates.filter { p =>
        val n = new org.apache.hadoop.fs.Path(p).getName
        !bloomValid(n) || bloomHits(n)
      }
    // RAW id→file map OVER THE CANDIDATES (dead rows included: a
    // victim file's tombstoned ids must leave the tombstone table when
    // the file goes)
    val idToFile =
      if (candidates.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(VectorSchema.ID,
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField(FileCol,
              org.apache.spark.sql.types.StringType))))
      else spark.read.schema(VectorSchema.schema).parquet(candidates: _*)
        .select(col(VectorSchema.ID), input_file_name().as(FileCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val victims = idToFile
      .join(touchedIds, Seq(VectorSchema.ID), "left_semi")
      .select(FileCol).distinct().collect().map(_.getString(0))
    // LAZILY extend the bloom manifest from the candidate pass the
    // lookup just paid: bloom the NON-VICTIM candidates that lack an
    // entry (victims are deleted by the caller moments later — a
    // bloom for them is waste and instant GC pressure). The
    // aggregation reads the persisted (id, file) frame, never the
    // data files again; files written later stay
    // unbloomed-conservative until the next lookup reads them anyway.
    if (touchedArr.isDefined && candidates.nonEmpty) {
      val victimNames = victims.iterator
        .map(new org.apache.hadoop.fs.Path(_).getName).toSet
      val candNames = candidates.iterator
        .map(new org.apache.hadoop.fs.Path(_).getName).toSet
      val rowsByName = stats.iterator
        .map { case (p, n, _) => new org.apache.hadoop.fs.Path(p).getName -> n }
        .filter { case (n, _) => !bloomValid(n) && candNames(n) && !victimNames(n) }
        .toMap
      graft.sources.IdBlooms.buildFrom(spark, fs, root, idToFile, rowsByName)
      graft.sources.IdBlooms.gcIfBloated(spark, fs, root,
        bloomTotal + rowsByName.size, bloomValid.size.toLong + rowsByName.size)
    }
    val victimIds =
      if (victims.isEmpty) idToFile.select(VectorSchema.ID).limit(0).localCheckpoint(true)
      else idToFile
        .join(broadcast(victims.toSeq.toDF(FileCol)), Seq(FileCol), "left_semi")
        .select(VectorSchema.ID)
        .localCheckpoint(true) // pinned: consumed after the victims are gone
    idToFile.unpersist()
    (victims, victimIds)
  }

  /** THE row-level write (MERGE, UPDATE and upsert all end here):
    * file-group copy-on-write fed only the rows the command writes.
    * `mutated` carries updated rows post-assignment plus deduped
    * inserts; the untouched rows of victim files ride along by reading
    * the victim files DIRECTLY (raw rows minus tombstoned ids minus
    * `preImage`, the pre-assignment ids of mutated/deleted target
    * rows). Every updated row's pre-image file is a victim by
    * construction (its id is in `touched`), so the replacement is
    * exactly "inserts ∪ every surviving row of the victim files" —
    * the table's untouched files are never read twice nor rewritten.
    * Crash window: between the append and the victim deletion a reader
    * could see a touched row twice — the single-writer,
    * non-transactional contract of the format's other rewrite points. */
  private[graft] def groupCopyOnWriteMutated(spark: SparkSession, root: String,
      mutated: org.apache.spark.sql.DataFrame,
      touched: org.apache.spark.sql.DataFrame,
      preImage: org.apache.spark.sql.DataFrame): Unit = withWriterLock(spark, root) {
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touchedIds = touched
      .select(col(touched.columns.head).as(VectorSchema.ID)).distinct()
      .localCheckpoint(true) // reused: candidate pruning + victim-id pin
    val (victims, victimIds) = victimLookup(spark, root, touchedIds)
    val replacement =
      if (victims.isEmpty) mutated
      else {
        val raw = spark.read.schema(VectorSchema.schema).parquet(victims.toSeq: _*)
        val tombPath = new org.apache.hadoop.fs.Path(root + ".tombstones")
        val live =
          if (!hfs.exists(tombPath)) raw
          else raw.join(broadcast(spark.read.schema(tombSchema)
            .parquet(tombPath.toString)), Seq(VectorSchema.ID), "left_anti")
        val rideAlong = live.join(
          preImage.select(col(preImage.columns.head).cast("string")
            .as(VectorSchema.ID)).distinct(),
          Seq(VectorSchema.ID), "left_anti")
        mutated.unionByName(rideAlong)
      }
    appendAndRetire(spark, root, hfs, replacement, victims, victimIds)
  }

  /** The group rewrite's tail: dim gate, LSH buckets and extract
    * recompute, append, tombstone fold, victim deletion, selective
    * snapshot expiry, graph/code tier rebuild. */
  private def appendAndRetire(spark: SparkSession, root: String,
      hfs: org.apache.hadoop.fs.FileSystem,
      replacement: org.apache.spark.sql.DataFrame,
      victims: Array[String],
      victimIds: org.apache.spark.sql.DataFrame): Unit = {
    val table = new VectorTable(spark, root, 1)
    // the dim gate the insert path applies (a group write bypasses
    // GvdbWrite.insert, but mixed dimensions must still be impossible)
    val dimHead = spark.read.schema(VectorSchema.schema).parquet(root)
      .select(size(col(VectorSchema.EMBEDDING)).as("d")).head(1).headOption.map(_.getInt(0))
    val checked = dimHead match {
      case Some(d) => replacement.withColumn(VectorSchema.EMBEDDING,
        when(col(VectorSchema.EMBEDDING).isNull ||
            size(col(VectorSchema.EMBEDDING)) === d, col(VectorSchema.EMBEDDING))
          .otherwise(raise_error(concat(
            lit(s"embedding dim mismatch: expected $d, got "),
            size(col(VectorSchema.EMBEDDING)).cast("string")))))
      case None => replacement
    }
    // LSH tier: every written row carries fresh buckets, ride-alongs
    // included (their files are read with the contract schema), so the
    // bucket prefilter stays complete without a rebuild
    val bucketed = table.withAnnBuckets(checked,
      dimHead.orElse(replacement.select(size(col(VectorSchema.EMBEDDING)))
        .head(1).headOption.map(_.getInt(0))).getOrElse(1))
    // recompute extract columns (derived from metadata) — every append
    // site must, or a mapped JSON filter would mis-evaluate the rows
    val toAppend = graft.sources.GvdbExtracts.withColumns(bucketed,
      graft.sources.GvdbExtracts.spec(hfs, root))
    graft.core.PlanDump.dump(toAppend, "groupcow_append")
    toAppend.write.mode("append").parquet(root)
    if (victims.nonEmpty) {
      val tombPath = new org.apache.hadoop.fs.Path(root + ".tombstones")
      if (hfs.exists(tombPath)) {
        // staged BESIDE the table via the table's own FileSystem (the
        // snapshot/index sidecar convention) — a driver-local tempdir
        // would break on any non-local Hadoop FS, where executors and
        // the table root don't share the driver's disk. Folded by
        // write-then-RENAME (the vacuum() pattern): the old
        // write-scratch → read-scratch → overwrite sequence paid a
        // second full write + read of the tombstone table per rewrite.
        val scratch = new org.apache.hadoop.fs.Path(root + ".tombstones__rewrite")
        spark.read.schema(tombSchema).parquet(tombPath.toString)
          .join(victimIds, Seq(VectorSchema.ID), "left_anti")
          .write.mode("overwrite").parquet(scratch.toString)
        hfs.delete(tombPath, true)
        graft.core.HadoopFs.rename(hfs, scratch, tombPath)
      }
      victims.foreach(f => hfs.delete(new org.apache.hadoop.fs.Path(f), false))
      // data files deleted: ONLY the snapshot manifests referencing a
      // victim expire — a snapshot whose files all survive the group
      // rewrite keeps serving time travel (Delta/Iceberg-style
      // selective expiry, not the vacuum/reindex retention-zero rule,
      // which is for whole-table rewrites where every manifest is dead)
      table.expireSnapshotsReferencing(
        victims.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet)
    }
    // graph/code tiers hold the replaced rows' old vectors: rebuild the
    // active one over the live rows (the vacuum contract)
    table.rebuildIndex()
    // (the replacement files stay unbloomed-conservative until the
    // next victim lookup reads — and then blooms — them)
  }
}

/** The executed merge. Row classification is one full-outer join of
  * target and source on the merge condition, with presence flags and a
  * first-matching-action CASE — exactly the `MergeRows` semantics,
  * expressed as plain DataFrame operators:
  *
  *  - DELETES-ONLY merges (every action a DELETE) stay merge-on-read:
  *    the matched target ids are tombstoned ([[VectorTable.deleteIds]],
  *    O(matched), no data rewrite) — the cheap CDC-retraction shape;
  *  - merges carrying UPDATE/INSERT actions rewrite through
  *    [[GvdbRowLevel.groupCopyOnWriteMutated]]: only the part files
  *    holding touched rows are replaced, so a CDC batch touching 0.1% of
  *    the files rewrites 0.1% of the table; an insert-only merge is a
  *    pure append. An indexed table takes the same path (the LSH
  *    buckets are computed on the written rows, the graph/code tier
  *    rebuilds over the live rows).
  *
  * The whole command is one writer turn: the target snapshot is read
  * under the lock the rewrite commits under.
  */
case class GvdbMergeCommand(root: String, targetPlan: LogicalPlan,
    sourcePlan: LogicalPlan, spec: GvdbMergeSpec)
    extends LeafRunnableCommand
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  private def matchedActions = spec.matchedActions
  private def notMatchedActions = spec.notMatchedActions
  private def notMatchedBySourceActions = spec.notMatchedBySourceActions

  private val T = "__gvdb_t_present"
  private val S = "__gvdb_s_present"
  private val ACT = "__gvdb_action"
  private val SK = "__gvdb_src_key"
  /** The target row's ORIGINAL id (stable even when the merge rewrites
    * `id` itself), null for inserted rows. */
  private val Origin = "__gvdb_origin"
  private val Copy = 0
  private val Discard = -1

  import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo}

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case o => o
  }

  /** Key-pruned join eligibility (guide §1.2/§3: evaluate the id join
    * once against a key-pruned target, not against the whole table).
    * Eligible when (a) there are no NOT MATCHED BY SOURCE actions
    * (those classify every target row), (b) the resolved merge
    * condition carries a conjunct `t.<id> = <expr over source>`,
    * and (c) every INSERT action assigns the id to that same source
    * expression — so an inserted id can never collide with a LIVE row
    * outside the key-pruned candidate set (a target row holding the
    * key would have been MATCHED), keeping the insert-dedup anti-join
    * complete over the restricted join. Returns the resolved source
    * key expression. `fullJoined` is never executed — only analyzed. */
  private def fastPathKey(fullJoined: org.apache.spark.sql.DataFrame,
      idField: Attribute): Option[Expression] = {
    if (notMatchedBySourceActions.nonEmpty) return None
    try {
      val joinNode = fullJoined.queryExecution.analyzed.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.FullOuter => j
      }
      joinNode.flatMap { j =>
        val key = j.condition.toSeq.flatMap(splitConjunctivePredicates).collectFirst {
          case EqualTo(a: AttributeReference, rhs)
              if a.exprId == idField.exprId &&
                rhs.references.subsetOf(j.right.outputSet) && rhs.deterministic => rhs
          case EqualTo(lhs, a: AttributeReference)
              if a.exprId == idField.exprId &&
                lhs.references.subsetOf(j.right.outputSet) && lhs.deterministic => lhs
        }
        key.filter { k =>
          notMatchedActions.forall {
            case InsertAction(_, as) =>
              val assigned = fullJoined
                .select(GvdbRowLevel.assignCol(as, idField))
                .queryExecution.analyzed.collectFirst {
                  case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
                    p.projectList.head match {
                      case al: org.apache.spark.sql.catalyst.expressions.Alias => al.child
                      case e => e
                    }
                }
              assigned.exists(e => stripCast(e).semanticEquals(stripCast(k)))
            case _ => false
          }
        }
      }
    } catch { case _: Throwable => None } // unresolvable shape: full join
  }

  override def run(spark: SparkSession): Seq[Row] =
    GvdbRowLevel.withWriterLock(spark, root) {
      val targetFields = targetPlan.output
      val idField = targetFields.find(_.name == VectorSchema.ID).get
      val tDf = GraftBridge.ofRows(spark, targetPlan)
      val sDf = GraftBridge.ofRows(spark, sourcePlan)
      val fullJoined = tDf.withColumn(T, lit(1))
        .join(sDf.withColumn(S, lit(1)), GraftBridge.column(spec.cond), "full_outer")
      val hasUpdateOrInsert = (matchedActions ++ notMatchedActions ++ notMatchedBySourceActions)
        .exists { case _: DeleteAction => false; case _ => true }
      // The merge's own shape picks the join. With an id key the target
      // side is SEMI-JOINED down to rows whose id appears among the
      // source keys (at 100 TB: one broadcast-pruned scan instead of a
      // full-table full-outer join) and the classified join is pinned,
      // so it is evaluated ONCE. A merge that needs every target row
      // (NOT MATCHED BY SOURCE), a non-id join condition, or an insert
      // reassigning ids away from the join key classifies over the full
      // join, unpinned. Both feed the same rewrite.
      val srcKey = fastPathKey(fullJoined, idField)
      val joined = srcKey match {
        case Some(key) =>
          // source on the LEFT (full outer is symmetric; sides are told
          // apart by the T/S presence columns, never position): the
          // source plan appears twice — once as the join side, once
          // inside the semi-join key set — and the analyzer's
          // DeduplicateRelations re-aliases the SECOND occurrence. The
          // key subtree only surfaces the SK alias, so it is the one
          // occurrence whose exprIds may change; the join-side source
          // must keep its original exprIds, which the star-expanded
          // action assignments reference directly.
          val keys = sDf.select(GraftBridge.column(key).as(SK)).distinct()
          val tSemi = tDf.join(keys, GraftBridge.column(idField) === col(SK), "left_semi")
          sDf.withColumn(S, lit(1))
            .join(tSemi.withColumn(T, lit(1)), GraftBridge.column(spec.cond), "full_outer")
        case None => fullJoined
      }
      runClassified(spark, joined, srcKey.isDefined, targetFields, idField, hasUpdateOrInsert)
    }

  private def runClassified(spark: SparkSession,
      joined: org.apache.spark.sql.DataFrame, pinned: Boolean,
      targetFields: Seq[Attribute], idField: Attribute,
      hasUpdateOrInsert: Boolean): Seq[Row] = {

    // first matching action per row, encoded as a code column:
    // 100+i/200+i/300+i for matched/not-matched/not-matched-by-source
    // action i, 0 = copy the target row, -1 = discard
    def firstAction(actions: Seq[MergeAction], offset: Int, default: Int): Column =
      actions.zipWithIndex.foldRight(lit(default): Column) { case ((a, i), acc) =>
        when(a.condition.map(GraftBridge.column).getOrElse(lit(true)), lit(offset + i))
          .otherwise(acc)
      }
    val act =
      when(col(T).isNotNull && col(S).isNotNull, firstAction(matchedActions, 100, Copy))
        .when(col(T).isNull, firstAction(notMatchedActions, 200, Discard))
        .otherwise(firstAction(notMatchedBySourceActions, 300, Copy))
    val dropCodes: Seq[Int] = Discard +:
      (matchedActions.zipWithIndex.collect { case (_: DeleteAction, i) => 100 + i } ++
        notMatchedBySourceActions.zipWithIndex.collect { case (_: DeleteAction, i) => 300 + i })

    // key-pruned join: ONE evaluation feeds the gate, the touched-id
    // pin, and the replacement. Pinned with an EAGER localCheckpoint,
    // not persist: the classified set is batch-sized (candidate rows +
    // source), and a checkpoint truncates the lineage to a LogicalRDD
    // leaf — every downstream consumer (gate, touched, replacement)
    // then plans against a tiny plan, where a persist() would make each
    // of them re-canonicalize the whole join subtree per CacheManager
    // lookup (measured: the planning gap between jobs, not the jobs,
    // dominated these entries). The full join stays unpinned: it spans the whole
    // target, and a checkpoint would materialize it whole.
    val classified0 = joined.withColumn(ACT, act)
    graft.core.PlanDump.dump(classified0, "merge_classified")
    val classified = if (pinned) classified0.localCheckpoint(true) else classified0

    // Cardinality gate (the MergeRowsExec / Delta contract): a target
    // row matched by MULTIPLE source rows would be updated/deleted more
    // than once — or, under our rewrite, emitted more than once — so a
    // merge carrying any WHEN MATCHED clause fails fast instead of
    // silently duplicating ids. O(matched) shuffle on the id key only;
    // limit(1) short-circuits the probe.
    if (matchedActions.nonEmpty) {
      val multi = classified.where(col(T).isNotNull && col(S).isNotNull)
        .groupBy(GraftBridge.column(idField)).count()
        .where(col("count") > 1).limit(1).count()
      if (multi > 0)
        throw new IllegalStateException(
          "MERGE_CARDINALITY_VIOLATION: the ON search condition matched a single " +
            "row of the target table with multiple rows of the source; a matched " +
            "row may be updated or deleted at most once")
    }

    if (!hasUpdateOrInsert) {
      // pure retraction: tombstone the matched ids, merge-on-read
      new VectorTable(spark, root, 1).deleteIds(
        classified.where(col(ACT).isin(dropCodes.filter(_ > 0).map(Int.box): _*))
          .select(GraftBridge.column(idField).as(VectorSchema.ID)))
      return Seq.empty
    }

    // assignment for `field` under action `code`; an unassigned column
    // keeps its target value (partial UPDATE) — which is NULL on a
    // source-only row, the right INSERT default
    def valueFor(field: Attribute): Column = {
      val branches: Seq[(Int, Column)] =
        matchedActions.zipWithIndex.collect {
          case (UpdateAction(_, as, _), i) => (100 + i, GvdbRowLevel.assignCol(as, field)) } ++
        notMatchedActions.zipWithIndex.collect {
          case (InsertAction(_, as), i) => (200 + i, GvdbRowLevel.assignCol(as, field)) } ++
        notMatchedBySourceActions.zipWithIndex.collect {
          case (UpdateAction(_, as, _), i) => (300 + i, GvdbRowLevel.assignCol(as, field)) }
      branches.foldLeft(GraftBridge.column(field)) { case (acc, (code, v)) =>
        when(col(ACT) === code, v).otherwise(acc)
      }.cast(GvdbRowLevel.relaxedType(field)).as(field.name)
    }

    val updateCodes: Seq[Int] =
      matchedActions.zipWithIndex.collect { case (_: UpdateAction, i) => 100 + i } ++
        notMatchedBySourceActions.zipWithIndex.collect { case (_: UpdateAction, i) => 300 + i }
    val insertCodes: Seq[Int] =
      notMatchedActions.zipWithIndex.collect { case (_: InsertAction, i) => 200 + i }
    val mutatedCodes: Seq[Int] = dropCodes.filter(_ > 0) ++ updateCodes
    // touched = PRE-image ids of mutated target rows (their files must
    // rewrite) ∪ POST-image ids of every row the command writes
    // (updates and inserts): a RAW dead row sharing a written id —
    // a tombstoned id being re-inserted, or an UPDATE SET id = <dead
    // id> — must be physically purged with its file, or the tombstone
    // that hides it would hide the NEW row too (the MoR anti-join and
    // the footer COUNT(*) arithmetic are id-keyed).
    val preImage = classified
      .where(col(ACT).isin(mutatedCodes.map(Int.box): _*))
      .select(GraftBridge.column(idField).cast("string").as(VectorSchema.ID))
    val touched = preImage
      .unionByName(classified
        .where(col(ACT).isin((updateCodes ++ insertCodes).map(Int.box): _*))
        .select(valueFor(idField).cast("string").as(VectorSchema.ID)))
    val raw = classified
      .where(!col(ACT).isin(dropCodes.map(Int.box): _*))
      .select((targetFields.map(valueFor) :+
        GraftBridge.column(idField).cast("string").as(Origin) :+
        col(ACT)).toIndexedSeq: _*)
    // Inserted rows (Origin null) re-enter the table's first-wins
    // dedup contract here — the group-CoW append bypasses
    // GvdbWrite.insert, so without this a NOT MATCHED INSERT whose id
    // already exists (reachable whenever ON is not id equality) would
    // silently break id uniqueness, and with it the footer COUNT(*)
    // arithmetic and the MoR tombstone anti-join. In-batch first-wins
    // (dropDuplicates) then anti-join against the ids that SURVIVE the
    // merge (not the raw table: an id deleted by this same merge is
    // legitimately re-insertable).
    val survivors = raw.where(col(Origin).isNotNull)
    val inserted =
      if (notMatchedActions.isEmpty) None
      else Some(raw.where(col(Origin).isNull)
        .dropDuplicates(VectorSchema.ID)
        .join(survivors.select(col(VectorSchema.ID)), Seq(VectorSchema.ID), "left_anti"))
    // only the MUTATED output rows enter the rewrite; untouched
    // victim-file rows ride along inside groupCopyOnWriteMutated
    val updatesOut = survivors.where(col(ACT).isin(updateCodes.map(Int.box): _*))
    val mutatedOut = inserted.fold(updatesOut)(updatesOut.unionByName(_))
      .drop(ACT, Origin)
    GvdbRowLevel.groupCopyOnWriteMutated(spark, root, mutatedOut, touched, preImage)
    Seq.empty
  }
}

/** Plain holder for the UPDATE spec (see [[GvdbMergeSpec]]). */
case class GvdbUpdateSpec(assignments: Seq[Assignment], condition: Option[Expression])

/** SQL `UPDATE cat.ns.t SET ... WHERE ...` — file-group copy-on-write:
  * the MATCHED rows are evaluated ONCE (pinned), and their assignments
  * plus the untouched rows of victim files re-enter via
  * [[GvdbRowLevel.groupCopyOnWriteMutated]]. One writer turn spans the
  * read of the matched rows and the rewrite. */
case class GvdbUpdateCommand(root: String, targetPlan: LogicalPlan,
    spec: GvdbUpdateSpec) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] =
    GvdbRowLevel.withWriterLock(spark, root) {
      val t = GraftBridge.ofRows(spark, targetPlan)
      val idField = targetPlan.output.find(_.name == VectorSchema.ID).get
      val condCol = spec.condition.map(GraftBridge.column).getOrElse(lit(true))
      // matched rows only, evaluated once and pinned by an eager
      // localCheckpoint (lineage-truncating — see the GvdbMergeCommand
      // classified note)
      val matched = t.where(condCol).localCheckpoint(true)
      val fields = targetPlan.output.map { f =>
        GvdbRowLevel.assignCol(spec.assignments, f)
          .cast(GvdbRowLevel.relaxedType(f)).as(f.name)
      }
      val mutated = matched.select(fields.toIndexedSeq: _*)
      graft.core.PlanDump.dump(mutated, "update_result")
      val preImage = matched
        .select(GraftBridge.column(idField).cast("string").as(VectorSchema.ID))
      // pre-image ∪ post-image ids (see GvdbMergeCommand: an assigned
      // id colliding with a RAW dead row must purge that row's file)
      val touched = preImage.unionByName(matched
        .select(GvdbRowLevel.assignCol(spec.assignments, idField)
          .cast("string").as(VectorSchema.ID)))
      GvdbRowLevel.groupCopyOnWriteMutated(spark, root, mutated, touched, preImage)
      Seq.empty
    }
}

/** Plain holder for the DELETE spec (see [[GvdbMergeSpec]]). */
case class GvdbDeleteSpec(condition: Expression)

/** SQL `DELETE FROM cat.ns.t WHERE <untranslatable predicate>` — the
  * fallback behind `SupportsDelete`: predicates the source-filter
  * algebra can't express (JSON-path probes, function calls) evaluate
  * over the MoR view and the matching ids are TOMBSTONED
  * ([[VectorTable.appendTombstones]] — still merge-on-read,
  * O(matched), never a rewrite; the facade's `delete(Column)` shape,
  * now reachable from SQL). The matched ids come straight off the
  * target's live view, so the `deleteIds` live-view semi-join guard
  * (needed when a CALLER supplies arbitrary ids) would only re-scan
  * the table to re-prove what the filter already proved — one scan,
  * not two. Translatable predicates never get here — the metadata
  * delete path handles them without reading data rows. */
case class GvdbDeleteCommand(root: String, targetPlan: LogicalPlan,
    spec: GvdbDeleteSpec) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val idField = targetPlan.output.find(_.name == VectorSchema.ID).get
    val ids = GraftBridge.ofRows(spark, targetPlan)
      .where(GraftBridge.column(spec.condition))
      .select(GraftBridge.column(idField).as(VectorSchema.ID))
    new VectorTable(spark, root, 1).appendTombstones(ids)
    Seq.empty
  }
}
