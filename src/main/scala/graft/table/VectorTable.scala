package graft.table

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{HadoopFs, VectorSchema, WriterLock}

/** A named, Parquet-backed vector table — the Spark-native counterpart of
  * the reference's one-`.duckdb`-file-per-name model (`DuckVDB`,
  * duckvdb.py:17-45; `/db/{name}.duckdb`, vdb.py:15-16).
  *
  * Storage is a Parquet directory (columnar at rest, vectorized reads,
  * partition-parallel writes — SURVEY.md §1.4). Uniqueness of `id` is
  * enforced by the insert path's anti-join (the reference's
  * `ON CONFLICT (id) DO NOTHING`, duckvdb.py:56-61), not a constraint.
  * Single-writer semantics, matching the reference's per-container file
  * model (SURVEY.md §7.4).
  */
class VectorTable(spark: SparkSession, val root: String, val dim: Int) {

  private def hadoopPath = new Path(root)
  private def fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- persisted ANN index (reference HNSW-on-bulk-load analogue) ----

  /** LSH index parameters, persisted beside the data so the insert path
    * and the query-time rewrite agree on the hash family. */
  case class AnnIndexMeta(tables: Int, bits: Int, seed: Long)

  private def metaPath = new Path(root + ".ann_index.json")

  /** Index metadata if an ANN index has been built for this table. */
  def annIndexMeta: Option[AnnIndexMeta] =
    if (!fs.exists(metaPath)) None
    else {
      val in = fs.open(metaPath)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val m = """"tables"\s*:\s*(\d+).*"bits"\s*:\s*(\d+).*"seed"\s*:\s*(\d+)""".r
      m.findFirstMatchIn(txt).map(g => AnnIndexMeta(g.group(1).toInt, g.group(2).toInt, g.group(3).toLong))
    }

  /** The dimension the index builders hash/quantize against: resolved
    * from the DATA (one bounded head(1) action per build) rather than
    * trusted from the constructor — several SQL surfaces open tables
    * with a dummy dim (catalog loads, the row-level commands' rebuild
    * tails), and a quantizer built against the wrong dimension is
    * silently garbage. Falls back to the constructor dim on an empty
    * table. */
  private def actualDim: Int =
    df.select(size(col(VectorSchema.EMBEDDING)).as("d")).head(1).headOption
      .map(_.getInt(0)).getOrElse(dim)

  /** Builds (or rebuilds) the persisted LSH index: one pass over the
    * table computing the bucket-id column, rewritten in place. This is
    * the reference's CREATE-INDEX-on-bulk-load (duckvdb.py:37-45) as a
    * batch job: at 100 TB it is a map-only rewrite (no shuffle), and
    * every later ANN query filters on the STORED buckets instead of
    * re-hashing every row per query. Inserts keep the index fresh
    * (better than the reference, whose insert path never indexes).
    * Also pins the session's `spark.graft.ann.*` confs to the build
    * parameters so `AnnRewriteRule` probes with the same family. */
  def buildAnnIndex(tables: Int = 8, bits: Int = 12, seed: Long = 42L): this.type =
      WriterLock.withLock(fs, root) {
    val indexed = df.withColumn(VectorSchema.ANN_BUCKETS,
      graft.functions.LshBucketsExpr(col(VectorSchema.EMBEDDING), actualDim, tables, bits, seed))
    val tmp = new Path(root + "__indexing")
    withExtracts(indexed).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(hadoopPath, true)
    HadoopFs.rename(fs, tmp, hadoopPath)
    fs.delete(snapsRoot, true) // rewrite: snapshots expire (see snapshot())
    // the rewrite materialized the MoR view (df applies tombstones), so
    // the deletes are now physical — the tombstone table must fold with
    // them, exactly as in vacuum(), or the raw-minus-tombstones row
    // arithmetic (scan statistics, COUNT(*) pushdown) double-subtracts
    fs.delete(tombPath, true)
    tombCountCache = None
    val out = fs.create(metaPath, true)
    try out.write(s"""{"tables": $tables, "bits": $bits, "seed": $seed}""".getBytes("UTF-8"))
    finally out.close()
    spark.conf.set("spark.graft.ann.tables", tables.toString)
    spark.conf.set("spark.graft.ann.bits", bits.toString)
    spark.conf.set("spark.graft.ann.seed", seed.toString)
    this
  }

  /** `rows` with the LSH bucket column for the persisted ANN index
    * (hashed at dimension `d`), replacing any stale one; unchanged
    * when the table has no ANN index. Every append site calls this, so
    * the bucket prefilter never misses a written row. */
  private[graft] def withAnnBuckets(rows: DataFrame, d: => Int): DataFrame =
    annIndexMeta.fold(rows)(m => rows.withColumn(VectorSchema.ANN_BUCKETS,
      graft.functions.LshBucketsExpr(col(VectorSchema.EMBEDDING), d, m.tables, m.bits, m.seed)))

  /** Pins this session's `spark.graft.ann.*` confs from the PERSISTED
    * index metadata. `buildAnnIndex` pins the building session; any
    * other session opening the table (`SparkSession.newSession`, a new
    * driver) must call this before enabling the rewrite, or the rule
    * would probe with default parameters against buckets hashed with
    * the build's — zero overlap, zero recall. */
  def pinAnnConfs(): this.type = {
    annIndexMeta.foreach { m =>
      spark.conf.set("spark.graft.ann.tables", m.tables.toString)
      spark.conf.set("spark.graft.ann.bits", m.bits.toString)
      spark.conf.set("spark.graft.ann.seed", m.seed.toString)
    }
    this
  }

  // ---- persisted HNSW graph index (reference create-index → query
  // lifecycle, duckvdb.py:37-45: build once on bulk load, probe at
  // query time) ----

  /** HNSW build parameters, persisted beside the graph so probes use
    * the same `m` the levels were derived from; `segments` counts the
    * segment ids handed out so far, so an insert's delta segments get
    * fresh names (the Lucene segment lifecycle — appends never rewrite
    * built graphs); `rows` is the indexed-row STAT maintained at
    * build/append/vacuum, so selectivity-adaptive probes size
    * themselves from metadata instead of re-counting the graph per
    * query ([[graft.ops.Hnsw.probeGraphFiltered]] `totalHint`). */
  case class HnswIndexMeta(m: Int, efConstruction: Int, segments: Int, rows: Long)

  private def hnswMetaPath = new Path(root + ".hnsw_index.json")
  private def hnswGraphPath = new Path(root + ".hnsw")

  def hnswIndexMeta: Option[HnswIndexMeta] =
    if (!fs.exists(hnswMetaPath)) None
    else {
      val in = fs.open(hnswMetaPath)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      // "rows" is OPTIONAL on read: sidecars written before the stat
      // existed must keep serving the index (a parse miss here silently
      // degrades every query to brute force and strands the .hnsw
      // directory). rows = -1 marks the stat unknown — consumers fall
      // back to counting (probeGraphFiltered's totalHint contract).
      val p = (""""m"\s*:\s*(\d+).*"efConstruction"\s*:\s*(\d+)""" +
        """.*"segments"\s*:\s*(\d+)(?:.*"rows"\s*:\s*(\d+))?""").r
      p.findFirstMatchIn(txt).map(g =>
        HnswIndexMeta(g.group(1).toInt, g.group(2).toInt, g.group(3).toInt,
          Option(g.group(4)).map(_.toLong).getOrElse(-1L)))
    }

  private def writeHnswMeta(meta: HnswIndexMeta): Unit = {
    val out = fs.create(hnswMetaPath, true)
    try out.write(
      (s"""{"m": ${meta.m}, "efConstruction": ${meta.efConstruction}, """ +
        s""""segments": ${meta.segments}, "rows": ${meta.rows}}""")
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** The persisted graph rows (seg, id, adj, emb), if an HNSW index has
    * been built. Node ids are xxhash64 surrogates of the string id
    * column (the graph kernel is Long-keyed); the query path joins the
    * k surfaced surrogates back to the table, where a surrogate
    * collision only costs a spurious candidate row that the final
    * distance-ordered limit drops. */
  def hnswGraph: Option[DataFrame] =
    // existence-checked, not just meta-checked: a sidecar whose .hnsw
    // directory was lost must degrade the route to brute force, not
    // fail every query (indexed or not) at plan time
    if (hnswIndexMeta.isEmpty || !fs.exists(hnswGraphPath)) None
    else Some(spark.read.parquet(hnswGraphPath.toString))

  /** Long surrogate keys for the vector-index kernels (all three tiers
    * are Long-keyed): xxhash64 of the string id. The query path joins
    * surfaced surrogates back to the table, where a collision only
    * costs a spurious candidate row that the final distance-ordered
    * limit drops. */
  private def surrogates(rows: DataFrame): DataFrame =
    rows.select(xxhash64(col(VectorSchema.ID)).as("vec_id"),
      col(VectorSchema.EMBEDDING).as("embedding"))

  /** Builds (or rebuilds) the persisted HNSW graph index over the LIVE
    * rows: segmented Malkov–Yashunin graphs ([[graft.ops.Hnsw]]),
    * auto-sized at ~8k vectors/segment, written beside the data. The
    * reference's `create_index` (duckvdb.py:37-41), but maintained
    * across inserts: each insert appends the fresh rows as NEW segments
    * (never rewriting built graphs), and [[compactHnswIndex]] is the
    * merge policy that folds accumulated small segments. */
  def buildHnswIndex(m: Int = 16, efConstruction: Int = 128): this.type =
      WriterLock.withLock(fs, root) {
    dropIvfPqIndex(); dropBqIndex() // single index slot (duckvdb.py:37-45)
    val vecs = surrogates(df)
    val nRows = vecs.count()
    val nSegs = graft.ops.Hnsw.autoSegments(nRows)
    graft.ops.Hnsw.buildGraph(vecs, numSegments = nSegs, m = m, efConstruction = efConstruction)
      .write.mode("overwrite").parquet(hnswGraphPath.toString)
    writeHnswMeta(HnswIndexMeta(m, efConstruction, nSegs, nRows))
    this
  }

  /** Lucene-style merge of accumulated small index segments
    * ([[graft.ops.Hnsw.compactSegments]]): segments at or below
    * `maxRows` rebuild into fresh auto-sized graphs, larger survivors
    * pass through untouched. Run when inserts have accumulated enough
    * delta segments to bloat the probe fan-out. */
  def compactHnswIndex(maxRows: Long = graft.ops.Hnsw.RowsPerSegment / 2): this.type = {
    hnswIndexMeta.foreach { meta =>
      val graph = spark.read.parquet(hnswGraphPath.toString)
      val smallRows = graph.groupBy(col("seg")).agg(count(lit(1)).as("n"))
        .where(col("n") <= maxRows).agg(sum(col("n"))).head.get(0)
      val nRebuild = Option(smallRows).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (nRebuild > 0L) {
        val merged = graft.ops.Hnsw.compactSegments(graph, maxRows,
          numSegments = graft.ops.Hnsw.autoSegments(nRebuild),
          segOffset = meta.segments, m = meta.m, efConstruction = meta.efConstruction)
        val tmp = new Path(root + ".hnsw__compacting")
        merged.write.mode("overwrite").parquet(tmp.toString)
        fs.delete(hnswGraphPath, true)
        HadoopFs.rename(fs, tmp, hnswGraphPath)
        writeHnswMeta(meta.copy(
          segments = meta.segments + graft.ops.Hnsw.autoSegments(nRebuild)))
      }
    }
    this
  }

  private def dropHnswIndex(): Unit = {
    fs.delete(hnswGraphPath, true)
    fs.delete(hnswMetaPath, false)
  }

  /** Lucene-style merge-policy TRIGGER on the insert path: steady
    * inserts land one small delta segment each, growing probe fan-out
    * without bound — when at least `spark.graft.hnsw.mergeAt`
    * (default 8) segments at or below half the auto-size have
    * accumulated, exactly those fold via [[compactHnswIndex]] (larger
    * segments pass through untouched, so the rebuild cost is
    * proportional to the accumulated SMALL deltas, amortized O(1) per
    * inserted row — the tiered-merge argument). Cost when nothing
    * triggers: one per-segment count over the graph table. */
  private def autoCompactHnsw(): Unit = hnswIndexMeta.foreach { _ =>
    val mergeAt = spark.conf.get("spark.graft.hnsw.mergeAt", "8").toInt
    val maxRows = graft.ops.Hnsw.RowsPerSegment / 2
    val nSmall = spark.read.parquet(hnswGraphPath.toString)
      .groupBy(col("seg")).agg(count(lit(1)).as("n"))
      .where(col("n") <= maxRows).count()
    if (nSmall >= mergeAt) compactHnswIndex(maxRows)
  }

  // ---- persisted IVF-PQ index tier (Jégou et al. IVFADC,
  // [[graft.ops.IvfPq]]) — the same single-index-slot lifecycle as the
  // HNSW tier (build at load → probe → delete-widen → vacuum-rebuild),
  // generalizing the reference's one index per table (duckvdb.py:37-45)
  // to a second storage shape: a broadcast-sized driver artifact
  // (coarse centroids + PQ codebooks) plus a cell-partitioned code
  // table 32× smaller than the float column. ----

  /** Build parameters persisted beside the index; `nProbe` and
    * `shortlistFactor` are the probe-time defaults the builder pinned
    * (recall was measured against them — a different query-time choice
    * must re-measure its gate). */
  case class IvfPqIndexMeta(nCells: Int, m: Int, pqK: Int, nProbe: Int, shortlistFactor: Int)

  private def ivfpqRoot = root + ".ivfpq"
  private def ivfpqMetaPath = new Path(root + ".ivfpq_index.json")

  def ivfPqIndexMeta: Option[IvfPqIndexMeta] =
    if (!fs.exists(ivfpqMetaPath)) None
    else {
      val in = fs.open(ivfpqMetaPath)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val p = (""""nCells"\s*:\s*(\d+).*"m"\s*:\s*(\d+).*"pqK"\s*:\s*(\d+)""" +
        """.*"nProbe"\s*:\s*(\d+).*"shortlistFactor"\s*:\s*(\d+)""").r
      p.findFirstMatchIn(txt).map(g => IvfPqIndexMeta(g.group(1).toInt, g.group(2).toInt,
        g.group(3).toInt, g.group(4).toInt, g.group(5).toInt))
    }

  /** Builds (or rebuilds) the persisted IVF-PQ index over the LIVE
    * rows. Replaces any other index tier — one index slot per table. */
  def buildIvfPqIndex(nCells: Int = 16, m: Int = 8, pqK: Int = 256,
      nProbe: Int = 8, shortlistFactor: Int = 16): this.type =
      WriterLock.withLock(fs, root) {
    dropHnswIndex(); dropBqIndex()
    fs.delete(new Path(ivfpqRoot), true)
    val (ix, codes) = graft.ops.IvfPq.build(surrogates(df), actualDim, nCells, m, pqK)
    graft.ops.IvfPq.persistIndex(ix, codes, ivfpqRoot)
    val out = fs.create(ivfpqMetaPath, true)
    try out.write((s"""{"nCells": $nCells, "m": $m, "pqK": $pqK, """ +
      s""""nProbe": $nProbe, "shortlistFactor": $shortlistFactor}""").getBytes("UTF-8"))
    finally out.close()
    this
  }

  /** (driver index artifact, lazy code table) if an IVF-PQ index has
    * been built; codes are keyed by the xxhash64 surrogate. */
  def ivfPqIndex: Option[(graft.ops.IvfPq.Index, DataFrame)] =
    if (ivfPqIndexMeta.isEmpty) None
    else Some(graft.ops.IvfPq.loadIndex(spark, ivfpqRoot))

  private def dropIvfPqIndex(): Unit = {
    fs.delete(new Path(ivfpqRoot), true)
    fs.delete(ivfpqMetaPath, false)
  }

  // ---- persisted BQ (binary-quantized) index tier
  // ([[graft.ops.Similarity.bqTopKFromCodes]]): packed sign-bit codes,
  // 32× smaller than float32 — the cheapest memory tier. Same
  // lifecycle as the other two slots. ----

  /** `mean` is the per-dimension centroid the codes were centered on
    * (empty = uncentered, the pre-centering sidecar format — still
    * served). Centering matters at PRODUCTION dimensionality: raw
    * sign bits of text embeddings are dominated by the shared
    * high-frequency component (every document's signs agree on the μ
    * direction, so Hamming distances concentrate into noise — measured
    * recall 0.11 at 384 dims), while sign(x − μ) restores the
    * discriminative bits (recall back over the 0.85 floor). μ is
    * FROZEN at build time like the PQ codebooks: delta inserts encode
    * against it, and rebuild points (vacuum, merge) refresh it. */
  case class BqIndexMeta(coarseFactor: Int, fineFactor: Int, mean: Seq[Float] = Nil)

  private def bqCodesPath = new Path(root + ".bq")
  private def bqMetaPath = new Path(root + ".bq_index.json")

  def bqIndexMeta: Option[BqIndexMeta] =
    if (!fs.exists(bqMetaPath)) None
    else {
      val in = fs.open(bqMetaPath)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val p = """"coarseFactor"\s*:\s*(\d+).*"fineFactor"\s*:\s*(\d+)""".r
      p.findFirstMatchIn(txt).map(g =>
        BqIndexMeta(g.group(1).toInt, g.group(2).toInt, parseMean(txt)))
    }

  /** The `"mean"` float array of the BQ meta JSON — linear scan, no
    * regex (384–3072 elements at production dims). */
  private def parseMean(txt: String): Seq[Float] = {
    val k = txt.indexOf("\"mean\"")
    if (k < 0) return Nil
    val start = txt.indexOf('[', k)
    val end = if (start < 0) -1 else txt.indexOf(']', start)
    if (end < 0) Nil
    else txt.substring(start + 1, end).split(",").map(_.trim)
      .filter(_.nonEmpty).map(_.toFloat).toSeq
  }

  private def centerCol(c: org.apache.spark.sql.Column, mean: Seq[Float]) =
    if (mean.isEmpty) c else zip_with(c, typedlit(mean), (a, b) => a - b)

  private def bqEncode(rows: DataFrame, mean: Seq[Float]): DataFrame =
    surrogates(rows).select(col("vec_id").as("neighbor_id"),
      graft.functions.BqEncodeExpr.col(centerCol(col("embedding"), mean)).as("code"))

  /** Builds (or rebuilds) the persisted BQ code table over the LIVE
    * rows: one aggregation for the per-dimension mean μ, then a
    * map-only encode pass writing codes = sign(x − μ) (~3% of the
    * embedding column's bytes — at 100 TB, one linear read each).
    * Replaces any other index tier.
    *
    * Shortlist defaults (`coarseFactor`/`fineFactor` ≤ 0) are
    * DIM-ADAPTIVE: per-bit information drops as dimension grows, so
    * the 64-dim-measured (64, 16) budgets scale by dim/128 — at 384
    * dims the defaults land at (192, 48), measured recall@10 ≈ 0.93 vs
    * 0.76 at the unscaled budget (BENCHNOTES round 11). Explicit
    * values are honored unchanged (rebuild points pass the persisted
    * meta's). */
  def buildBqIndex(coarseFactor: Int = 0, fineFactor: Int = 0): this.type =
      WriterLock.withLock(fs, root) {
    lazy val d = actualDim
    val cf = if (coarseFactor > 0) coarseFactor else 64 * math.max(1, d / 128)
    val ff = if (fineFactor > 0) fineFactor else 16 * math.max(1, d / 128)
    dropHnswIndex(); dropIvfPqIndex()
    val live = df
    val mean: Seq[Float] = live
      .select(posexplode(col(VectorSchema.EMBEDDING)).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(avg(col("v")).as("m"))
      .orderBy(col("pos")).collect().map(_.getDouble(1).toFloat).toSeq
    bqEncode(live, mean).write.mode("overwrite").parquet(bqCodesPath.toString)
    val out = fs.create(bqMetaPath, true)
    try out.write((s"""{"coarseFactor": $cf, "fineFactor": $ff, """ +
      s""""mean": [${mean.mkString(", ")}]}""").getBytes("UTF-8"))
    finally out.close()
    this
  }

  /** The persisted (neighbor_id, code) rows if a BQ index has been
    * built; ids are xxhash64 surrogates. */
  def bqCodes: Option[DataFrame] =
    if (bqIndexMeta.isEmpty) None
    else Some(spark.read.parquet(bqCodesPath.toString))

  private def dropBqIndex(): Unit = {
    fs.delete(bqCodesPath, true)
    fs.delete(bqMetaPath, false)
  }

  /** Idempotent create (reference `CREATE TABLE IF NOT EXISTS`,
    * duckvdb.py:30-32); `overwrite=true` mirrors the drop-and-recreate
    * `new_table` flag (duckvdb.py:26-28). */
  def create(overwrite: Boolean = false): this.type = WriterLock.withLock(fs, root) {
    if (overwrite) drop()
    if (!exists) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], VectorSchema.schema)
        .write.mode("overwrite").parquet(root)
    }
    this
  }

  /** Idempotent drop (duckvdb.py:34-35). */
  def drop(): Unit = WriterLock.withLock(fs, root) {
    if (exists) fs.delete(hadoopPath, true)
    fs.delete(metaPath, false)
    fs.delete(tombPath, true)
    fs.delete(snapsRoot, true)
    // streaming-sink epoch ledgers and staged files die with the
    // table: a recreated root must not inherit committed epoch ids
    // (the GvdbStreamingWrite per-query scoping contract)
    fs.delete(new Path(root + ".sink_commits"), true)
    fs.delete(new Path(root + ".staging"), true)
    graft.sources.GvdbExtracts.drop(fs, root)
    graft.sources.IdBlooms.drop(fs, root)
    dropHnswIndex()
    dropIvfPqIndex()
    dropBqIndex()
    tombCountCache = None
  }

  def exists: Boolean = fs.exists(hadoopPath)

  // ---- merge-on-read row deletes (tombstone side table) ----

  private def tombPath = new Path(root + ".tombstones")

  /** The tombstone id table, read with a PINNED schema: a schema-less
    * parquet read throws on a file-less directory, and the tombstone
    * dir can legitimately be file-less mid-append (the committer
    * creates the output dir before the job's plan — which may itself
    * scan this table — runs). */
  private def tombstonesDf: DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(VectorSchema.ID,
        org.apache.spark.sql.types.StringType)))).parquet(tombPath.toString)

  /** The raw on-disk rows, tombstones NOT applied. Schema pinned so an
    * empty table still reads with the contract schema (extended with
    * the bucket column when an ANN index is present). */
  private def rawDf: DataFrame = {
    val schema = if (annIndexMeta.isDefined) VectorSchema.annSchema else VectorSchema.schema
    spark.read.schema(schema).parquet(root)
  }

  // ---- materialized JSON-path extract columns (file-skipping for
  // JSON-path filters — sources/GvdbExtracts.scala) ----

  /** The table's extract spec (empty when the table never opted in). */
  private[graft] def extractSpec: graft.sources.GvdbExtracts.Spec =
    graft.sources.GvdbExtracts.spec(fs, root)

  /** Opt the table into materialized extract columns. Allowed only
    * while the table holds no rows — files written WITHOUT the columns
    * would read them as NULL, and a mapped filter would silently drop
    * their rows; re-create or overwrite to adopt on existing data. */
  def setExtractPaths(paths: Seq[String], cluster: Boolean = true): this.type =
      WriterLock.withLock(fs, root) {
    if (extractSpec == graft.sources.GvdbExtracts.Spec(paths, cluster))
      return this // idempotent re-assert (e.g. the option on every append)
    require(!exists || numRows == 0L,
      s"gvdb: extractPaths can only be set on an empty table (found $numRows rows); " +
        "rewrite the table (overwrite save) with the option instead")
    graft.sources.GvdbExtracts.write(fs, root,
      graft.sources.GvdbExtracts.Spec(paths, cluster))
    this
  }

  /** Recompute the extract columns onto a frame about to land in the
    * part files — EVERY write/rewrite site calls this, so the stored
    * values can never drift from the metadata they index. */
  private def withExtracts(df: DataFrame): DataFrame =
    graft.sources.GvdbExtracts.withColumns(df, extractSpec)

  /** The MoR view WITH the extract columns (the JSON-filter scan path;
    * [[df]] stays contract-only so the columns never leak), optionally
    * over an explicit footer-pruned file subset. */
  private[graft] def dfExtended(files: Option[Seq[String]]): DataFrame = {
    val base = if (annIndexMeta.isDefined) VectorSchema.annSchema else VectorSchema.schema
    val schema = graft.sources.GvdbExtracts.extendSchema(base, extractSpec)
    val raw = files match {
      case Some(fl) if fl.isEmpty =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case Some(fl) => spark.read.schema(schema).parquet(fl: _*)
      case None => spark.read.schema(schema).parquet(root)
    }
    if (!fs.exists(tombPath)) raw
    else raw.join(
      broadcast(tombstonesDf),
      Seq(VectorSchema.ID), "left_anti")
  }

  /** The table as a DataFrame: raw rows minus tombstoned ids. The
    * anti-join build side is the tombstone id list — small relative to
    * the data by the same argument as every delete-file design, so it
    * broadcasts and reads stay one map-side pass. */
  def df: DataFrame =
    if (!fs.exists(tombPath)) rawDf
    else rawDf.join(
      broadcast(tombstonesDf),
      Seq(VectorSchema.ID), "left_anti")

  /** Merge-on-read delete (the Iceberg/Delta delete-file pattern): ids
    * matching `cond` are appended to a tombstone side table; reads
    * anti-join them out. Cost is O(matched ids) — a delete touching
    * 0.1% of a 100 TB table must not rewrite the other 99.9%.
    *
    * Contract: a tombstoned id stays occupied — `insert` skips it (the
    * id is still present on disk) — until [[vacuum]] makes the delete
    * physical. Resurrecting an id before vacuum would need per-file
    * sequence numbers to avoid un-hiding the old row; single-writer
    * scope (SURVEY.md §7.4) keeps the simpler contract. */
  def delete(cond: org.apache.spark.sql.Column): this.type = WriterLock.withLock(fs, root) {
    df.where(cond).select(VectorSchema.ID)
      .write.mode("append").parquet(tombPath.toString)
    tombCountCache = None
    // OPT-IN auto-vacuum (the tombstone counterpart of the HNSW tier's
    // insert-path merge policy): when `spark.graft.vacuum.debtThreshold`
    // is set > 0 and the delete-debt ratio tombstones/(live+tombstones)
    // crosses it, the delete folds its own debt — one data rewrite +
    // index rebuild, exactly when the capped probe-widening is about
    // to stop paying (VectorDB.WidenCap) rather than at an operator's
    // discretion. Off by default: a vacuum is a full rewrite, and the
    // read path is correct at ANY debt, so the spend is a policy
    // choice. Cost when enabled: one live-count job per delete.
    val threshold = spark.conf.get("spark.graft.vacuum.debtThreshold", "0").toDouble
    if (threshold > 0.0) {
      val t = tombstoneCount
      if (t > 0L && t.toDouble / (numRows + t) >= threshold) vacuum()
    }
    this
  }

  /** Merge-on-read delete BY ID SET (the `MERGE ... WHEN MATCHED THEN
    * DELETE` shape): the live rows semi-joined against `ids` land in
    * the tombstone side table. Same contract and cost class as
    * [[delete]] — O(matched ids), never a data rewrite — and the same
    * disjointness invariant holds (the semi-join draws from the LIVE
    * view, so an already-tombstoned id can never re-enter). The join
    * strategy is left to Catalyst: a typical retraction batch
    * broadcasts, an unusually large one may legitimately shuffle —
    * forcing a broadcast here would OOM the driver on exactly the
    * batches that matter at scale. */
  def deleteIds(ids: DataFrame): this.type = WriterLock.withLock(fs, root) {
    df.join(ids.select(col(ids.columns.head).cast("string")
        .as(VectorSchema.ID)), Seq(VectorSchema.ID), "left_semi")
      .select(VectorSchema.ID)
      .write.mode("append").parquet(tombPath.toString)
    tombCountCache = None
    this
  }

  /** Tombstone ids the caller ALREADY derived from this table's live
    * view (the SQL DELETE command's filtered scan). Skips the
    * [[deleteIds]] live-view semi-join guard — for ids of any other
    * provenance that guard is what keeps a dead or absent id out of
    * the tombstone table, so this is deliberately not public API
    * beyond the row-level commands. Same contract and cost class
    * otherwise: O(matched), never a data rewrite. */
  private[graft] def appendTombstones(liveIds: DataFrame): this.type =
      WriterLock.withLock(fs, root) {
    liveIds.select(col(liveIds.columns.head).cast("string").as(VectorSchema.ID))
      .write.mode("append").parquet(tombPath.toString)
    tombCountCache = None
    this
  }

  /** [[tombstoneCount]] memo — without it every indexed query re-reads
    * and distinct-counts the tombstone parquet just to size its probe
    * widening. Keyed by the tombstone DIRECTORY's filesystem signature
    * (file names + lengths + mtimes), not instance-locally: two
    * instances over the same root see each other's deletes — a stale
    * count here silently under-widens probes (fewer than k live rows).
    * The signature is one FS listing per query, orders of magnitude
    * cheaper than the distinct-count job it replaces. */
  private var tombCountCache: Option[(Long, Long)] = None // (signature, count)

  private def tombSignature: Long =
    if (!fs.exists(tombPath)) 0L
    else fs.listStatus(tombPath).foldLeft(1L) { (h, st) =>
      31L * (31L * (31L * h + st.getPath.getName.hashCode) +
        st.getLen) + st.getModificationTime
    }

  /** Distinct tombstoned ids — the index-probe widening bound: a
    * persisted graph still contains deleted rows until a rebuild, so
    * an index probe must surface k + tombstones candidates to
    * guarantee k LIVE results. Zero-cost when no delete ever ran;
    * cached between deletes, signature-validated across instances. */
  def tombstoneCount: Long = {
    val sig = tombSignature
    tombCountCache match {
      case Some((s, n)) if s == sig => n
      case _ =>
        val n =
          if (sig == 0L) 0L
          else tombstonesDf
            .select(VectorSchema.ID).distinct().count()
        tombCountCache = Some((sig, n))
        n
    }
  }

  // ---- manifest snapshots (time travel) ----

  private def snapsRoot = new Path(root + ".snapshots")

  private def dataFiles: Seq[String] =
    fs.listStatus(hadoopPath).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .map(_.toString)
      .sorted

  /** Versions that currently have a manifest, ascending. */
  def snapshotVersions: Seq[Int] =
    if (!fs.exists(snapsRoot)) Seq.empty
    else fs.listStatus(snapsRoot).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("v") => s.drop(1).toInt }.sorted

  /** Records a snapshot: the current data-file list (a manifest — data
    * files are append-only under insert, so old files keep serving old
    * snapshots at zero copy cost) plus a copy of the current tombstone
    * ids (small by the delete-file argument). Returns the version id.
    *
    * Manifests store file NAMES relative to the table root (data files
    * are direct children), resolved against the CURRENT root at read
    * time ([[snapshotFiles]]) — so every snapshot surface (asOf,
    * timestampAsOf, the change feed, CDC TVF) survives a table move or
    * catalog RENAME, which relocates the `.snapshots` sidecar along
    * with the data.
    *
    * Retention contract, same shape as Delta/Iceberg expiry: [[vacuum]]
    * and [[buildAnnIndex]] REWRITE every data file, so both invalidate
    * all existing snapshots (retention zero); a PARTIAL rewrite (the
    * file-group CoW behind SQL MERGE/UPDATE) expires only the versions
    * whose manifests reference a replaced file
    * ([[expireSnapshotsReferencing]]) — time travel spans inserts,
    * deletes, and any rewrite that left the snapshot's files alone. */
  def snapshot(): Int = WriterLock.withLock(fs, root) {
    val version = snapshotVersions.lastOption.getOrElse(0) + 1
    val vdir = new Path(snapsRoot, s"v$version")
    fs.mkdirs(vdir)
    if (fs.exists(tombPath)) {
      tombstonesDf
        .write.mode("overwrite").parquet(new Path(vdir, "tombstones").toString)
    }
    val out = fs.create(new Path(vdir, "manifest.json"), true)
    val files = graft.core.JsonFileList.render(dataFiles.map(f => new Path(f).getName))
    try out.write(
      s"""{"ts": ${System.currentTimeMillis()}, ${files.stripPrefix("{")}"""
        .getBytes("UTF-8"))
    finally out.close()
    version
  }

  /** The snapshot's commit timestamp (epoch millis); None for
    * manifests written before the stamp existed. */
  private[graft] def snapshotTs(version: Int): Option[Long] = {
    val mPath = new Path(new Path(snapsRoot, s"v$version"), "manifest.json")
    if (!fs.exists(mPath)) None
    else {
      val in = fs.open(mPath)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      """"ts"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
    }
  }

  /** The LATEST snapshot committed at or before `tsMillis` — the
    * `timestampAsOf` resolution rule (Delta's contract: a timestamp
    * resolves to the last version whose commit time does not exceed
    * it; unknown-timestamp manifests from before the stamp existed
    * never match). */
  def versionAt(tsMillis: Long): Option[Int] =
    snapshotVersions.filter(v => snapshotTs(v).exists(_ <= tsMillis)).lastOption

  /** The manifest's data-file list for snapshot `version`, resolved
    * against the CURRENT table root (manifests store bare file names —
    * see [[snapshot]] — so the list stays valid after a rename/move;
    * absolute entries from pre-relative manifests pass through
    * unchanged). Throws if the snapshot doesn't exist — vacuum/reindex
    * expire snapshots. */
  private[graft] def snapshotFiles(version: Int): Seq[String] = {
    val mPath = new Path(new Path(snapsRoot, s"v$version"), "manifest.json")
    if (!fs.exists(mPath))
      throw new IllegalArgumentException(
        s"no snapshot v$version (vacuum/reindex expire snapshots); have: $snapshotVersions")
    val in = fs.open(mPath)
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    // only the contents of the "files" array, via the linear-scan
    // parser (a backtracking regex overflows at 10⁴+ names)
    graft.core.JsonFileList.parse(txt)
      .map(f => if (f.contains("/")) f else new Path(hadoopPath, f).toString)
  }

  /** The tombstone ids recorded AT snapshot time (empty frame if none
    * were recorded — broadcast-small by the delete-file argument). */
  private[graft] def snapshotTombstones(version: Int): DataFrame = {
    val tombs = new Path(new Path(snapsRoot, s"v$version"), "tombstones")
    if (!fs.exists(tombs))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(VectorSchema.ID,
            org.apache.spark.sql.types.StringType, nullable = false))))
    else spark.read.parquet(tombs.toString).select(VectorSchema.ID)
  }

  /** The table as of snapshot `version`: exactly the manifest's files,
    * minus the tombstones recorded AT snapshot time. */
  def asOf(version: Int): DataFrame = {
    val files = snapshotFiles(version)
    val schema = if (annIndexMeta.isDefined) VectorSchema.annSchema else VectorSchema.schema
    val base =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(files: _*)
    val tombs = new Path(new Path(snapsRoot, s"v$version"), "tombstones")
    if (!fs.exists(tombs)) base
    else base.join(broadcast(spark.read.parquet(tombs.toString)),
      Seq(VectorSchema.ID), "left_anti")
  }

  /** CDC between two snapshots: (id, change) with change ∈
    * {'added','deleted'} — ids present only in the later/earlier
    * snapshot respectively. The incremental-reprocessing contract: a
    * downstream consumer re-embeds/re-indexes exactly this delta
    * instead of rescanning the table. Two anti-joins on the id column
    * only — never the payload. */
  def diffSnapshots(from: Int, to: Int): DataFrame = {
    val a = asOf(from).select(col(VectorSchema.ID))
    val b = asOf(to).select(col(VectorSchema.ID))
    b.join(a, Seq(VectorSchema.ID), "left_anti").withColumn("change", lit("added"))
      .unionByName(
        a.join(b, Seq(VectorSchema.ID), "left_anti").withColumn("change", lit("deleted")))
  }

  private def expireSnapshots(): Unit = fs.delete(snapsRoot, true)

  /** SELECTIVE expiry for partial rewrites (the file-group CoW path):
    * drop only the snapshot versions whose manifests reference one of
    * `deletedNames` (bare part-file names). A snapshot whose files all
    * survive the rewrite keeps serving time travel — the Delta/Iceberg
    * contract, instead of the old drop-the-whole-`.snapshots` rule
    * where one CDC merge erased all history. Driver-side metadata scan:
    * O(versions × names-per-manifest), the same order as writing the
    * manifests in the first place. */
  private[graft] def expireSnapshotsReferencing(deletedNames: Set[String]): Unit =
    snapshotVersions.foreach { v =>
      val refs = snapshotFiles(v).map(f => new Path(f).getName)
      if (refs.exists(deletedNames.contains)) {
        fs.delete(new Path(snapsRoot, s"v$v"), true)
        ()
      }
    }

  /** Folds tombstones into the data: one rewrite of the surviving rows,
    * then the tombstone table is dropped. The compaction half of
    * merge-on-read — run it when the tombstone fraction makes the
    * read-side anti-join worth reclaiming. */
  def vacuum(): this.type = WriterLock.withLock(fs, root) {
    if (fs.exists(tombPath)) {
      val tmp = new Path(root + "__vacuum")
      withExtracts(df).write.mode("overwrite").parquet(tmp.toString)
      fs.delete(hadoopPath, true)
      HadoopFs.rename(fs, tmp, hadoopPath)
      fs.delete(tombPath, true)
      tombCountCache = Some((0L, 0L)) // no tombPath → signature 0
      expireSnapshots() // data files rewritten: retention-zero expiry
      // a vacuum erases the tombstone table the index probe widens by,
      // but the persisted index still carries the dead ids — rebuild
      // the active tier over the now-physical live set, or the probe
      // under-returns silently (k − deleted rows). A vacuum is already
      // a full data rewrite; the index rebuild is the same
      // proportional cost.
      rebuildIndex()
    }
    this
  }

  /** Rebuilds the active graph/code tier (HNSW, IVF-PQ or BQ) over the
    * live rows with its persisted parameters — the rebuild point of
    * every data rewrite that replaces rows the tier has indexed
    * (vacuum, the row-level group rewrite). At most one branch fires
    * (single slot); the LSH tier needs none, its buckets live in the
    * rows. */
  private[graft] def rebuildIndex(): Unit = {
    hnswIndexMeta.foreach(meta =>
      buildHnswIndex(m = meta.m, efConstruction = meta.efConstruction))
    ivfPqIndexMeta.foreach(meta => buildIvfPqIndex(meta.nCells, meta.m,
      meta.pqK, meta.nProbe, meta.shortlistFactor))
    bqIndexMeta.foreach(meta => buildBqIndex(meta.coarseFactor, meta.fineFactor))
  }

  /** In-place small-file compaction — the maintenance half of a CDC
    * write path: fine-grained inserts, streaming epochs and file-group
    * CoW merges leave a tail of small part files, and at 100 TB that
    * tail turns scans into task-scheduling + footer-read overhead.
    * Rewrites ONLY the files under `smallFraction × targetFileRows`
    * rows (the tail — never the table; a 100 TB table compacts its
    * churn, proportional to recent write activity) into
    * ~targetFileRows-row files.
    *
    * Correctness is by RAW-row preservation: victims are read with the
    * full ON-DISK schema (ANN bucket and extract columns included,
    * tombstones NOT applied) and appended bit-identical, so the
    * footers-minus-tombstones arithmetic, the merge-on-read view, and
    * every persisted index tier (which reference IDS, never files)
    * survive unchanged. Snapshots referencing a victim expire
    * selectively (the group-CoW retention rule); bloom entries for the
    * folded files go stale by keying and the merged output stays
    * unbloomed-conservative until the next victim lookup blooms it.
    * Same append-then-delete crash window
    * as the group CoW — the single-writer contract's documented
    * non-transactionality. Returns the number of files removed (0 =
    * nothing worth compacting). */
  def compactSmallFiles(targetFileRows: Long, smallFraction: Double = 0.5): Int =
      WriterLock.withLock(fs, root) {
    require(targetFileRows > 0, "gvdb: targetFileRows must be positive")
    val stats = graft.sources.GvdbFooters.idStats(spark, root)
    val victims = stats.collect {
      case (path, rows, _) if rows < (targetFileRows * smallFraction).toLong => (path, rows)
    }
    // one small file alone gains nothing from a rewrite
    if (victims.size < 2) return 0
    val base = if (annIndexMeta.isDefined) VectorSchema.annSchema else VectorSchema.schema
    val schema = graft.sources.GvdbExtracts.extendSchema(base, extractSpec)
    val total = victims.iterator.map(_._2).sum
    val outFiles = math.max(1, math.ceil(total.toDouble / targetFileRows).toInt)
    // coalesce, not repartition: shrinking a file count is a NARROW
    // dependency — a compaction pass over a 100 TB tail must not pay a
    // shuffle of the tail (ops/Compaction.scala, the same rule)
    spark.read.schema(schema).parquet(victims.map(_._1): _*)
      .coalesce(outFiles)
      .write.mode("append").parquet(root)
    victims.foreach { case (p, _) => fs.delete(new Path(p), false) }
    expireSnapshotsReferencing(
      victims.map { case (p, _) => new Path(p).getName }.toSet)
    victims.size
  }

  /** Dedup insert — the reference's `INSERT … ON CONFLICT (id) DO NOTHING`
    * (duckvdb.py:56-61) as a left-anti join + append (SURVEY.md §2.3 J1):
    * first-wins within the batch, skip ids already present.
    *
    * Scale notes: the anti-join is the only wide operation; the existing
    * side is projected to `id` only (column-pruned parquet scan), so at
    * 100 TB the shuffle carries just the key column. Embedding dim is
    * validated inline via `raise_error` — a streaming one-pass check, no
    * extra action (the reference errors on dim mismatch at cast time,
    * duckvdb.py:104).
    */
  def insert(batch: DataFrame): Unit = WriterLock.withLock(fs, root) {
    val checked = batch
      .select(VectorSchema.ID, VectorSchema.METADATA, VectorSchema.EMBEDDING)
      .withColumn(VectorSchema.EMBEDDING,
        when(size(col(VectorSchema.EMBEDDING)) === dim, col(VectorSchema.EMBEDDING))
          .otherwise(raise_error(concat(
            lit(s"embedding dim mismatch: expected $dim, got "),
            size(col(VectorSchema.EMBEDDING)).cast("string")))))
    // keep the persisted ANN index complete across inserts
    val deduped = withAnnBuckets(checked, dim).dropDuplicates(VectorSchema.ID)
    // anti-join unconditionally: against an empty table it is an
    // identity with a near-zero build side, and skipping it would cost
    // a driver-side existence job (df.isEmpty) on EVERY insert — at
    // scale the constant join beats the extra action. Joins RAW ids
    // (tombstones included): a deleted id stays occupied until vacuum —
    // see [[delete]].
    val fresh = deduped.join(rawDf.select(VectorSchema.ID), Seq(VectorSchema.ID), "left_anti")
    if (hnswIndexMeta.isEmpty && ivfPqIndexMeta.isEmpty && bqIndexMeta.isEmpty) {
      withExtracts(fresh).write.mode("append").parquet(root)
    } else {
      // keep the persisted index complete across inserts: the fresh
      // rows become NEW index segments / appended code rows; built
      // artifacts are never rewritten (the Lucene append contract,
      // strictly better than the reference, whose insert path never
      // indexes — duckvdb.py:47-61 vs 43-45). The INDEX delta is
      // written FIRST: appending to `root` invalidates every cached
      // plan reading it (including `fresh` itself), so an index build
      // after the data append would anti-join the batch against its
      // own appended rows and see nothing. The count() materializes
      // the cache, so the later data append reuses it.
      fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val vecs = surrogates(fresh)
        val nNew = vecs.count()
        if (nNew > 0L) {
          hnswIndexMeta.foreach { meta =>
            val deltaSegs = graft.ops.Hnsw.autoSegments(nNew)
            graft.ops.Hnsw.buildGraph(vecs, numSegments = deltaSegs,
                segOffset = meta.segments, m = meta.m, efConstruction = meta.efConstruction)
              .write.mode("append").parquet(hnswGraphPath.toString)
            // an unknown stat (-1: pre-stat sidecar) stays unknown —
            // -1 + nNew would fabricate a tiny "index size" and skew
            // every selectivity-priced probe
            writeHnswMeta(meta.copy(segments = meta.segments + deltaSegs,
              rows = if (meta.rows < 0L) -1L else meta.rows + nNew))
          }
          // IVF-PQ: map-only encode against the FROZEN codebooks —
          // the delta lands inside the existing cell directories
          // (quantizer staleness is the probe's recall gate's problem,
          // not a rewrite's). BQ: sign-encode and append — no trained
          // state at all, so the appended codes are exact peers of the
          // built ones.
          ivfPqIndexMeta.foreach { _ =>
            val (ix, _) = graft.ops.IvfPq.loadIndex(spark, ivfpqRoot)
            graft.ops.IvfPq.appendCodes(ix, vecs, s"$ivfpqRoot/codes")
          }
          bqIndexMeta.foreach { meta =>
            // encode against the FROZEN build-time mean (the PQ-codebook
            // freezing contract) so appended codes are exact peers of
            // the built ones
            vecs.select(col("vec_id").as("neighbor_id"),
                graft.functions.BqEncodeExpr
                  .col(centerCol(col("embedding"), meta.mean)).as("code"))
              .write.mode("append").parquet(bqCodesPath.toString)
          }
        }
        withExtracts(fresh).write.mode("append").parquet(root)
        // merge policy AFTER the append is durable: accumulated small
        // delta segments fold once they cross the mergeAt threshold
        autoCompactHnsw()
      } finally fresh.unpersist(blocking = false)
    }
  }

  /** Row count (reference `num_rows`, duckvdb.py:122-123). */
  def numRows: Long = df.count()

  /** Bulk load from an external Parquet path (reference
    * `load_from_parquet` CTAS, duckvdb.py:43-45). `buildIndex=true`
    * mirrors the reference exactly: the HNSW-analogue LSH index is
    * built as part of the bulk-load path (duckvdb.py:45). */
  def loadFromParquet(path: String, buildIndex: Boolean = false): Unit =
      WriterLock.withLock(fs, root) {
    fs.delete(metaPath, false)
    fs.delete(tombPath, true)
    fs.delete(snapsRoot, true)
    tombCountCache = None
    dropHnswIndex() // new data: a stale index would serve ghost rows
    dropIvfPqIndex()
    dropBqIndex()
    withExtracts(spark.read.parquet(path)
        .select(VectorSchema.ID, VectorSchema.METADATA, VectorSchema.EMBEDDING))
      .write.mode("overwrite").parquet(root)
    if (buildIndex) buildAnnIndex()
  }
}
