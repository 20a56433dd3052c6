package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.core.VectorSchema
import graft.table.VectorTable

/** The row-level write path (GvdbMergeRule): MERGE, UPDATE and upsert
  * all rewrite through the touched-first file-group copy-on-write,
  * which receives only the MUTATED rows while the untouched rows of
  * victim files ride along from the victim files themselves. MERGE
  * picks its join from its own shape — key-pruned when the merge has
  * an id key, the full join otherwise — and both shapes are covered.
  *
  * Every test runs on each table kind: un-indexed, HNSW-indexed and
  * LSH-indexed. On the indexed kinds the merged table must also answer
  * k-NN through its index exactly as the brute-force scan does, which
  * fails if the rewrite left the graph stale or wrote rows without
  * buckets. */
class RowLevelFastPathSpec extends SparkSpec with Matchers {

  private lazy val warehouse = Files.createTempDirectory("graft-fastpath").toString

  private def init(): Unit = {
    spark.conf.set("spark.sql.catalog.fpc", "graft.sources.GvdbCatalog")
    spark.conf.set("spark.sql.catalog.fpc.warehouse", warehouse)
  }

  /** A table kind: the index (if any) built right after the base rows
    * land. */
  private sealed abstract class Kind(val tag: String) {
    def index(t: VectorTable): Unit
  }
  private case object Unindexed extends Kind("plain") {
    def index(t: VectorTable): Unit = ()
  }
  private case object HnswIndexed extends Kind("hnsw") {
    def index(t: VectorTable): Unit = { t.buildHnswIndex(); () }
  }
  // 16 one-bit tables over first-quadrant 2-d vectors: every row shares
  // a bucket with the query, so the prefilter is exact unless a row's
  // buckets are missing or stale
  private case object LshIndexed extends Kind("lsh") {
    def index(t: VectorTable): Unit = { t.buildAnnIndex(tables = 16, bits = 1); () }
  }
  private val kinds = Seq(Unindexed, HnswIndexed, LshIndexed)

  /** Rows (id, "{}", [v, 1]) — 2-d so cosine distance ranks them. */
  private def rows(vals: Seq[(String, Float)]) = {
    import spark.implicits._
    vals.map { case (id, v) => (id, "{}", Seq(v, 1f)) }.toDF("id", "metadata", "embedding")
  }

  private def census(table: String): Map[String, Long] =
    spark.sql(s"SELECT id, CAST(embedding[0] AS bigint) AS v FROM $table")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** On an indexed kind: k-NN over every live row through the index
    * returns the exact scan's rows at the exact scan's distances (the
    * graph probe scores from its own stored vectors, rounded to 4
    * places, so a graph left stale by a rewrite shows as a distance
    * mismatch). */
  private def indexAgrees(kind: Kind, root: String): Unit = if (kind != Unindexed) {
    val db = new VectorDB(spark, "t", new Path(root).getParent.toString, "hashing",
      Map("dim" -> "2"), dim = 2)
    val q = Array(3f, 1f)
    val n = db.table.numRows.toInt
    def answer(ds: org.apache.spark.sql.Dataset[graft.core.Result]) =
      ds.collect().map(r => r.id -> r.distance).toMap
    val exact = answer(db.queryByVector(q, k = n, useIndex = false))
    def matchesExact(got: Map[String, Double]): Unit = {
      got.keySet shouldBe exact.keySet
      exact.foreach { case (id, d) => withClue(id)(got(id) shouldBe d +- 1e-4) }
    }
    kind match {
      case HnswIndexed =>
        db.table.hnswIndexMeta.map(_.rows) shouldBe Some(n.toLong)
        matchesExact(answer(db.queryByVector(q, k = n)))
      case _ =>
        val m = db.table.annIndexMeta.get
        db.table.df.where(!(col(VectorSchema.ANN_BUCKETS) <=> graft.functions.LshBucketsExpr(
          col(VectorSchema.EMBEDDING), 2, m.tables, m.bits, m.seed))).count() shouldBe 0L
        spark.conf.set("spark.graft.ann.autoRewrite", "true")
        try {
          val viaIndex = db.queryByVector(q, k = n)
          viaIndex.queryExecution.optimizedPlan.toString should include(VectorSchema.ANN_BUCKETS)
          matchesExact(answer(viaIndex))
        } finally spark.conf.set("spark.graft.ann.autoRewrite", "false")
    }
  }

  /** A catalog table `fpc.<ns>_<kind>.t` holding `base`, indexed per
    * `kind`; returns (table name, root). */
  private def catalogTable(ns: String, kind: Kind, base: Seq[(String, Float)]): (String, String) = {
    init()
    val name = s"fpc.${ns}_${kind.tag}.t"
    val root = s"$warehouse/${ns}_${kind.tag}/t"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS fpc.${ns}_${kind.tag}")
    spark.sql(s"CREATE TABLE $name (id string, metadata string, embedding array<float>) USING gvdb")
    rows(base).createOrReplaceTempView("fp_base")
    spark.sql(s"INSERT INTO $name SELECT * FROM fp_base")
    kind.index(new VectorTable(spark, root, 2))
    (name, root)
  }

  test("fast-path MERGE with an extra ON conjunct: matched-but-filtered rows copy") {
    for (kind <- kinds) withClue(kind.tag) {
      val (t, root) = catalogTable("m1", kind, (0 until 10).map(i => i.toString -> i.toFloat))
      // changes for ids 5..14, but the extra conjunct drops odd ids from
      // MATCHING (they become both an unmatched target copy AND an
      // unmatched source row → the insert-dedup anti-join must kill the
      // insert: the live copy wins)
      rows((5 until 15).map(i => i.toString -> (i + 100).toFloat))
        .createOrReplaceTempView("fp_chg")
      spark.sql(s"""MERGE INTO $t t USING fp_chg c
        ON t.id = c.id AND CAST(c.embedding[0] AS int) % 2 = 1
        WHEN MATCHED THEN UPDATE SET embedding = c.embedding
        WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
          VALUES (c.id, c.metadata, c.embedding)""")
      // ids 0..4: untouched; 5,7,9: matched+odd → updated (+100);
      // 6,8: matched target but conjunct false → target copy stays, the
      // colliding insert is deduped away; 10..14: true inserts (+100)
      census(t) shouldBe (0 until 5).map(i => i.toString -> i.toLong).toMap ++
        Seq("5", "7", "9").map(s => s -> (s.toLong + 100)).toMap ++
        Seq("6", "8").map(s => s -> s.toLong).toMap ++
        (10 until 15).map(i => i.toString -> (i + 100).toLong).toMap
      indexAgrees(kind, root)
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("fast-path MERGE purges a dead raw twin on re-insert (tombstone fold)") {
    for (kind <- kinds) withClue(kind.tag) {
      val (t, root) = catalogTable("m2", kind, (0 until 6).map(i => i.toString -> i.toFloat))
      val tbl = new VectorTable(spark, root, 2)
      tbl.delete(col("id") === "3")
      tbl.tombstoneCount shouldBe 1L
      rows(Seq("3" -> 300f)).createOrReplaceTempView("fp2_chg")
      spark.sql(s"""MERGE INTO $t t USING fp2_chg c ON t.id = c.id
        WHEN MATCHED THEN UPDATE SET embedding = c.embedding
        WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
          VALUES (c.id, c.metadata, c.embedding)""")
      // the dead raw '3' was purged with its victim file, its tombstone
      // folded, and the fresh '3' is live
      census(t) shouldBe Map("0" -> 0L, "1" -> 1L, "2" -> 2L,
        "3" -> 300L, "4" -> 4L, "5" -> 5L)
      tbl.tombstoneCount shouldBe 0L
      spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) shouldBe 6L
      indexAgrees(kind, root)
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("INSERT reassigning ids off the join key dedups against the full target") {
    for (kind <- kinds) withClue(kind.tag) {
      val (t, root) = catalogTable("m3", kind, Seq("a" -> 1f, "xb" -> 2f))
      // source key 'b' is unmatched; the INSERT writes id 'xb', which
      // collides with a LIVE row whose id is NOT among the source keys —
      // only a classification over the full target can see that
      // collision, so this merge must not take the key-pruned join:
      // first-wins, 'xb' keeps its original value
      rows(Seq("b" -> 99f)).createOrReplaceTempView("fp3_chg")
      spark.sql(s"""MERGE INTO $t t USING fp3_chg c ON t.id = c.id
        WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
          VALUES (concat('x', c.id), c.metadata, c.embedding)""")
      census(t) shouldBe Map("a" -> 1L, "xb" -> 2L)
      // an insert id that is fresh lands
      rows(Seq("c" -> 7f)).createOrReplaceTempView("fp3_chg")
      spark.sql(s"""MERGE INTO $t t USING fp3_chg c ON t.id = c.id
        WHEN NOT MATCHED THEN INSERT (id, metadata, embedding)
          VALUES (concat('x', c.id), c.metadata, c.embedding)""")
      census(t) shouldBe Map("a" -> 1L, "xb" -> 2L, "xc" -> 7L)
      indexAgrees(kind, root)
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("fast-path UPDATE: victim ride-alongs survive, untouched snapshots kept") {
    for (kind <- kinds) withClue(kind.tag) {
      // two insert batches → two file groups
      val (t, root) = catalogTable("u1", kind, (0 until 6).map(i => i.toString -> i.toFloat))
      val tbl = new VectorTable(spark, root, 2)
      val v1 = tbl.snapshot()
      rows((6 until 12).map(i => i.toString -> i.toFloat)).createOrReplaceTempView("fpu_b2")
      spark.sql(s"INSERT INTO $t SELECT * FROM fpu_b2")
      // update touches only batch-2 rows → batch-1 files are no victims →
      // v1 must survive the group CoW (selective expiry)
      spark.sql(s"UPDATE $t SET embedding = " +
        "array(CAST(embedding[0] + 100 AS float), embedding[1]) " +
        "WHERE CAST(embedding[0] AS int) >= 8")
      census(t) shouldBe (0 until 8).map(i => i.toString -> i.toLong).toMap ++
        (8 until 12).map(i => i.toString -> (i + 100).toLong).toMap
      tbl.snapshotVersions should contain(v1)
      indexAgrees(kind, root)
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("fast-path upsert: update + insert + deleted-id resurrection in one batch") {
    for (kind <- kinds) withClue(kind.tag) {
      val root = s"$warehouse/up1_${kind.tag}/t"
      rows((0 until 5).map(i => i.toString -> i.toFloat))
        .write.format("gvdb").option("dim", "2").mode("overwrite").save(root)
      val tbl = new VectorTable(spark, root, 2)
      kind.index(tbl)
      tbl.delete(col("id") === "2")
      // batch: replace 1, resurrect 2, insert 9 — GvdbUpsert.apply is the
      // unit the streaming UPDATE-mode sink calls per epoch (a PATH-based
      // batch `.option("upsert")` write resolves to the V1 provider's
      // plain insert and never reaches it)
      graft.sources.GvdbUpsert(spark, root,
        rows(Seq("1" -> 101f, "2" -> 202f, "9" -> 9f)), Some(2))
      spark.read.format("gvdb").load(root)
        .select(col("id"), col("embedding")(0).cast("long").as("v"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
        Map("0" -> 0L, "1" -> 101L, "2" -> 202L, "3" -> 3L, "4" -> 4L, "9" -> 9L)
      tbl.tombstoneCount shouldBe 0L
      indexAgrees(kind, root)
    }
  }

  test("row-level writes on an indexed table keep sidecars, ledgers and untouched snapshots") {
    init()
    val t = "fpc.side.t"
    val root = s"$warehouse/side/t"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpc.side")
    spark.sql(s"CREATE TABLE $t (id string, metadata string, embedding array<float>) USING gvdb")
    val tbl = new VectorTable(spark, root, 2)
    tbl.setExtractPaths(Seq("$.kind"))
    val spec = tbl.extractSpec
    // two file groups: 'a…' rows (snapshot v1 holds only these) and
    // 'b…' rows, the only ones the writes below touch
    rows((0 until 6).map(i => s"a$i" -> i.toFloat)).createOrReplaceTempView("side_a")
    spark.sql(s"INSERT INTO $t SELECT * FROM side_a")
    val v1 = tbl.snapshot()
    rows((0 until 6).map(i => s"b$i" -> (i + 10).toFloat)).createOrReplaceTempView("side_b")
    spark.sql(s"INSERT INTO $t SELECT * FROM side_b")
    tbl.buildHnswIndex()
    // a streaming query's epoch ledger
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = new Path(root + ".sink_commits", "query-1")
    val out = fs.create(ledger, true)
    try out.write("3".getBytes("UTF-8")) finally out.close()

    // (extract spec, ledger present, v1 present, index present)
    def kept(step: String): Unit = withClue(step) {
      (tbl.extractSpec, fs.exists(ledger), tbl.snapshotVersions.contains(v1),
        tbl.hnswIndexMeta.isDefined) shouldBe ((spec, true, true, true))
    }
    spark.sql(s"""UPDATE $t SET metadata = '{"kind":"u"}' WHERE id = 'b1'""")
    kept("UPDATE")
    rows(Seq("b2" -> 99f)).createOrReplaceTempView("side_chg")
    spark.sql(s"""MERGE INTO $t t USING side_chg c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET embedding = c.embedding""")
    kept("MERGE")
    graft.sources.GvdbUpsert(spark, root, rows(Seq("b3" -> 33f, "c0" -> 5f)), Some(2))
    kept("upsert")
    census(t) shouldBe (0 until 6).map(i => s"a$i" -> i.toLong).toMap ++
      (0 until 6).map(i => s"b$i" -> (i + 10).toLong).toMap ++
      Map("b2" -> 99L, "b3" -> 33L, "c0" -> 5L)
    spark.sql(s"SELECT id FROM $t WHERE get_json_object(metadata, '$$.kind') = 'u'")
      .collect().map(_.getString(0)) shouldBe Array("b1")
    indexAgrees(HnswIndexed, root)
    spark.sql(s"DROP TABLE $t")
  }
}
