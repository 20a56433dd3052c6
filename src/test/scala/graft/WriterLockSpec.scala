package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.scalatest.matchers.should.Matchers

import graft.core.WriterLock
import graft.table.VectorTable

/** Single-writer enforcement (core/WriterLock.scala): the format is
  * single-writer by contract; the lock makes a second concurrent
  * writer fail fast with a named error instead of silently committing
  * duplicate ids through the dedup anti-join race. */
class WriterLockSpec extends SparkSpec with Matchers {

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft-lockspec-$tag").toString + "/tbl"

  private def rows(pfx: String, ids: Range) = {
    import spark.implicits._
    ids.map(i => (s"$pfx$i", "{}", Seq(i.toFloat, 0f)))
      .toDF("id", "metadata", "embedding")
  }

  test("two interleaved writers: loser throws named error, state = winner's") {
    val root = freshRoot("race")
    rows("w", 0 until 5).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var aFailed: Option[Throwable] = None
    // writer A holds the table's writer turn on another thread and,
    // INSIDE it, commits its batch through the normal API (the nested
    // acquire must reenter, not self-conflict)
    val a = new Thread(() => {
      try WriterLock.withLock(fs, root) {
        entered.countDown()
        release.await()
        rows("a", 0 until 3).write.format("gvdb").mode(SaveMode.Append).save(root)
      } catch { case t: Throwable => aFailed = Some(t); entered.countDown() }
    })
    a.start()
    entered.await()
    // writer B loses: a named, actionable error — not a corrupt table
    val ex = intercept[Exception] {
      rows("b", 0 until 3).write.format("gvdb").mode(SaveMode.Append).save(root)
    }
    ex.getMessage should include("concurrent writer")
    // the same holds for direct mutators (tombstone write, vacuum)
    intercept[Exception] {
      new VectorTable(spark, root, 2).delete(
        org.apache.spark.sql.functions.col("id") === "w0")
    }.getMessage should include("concurrent writer")
    release.countDown()
    a.join()
    aFailed shouldBe None
    // table state is the winner's; the loser can retry and succeed now
    spark.read.format("gvdb").load(root).count() shouldBe 8L
    rows("b", 0 until 3).write.format("gvdb").mode(SaveMode.Append).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 11L
    // the marker is gone after every release
    fs.exists(new Path(root + ".lock")) shouldBe false
    new VectorTable(spark, root, 2).drop()
  }

  test("MERGE and UPDATE take the writer lock before reading any row") {
    val wh = Files.createTempDirectory("graft-lockspec-rowlevel").toString
    spark.conf.set("spark.sql.catalog.wlc", "graft.sources.GvdbCatalog")
    spark.conf.set("spark.sql.catalog.wlc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS wlc.rl")
    spark.sql("CREATE TABLE wlc.rl.t (id string, metadata string, embedding array<float>) USING gvdb")
    rows("w", 0 until 5).createOrReplaceTempView("lock_base")
    spark.sql("INSERT INTO wlc.rl.t SELECT * FROM lock_base")
    val root = s"$wh/rl/t"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every row the merge source or the update predicate reads passes
    // through this UDF, so a read before the lock shows as a call
    WriterLockSpec.reads.set(0)
    spark.udf.register("lock_probe", (s: String) => { WriterLockSpec.reads.incrementAndGet(); s })
    rows("w", 0 until 3).selectExpr("lock_probe(id) AS id", "metadata", "embedding")
      .createOrReplaceTempView("lock_src")
    val merge = """MERGE INTO wlc.rl.t t USING lock_src c ON t.id = c.id
      WHEN MATCHED THEN UPDATE SET metadata = '{"m":1}'"""
    val update = """UPDATE wlc.rl.t SET metadata = '{"u":1}' WHERE lock_probe(id) = 'w4'"""
    def lockError(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[WriterLock.ConcurrentWriteException])

    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => WriterLock.withLock(fs, root) {
      entered.countDown()
      release.await()
    })
    holder.start()
    entered.await()
    try {
      lockError(intercept[Exception](spark.sql(merge))) shouldBe true
      WriterLockSpec.reads.get shouldBe 0
      lockError(intercept[Exception](spark.sql(update))) shouldBe true
      WriterLockSpec.reads.get shouldBe 0
    } finally {
      release.countDown()
      holder.join()
    }
    // the lock released, both commit
    spark.sql(merge)
    spark.sql(update)
    WriterLockSpec.reads.get should be > 0
    spark.sql("SELECT id FROM wlc.rl.t WHERE metadata <> '{}' ORDER BY id").collect()
      .map(_.getString(0)) shouldBe Array("w0", "w1", "w2", "w4")
    spark.sql("DROP TABLE wlc.rl.t")
  }

  test("SQL DELETE with a JSON-path predicate takes the writer lock before reading any row") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-lockspec-delete").toString
    spark.conf.set("spark.sql.catalog.wld", "graft.sources.GvdbCatalog")
    spark.conf.set("spark.sql.catalog.wld.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS wld.rl")
    spark.sql("CREATE TABLE wld.rl.t (id string, metadata string, embedding array<float>) USING gvdb")
    (0 until 5).map(i => (s"w$i", s"""{"n": "$i"}""", Seq(i.toFloat, 0f)))
      .toDF("id", "metadata", "embedding").createOrReplaceTempView("lock_del_base")
    spark.sql("INSERT INTO wld.rl.t SELECT * FROM lock_del_base")
    val root = s"$wh/rl/t"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the predicate is untranslatable (a UDF over a JSON path), so it
    // takes the tombstoning GvdbDeleteCommand; every row it reads
    // passes through the counting UDF
    WriterLockSpec.reads.set(0)
    spark.udf.register("lock_probe", (s: String) => { WriterLockSpec.reads.incrementAndGet(); s })
    val delete = """DELETE FROM wld.rl.t WHERE lock_probe(get_json_object(metadata, '$.n')) = '2'"""
    def lockError(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[WriterLock.ConcurrentWriteException])

    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => WriterLock.withLock(fs, root) {
      entered.countDown()
      release.await()
    })
    holder.start()
    entered.await()
    try {
      lockError(intercept[Exception](spark.sql(delete))) shouldBe true
      WriterLockSpec.reads.get shouldBe 0
    } finally {
      release.countDown()
      holder.join()
    }
    // the lock released, the delete commits
    spark.sql(delete)
    WriterLockSpec.reads.get should be > 0
    spark.sql("SELECT id FROM wld.rl.t ORDER BY id").collect().map(_.getString(0)) shouldBe
      Array("w0", "w1", "w3", "w4")
    spark.sql("DROP TABLE wld.rl.t")
  }

  test("a stale marker from a crashed writer is broken, not honored forever") {
    val root = freshRoot("stale")
    rows("w", 0 until 3).write.format("gvdb").option("dim", "2")
      .mode(SaveMode.Overwrite).save(root)
    // simulate a crash: a leftover marker older than the takeover TTL
    val lock = new java.io.File(root + ".lock")
    java.nio.file.Files.write(lock.toPath, """{"ts":0,"writer":"dead"}""".getBytes)
    lock.setLastModified(System.currentTimeMillis() - WriterLock.staleAfterMs - 60000)
    rows("n", 0 until 2).write.format("gvdb").mode(SaveMode.Append).save(root)
    spark.read.format("gvdb").load(root).count() shouldBe 5L
    // ... but a FRESH foreign marker is honored
    java.nio.file.Files.write(lock.toPath, """{"ts":1,"writer":"alive"}""".getBytes)
    intercept[Exception] {
      rows("m", 0 until 2).write.format("gvdb").mode(SaveMode.Append).save(root)
    }.getMessage should include("concurrent writer")
    lock.delete()
    new VectorTable(spark, root, 2).drop()
  }
}

object WriterLockSpec {
  /** Rows read by the `lock_probe` UDF (local mode: executors share
    * this JVM). */
  val reads = new java.util.concurrent.atomic.AtomicInteger(0)
}
