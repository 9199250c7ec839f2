package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{FaultPoints, GraftBatchWrite, GraftObjectTable,
  GraftWriterFactory, ObjectStoreMaintenance}

/** DSv2 object-WRITE crash/retry injection (r7 verdict #4): the batch
  * commit mutates multiple files before its `record` line, and task
  * attempts can be retried or go zombie — the reference's RADOS write
  * atomicity made these windows moot; an executor-retry world does
  * not. Every window is driven to a crash and the invariant asserted:
  * exactly-once visible state, never a half-applied write after
  * recovery.
  */
class WriteCrashSpec extends SparkSpec {

  private def freshTable(tag: String, n: Long = 100): String = {
    val dir = Files.createTempDirectory(s"graft-wcrash-$tag").toString + "/t"
    spark.range(0, n).selectExpr("id", "id * 2 AS v")
      .repartition(4)
      .write.format("graft-objects").mode("overwrite").save(dir)
    dir
  }

  private def readIds(dir: String): Seq[Long] =
    spark.read.format("graft-objects").load(dir)
      .select(col("id")).collect().map(_.getLong(0)).toSeq.sorted

  private def append(dir: String, from: Long, until: Long): Unit =
    spark.range(from, until).selectExpr("id", "id * 2 AS v")
      .repartition(3)
      .write.format("graft-objects").mode("append").save(dir)

  /** Arm `point`, run `op`, assert the injected crash surfaced (Spark
    * may wrap driver-side commit failures — walk the cause chain). */
  private def crashWrite(point: String)(op: => Unit): Unit = {
    FaultPoints.crashAt(point)
    try {
      val e = intercept[Throwable](op)
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(_.isInstanceOf[FaultPoints.InjectedCrash]),
        s"expected InjectedCrash($point) in cause chain, got: $e")
    } finally FaultPoints.disarm()
  }

  test("append crash before any mutation: table unchanged, retry lands exactly once") {
    val dir = freshTable("begun")
    crashWrite("write.commit.begun") { append(dir, 100, 150) }
    assert(readIds(dir) == (0L until 100L))
    append(dir, 100, 150) // the Spark-level retry of the same job
    assert(readIds(dir) == (0L until 150L))
    // journal cleaned: no marker left behind
    assert(!new File(dir).listFiles().exists(_.getName.startsWith("_txn_v")))
  }

  test("append crash mid-rename: torn object is recovered, retry lands exactly once") {
    val dir = freshTable("renamed")
    val objsBefore = GraftObjectTable.listObjects(dir).size
    crashWrite("write.commit.renamed") { append(dir, 100, 150) }
    // the torn window is real: one renamed-but-unrecorded object IS
    // directory-visible right now (this is what the journal exists for)
    assert(GraftObjectTable.listObjects(dir).size == objsBefore + 1)
    // recovery (next writer's entry, same lock) rolls the orphan back
    ObjectStoreMaintenance.recoverTxn(dir)
    assert(GraftObjectTable.listObjects(dir).size == objsBefore)
    assert(readIds(dir) == (0L until 100L))
    append(dir, 100, 150)
    assert(readIds(dir) == (0L until 150L),
      "retry after mid-rename crash must not duplicate or lose rows")
  }

  test("append crash mid-rename: recovery runs automatically on the NEXT write") {
    val dir = freshTable("renamed-auto")
    crashWrite("write.commit.renamed") { append(dir, 100, 150) }
    // no manual recoverTxn: the retry itself must roll back the torn
    // object before planning its own names, or rows would duplicate
    append(dir, 100, 150)
    assert(readIds(dir) == (0L until 150L))
  }

  test("truncate crash after archiving, before rename/record: old generation restored") {
    val dir = freshTable("truncated")
    crashWrite("write.commit.archived") {
      spark.range(500, 520).selectExpr("id", "id * 2 AS v")
        .write.format("graft-objects").mode("overwrite").save(dir)
    }
    // torn: everything archived, nothing recorded — a reader right now
    // sees an empty table; rollback must restore the full pre-image
    ObjectStoreMaintenance.recoverTxn(dir)
    assert(readIds(dir) == (0L until 100L),
      "rollback must restore the archived generation completely")
    // and the overwrite can then be retried to completion
    spark.range(500, 520).selectExpr("id", "id * 2 AS v")
      .write.format("graft-objects").mode("overwrite").save(dir)
    assert(readIds(dir) == (500L until 520L))
  }

  test("crash after record, before journal cleanup: commit survives (roll forward)") {
    val dir = freshTable("recorded")
    crashWrite("write.commit.recorded") { append(dir, 100, 150) }
    // record is the commit point — the write is durable even though
    // the writer died before cleaning its marker
    ObjectStoreMaintenance.recoverTxn(dir)
    assert(readIds(dir) == (0L until 150L))
    assert(!new File(dir).listFiles().exists(_.getName.startsWith("_txn_v")))
  }

  // ---- catalog mutations: copy-on-write DELETE, TRUNCATE, UPDATE -----

  /** One catalog per JVM name (Spark caches catalog instances), rooted
    * in a fresh directory; each test uses its own namespace. */
  private lazy val catalogRoot: String = {
    val r = Files.createTempDirectory("graft-wcrash-catalog").toString
    spark.conf.set("spark.sql.catalog.gcrash", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcrash.root", r)
    r
  }

  /** `gcrash.<ns>.t`: ids 0..99, v = 2·id, in four objects. */
  private def catalogTable(ns: String): String = {
    val dir = s"$catalogRoot/$ns/t"
    spark.range(0, 100).selectExpr("id", "id * 2 AS v")
      .repartition(4)
      .write.format("graft-objects").mode("overwrite").save(dir)
    dir
  }

  private def readRows(dir: String): Seq[(Long, Long)] =
    spark.read.format("graft-objects").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def rowsOf(ids: Seq[Long]): Seq[(Long, Long)] = ids.map(i => (i, i * 2))

  test("copy-on-write DELETE crash after its first object change: the next write restores every row") {
    val dir = catalogTable("cowdel")
    crashWrite("delete.commit.changed") {
      spark.sql("DELETE FROM gcrash.cowdel.t WHERE id <= 49")
    }
    // torn: one object already rewritten without its matches, no log line
    assert(readRows(dir).size < 100)
    append(dir, 100, 150) // its recovery rolls the half-applied DELETE back
    assert(readRows(dir) == rowsOf(0L until 150L))
    assert(!new File(dir).listFiles().exists(_.getName.startsWith("_txn_v")))
  }

  test("TRUNCATE TABLE crash after its first archive move: the next write restores every row") {
    val dir = catalogTable("trunc")
    crashWrite("truncate.commit.archived") {
      spark.sql("TRUNCATE TABLE gcrash.trunc.t")
    }
    assert(GraftObjectTable.listObjects(dir).size == 3)
    append(dir, 100, 150)
    assert(readRows(dir) == rowsOf(0L until 150L))
    assert(!new File(dir).listFiles().exists(_.getName.startsWith("_txn_v")))
  }

  test("UPDATE replace-commit crash after its first rename: the next write restores every row") {
    val dir = catalogTable("upd")
    crashWrite("replace.commit.renamed") {
      spark.sql("UPDATE gcrash.upd.t SET v = 0 WHERE id <= 49")
    }
    // torn: a new-generation object is live beside the old generation
    assert(GraftObjectTable.listObjects(dir).size == 5)
    assert(readRows(dir).size > 100)
    append(dir, 100, 150)
    assert(readRows(dir) == rowsOf(0L until 150L))
    assert(!new File(dir).listFiles().exists(_.getName.startsWith("_txn_v")))
  }

  /** A table emptied by a statement that crashed after its commit point
    * still resolves (the schema sidecar landed before it), reads empty,
    * and takes the next INSERT. */
  private def emptiedAndWritable(ns: String): Unit = {
    assert(spark.sql(s"SELECT COUNT(*) FROM gcrash.$ns.t").collect()(0).getLong(0) == 0L)
    spark.sql(s"INSERT INTO gcrash.$ns.t VALUES (7, 14)")
    assert(readRows(s"$catalogRoot/$ns/t") == rowsOf(Seq(7L)))
    assert(!new File(s"$catalogRoot/$ns/t").listFiles().exists(_.getName.startsWith("_txn_v")))
  }

  test("copy-on-write DELETE that empties the table, crashed after record: it reads empty and takes an INSERT") {
    catalogTable("delrec")
    crashWrite("delete.commit.recorded") {
      spark.sql("DELETE FROM gcrash.delrec.t WHERE id >= 0")
    }
    emptiedAndWritable("delrec")
  }

  test("replace commit that empties the table, crashed after record: it reads empty and takes an INSERT") {
    catalogTable("reprec")
    // a column-to-column predicate is not storage-evaluable: the DELETE
    // runs as a group-based replace
    crashWrite("replace.commit.recorded") {
      spark.sql("DELETE FROM gcrash.reprec.t WHERE v >= id")
    }
    emptiedAndWritable("reprec")
  }

  // ---- task-attempt duplication (speculation / retry) ---------------

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  private def stage(dir: String, taskId: Long,
      rows: Seq[Long]): WriterCommitMessage = {
    val w = new GraftWriterFactory(schema, dir, "b").createWriter(0, taskId)
    rows.foreach(i =>
      w.write(new GenericInternalRow(Array[Any](i, i * 2)): InternalRow))
    w.commit()
  }

  test("duplicate task attempts: only the winning attempt's data is visible exactly once") {
    val dir = freshTable("dup", n = 10)
    val batch = new GraftBatchWrite(schema, dir, truncate = false)
    // two attempts of the SAME partition both stage (speculative twin);
    // Spark hands the driver ONE winner and aborts the loser
    val loser = stage(dir, taskId = 71L, rows = Seq(100L, 101L))
    val winner = stage(dir, taskId = 72L, rows = Seq(100L, 101L))
    batch.commit(Array(winner))
    batch.abort(Array(loser))
    assert(readIds(dir) == ((0L until 10L) ++ Seq(100L, 101L)),
      "speculative duplicate must not double-append")
    assert(!new File(dir).listFiles().exists(_.getName.startsWith("_staged_")),
      "the aborted attempt's staged file must be gone")
  }

  test("zombie task attempt (no abort): orphan stays invisible and exactly-once holds") {
    val dir = freshTable("zombie", n = 10)
    val batch = new GraftBatchWrite(schema, dir, truncate = false)
    stage(dir, taskId = 81L, rows = Seq(200L, 201L)) // zombie: message lost, no abort
    val winner = stage(dir, taskId = 82L, rows = Seq(200L, 201L))
    batch.commit(Array(winner))
    assert(readIds(dir) == ((0L until 10L) ++ Seq(200L, 201L)))
    // the zombie's staged file leaks on disk (vacuum's job) but is
    // invisible to the object listing every scan funnels through
    assert(new File(dir).listFiles().exists(_.getName.startsWith("_staged_")))
    assert(GraftObjectTable.listObjects(dir)
      .forall(p => !new File(p).getName.startsWith("_staged_")))
  }
}
