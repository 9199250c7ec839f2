package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{DeleteVectors, FaultPoints, GraftObjectTable,
  GraftVersions, ObjectStoreMaintenance}

/** Crash injection for the object-store maintenance orderings (round
  * 7 — r6 verdict #6): every argued-in-comments crash window is
  * driven by an armed FaultPoints hook that throws mid-op, and the
  * spec asserts what the comments claim — a reader at the crash
  * point sees a CONSISTENT snapshot (fold windows), no row is ever
  * resurrected or lost after recovery (MoR windows), and recovery is
  * idempotent with the version log as the commit point.
  */
class CrashInjectionSpec extends SparkSpec {

  private def freshTable(tag: String, n: Long = 200): String = {
    val dir = Files.createTempDirectory(s"graft-crash-$tag").toString + "/t"
    spark.range(0, n).selectExpr("id", "id * 2 AS v")
      .repartition(4)
      .write.format("graft-objects").mode("overwrite").save(dir)
    dir
  }

  private def readIds(dir: String): Set[Long] =
    spark.read.format("graft-objects").load(dir)
      .select(col("id")).collect().map(_.getLong(0)).toSet

  private def crash(point: String)(op: => Unit): Unit = {
    FaultPoints.crashAt(point)
    try {
      intercept[FaultPoints.InjectedCrash](op)
      ()
    } finally FaultPoints.disarm()
  }

  // ---- fold windows: reader consistency at every boundary ----------

  test("fold crash after staged-write, before move: old bytes + valid DV still serve the logical state") {
    val dir = freshTable("fold-staged")
    ObjectStoreMaintenance.deleteMoR(dir, Array(LessThanOrEqual("id", 49L)))
    assert(readIds(dir) == (50L until 200L).toSet)
    // second delete folds the existing DV first; crash inside the fold
    crash("dvfold.staged") {
      ObjectStoreMaintenance.deleteMoR(dir, Array(GreaterThanOrEqual("id", 150L)))
    }
    // consistent snapshot: nothing resurrected (ids<50 stay deleted),
    // nothing lost (the second delete never applied)
    assert(readIds(dir) == (50L until 200L).toSet)
    // the staged file is invisible to listing
    assert(GraftObjectTable.listObjects(dir)
      .forall(p => !new File(p).getName.startsWith("_staged_")))
    // recovery + retry complete the interrupted intent
    ObjectStoreMaintenance.recoverTxn(dir)
    ObjectStoreMaintenance.deleteMoR(dir, Array(GreaterThanOrEqual("id", 150L)))
    assert(readIds(dir) == (50L until 150L).toSet)
  }

  test("fold crash after move, before drop: new bytes live, old DV stale-by-fingerprint = absent") {
    val dir = freshTable("fold-moved")
    ObjectStoreMaintenance.deleteMoR(dir, Array(LessThanOrEqual("id", 49L)))
    crash("dvfold.moved") {
      ObjectStoreMaintenance.deleteMoR(dir, Array(GreaterThanOrEqual("id", 150L)))
    }
    // the folded object now IS its logical state; the leftover DV file
    // must read as absent (stale fingerprint), so again: consistent
    assert(readIds(dir) == (50L until 200L).toSet)
    // at least one object was folded and its leftover DV is invalid
    val foldedWithStaleDv = GraftObjectTable.listObjects(dir).exists(p =>
      DeleteVectors.dvFile(p).isFile && !DeleteVectors.hasValid(p))
    assert(foldedWithStaleDv, "expected a stale leftover DV after the fold crash")
    ObjectStoreMaintenance.recoverTxn(dir)
    ObjectStoreMaintenance.deleteMoR(dir, Array(GreaterThanOrEqual("id", 150L)))
    assert(readIds(dir) == (50L until 150L).toSet)
  }

  // ---- MoR windows: rollback restores, commit survives --------------

  test("delete crash between archive-copy and DV write: recovery = clean rollback") {
    val dir = freshTable("del-arch")
    crash("mor.delete.archived") {
      ObjectStoreMaintenance.deleteMoR(dir, Array(LessThanOrEqual("id", 99L)))
    }
    val msg = ObjectStoreMaintenance.recoverTxn(dir)
    assert(msg.exists(_.contains("rolled back")), msg)
    assert(readIds(dir) == (0L until 200L).toSet, "no row lost, none deleted")
    // idempotent: second recovery is a no-op
    assert(ObjectStoreMaintenance.recoverTxn(dir).isEmpty)
    // retry applies cleanly
    ObjectStoreMaintenance.deleteMoR(dir, Array(LessThanOrEqual("id", 99L)))
    assert(readIds(dir) == (100L until 200L).toSet)
  }

  test("delete crash after a DV write (partial apply): rollback resurrects NOTHING it shouldn't, loses nothing") {
    val dir = freshTable("del-dv")
    crash("mor.delete.dv") {
      ObjectStoreMaintenance.deleteMoR(dir, Array(LessThanOrEqual("id", 99L)))
    }
    // torn state: one object's DV applied, commit absent — recovery
    // rolls the partial application back to the pre-op table
    ObjectStoreMaintenance.recoverTxn(dir)
    assert(readIds(dir) == (0L until 200L).toSet)
    ObjectStoreMaintenance.deleteMoR(dir, Array(LessThanOrEqual("id", 99L)))
    assert(readIds(dir) == (100L until 200L).toSet)
  }

  test("full-object delete crash after archive-move: rollback restores the moved object") {
    val dir = freshTable("del-moved")
    // a filter matching EVERY row of every object → archiveMove path
    crash("mor.delete.moved") {
      ObjectStoreMaintenance.deleteMoR(dir, Array(GreaterThanOrEqual("id", 0L)))
    }
    ObjectStoreMaintenance.recoverTxn(dir)
    assert(readIds(dir) == (0L until 200L).toSet, "moved object restored")
    val (rm, _, rows) = ObjectStoreMaintenance.deleteMoR(dir,
      Array(GreaterThanOrEqual("id", 0L)))
    assert(rm == 4 && rows == 200)
    // a fully-emptied sidecar-less table has no live objects to read;
    // the listing is the assertion
    assert(GraftObjectTable.listObjects(dir).isEmpty)
  }

  test("update crash in the LOSS window (DV written, replacement object not): recovery restores every row") {
    val dir = freshTable("upd-dv")
    val before = spark.read.format("graft-objects").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    crash("mor.update.dv") {
      ObjectStoreMaintenance.updateMoR(dir,
        Array(LessThanOrEqual("id", 99L)), Map("v" -> 0L))
    }
    // this was THE unrecoverable window before the journal: matched
    // rows hidden by DVs with their updates never written
    ObjectStoreMaintenance.recoverTxn(dir)
    val after = spark.read.format("graft-objects").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, "pre-update state restored exactly")
    val (n, _) = ObjectStoreMaintenance.updateMoR(dir,
      Array(LessThanOrEqual("id", 99L)), Map("v" -> 0L))
    assert(n == 100)
    val got = spark.read.format("graft-objects").load(dir)
      .filter(col("id") <= 99L).select(col("v"))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L))
  }

  test("update crash after replacement object, before record: rollback removes the uncommitted object") {
    val dir = freshTable("upd-obj")
    crash("mor.update.objwritten") {
      ObjectStoreMaintenance.updateMoR(dir,
        Array(LessThanOrEqual("id", 99L)), Map("v" -> 0L))
    }
    ObjectStoreMaintenance.recoverTxn(dir)
    val got = spark.read.format("graft-objects").load(dir)
    assert(got.count() == 200, "no duplicates from the uncommitted object")
    assert(got.filter(col("v") === 0L && col("id") =!= 0L).count() == 0,
      "no half-applied update visible")
  }

  test("crash AFTER record, before journal cleanup: commit survives (roll forward)") {
    val dir = freshTable("upd-rec")
    crash("mor.update.recorded") {
      ObjectStoreMaintenance.updateMoR(dir,
        Array(LessThanOrEqual("id", 99L)), Map("v" -> 0L))
    }
    val v = GraftVersions.currentVersion(dir)
    val msg = ObjectStoreMaintenance.recoverTxn(dir)
    assert(msg.exists(_.contains("rolled forward")), msg)
    assert(GraftVersions.currentVersion(dir) == v, "commit untouched")
    val got = spark.read.format("graft-objects").load(dir)
    assert(got.count() == 200)
    assert(got.filter(col("id") <= 99L).agg(max(col("v")))
      .collect().head.getLong(0) == 0L, "the committed update is visible")
  }

  test("recovery runs automatically on the next MoR entry") {
    val dir = freshTable("auto")
    crash("mor.update.dv") {
      ObjectStoreMaintenance.updateMoR(dir,
        Array(LessThanOrEqual("id", 99L)), Map("v" -> 0L))
    }
    // no explicit recoverTxn: the next op's entry recovery handles it
    val (n, _) = ObjectStoreMaintenance.updateMoR(dir,
      Array(LessThanOrEqual("id", 9L)), Map("v" -> 7L))
    assert(n == 10)
    val got = spark.read.format("graft-objects").load(dir)
    assert(got.count() == 200, "rows restored before the new op applied")
    assert(got.filter(col("v") === 7L).count() == 10)
  }

  // ---- the shared MoR walk: the computed update and edge tables -----

  test("computed update crash in the LOSS window: recovery restores every row, retry applies") {
    val dir = freshTable("upd-expr-dv")
    val before = spark.read.format("graft-objects").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    crash("mor.update.dv") {
      ObjectStoreMaintenance.updateMoRExpr(spark, dir,
        Array(LessThanOrEqual("id", 99L)), Map("v" -> "v + 1"))
    }
    ObjectStoreMaintenance.recoverTxn(dir)
    val after = spark.read.format("graft-objects").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, "pre-update state restored exactly")
    val (n, _) = ObjectStoreMaintenance.updateMoRExpr(spark, dir,
      Array(LessThanOrEqual("id", 99L)), Map("v" -> "v + 1"))
    assert(n == 100)
    val got = spark.read.format("graft-objects").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 200L).map(i =>
      (i, if (i <= 99) i * 2 + 1 else i * 2)).toSet)
  }

  test("updateMoR on a table emptied by DELETE (schema sidecar kept) returns (0, null)") {
    val dir = freshTable("upd-empty")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    new GraftObjectTable(schema, dir).deleteWhere(
      Array[org.apache.spark.sql.sources.Filter](GreaterThanOrEqual("id", 0L)))
    assert(GraftObjectTable.listObjects(dir).isEmpty)
    assert(new File(dir, "_schema.ddl").isFile)
    assert(ObjectStoreMaintenance.updateMoR(dir,
      Array(LessThanOrEqual("id", 9L)), Map("v" -> 0L)) == ((0L, null)))
    assert(GraftObjectTable.listObjects(dir).isEmpty)
    assert(!new File(dir).listFiles().exists(_.getName.startsWith("_txn_v")))
  }

  test("deleteMoR on a directory with neither objects nor a schema sidecar names the table") {
    val dir = Files.createTempDirectory("graft-crash-none").toString + "/t"
    val e = intercept[IllegalArgumentException] {
      ObjectStoreMaintenance.deleteMoR(dir, Array(LessThanOrEqual("id", 9L)))
    }
    assert(e.getMessage.contains(dir), e.getMessage)
    assert(!new File(dir).listFiles().exists(_.getName.startsWith("_txn_v")))
  }
}
