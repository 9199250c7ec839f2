package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number, when}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.streaming.Trigger

/** One workload: its set-up, and how each operation of its list runs. */
abstract class Workloads(val spark: SparkSession, val spec: JsonNode, val rec: Recorder) {
  val work: String = spec.get("work_dir").asText()
  val dataDir: String = spec.get("data_dir").asText()
  /** Set during the warm-up pass, which writes every result to parquet
    * there for the oracle compare. */
  var verifyTo: Option[String] = None
  protected val infoMap = mutable.LinkedHashMap.empty[String, Any]

  def setup(): Unit = ()
  def beforePass(pass: Int): Unit = rec.beforePass(pass)
  /** Untimed bookkeeping around each operation. */
  def beforeOp(op: JsonNode, pass: Int): Unit = ()
  def afterOp(op: JsonNode, pass: Int): Unit = ()
  def run(op: JsonNode, pass: Int): Unit

  /** Forces a result: through the noop sink when timing, to parquet
    * for the oracle compare when verifying. */
  protected def sink(id: String, df: DataFrame): Unit = {
    // the result's own analysis ran when it was built, outside the
    // execution the plan listener sees
    df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => rec.add(rec.currentTag, "plan.analysis_ms", p.endTimeMs - p.startTimeMs))
    write(id, df)
  }

  private def write(id: String, df: DataFrame): Unit = verifyTo match {
    case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$id")
    case None => df.write.mode("overwrite").format("noop").save()
  }

  protected def query(op: JsonNode): DataFrame = op.get("kind").asText() match {
    case "query" => graft.SparkEntry.queries(op.get("name").asText())(spark, dataDir)
    case "sql" => spark.sql(op.get("sql").asText())
  }

  def info(m: ObjectMapper): JsonNode = m.valueToTree[JsonNode](
    infoMap.map { case (k, v) => k -> (v match {
      case x: Map[_, _] => x.asJava
      case x => x
    }) }.asJava)

  protected def dirBytes(dir: String): Long =
    if (!new File(dir).exists()) 0L
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum

}

object Workloads {
  def apply(name: String, spark: SparkSession, spec: JsonNode, rec: Recorder): Workloads =
    name match {
      case "scan_pushdown" => new ScanPushdown(spark, spec, rec)
      case "llm_pipeline" => new LlmPipeline(spark, spec, rec)
      case "ingest_mutate" => new IngestMutate(spark, spec, rec)
    }
}

/** Object route over the shipped sf0.1 fixture ingested with Bench's
  * layout; headline queries plus the seeded selectivity sweep. */
class ScanPushdown(spark: SparkSession, spec: JsonNode, rec: Recorder)
    extends Workloads(spark, spec, rec) {
  private val root = s"$work/objects"

  override def setup(): Unit = {
    val layout = spec.get("layout")
    val objects = layout.get("objects").properties().asScala
      .map(e => e.getKey -> e.getValue.asInt()).toMap.withDefaultValue(1)
    val ranged = layout.get("range").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val t0 = System.nanoTime()
    graft.sources.ObjectStoreIngest.ingest(spark, dataDir, root, objects, ranged)
    infoMap("ingest_ms") = (System.nanoTime() - t0) / 1e6
    graft.Tables.objectStoreRoot = Some(root)
    val tables = new File(root).listFiles().filter(_.isDirectory).map(_.getName).sorted
    infoMap("objects") = tables.map(t => t -> rec.objectsIn(s"$root/$t")).toMap
    infoMap("stored_bytes") = tables.map(t => t -> dirBytes(s"$root/$t")).toMap
    graft.Tables.lineitem(spark, dataDir).createOrReplaceTempView("pb_lineitem")
  }

  override def run(op: JsonNode, pass: Int): Unit =
    sink(op.get("id").asText(), query(op))
}

/** Parquet route over the shipped fixture: operator-heavy LLM-pipeline
  * queries in the seeded order the spec lists. */
class LlmPipeline(spark: SparkSession, spec: JsonNode, rec: Recorder)
    extends Workloads(spark, spec, rec) {
  override def setup(): Unit = graft.Tables.objectStoreRoot = None
  override def run(op: JsonNode, pass: Int): Unit =
    sink(op.get("id").asText(), query(op))
}

/** Write path: every pass ingests orders and lineitem afresh into the
  * `graft` catalog, applies the seeded appends and copy-on-write /
  * merge-on-read mutations, one AvailableNow change-feed MERGE and a
  * compaction, then reads the results back. */
class IngestMutate(spark: SparkSession, spec: JsonNode, rec: Recorder)
    extends Workloads(spark, spec, rec) {
  private val main = s"$work/catalog/main"
  private val tables = Seq("orders", "lineitem", "orders_mirror")
  private def dir(t: String) = s"$main/$t"
  private val inputs = spec.get("inputs")
  private def in(k: String) = inputs.get(k).asText()
  private var v0 = 0
  private var vMerge = 0
  private var before = Map.empty[String, (Long, Long)]
  private val passInfo = mutable.LinkedHashMap.empty[String, Any]

  private def version(t: String): Int =
    spark.sql(s"CALL graft.system.table_version('$t')").head().getInt(0)

  private def files(): Map[String, (Long, Long)] = tables.flatMap { t =>
    val d = Paths.get(dir(t))
    if (!Files.exists(d)) Nil
    else Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSeq
  }.toMap

  override def beforePass(pass: Int): Unit = {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.main.$t"))
    tables.foreach { t =>
      val d = Paths.get(dir(t))
      if (Files.exists(d))
        Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
    before = Map.empty
    super.beforePass(pass)
  }

  private val writeKinds = Set("ingest", "append", "merge", "update", "delete",
    "delete_mor", "update_mor", "stream_merge", "compact")

  /** Untimed: the files each write starts from, so afterOp can count
    * what it wrote. */
  override def beforeOp(op: JsonNode, pass: Int): Unit =
    if (writeKinds(op.get("kind").asText())) before = files()

  override def run(op: JsonNode, pass: Int): Unit = {
    val id = op.get("id").asText()
    val kind = op.get("kind").asText()
    def range(c: String) = s"$c >= ${op.get("lo").asLong()} AND $c < ${op.get("hi").asLong()}"
    def filters(c: String): Array[Filter] = Array(
      GreaterThanOrEqual(c, java.lang.Long.valueOf(op.get("lo").asLong())),
      LessThan(c, java.lang.Long.valueOf(op.get("hi").asLong())))
    kind match {
      case "ingest" =>
        val orders = spark.read.parquet(in("orders"))
        rec.sub("write", "ingest orders") {
          orders.repartitionByRange(8, col("o_orderkey"))
            .write.format("graft-objects").mode("overwrite").save(dir("orders"))
        }
        rec.sub("write", "ingest lineitem") {
          spark.read.parquet(in("lineitem")).repartitionByRange(16, col("l_orderkey"))
            .write.format("graft-objects").mode("overwrite").save(dir("lineitem"))
        }
        rec.sub("write", "ingest orders_mirror") {
          orders.repartitionByRange(8, col("o_orderkey"))
            .write.format("graft-objects").mode("overwrite").save(dir("orders_mirror"))
        }
      case "append" =>
        spark.sql(s"INSERT INTO graft.main.orders SELECT * FROM parquet.`${in("append_orders")}`")
        spark.sql(s"INSERT INTO graft.main.lineitem SELECT * FROM parquet.`${in("append_lineitem")}`")
      case "merge" =>
        spark.read.parquet(in("merge_orders")).createOrReplaceTempView("pb_merge_src")
        spark.sql("""MERGE INTO graft.main.orders t USING pb_merge_src s
                    |ON t.o_orderkey = s.o_orderkey
                    |WHEN MATCHED THEN UPDATE SET
                    |  o_orderstatus = s.o_orderstatus, o_totalprice = s.o_totalprice
                    |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      case "update" =>
        spark.sql(s"UPDATE graft.main.lineitem SET l_linestatus = 'U' WHERE ${range("l_orderkey")}")
      case "delete" =>
        spark.sql(s"DELETE FROM graft.main.orders WHERE ${range("o_orderkey")}")
      case "delete_mor" =>
        graft.sources.ObjectStoreMaintenance.deleteMoR(dir("lineitem"), filters("l_orderkey"))
      case "update_mor" =>
        graft.sources.ObjectStoreMaintenance.updateMoR(dir("orders"), filters("o_orderkey"),
          Map("o_orderpriority" -> "0-MOR"))
      case "stream_merge" => streamMerge(id)
      case "compact" =>
        graft.sources.ObjectStoreMaintenance.compact(spark, dir("lineitem"), 8)
      case "read" =>
        val sql = op.get("sql").asText()
          .replace("{v_merge}", vMerge.toString)
        sink(id, spark.sql(sql))
    }
  }

  /** Change feed of `orders` since the ingest, netted per key (latest
    * version wins; an insert beats a delete of the same version) and
    * MERGEd into the mirror in one AvailableNow trigger. */
  private def streamMerge(id: String): Unit = {
    val cols = spark.table("graft.main.orders").columns.toSeq
    val q = spark.readStream.format("graft-objects")
      .option("changeFeed", "true").option("startingVersion", v0.toString)
      .load(dir("orders"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = Window.partitionBy(col("o_orderkey"))
          .orderBy(col("_version").desc,
            when(col("_change_type") === "insert", 1).otherwise(0).desc)
        batch.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn", "_version")
          .createOrReplaceTempView("pb_cdc_net")
        batch.sparkSession.sql(
          s"""MERGE INTO graft.main.orders_mirror m
             |USING pb_cdc_net n ON m.o_orderkey = n.o_orderkey
             |WHEN MATCHED AND n._change_type = 'delete' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET ${cols.map(c => s"m.$c = n.$c").mkString(", ")}
             |WHEN NOT MATCHED AND n._change_type = 'insert' THEN
             |  INSERT (${cols.mkString(", ")}) VALUES (${cols.map("n." + _).mkString(", ")})
             |""".stripMargin)
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory(
        Paths.get(work), "cdc-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    rec.streamStarted(q.runId.toString, rec.currentTag)
    q.awaitTermination()
    rec.expectStreamBatches(q.runId.toString, q.recentProgress.length)
  }

  /** Untimed bookkeeping after each write: bytes and objects it wrote,
    * and the versions the read-backs and the version count need. */
  override def afterOp(op: JsonNode, pass: Int): Unit = {
    val kind = op.get("kind").asText()
    val tag = s"pb/$pass/${op.get("id").asText()}"
    if (writeKinds(kind)) {
      val after = files()
      val written = after.filter { case (p, st) => !before.get(p).contains(st) }
      rec.add(tag, "write.bytes", written.values.map(_._1).sum)
      rec.add(tag, "write.objects_created",
        written.keys.count(p => !before.contains(p) && rec.isObject(new File(p))))
    }
    kind match {
      case "ingest" =>
        v0 = version("orders")
        passInfo("ingest_bytes") = Map("orders" -> dirBytes(dir("orders")),
          "lineitem" -> dirBytes(dir("lineitem")))
        passInfo("versions_start") = version("orders") + version("lineitem")
      case "merge" => vMerge = version("orders")
      case _ =>
    }
    if (op == lastOp) {
      rec.add(tag, "write.versions",
        version("orders") + version("lineitem") - passInfo("versions_start").asInstanceOf[Int])
      passInfo("end_bytes") = Map("orders" -> dirBytes(dir("orders")),
        "lineitem" -> dirBytes(dir("lineitem")))
      infoMap(s"pass_$pass") = passInfo.toMap.map { case (k, v) => k -> (v match {
        case m: Map[_, _] => m.asJava
        case x => x
      }) }.asJava
    }
  }

  private lazy val lastOp: JsonNode = spec.get("ops").elements().asScala.toSeq.last
}
