package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sources.{GraftAggRowsPartition, GraftClusteredPartition, GraftObjectPartition}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark harness JVM. Drives graft only through its public entry
  * points (SparkEntry, Tables.objectStoreRoot, ObjectStoreIngest,
  * ObjectStoreMaintenance, SQL through the `graft` catalog) and measures
  * every layer from outside: wall/CPU/io around each call, Spark's
  * listener events, and the executed plans' SQL metrics.
  *
  * Usage: perfbench.Main <spec.json>... The spec (written by run.py)
  * carries the generated inputs and constants, the operation list and
  * the measuring window; the result JSON is written to `spec.out`.
  *
  * Every operation runs inside a job group `pb/<pass>/<op>`, so events
  * delivered later on the listener bus are attributed to the operation
  * that caused them. Pass 0 is the untimed warm-up, which also writes
  * each result to parquet for the oracle compare; passes 1.. are timed.
  */
object Main {
  private val mapper = new ObjectMapper()

  /** Runs each spec in turn, each in a session of its own. */
  def main(args: Array[String]): Unit = args.foreach(run)

  private def run(specPath: String): Unit = {
    val spec = mapper.readTree(new File(specPath))
    val workload = spec.get("workload").asText()
    val cores = spec.get("cores").asInt()
    val work = spec.get("work_dir").asText()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.root", s"$work/catalog")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config(posture(spec))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val rec = new Recorder(spec.get("trace").asBoolean())
    // the plan listener's bus must precede rec.spark on the shared queue:
    // rec.spark binds each plan record to the execution end that follows
    spark.listenerManager.register(rec.plans)
    spark.sparkContext.addSparkListener(rec.spark)
    spark.streams.addListener(rec.streams)

    val ops = spec.get("ops").elements().asScala.toSeq
    val impl = Workloads(workload, spark, spec, rec)
    impl.setup()

    // warm-up (untimed; part of set-up): codegen, JIT and shared
    // intermediates. Its first pass also writes every result for the
    // oracle compare.
    impl.verifyTo = Some(spec.get("verify_dir").asText())
    runPass(impl, rec, ops, pass = 0, traced = false)
    impl.verifyTo = None
    (1 until spec.get("warmup_passes").asInt())
      .foreach(_ => runPass(impl, rec, ops, pass = 0, traced = false))
    val setupEndMs = System.currentTimeMillis()
    // untimed: collect warm-up garbage so it does not land inside the
    // timed window
    System.gc()

    val seconds = spec.get("seconds").asDouble()
    val trace = spec.get("trace").asBoolean()
    val t0 = System.nanoTime()
    var pass = 1
    // whole passes, at least the workload's minimum. A traced run traces
    // passes in the order untraced, traced, traced, untraced (repeating),
    // so the JIT's warming across the run cancels out of the tracing
    // overhead; it makes at least four.
    val minPasses = if (trace) 4 else spec.get("min_passes").asInt()
    while (pass <= minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      runPass(impl, rec, ops, pass, traced = trace && (pass % 4 == 2 || pass % 4 == 3))
      pass += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9

    rec.drain()
    System.gc(); System.gc()
    val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    val out = mapper.createObjectNode()
    out.put("setup_end_ms", setupEndMs)
    out.put("jvm_start_ms", ManagementFactory.getRuntimeMXBean.getStartTime)
    out.put("session_ready_ms", sessionReadyMs)
    out.put("window_s", windowS)
    out.put("heap_live_bytes", heapLive)
    out.put("spark_version", spark.version)
    val conf = out.putObject("conf")
    spark.conf.getAll.toSeq.sortBy(_._1).foreach { case (k, v) =>
      if (!k.contains("dir") && !k.endsWith(".root") && !k.contains("host"))
        conf.put(k, v)
    }
    out.set("ops", rec.opsJson(mapper))
    out.set("tags", rec.tagsJson(mapper))
    out.set("info", impl.info(mapper))
    val oracle = out.putObject("oracle_sql")
    ops.filter(_.get("kind").asText() == "query").map(_.get("name").asText())
      .foreach(n => graft.SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _)))
    if (trace) rec.writeSpans(mapper, spec.get("trace_out").asText())
    mapper.writeValue(new File(spec.get("out").asText()), out)
    spark.stop()
  }

  /** Spark settings of the measured posture (recorded in every result). */
  private def posture(spec: JsonNode): Map[String, String] =
    spec.get("spark_conf").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap

  private def runPass(impl: Workloads, rec: Recorder, ops: Seq[JsonNode],
      pass: Int, traced: Boolean): Unit = {
    impl.beforePass(pass)
    ops.foreach { op =>
      impl.beforeOp(op, pass)
      rec.timeOp(pass, op.get("id").asText(), traced)(impl.run(op, pass))
      impl.afterOp(op, pass)
    }
    rec.passDone(pass, traced)
  }
}

/** /proc/self readers: process CPU ticks and I/O character counters. */
object Proc {
  private val hz = 100.0 // Linux USER_HZ

  /** (utime, stime) seconds of the whole process. */
  def cpu(): (Double, Double) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      .split("\\) ").last.split(" ")
    (f(11).toDouble / hz, f(12).toDouble / hz)
  }

  def io(): Map[String, Long] =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala.map { l =>
      val Array(k, v) = l.split(":\\s*")
      k -> v.trim.toLong
    }.toMap

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
}

/** One span of the trace: a layer's interval inside an operation. */
case class Span(tag: String, layer: String, name: String, start: Long,
    end: Long, attrs: Map[String, Any])

/** Collects per-operation counters from listener events and the
  * driver loop. Keys: `tag` = `pb/<pass>/<op>`. */
class Recorder(trace: Boolean) {
  private val counters = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
  private val jobSpans = new ConcurrentHashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val scans = new ConcurrentHashMap[String, mutable.ArrayBuffer[Map[String, Any]]]()
  private val opRecords = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val passRecords = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val tracedPasses = ConcurrentHashMap.newKeySet[Int]()

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageScan = new ConcurrentHashMap[Int, Boolean]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val execTag = new ConcurrentHashMap[Long, String]()
  private val streamRunTag = new ConcurrentHashMap[String, String]()
  private val streamSeen = new ConcurrentHashMap[String, AtomicLong]()
  private val streamExpected = new ConcurrentHashMap[String, Long]()
  private val pendingPlans = new ConcurrentLinkedQueue[(Long, String => Unit)]()
  @volatile private var lastPlan: String => Unit = null
  private val events = new AtomicLong()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()
  private val execStarted = new AtomicLong()
  private val execEnded = new AtomicLong()
  @volatile var currentTag: String = "pb/0/none"

  def add(tag: String, k: String, v: Double): Unit = {
    val m = counters.computeIfAbsent(tag, _ => mutable.Map.empty[String, Double])
    m.synchronized { m.update(k, m.getOrElse(k, 0.0) + v) }
  }
  def add(tag: String, k: String, v: Long): Unit = add(tag, k, v.toDouble)

  private def span(s: Span): Unit = if (trace) spans.add(s)

  /** Events are keyed by the job group they ran under: `pb/<pass>/<op>`
    * for the operation's own thread, the run id for a streaming query's
    * micro-batches (resolved to the operation that ran the query). */
  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def resolve(group: String): Option[String] =
    if (group.startsWith("pb/")) Some(group) else Option(streamRunTag.get(group))

  private def isTraced(tag: String): Boolean =
    trace && tracedPasses.contains(tag.split('/')(1).toInt)

  /** Runs one operation inside its job group and records wall, CPU, I/O. */
  def timeOp(pass: Int, op: String, traced: Boolean)(body: => Unit): Unit = {
    val tag = s"pb/$pass/$op"
    if (traced) tracedPasses.add(pass)
    val sc = SparkSession.active.sparkContext
    currentTag = tag
    sc.setJobGroup(tag, tag)
    val io0 = Proc.io(); val (u0, s0) = Proc.cpu()
    val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val err = try { body; None } catch {
      case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString).take(300))
    }
    val n1 = System.nanoTime(); val w1 = System.currentTimeMillis()
    val (u1, s1) = Proc.cpu(); val io1 = Proc.io()
    sc.clearJobGroup()
    err.foreach(e => System.err.println(s"[perfbench] $tag failed: $e"))
    opRecords.add(Map("tag" -> tag, "pass" -> pass, "op" -> op,
      "start_ms" -> w0, "end_ms" -> w1, "wall_ms" -> (n1 - n0) / 1e6,
      "utime_s" -> (u1 - u0), "stime_s" -> (s1 - s0),
      "rchar" -> (io1("rchar") - io0("rchar")),
      "ok" -> err.isEmpty, "error" -> err.getOrElse("")))
    span(Span(tag, "op", op, w0, w1, Map("pass" -> pass)))
  }

  /** Times a sub-call of an operation (write calls) as its own span. */
  def sub[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally span(Span(currentTag, layer, name, t0,
      System.currentTimeMillis(), Map.empty))
  }

  private val passCpu = mutable.Map.empty[Int, (Double, Double, Long)]
  def beforePass(pass: Int): Unit = {
    val (u, s) = Proc.cpu()
    passCpu(pass) = (u, s, Proc.gcMs())
  }

  def passDone(pass: Int, traced: Boolean): Unit = {
    val (u0, s0, g0) = passCpu(pass)
    val (u1, s1) = Proc.cpu()
    val stored = SparkSession.active.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    passRecords.add(Map("pass" -> pass, "traced" -> traced,
      "utime_s" -> (u1 - u0), "stime_s" -> (s1 - s0),
      "gc_ms" -> (Proc.gcMs() - g0), "cache_stored_bytes" -> stored))
  }

  /** Attributes a streaming query's micro-batches to operation `tag`. */
  def streamStarted(runId: String, tag: String): Unit = streamRunTag.put(runId, tag)

  /** The number of progress events the run must deliver before drain. */
  def expectStreamBatches(runId: String, n: Long): Unit = streamExpected.put(runId, n)

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet(); jobsStarted.incrementAndGet()
      tagOf(e.properties).foreach { t =>
        jobTag.put(e.jobId, t)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet(); jobsEnded.incrementAndGet()
      Option(jobTag.get(e.jobId)).foreach { t =>
        val s = jobStart.get(e.jobId)
        add(t, "sched.jobs", 1)
        jobSpans.computeIfAbsent(t, _ => mutable.ArrayBuffer.empty)
          .synchronized { jobSpans.get(t) += ((s, e.time)) }
        span(Span(t, "job", s"job ${e.jobId}", s, e.time, Map("job" -> e.jobId)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      val si = e.stageInfo
      tagOf(e.properties).foreach { t =>
        stageTag.put(si.stageId, t)
        stageSubmit.put(si.stageId, si.submissionTime.getOrElse(System.currentTimeMillis()))
        stageScan.put(si.stageId, si.rddInfos.exists(r =>
          r.name == "DataSourceRDD" || r.name == "FileScanRDD"))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val si = e.stageInfo
      Option(stageTag.get(si.stageId)).foreach { t =>
        add(t, "sched.stages", 1)
        if (trace) {
          val m = si.taskMetrics
          val a = Map[String, Any]("stage" -> si.stageId,
            "job" -> stageJob.getOrDefault(si.stageId, -1),
            "tasks" -> si.numTasks, "scan" -> stageScan.getOrDefault(si.stageId, false),
            "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
            "run_ms" -> (if (m == null) 0L else m.executorRunTime),
            "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
            "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
          span(Span(t, "stage", s"stage ${si.stageId}",
            stageSubmit.getOrDefault(si.stageId, 0L),
            si.completionTime.getOrElse(System.currentTimeMillis()), a))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val t = stageTag.get(e.stageId)
      val m = e.taskMetrics
      if (t != null && m != null) {
        add(t, "sched.tasks", 1)
        add(t, "sched.launch_delay_ms",
          math.max(0L, e.taskInfo.launchTime - stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)))
        val cpu = m.executorCpuTime / 1e6
        add(t, "task.cpu_ms", cpu)
        add(t, "task.run_ms", m.executorRunTime)
        add(t, "task.gc_ms", m.jvmGCTime)
        val sr = m.shuffleReadMetrics
        add(t, "shuffle.read_bytes", sr.totalBytesRead)
        add(t, "shuffle.local_read_bytes", sr.localBytesRead)
        add(t, "shuffle.fetch_wait_ms", sr.fetchWaitTime)
        add(t, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(t, "spill.bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
        add(t, "input.bytes", m.inputMetrics.bytesRead)
        if (stageScan.getOrDefault(e.stageId, false)) {
          add(t, "scan.stage_cpu_ms", cpu)
          add(t, "scan.stage_run_ms", m.executorRunTime)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.incrementAndGet(); execStarted.incrementAndGet()
        s.jobGroupId.foreach(t => execTag.put(s.executionId, t))
      case s: SparkListenerSQLExecutionEnd =>
        events.incrementAndGet(); execEnded.incrementAndGet()
        val p = lastPlan
        lastPlan = null
        if (p != null) pendingPlans.add((s.executionId, p))
      case _ =>
    }
  }

  private object Walk extends AdaptiveSparkPlanHelper

  /** Whether `f` is an object file (`<table>.<n>`) of its table directory. */
  def isObject(f: File): Boolean =
    f.isFile && f.getName.matches(java.util.regex.Pattern.quote(f.getParentFile.getName) + "\\.\\d+")

  /** Object files in a graft-objects table directory. */
  def objectsIn(dir: String): Int =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).count(isObject)

  /** Objects a graft input partition reads: one per object partition,
    * every path of a clustered one, and for a footer-answered aggregate
    * one per footer row (objects whose footer answered; none decoded).
    * Other sources' partitions count one each. */
  private def objectsRead(p: InputPartition): Int = p match {
    case _: GraftObjectPartition => 1
    case c: GraftClusteredPartition => c.paths.size
    case a: GraftAggRowsPartition => a.rows.size
    case _ => 1
  }

  private def base(name: String): String = {
    val last = name.split('/').last
    last.takeWhile(_ != '@').stripSuffix(".parquet")
  }

  /** Planning phases and scan-node metrics of every executed query. */
  val plans: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = {
      events.incrementAndGet()
      val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
      val plan = qe.executedPlan
      val scanRows = Walk.collectWithSubqueries(plan) {
        case b: BatchScanExec => Map[String, Any]("kind" -> "v2",
          "table" -> base(b.table.name()),
          "rows_out" -> b.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
          "listed" -> objectsIn(b.table.name().split(":", 2).last.takeWhile(_ != '@')),
          "scanned" -> b.inputPartitions.map(objectsRead).sum,
          "footer_only" -> b.inputPartitions.exists(_.isInstanceOf[GraftAggRowsPartition]))
        case f: FileSourceScanExec => Map[String, Any]("kind" -> "file",
          "table" -> f.relation.location.rootPaths.headOption.map(p => base(p.toString)).getOrElse("?"),
          "rows_out" -> f.metrics.get("numOutputRows").map(_.value).getOrElse(0L),
          "listed" -> f.relation.location.inputFiles.length,
          "scanned" -> f.metrics.get("numFiles").map(_.value).getOrElse(0L))
      }
      val cached = Walk.collectWithSubqueries(plan) { case i: InMemoryTableScanExec => i }.size
      lastPlan = { (t: String) =>
        phases.get("analysis").foreach(p => add(t, "plan.analysis_ms", p._2 - p._1))
        phases.get("optimization").foreach(p => add(t, "plan.optimize_ms", p._2 - p._1))
        phases.get("planning").foreach(p => add(t, "plan.physical_ms", p._2 - p._1))
        add(t, "cache.cached_scans", cached)
        add(t, "plan.executions", 1)
        scans.computeIfAbsent(t, _ => mutable.ArrayBuffer.empty)
          .synchronized { scans.get(t) ++= scanRows }
        phases.foreach { case (k, (s, e)) => span(Span(t, "plan", k, s, e, Map.empty)) }
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val run = p.runId.toString
      streamSeen.computeIfAbsent(run, _ => new AtomicLong()).incrementAndGet()
      val t = run
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      add(t, "stream.batches", 1)
      add(t, "stream.batch_ms", dur)
      add(t, "stream.rows", p.numInputRows)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      span(Span(t, "stream", s"batch ${p.batchId}", start, start + dur,
        Map("rows" -> p.numInputRows)))
    }
  }

  /** Waits until the listener bus has delivered every event of the run:
    * jobs and SQL executions balanced, every executed plan and expected
    * stream batch seen, and no new event for a quiet period. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    var last = -1L
    var quietSince = System.currentTimeMillis()
    def balanced = jobsStarted.get == jobsEnded.get &&
      execStarted.get == execEnded.get &&
      streamExpected.asScala.forall { case (r, n) =>
        Option(streamSeen.get(r)).exists(_.get >= n) }
    while (System.currentTimeMillis() < deadline &&
        !(balanced && System.currentTimeMillis() - quietSince > 300)) {
      val n = events.get
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
    pendingPlans.asScala.foreach { case (id, apply) =>
      Option(execTag.get(id)).foreach(apply)
    }
  }

  private def toJson(m: ObjectMapper, v: Any): JsonNode = v match {
    case x: Map[_, _] =>
      val o = m.createObjectNode()
      x.foreach { case (k, vv) => o.set[JsonNode](k.toString, toJson(m, vv)) }
      o
    case x: Iterable[_] =>
      val a = m.createArrayNode(); x.foreach(vv => a.add(toJson(m, vv))); a
    case x: Product if x.productArity == 2 => toJson(m, Seq(x.productElement(0), x.productElement(1)))
    case x => m.valueToTree[JsonNode](x.asInstanceOf[AnyRef])
  }

  def opsJson(m: ObjectMapper): JsonNode =
    toJson(m, Map("ops" -> opRecords.asScala.toSeq, "passes" -> passRecords.asScala.toSeq))

  /** Per-operation counters, job intervals and scan records, with every
    * job group resolved to its operation. */
  def tagsJson(m: ObjectMapper): JsonNode = {
    val groups = (counters.keySet.asScala ++ jobSpans.keySet.asScala ++ scans.keySet.asScala).toSeq
    val byTag = groups.flatMap(g => resolve(g).map(_ -> g)).groupBy(_._1)
    toJson(m, byTag.map { case (t, gs) =>
      val cs = mutable.Map.empty[String, Double]
      gs.foreach { case (_, g) => Option(counters.get(g)).foreach(_.foreach { case (k, v) =>
        cs(k) = cs.getOrElse(k, 0.0) + v }) }
      t -> Map(
        "counters" -> cs.toMap,
        "jobs" -> gs.flatMap { case (_, g) => Option(jobSpans.get(g)).map(_.toSeq).getOrElse(Nil) },
        "scans" -> gs.flatMap { case (_, g) => Option(scans.get(g)).map(_.toSeq).getOrElse(Nil) })
    })
  }

  /** The spans of the traced passes, each under its operation's tag. */
  def writeSpans(m: ObjectMapper, path: String): Unit = {
    val arr = spans.asScala.toSeq.flatMap(s => resolve(s.tag).filter(isTraced).map(t => s.copy(tag = t)))
      .sortBy(s => (s.start, -s.end)).map { s =>
        Map("tag" -> s.tag, "layer" -> s.layer, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs)
      }
    m.writeValue(new File(path), toJson(m, arr))
  }
}
