package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor

import graft.{RedshiftAutoSchema, SparkEntry}
import graft.inference.FooterProfiler

/** The benchmark's client: one closed loop in one JVM, driving the
  * program only through its public surface -- the
  * [[graft.RedshiftAutoSchema]] facade and [[graft.SparkEntry.queries]].
  *
  * Usage: Driver <plan.json> <result.json>. `run.py` writes the plan
  * (workload, seed-ordered operations, window length, trace flag) and
  * reads the result; all metric arithmetic and output checks live there.
  *
  * Phases of a run:
  *   1. set-up: SparkSession plus one fixed warm-up operation; its end
  *      time closes `setup_s`;
  *   2. gate_light only: the untimed check pass, which dumps every
  *      listed query's output as parquet for the DuckDB compare and
  *      warms every plan;
  *   3. one untimed pass over the operations;
  *   4. untraced: the timed window -- whole passes over the operations
  *      in seed order, one at a time, ending on the first pass boundary
  *      after the window, so every run measures each input equally
  *      often; each pass records its own wall and CPU time;
  *      traced: an untraced pass over the operation set, then the same
  *      pass with spans, listeners and counters on.
  */
object Driver {
  private val mapper = new ObjectMapper()
  private val SpanKey = "perfbench.span"

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    val cores = plan.get("cores").asInt
    val spark = session(plan, cores)
    val work = workload(spark, plan)
    work.setUp()
    out.put("setup_end_ms", System.currentTimeMillis())
    out.put("cores", cores)
    out.put("default_parallelism", spark.sparkContext.defaultParallelism)
    work.check(out)
    // one untimed pass: the JIT is still compiling Spark's planning code
    // and the generated code long after set-up (on 4 cores the first pass
    // after set-up took 1.2-1.4x the third)
    work.ops.foreach(o => timed(o, Tracer.Off))
    if (plan.get("trace").asBoolean) traced(spark, work, out)
    else window(work, plan.get("seconds").asDouble, out)
    mapper.writeValue(new File(args(1)), out)
    spark.stop()
  }

  /** The session the program's own bench uses, with every scratch
    * directory inside the run's working area. */
  private def session(plan: JsonNode, cores: Int): SparkSession = {
    val work = plan.get("work_dir").asText
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---- operations ------------------------------------------------------

  /** One operation: `run` performs it, opening call spans through `t`,
    * and returns the outputs the checker needs (or null). */
  final case class Op(name: String, module: String, run: Tracer => ObjectNode)

  trait Workload {
    def ops: IndexedSeq[Op]
    /** The fixed set-up operation that closes `setup_s`. */
    def setUp(): Unit
    def check(out: ObjectNode): Unit = ()
    /** Per-op facts counted outside any timed window. */
    def describe(op: Op, rec: ObjectNode): Unit = ()
  }

  private def workload(spark: SparkSession, plan: JsonNode): Workload = {
    val name = plan.get("workload").asText
    val ops = plan.get("ops").asScala.toIndexedSeq
    val warmOp = plan.get("warmup")
    if (name == "land") new Landing(spark, ops, warmOp)
    else new Gate(spark, ops, warmOp, plan.get("data_dir").asText,
      plan.get("check_dir").asText)
  }

  /** The README flow on one landed file, against a planted deployed
    * frame: construct -> load -> metadata -> table DDL -> diff collect
    * -> column DDL. */
  final class Landing(spark: SparkSession, specs: Seq[JsonNode],
                      warmSpec: JsonNode) extends Workload {
    import spark.implicits._

    private def op(spec: JsonNode): Op = {
      val deployed = spec.get("deployed").asScala.toSeq
        .map(r => (r.get(0).asText, r.get(1).asText))
        .toDF("field", "deployed_type")
      val path = spec.get("path").asText
      Op(spec.get("name").asText, "facade", t => {
        val ras = new RedshiftAutoSchema(spark, "perfbench",
          spec.get("table").asText, file = Some(path),
          deployed = Some(deployed))
        t.span("load")(ras.getColumnList)
        val meta = t.span("metadata")(ras.metadata)
        val ddl = t.span("table_ddl")(ras.generateTableDdl())
        val diff = t.span("diff")(ras.evaluateTableDdlDiffs().collect())
        val colDdl = t.span("column_ddl")(ras.generateColumnDdl())
        val o = mapper.createObjectNode()
        val m = o.putArray("metadata")
        meta.getOrElse(Nil).foreach { c =>
          m.addArray().add(c.field).add(c.proposedName)
        }
        o.put("table_ddl", ddl.orNull)
        val d = o.putArray("diffs")
        diff.foreach { r =>
          val a = d.addArray()
          (0 until 4).foreach(i => a.add(r.getString(i)))
        }
        o.put("column_ddl", colDdl.orNull)
        o
      })
    }

    val ops: IndexedSeq[Op] = specs.map(op).toIndexedSeq
    private val warmOp = op(warmSpec)
    def setUp(): Unit = warmOp.run(Tracer.Off)

    override def describe(o: Op, rec: ObjectNode): Unit = {
      val path = specs.find(_.get("name").asText == o.name).get
        .get("path").asText
      if (path.endsWith(".parquet")) {
        val schema = spark.read.parquet(path).schema
        val decided = FooterProfiler.footerProfiles(spark, path, schema)
          .map(_._2.count(_.isDefined)).getOrElse(0)
        rec.put("footer_decided", decided)
      } else rec.put("footer_decided", 0)
    }
  }

  /** Declared gate queries through the `noop` sink: build (the query
    * function, including operators' eager actions) then exec. */
  final class Gate(spark: SparkSession, specs: Seq[JsonNode],
                   warmSpec: JsonNode, dataDir: String, checkDir: String)
      extends Workload {
    private val names = (specs :+ warmSpec).map(_.get("name").asText).distinct
    private val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"gate list names queries SparkEntry.queries lacks: ${missing.mkString(",")}")

    private def op(spec: JsonNode): Op = {
      val name = spec.get("name").asText
      val fn = SparkEntry.queries(name)
      Op(name, spec.get("module").asText, t => {
        val df = t.span("build")(fn(spark, dataDir))
        t.span("exec")(df.write.format("noop").mode("overwrite").save())
        null
      })
    }

    val ops: IndexedSeq[Op] = specs.map(op).toIndexedSeq
    private val warmOp = op(warmSpec)
    def setUp(): Unit = warmOp.run(Tracer.Off)

    /** Untimed, so the queries run `cores` at a time: the pass exists
      * to dump outputs and warm every plan, not to be measured. On 4
      * cores it takes about 15 s this way and 26 s one query at a time. */
    override def check(out: ObjectNode): Unit = {
      val errs = out.putObject("check_errors")
      val sql = out.putObject("oracle_sql")
      names.foreach(n => sql.put(n, SparkEntry.oracleSql.getOrElse(n, null)))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        spark.sparkContext.defaultParallelism)
      try {
        val pending = names.map { n =>
          n -> pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = SparkEntry.queries(n)(spark, dataDir)
              .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
          })
        }
        pending.foreach { case (n, f) =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              errs.put(n, String.valueOf(e.getCause))
          }
        }
      } finally pool.shutdown()
    }
  }

  // ---- untraced window -----------------------------------------------

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Runs `op` once; returns its record (name, seconds, ok, outputs). */
  private def timed(op: Op, t: Tracer): ObjectNode = {
    val rec = mapper.createObjectNode().put("name", op.name)
      .put("module", op.module)
    val t0 = System.nanoTime()
    try {
      val o = op.run(t)
      rec.put("s", (System.nanoTime() - t0) / 1e9).put("ok", true)
      if (o != null) rec.set[JsonNode]("out", o)
    } catch {
      case NonFatal(e) =>
        rec.put("s", (System.nanoTime() - t0) / 1e9).put("ok", false)
          .put("error", String.valueOf(e))
    }
    rec
  }

  private def window(w: Workload, seconds: Double, out: ObjectNode): Unit = {
    val recs = mapper.createArrayNode()
    val passes = mapper.createArrayNode()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      val cpu0 = cpuNanos()
      val t0 = System.nanoTime()
      w.ops.foreach(o => recs.add(timed(o, Tracer.Off)))
      passes.addObject()
        .put("wall_s", (System.nanoTime() - t0) / 1e9)
        .put("cpu_s", (cpuNanos() - cpu0) / 1e9)
    } while (System.nanoTime() < deadline)
    val win = out.putObject("window")
    win.set[JsonNode]("passes", passes)
    win.set[JsonNode]("ops", recs)
  }

  // ---- traced run ------------------------------------------------------

  /** Span recorder. Each call span sets the `perfbench.span` local
    * property, so every Spark job the call submits carries its parent. */
  class Tracer(spark: SparkSession) {
    val spans: ArrayNode = mapper.createArrayNode()
    private var nextId = 0L
    private var opSpan = -1L
    private def nowUs(): Long = {
      val i = java.time.Instant.now()
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    private def record(id: Long, parent: Long, name: String, s: Long,
                       e: Long): Unit =
      spans.addObject().put("id", id).put("parent", parent).put("name", name)
        .put("start_us", s).put("end_us", e)

    def op[T](name: String)(body: => T): (Long, T) = {
      nextId += 1
      opSpan = nextId
      spark.sparkContext.setLocalProperty(SpanKey, opSpan.toString)
      val s = nowUs()
      val r = try body finally record(opSpan, -1L, name, s, nowUs())
      (opSpan, r)
    }

    def span[T](name: String)(body: => T): T = {
      nextId += 1
      val id = nextId
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, id.toString)
      val s = nowUs()
      try body finally {
        record(id, opSpan, name, s, nowUs())
        sc.setLocalProperty(SpanKey, opSpan.toString)
      }
    }
  }

  object Tracer {
    object Off extends Tracer(null) {
      override def op[T](name: String)(body: => T): (Long, T) = (-1L, body)
      override def span[T](name: String)(body: => T): T = body
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def traced(spark: SparkSession, w: Workload,
                     out: ObjectNode): Unit = {
    val tr = out.putObject("trace")
    val facts = tr.putObject("facts")
    w.ops.foreach(o => w.describe(o, facts.putObject(o.name)))

    // after the untimed pass, the same operation set twice: untraced,
    // then traced
    val plain = mapper.createArrayNode()
    val u0 = System.nanoTime()
    w.ops.foreach(o => plain.add(timed(o, Tracer.Off)))
    tr.put("untraced_s", (System.nanoTime() - u0) / 1e9)
    tr.set[JsonNode]("untraced_ops", plain)

    val sc = spark.sparkContext
    // events still queued from the untraced pass must not reach the
    // recorder and be charged to the first traced operation
    PerfbenchBridge.drainListenerBus(sc)
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    val tracer = new Tracer(spark)
    val ops = mapper.createArrayNode()
    val t0 = System.nanoTime()
    w.ops.foreach { o =>
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgNs0 = CodeGenerator.compileTime
      val gc0 = gcMillis()
      val rules0 = RuleExecutor.getCurrentMetrics().time
      val (id, r) = tracer.op(o.name)(timed(o, tracer))
      PerfbenchBridge.drainListenerBus(sc)
      r.put("span", id)
        .put("rule_ms", (RuleExecutor.getCurrentMetrics().time - rules0) / 1e6)
        .put("codegen_compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
        .put("codegen_ns", CodeGenerator.compileTime - cgNs0)
        .put("gc_ms", gcMillis() - gc0)
      rec.drainInto(r)
      ops.add(r)
    }
    tr.put("traced_s", (System.nanoTime() - t0) / 1e9)
    sc.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
    tr.set[JsonNode]("ops", ops)
    tr.set[JsonNode]("spans", tracer.spans)
    tr.put("heap_peak_mb",
      heap.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0))
  }

  /** Spark's own public listener plus a QueryExecutionListener. Events
    * arrive on the listener-bus thread; the traced loop drains the bus
    * after every operation and moves what arrived into the op record.
    *
    * The QueryExecutionListener sees only executed actions, so it
    * supplies their physical-planning phase alone. Analysis and
    * optimizer time come from Spark's global rule metering
    * (`RuleExecutor.getCurrentMetrics`, read around each operation),
    * which also covers the eager analysis of every intermediate Dataset
    * an operation builds. */
  final class Recorder extends org.apache.spark.scheduler.SparkListener
      with org.apache.spark.sql.util.QueryExecutionListener {
    import org.apache.spark.scheduler._
    private val jobs = mapper.createArrayNode()
    private val stages = mapper.createArrayNode()
    private val jobSpan = scala.collection.mutable.Map.empty[Int, Long]
    private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
    private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    private var taskFailures = 0L
    private var physicalPlanningMs = 0.0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      jobSpan(e.jobId) = span.map(_.toLong).getOrElse(-1L)
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.addObject().put("id", e.jobId).put("span", jobSpan(e.jobId))
        .put("start_ms", jobStart(e.jobId)).put("end_ms", e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        val s = stages.addObject().put("id", si.stageId)
          .put("job", stageJob.getOrElse(si.stageId, -1))
          .put("start_ms", si.submissionTime.getOrElse(0L))
          .put("end_ms", si.completionTime.getOrElse(0L))
          .put("tasks", si.numTasks)
        if (m != null) s
          .put("run_ms", m.executorRunTime)
          .put("cpu_ns", m.executorCpuTime)
          .put("input_b", m.inputMetrics.bytesRead)
          .put("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
          .put("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
          .put("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
          .put("result_b", m.resultSize)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.reason != org.apache.spark.Success) taskFailures += 1
    }

    private def phases(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      synchronized {
        physicalPlanningMs += qe.tracker.phases
          .get(QueryPlanningTracker.PLANNING).map(_.durationMs).getOrElse(0L)
      }
    override def onSuccess(f: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           ns: Long): Unit = phases(qe)
    override def onFailure(f: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           e: Exception): Unit = phases(qe)

    def drainInto(r: ObjectNode): Unit = synchronized {
      r.set[JsonNode]("jobs", jobs.deepCopy())
      r.set[JsonNode]("stages", stages.deepCopy())
      r.put("task_failures", taskFailures)
        .put("physical_planning_ms", physicalPlanningMs)
      jobs.removeAll(); stages.removeAll()
      taskFailures = 0; physicalPlanningMs = 0.0
    }
  }
}
