package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** JVM side of the graft benchmark: one closed-loop client, one query at
  * a time, driven through graft's public entry points only
  * (`SparkEntry.queries`, `PigScript.run`, `PigParser.parseScript`).
  *
  * Invoked by `perfbench/run.py` with one argument, a `key=value` config
  * file. The workload file holds one query per line:
  * `name<TAB>entry` for a `SparkEntry.queries` row, or
  * `name<TAB>pig<TAB>alias<TAB>base64(script)` for a generated Pig script.
  *
  * Sequence: session → warm-up pass (each result is written as parquet
  * for the DuckDB check, outside the timed window) → `warm_passes`
  * untimed passes → `passes` timed
  * passes (a full GC and heap reading after each) → oracle SQL export. With
  * `trace=1` the timed passes alternate untraced and traced, so the
  * tracing overhead is measured inside the same process; per-layer
  * figures come from the traced passes only. Results go to `out` as
  * JSON; run.py turns them into metrics. */
object GraftBench {

  final case class Query(name: String, kind: String, alias: String, script: String)

  final case class Exec(id: Long, pass: Int, traced: Boolean, name: String,
                        startMs: Double, constructS: Double, planS: Double,
                        execS: Double, parseS: Double, pins: Int,
                        nodes: Int, ok: Boolean, err: String) {
    def totalS: Double = constructS + planS + execS
  }

  def main(args: Array[String]): Unit = {
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val conf = Files.readAllLines(Paths.get(args(0)), UTF_8).asScala
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
    val sfDir = conf("sf")
    val cpus = conf("cpus")
    val nPasses = conf("passes").toInt
    val seed = conf("seed").toLong
    val trace = conf("trace") == "1"
    val resultsDir = conf("results")
    val queries = Files.readAllLines(Paths.get(conf("workload")), UTF_8)
      .asScala.filter(_.nonEmpty).map { l =>
        l.split("\t", -1) match {
          case Array(n, "entry") => Query(n, "entry", "", "")
          case Array(n, "pig", alias, b64) =>
            Query(n, "pig", alias,
              new String(java.util.Base64.getDecoder.decode(b64), UTF_8))
          case other => sys.error(s"bad workload line: ${other.mkString("|")}")
        }
      }.toVector

    val sessionT0 = System.nanoTime()
    // the posture graft.Bench runs under, plus this run's own local dir
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config(graft.streaming.NioCheckpointFileManager.ConfKey,
        graft.streaming.NioCheckpointFileManager.ConfValue)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf("local_dir"))
      .config("spark.sql.warehouse.dir", conf("warehouse_dir"))
      // cap the status store, so the retained heap does not grow with the
      // number of passes a run happens to fit
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)
    spark.sparkContext.addSparkListener(rec.sparkListener)
    spark.streams.addListener(rec.streamListener)
    val sessionS = (System.nanoTime() - sessionT0) / 1e9

    val entries = graft.SparkEntry.queries
    def build(q: Query): DataFrame = q.kind match {
      case "entry" => entries(q.name)(spark, sfDir)
      case _ => graft.piglatin.PigScript.run(spark, q.script).relation(q.alias)
    }
    def cleanup(): Unit = {
      graft.core.Intermediates.release()
      spark.sqlContext.clearCache()
    }

    // warm-up pass: JIT, codegen, ModelStore training; each result is
    // written out once for the correctness check
    val warmT0 = System.nanoTime()
    val warmErrors = mutable.LinkedHashMap.empty[String, String]
    queries.foreach { q =>
      try build(q).write.mode("overwrite").parquet(s"$resultsDir/${q.name}")
      catch { case e: Throwable => warmErrors(q.name) = msg(e) }
      finally cleanup()
    }
    // further untimed passes, so the timed ones start past the steep part
    // of the JIT warm-up
    for (pass <- 1 to conf("warm_passes").toInt; q <- queries) {
      val e = runOne(spark, rec, q, -pass, traced = false, 0L, build, cleanup)
      if (!e.ok) warmErrors.getOrElseUpdate(q.name, e.err)
    }
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val firstTimedMs = System.currentTimeMillis().toDouble

    // timed passes: a fixed number, so every run samples each query
    // equally often; run.py sizes it to the requested seconds
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double)]
    rec.startRun()
    for (pass <- 0 until nPasses) {
      // traced passes in an ABBA order (U T T U …), so the warm-up drift
      // of early passes does not land on one side of the overhead
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      rec.enabled = traced
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      val passSpan = rec.open("pass", s"pass$pass", rec.runSpan)
      val ps = System.nanoTime()
      order.foreach(q => execs += runOne(spark, rec, q, pass, traced, passSpan, build, cleanup))
      val wall = (System.nanoTime() - ps) / 1e9
      rec.close(passSpan)
      // heap retained after the pass, read after full GCs that stay
      // outside the pass's wall time; the pause lets the context cleaner
      // drop what the first GC released
      cleanup()
      System.gc(); Thread.sleep(100); System.gc()
      passes += ((pass, traced, wall, heapUsedMb()))
      // deliver the traced pass's listener events before the recorder is
      // switched off for the next pass
      if (traced) org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
    }
    rec.close(rec.runSpan)
    rec.enabled = false


    // oracles of data-dependent rows (IVF centroids) are generated in
    // process, as graft.Verify does; only when a selected row needs one
    val names = queries.filter(_.kind == "entry").map(_.name).toSet
    val static = graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }
    val oracles =
      if (static.size == names.size) static
      else {
        graft.queries.OracleContext.session = Some((spark, sfDir))
        graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      }

    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)

    val j = new Json
    j.obj {
      j.field("proc_start_ms", procStartMs)
      j.field("first_timed_ms", firstTimedMs)
      j.field("session_s", sessionS)
      j.field("warmup_s", warmupS)
      j.field("cores", spark.sparkContext.defaultParallelism.toDouble)
      j.key("warm_errors"); j.obj(warmErrors.foreach { case (k, v) => j.field(k, v) })
      j.key("oracles"); j.obj(oracles.foreach { case (k, v) => j.field(k, v) })
      j.key("passes"); j.arr(passes.foreach { case (p, t, s, h) =>
        j.obj {
          j.field("pass", p.toDouble); j.field("traced", t)
          j.field("wall_s", s); j.field("heap_mb", h)
        }
      })
      j.key("execs"); j.arr(execs.foreach { e =>
        j.obj {
          j.field("id", e.id.toDouble)
          j.field("pass", e.pass.toDouble); j.field("traced", e.traced)
          j.field("name", e.name); j.field("start_ms", e.startMs)
          j.field("construct_s", e.constructS); j.field("plan_s", e.planS)
          j.field("exec_s", e.execS); j.field("parse_s", e.parseS)
          j.field("total_s", e.totalS); j.field("pins", e.pins.toDouble)
          j.field("physical_nodes", e.nodes.toDouble)
          j.field("ok", e.ok); j.field("error", e.err)
        }
      })
      if (trace) rec.writeTrace(j)
    }
    Files.writeString(Paths.get(conf("out")), j.toString)
    spark.stop()
  }

  /** One timed query: construct → plan → last row (`toRdd.count()`, the
    * full projection, as graft.Bench counts). Cleanup runs after the
    * clock stops. */
  private def runOne(spark: SparkSession, rec: Recorder, q: Query, pass: Int,
                     traced: Boolean, passSpan: Long, build: Query => DataFrame,
                     cleanup: () => Unit): Exec = {
    val sc = spark.sparkContext
    val qSpan = rec.open("query", q.name, passSpan)
    rec.currentQuery = rec.execSeq.incrementAndGet()
    sc.setLocalProperty(Recorder.ExecProp, rec.currentQuery.toString)
    val startMs = System.currentTimeMillis().toDouble
    // the Pig front end's parse is split out only when traced; the
    // untraced path is exactly PigScript.run
    var parseS = 0.0
    if (traced && q.kind == "pig") {
      val sp = rec.phase("parse", qSpan)
      val p0 = System.nanoTime()
      graft.piglatin.PigParser.parseScript(q.script)
      parseS = (System.nanoTime() - p0) / 1e9
      rec.close(sp)
    }
    // seconds spent in construct, plan and exec; a failure's time goes to
    // the phase it failed in
    val phaseS = Array(0.0, 0.0, 0.0)
    var (phase, pins, nodes, err) = (0, 0, 0, "")
    def timed[T](name: String)(body: => T): T = {
      val sp = rec.phase(name, qSpan)
      val t0 = System.nanoTime()
      try body
      finally { phaseS(phase) = (System.nanoTime() - t0) / 1e9; rec.close(sp) }
    }
    try {
      val df = timed("construct")(build(q))
      if (traced) pins = graft.core.Intermediates.trackedCount
      phase = 1
      val plan = timed("plan")(df.queryExecution.executedPlan)
      if (traced) nodes = plan.collect { case n => n }.size
      phase = 2
      timed("exec")(df.queryExecution.toRdd.count())
    } catch { case e: Throwable => err = msg(e) }
    rec.closeOpenPhase()
    rec.close(qSpan)
    sc.setLocalProperty(Recorder.ExecProp, null)
    sc.setLocalProperty(Recorder.SpanProp, null)
    cleanup()
    Exec(rec.currentQuery, pass, traced, q.name, startMs, phaseS(0), phaseS(1),
      phaseS(2), parseS, pins, nodes, err.isEmpty, err)
  }

  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.take(3).mkString(" / ").take(500)
}

/** Span recorder and Spark/streaming listeners. Spans live in memory and
  * are written when the run ends. Jobs and stages are tied to their query
  * phase through local properties the benchmark sets on the submitting
  * thread (stream execution threads inherit them); micro-batches are tied
  * through the stream's run id, registered synchronously at start. When
  * `enabled` is false every callback returns at once. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  @volatile var enabled = false
  @volatile var currentQuery = 0L
  val execSeq = new AtomicLong(0)
  private val ids = new AtomicLong(0)
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  final class Span(val id: Long, val parent: Long, val kind: String,
                   val name: String, val startMs: Double, var endMs: Double,
                   val attrs: mutable.LinkedHashMap[String, Double])

  private val spans = new ConcurrentHashMap[Long, Span]()
  private var openPhase = 0L

  @volatile var runSpan = 0L
  /** Opens the run span; it covers the timed passes. */
  def startRun(): Unit = runSpan = newSpan("run", "run", 0L, nowMs, force = true)

  private def newSpan(kind: String, name: String, parent: Long, start: Double,
                      force: Boolean = false): Long =
    if (!enabled && !force) 0L
    else {
      val id = ids.incrementAndGet()
      spans.put(id, new Span(id, parent, kind, name, start, Double.NaN,
        mutable.LinkedHashMap.empty))
      id
    }

  def open(kind: String, name: String, parent: Long): Long =
    newSpan(kind, name, parent, nowMs)

  def close(id: Long): Unit = {
    val s = spans.get(id)
    if (s != null && s.endMs.isNaN) s.endMs = nowMs
  }

  /** Opens a query phase and makes it the parent of the jobs the current
    * thread submits until the next phase. */
  def phase(name: String, query: Long): Long = {
    closeOpenPhase()
    val id = open(name, name, query)
    openPhase = id
    spark.sparkContext.setLocalProperty(SpanProp, if (id == 0L) null else id.toString)
    id
  }

  def closeOpenPhase(): Unit = { close(openPhase); openPhase = 0L }

  // per query execution counters, traced passes only
  private val counters = new ConcurrentHashMap[Long, ConcurrentHashMap[String, Double]]()
  private def add(exec: Long, key: String, v: Double): Unit =
    counters.computeIfAbsent(exec, _ => new ConcurrentHashMap[String, Double]())
      .merge(key, v, (a: Double, b: Double) => a + b)

  private val jobOf = new ConcurrentHashMap[Int, (Long, Long)]() // job → (exec, span)
  private val stageOf = new ConcurrentHashMap[Int, (Long, Long)]() // stage → (exec, job span)
  private val streamOf = new ConcurrentHashMap[java.util.UUID, (Long, Long)]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (!enabled || e.properties == null) return
      val exec = Option(e.properties.getProperty(ExecProp)).map(_.toLong)
      exec.foreach { x =>
        val parent = Option(e.properties.getProperty(SpanProp)).map(_.toLong).getOrElse(0L)
        val phaseName = Option(spans.get(parent)).map(_.kind).getOrElse("other")
        val span = newSpan("job", s"job${e.jobId}", parent, e.time.toDouble)
        jobOf.put(e.jobId, (x, span))
        e.stageIds.foreach(s => stageOf.put(s, (x, span)))
        add(x, "jobs", 1); add(x, s"jobs.$phaseName", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobOf.remove(e.jobId)
      if (j != null) {
        val s = spans.get(j._2)
        if (s != null) s.endMs = e.time.toDouble
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val owner = stageOf.get(info.stageId)
      if (owner == null) return
      add(owner._1, "stages", 1)
      val span = newSpan("stage", s"stage${info.stageId}", owner._2,
        info.submissionTime.getOrElse(0L).toDouble, force = true)
      val s = spans.get(span)
      s.endMs = info.completionTime.getOrElse(0L).toDouble
      s.attrs("tasks") = info.numTasks.toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val owner = stageOf.get(e.stageId)
      if (owner == null) return
      val x = owner._1
      add(x, "tasks", 1)
      if (e.reason != TaskSuccess) add(x, "failed_tasks", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        add(x, "executor_run_s", m.executorRunTime / 1e3)
        add(x, "executor_cpu_s", m.executorCpuTime / 1e9)
        add(x, "gc_s", m.jvmGCTime / 1e3)
        add(x, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(x, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(x, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(x, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(x, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
        if (info != null) {
          // the Spark UI's definition of scheduler delay
          val d = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          add(x, "sched_delay_s", math.max(0L, d) / 1e3)
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (enabled) streamOf.put(e.runId, (currentQuery, openPhase))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val owner = streamOf.get(e.progress.runId)
      if (owner == null) return
      val p = e.progress
      val x = owner._1
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val batch = d.getOrElse("triggerExecution", 0.0)
      val span = newSpan("batch", s"${p.name}#${p.batchId}", owner._2, start, force = true)
      val s = spans.get(span)
      s.endMs = start + batch * 1e3
      s.attrs("input_rows") = p.numInputRows.toDouble
      add(x, "batches", 1)
      if (p.numInputRows == 0) add(x, "empty_batches", 1)
      add(x, "batch_s", batch)
      add(x, "wal_commit_s", d.getOrElse("walCommit", 0.0))
      add(x, "query_planning_s", d.getOrElse("queryPlanning", 0.0))
      add(x, "input_rows", p.numInputRows.toDouble)
      add(x, "late_dropped_rows",
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble)
      // state size is a level, not a flow: keep the latest batch's
      counters.computeIfAbsent(x, _ => new ConcurrentHashMap[String, Double]())
        .put(s"state_rows.${p.runId}", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def writeTrace(j: Json): Unit = {
    j.key("spans"); j.arr(spans.values.asScala.toSeq.sortBy(_.id).foreach { s =>
      j.obj {
        j.field("id", s.id.toDouble); j.field("parent", s.parent.toDouble)
        j.field("kind", s.kind); j.field("name", s.name)
        j.field("start_ms", s.startMs)
        j.field("end_ms", if (s.endMs.isNaN) s.startMs else s.endMs)
        s.attrs.foreach { case (k, v) => j.field(k, v) }
      }
    })
    j.key("counters"); j.obj(counters.asScala.toSeq.sortBy(_._1).foreach { case (x, m) =>
      j.key(x.toString)
      j.obj {
        val (state, flows) = m.asScala.partition(_._1.startsWith("state_rows."))
        flows.toSeq.sortBy(_._1).foreach { case (k, v) => j.field(k, v) }
        j.field("state_rows", state.values.sum)
      }
    })
  }
}

object Recorder {
  val ExecProp = "perfbench.exec"
  val SpanProp = "perfbench.span"
}

/** Minimal streaming JSON writer (the harness needs no JSON library). */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }
  def obj(body: => Unit): Unit = { if (!first) sb.append(','); sb.append('{'); first = true; body; sb.append('}'); first = false }
  def arr(body: => Unit): Unit = { if (!first) sb.append(','); sb.append('['); first = true; body; sb.append(']'); first = false }
  def field(k: String, v: Double): Unit = {
    key(k); first = false
    sb.append(if (v.isNaN || v.isInfinite) "null" else v.toString)
  }
  def field(k: String, v: Boolean): Unit = { key(k); first = false; sb.append(v) }
  def field(k: String, v: String): Unit = { key(k); first = false; str(v) }
  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
  override def toString: String = sb.toString
}
