package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{PinScope, SparkEntry}

/** Runs one workload's queries one after another (a closed loop with a
  * single client) in one local[4] session and writes a JSON record:
  *
  *   1. set-up: `setups` warm-up passes, each over a fresh, empty
  *      artifact directory; the first writes every result as parquet
  *      for the caller's oracle check;
  *   2. `warmups` untimed passes, then timed passes until `seconds` have
  *      elapsed (at least three). With `cold=1` each of these passes
  *      starts from a fresh artifact directory; otherwise they reuse the
  *      last set-up's artifacts. A fresh JVM keeps getting faster for
  *      several passes, so the warm-up passes move the timed region
  *      further along that curve;
  *   3. with `trace=1` the timed passes alternate untraced and traced;
  *      a traced pass records a span per query with child spans
  *      build / plan / exec / drain and the counters Spark's listeners
  *      report inside each.
  *
  * Each query runs as: call the query function (build), take
  * `queryExecution.executedPlan` (plan), consume through the noop sink
  * (exec), `PinScope.drain()` (drain).
  *
  * Arguments are `key=value`: data, run (a scratch directory for
  * artifacts, the warehouse and the check outputs), out, queries
  * (comma-separated, in run order), cpus (task slots and shuffle
  * partitions), seconds, setups, warmups, cold, trace.
  */
object Harness {

  /** Timed passes per run at the least: a traced run needs an untraced
    * pass on each side of its traced one. */
  private val minPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = opt("data")
    val run = Paths.get(opt("run")).toAbsolutePath
    val names = opt("queries").split(',').toSeq
    val seconds = opt("seconds").toDouble
    val setups = opt("setups").toInt
    val warmups = opt("warmups").toInt
    val cold = opt("cold") == "1"
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionBuiltMs = System.currentTimeMillis()
    val fns = SparkEntry.queries
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val h = new Harness(spark, data, run, names.map(n => n -> fns(n)))
    val sessionReadyMs = System.currentTimeMillis()

    val load0 = loadavg()
    val warm = (1 to setups).map { i =>
      h.useArtifactDir(s"setup$i")
      h.untracedPass(s"setup$i", check = i == 1).wall
    }
    val warmup = (1 to warmups).map { i =>
      if (cold) h.useArtifactDir(s"warmup$i")
      h.untracedPass(s"warmup$i", check = false).wall
    }
    val timed = ArrayBuffer.empty[PassRecord]
    val t0 = System.nanoTime()
    while (timed.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p = timed.size + 1
      if (cold) h.useArtifactDir(s"pass$p")
      timed += (if (trace && p % 2 == 0) h.tracedPass(s"pass$p")
                else h.untracedPass(s"pass$p", check = false))
    }
    val load1 = loadavg()
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }

    val json = Json.obj(
      "jvm_start_ms" -> Json.num(ManagementFactory.getRuntimeMXBean.getStartTime),
      "session_built_ms" -> Json.num(sessionBuiltMs),
      "session_ready_ms" -> Json.num(sessionReadyMs),
      "warm_s" -> Json.arr(warm.map(w => Json.num(w))),
      "warmup_s" -> Json.arr(warmup.map(w => Json.num(w))),
      "passes" -> Json.arr(timed.map(_.json).toSeq),
      "oracle_sql" -> Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
      "loadavg_before" -> Json.num(load0),
      "loadavg_after" -> Json.num(load1),
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
      "process_cpu_s" -> Json.num(processCpuNs() / 1e9),
      "vm_hwm_kb" -> Json.num(vmHwmKb()))
    Files.writeString(Paths.get(opt("out")), json + "\n")
    // The record is complete and the run directory is discarded by the
    // caller, so skip the seconds a graceful context shutdown takes.
    Runtime.getRuntime.halt(0)
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Peak resident set of this JVM (`VmHWM`), in kB. */
  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case NonFatal(_) => -1L }
}

final case class PassRecord(json: String, wall: Double)

/** Counters of one span. Written only by listener threads, read after
  * the listener bus is empty. */
final class Counters {
  var jobs, stages, tasks, taskMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, scanBytes, scanRows = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  var batches, batchMs, inputRows, stateRows, stateBytes = 0L
}

/** Attributes job, stage and task events to the span that launched the
  * job, and streaming progress to the running query. */
final class Tracer extends SparkListener {
  @volatile var span: Counters = null
  @volatile var query: Counters = null
  private val stageSpan = new ConcurrentHashMap[Int, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = span
    if (c != null) {
      c.jobs += 1
      e.stageIds.foreach(stageSpan.put(_, c))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = stageSpan.get(e.stageInfo.stageId)
    if (c != null) c.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = Option(stageSpan.get(e.stageId)).getOrElse(span)
    val m = e.taskMetrics
    if (c != null && m != null) {
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.scanBytes += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }
  /** Streaming progress reaches every session's listeners through the
    * shared bus; the engine runs its streams in isolated sessions. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case e: StreamingQueryListener.QueryProgressEvent =>
      val c = query
      if (c != null) {
        val p = e.progress
        c.batches += 1
        c.batchMs += p.batchDuration
        c.inputRows += p.numInputRows
        c.stateRows = c.stateRows max p.stateOperators.map(_.numRowsTotal).sum
        c.stateBytes = c.stateBytes max p.stateOperators.map(_.memoryUsedBytes).sum
      }
    case _ =>
  }
  def reset(): Unit = stageSpan.clear()
}

object ExchangeCount extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): Int = collectWithSubqueries(p) { case e: Exchange => e }.size
}

final class Harness(spark: SparkSession, data: String, run: Path,
                    queries: Seq[(String, (SparkSession, String) => DataFrame)]) {
  private val artRoot = run.resolve("artifacts")
  private var artDir: Path = artRoot
  private val sc = spark.sparkContext
  private def mb(bytes: Long): Double = bytes / 1048576.0

  /** Points the engine's artifact directory (`java.io.tmpdir`, read on
    * every artifact lookup) at a fresh empty directory and forgets the
    * catalog tables registered over the previous one. */
  def useArtifactDir(name: String): Unit = {
    val dir = artRoot.resolve(name)
    Files.createDirectories(dir)
    val stale = spark.catalog.listTables().collect().map(_.name).filter { t =>
      spark.sql(s"DESCRIBE TABLE EXTENDED `$t`").collect()
        .exists(r => r.getString(0) == "Location" &&
          r.getString(1).contains(artRoot.toString))
    }
    stale.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    System.setProperty("java.io.tmpdir", dir.toString)
    artDir = dir
  }

  /** Bytes under each `graft_*` entry of the artifact directory. */
  private def artifacts(): Map[String, Long] =
    scala.util.Using.resource(Files.list(artDir)) { st =>
      st.iterator.asScala.filter(_.getFileName.toString.startsWith("graft_")).map { p =>
        p.getFileName.toString -> scala.util.Using.resource(Files.walk(p)) { w =>
          w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
        }
      }.toMap
    }

  private def artifactDelta(before: Map[String, Long], after: Map[String, Long]): (Int, Long) =
    ((after.keySet -- before.keySet).size,
     after.map { case (k, v) => (v - before.getOrElse(k, 0L)) max 0L }.sum)

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def untracedPass(label: String, check: Boolean): PassRecord = {
    val before = artifacts()
    val t0 = System.nanoTime()
    val recs = queries.map { case (name, fn) =>
      val q0 = System.nanoTime()
      val c0 = Harness.processCpuNs()
      val err = try {
        val df = fn(spark, data)
        df.queryExecution.executedPlan
        if (check) df.write.mode("overwrite").parquet(run.resolve("check").resolve(name).toString)
        else df.write.format("noop").mode("overwrite").save()
        None
      } catch { case NonFatal(e) => Some(errText(e)) }
      finally PinScope.drain()
      Json.obj("q" -> Json.str(name),
        "wall_s" -> Json.num((System.nanoTime() - q0) / 1e9),
        "cpu_s" -> Json.num((Harness.processCpuNs() - c0) / 1e9),
        "error" -> err.map(Json.str).getOrElse("null"))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (builds, written) = artifactDelta(before, artifacts())
    PassRecord(Json.obj("pass" -> Json.str(label), "traced" -> "false",
      "wall_s" -> Json.num(wall), "artifact_builds" -> Json.num(builds),
      "artifact_write_mb" -> Json.num(mb(written)),
      "queries" -> Json.arr(recs)), wall)
  }

  def tracedPass(label: String): PassRecord = {
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    val passArtifacts = artifacts()
    val t0 = System.nanoTime()
    val recs = try queries.map { case (name, fn) => traceQuery(tracer, name, fn) }
    finally {
      ListenerBusAccess.waitUntilEmpty(sc)
      sc.removeSparkListener(tracer)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (builds, written) = artifactDelta(passArtifacts, artifacts())
    PassRecord(Json.obj("pass" -> Json.str(label), "traced" -> "true",
      "wall_s" -> Json.num(wall), "artifact_builds" -> Json.num(builds),
      "artifact_write_mb" -> Json.num(mb(written)),
      "queries" -> Json.arr(recs)), wall)
  }

  /** One query as a span with child spans build / plan / exec / drain. */
  private def traceQuery(tracer: Tracer, name: String,
                         fn: (SparkSession, String) => DataFrame): String = {
    val before = artifacts()
    val queryCounters = new Counters
    tracer.query = queryCounters
    val spans = ArrayBuffer.empty[String]
    var err: Option[String] = None
    var pinCount, exchanges = 0L
    var pinBytes = 0L
    val q0 = System.nanoTime()
    val c0 = Harness.processCpuNs()
    def span[T](child: String)(body: => T): T = {
      val c = new Counters
      tracer.span = c
      val s0 = System.nanoTime()
      val e0 = System.currentTimeMillis()
      try body
      finally {
        val s1 = System.nanoTime()
        val e1 = System.currentTimeMillis()
        ListenerBusAccess.waitUntilEmpty(sc)
        tracer.span = null
        spans += spanJson(child, (s0 - q0) / 1e9, (s1 - q0) / 1e9, e0, e1, c)
      }
    }
    try {
      val df = span("build")(fn(spark, data))
      pinCount = sc.getPersistentRDDs.size
      pinBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val plan = span("plan")(df.queryExecution.executedPlan)
      exchanges = ExchangeCount(plan)
      span("exec")(df.write.format("noop").mode("overwrite").save())
    } catch { case NonFatal(e) => err = Some(errText(e)) }
    finally span("drain")(PinScope.drain())
    val wall = (System.nanoTime() - q0) / 1e9
    val cpu = (Harness.processCpuNs() - c0) / 1e9
    ListenerBusAccess.waitUntilEmpty(sc)
    tracer.query = null
    tracer.reset()
    val (builds, written) = artifactDelta(before, artifacts())
    val c = queryCounters
    Json.obj("q" -> Json.str(name), "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu),
      "error" -> err.map(Json.str).getOrElse("null"),
      "pin_count" -> Json.num(pinCount), "pin_mb" -> Json.num(mb(pinBytes)),
      "exchanges" -> Json.num(exchanges),
      "artifact_builds" -> Json.num(builds), "artifact_write_mb" -> Json.num(mb(written)),
      "stream_batches" -> Json.num(c.batches), "stream_batch_s" -> Json.num(c.batchMs / 1e3),
      "stream_input_rows" -> Json.num(c.inputRows), "stream_state_rows" -> Json.num(c.stateRows),
      "stream_state_mb" -> Json.num(mb(c.stateBytes)),
      "spans" -> Json.arr(spans.toSeq))
  }

  private def spanJson(name: String, start: Double, end: Double,
                       e0: Long, e1: Long, c: Counters): String = {
    val busy = c.taskIntervals.map { case (a, b) => b - a }.sum
    Json.obj("name" -> Json.str(name), "start_s" -> Json.num(start), "end_s" -> Json.num(end),
      "jobs" -> Json.num(c.jobs), "stages" -> Json.num(c.stages), "tasks" -> Json.num(c.tasks),
      "task_s" -> Json.num(busy / 1e3), "run_s" -> Json.num(c.taskMs / 1e3),
      "cpu_s" -> Json.num(c.cpuNs / 1e9), "gc_s" -> Json.num(c.gcMs / 1e3),
      "shuffle_write_mb" -> Json.num(mb(c.shuffleWrite)),
      "shuffle_read_mb" -> Json.num(mb(c.shuffleRead)),
      "spill_mb" -> Json.num(mb(c.spill)),
      "scan_mb" -> Json.num(mb(c.scanBytes)), "scan_rows" -> Json.num(c.scanRows),
      "one_task_s" -> Json.num(oneTaskMs(c.taskIntervals.toSeq, e0, e1) / 1e3))
  }

  /** Milliseconds inside [from, to] during which exactly one task ran. */
  private def oneTaskMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val edges = intervals.flatMap { case (a, b) =>
      val (lo, hi) = (a max from, b min to)
      if (lo < hi) Seq(lo -> 1, hi -> -1) else Nil
    }.sortBy(e => (e._1, e._2))
    var running, total = 0L
    var last = from
    edges.foreach { case (t, d) =>
      if (running == 1) total += t - last
      running += d
      last = t
    }
    total
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == v.toLong) v.toLong.toString else v.toString
  def num(v: Long): String = v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
