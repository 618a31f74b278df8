package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanoTime resolution, so spans
  * line up with the epoch-millisecond timestamps Spark reports
  * (planner phases, streaming progress). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span: an op phase the benchmark wrapped, or a planner phase
  * reported by Spark. `group` is the job group its jobs ran under. */
final case class Span(id: Int, parent: Int, op: String, layer: String,
    name: String, startMs: Double, endMs: Double, group: String) {
  def durS: Double = (endMs - startMs) / 1e3
}

/** Job, stage and task counters summed over every job of one group. */
final class GroupStats {
  var jobs, stages, tasks, failedTasks, scanTasks = 0L
  var runMs, cpuNs, waitMs = 0L
  var shWriteBytes, shReadBytes, fetchWaitMs, shWriteNs, spillBytes = 0L
  var inBytes, inRows = 0L
  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; scanTasks += o.scanTasks
    runMs += o.runMs; cpuNs += o.cpuNs; waitMs += o.waitMs
    shWriteBytes += o.shWriteBytes; shReadBytes += o.shReadBytes
    fetchWaitMs += o.fetchWaitMs; shWriteNs += o.shWriteNs
    spillBytes += o.spillBytes; inBytes += o.inBytes; inRows += o.inRows
  }
}

/** Attributes every job, stage and task to the job group that was set
  * when its job started. The benchmark sets one group per op phase
  * (`<op>/<phase>`); streaming jobs are keyed `<run id>/<batch id>`. Only jobs
  * that start, and queries that finish, inside an [[on]] window are
  * recorded; [[on]] and [[off]] also sum the windows' wall time and JVM
  * counters. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  @volatile private var since: Option[(Double, JvmSnap)] = None
  var wallS = 0.0
  var jvm = JvmSnap(0, 0, 0)
  val windows = mutable.ArrayBuffer.empty[(Double, Double)]

  def on(): Unit = if (since.isEmpty) since = Some((Clock.nowMs, JvmSnap.now()))
  /** Ends the current window without counting it in the window totals. */
  def reset(): Unit = since = None
  def off(): Unit = since.foreach { case (t0, j0) =>
    since = None
    val (t1, j1) = (Clock.nowMs, JvmSnap.now())
    wallS += (t1 - t0) / 1e3
    windows += ((t0, t1))
    jvm = JvmSnap(jvm.gcMs + j1.gcMs - j0.gcMs, jvm.gcCount + j1.gcCount - j0.gcCount,
      jvm.jitMs + j1.jitMs - j0.jitMs)
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val stats = new ConcurrentHashMap[String, GroupStats]()
  private val events = new AtomicLong()
  /** (startMs, endMs, phase) of every planner phase of a finished query. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, String)]()
  val spans = mutable.ArrayBuffer.empty[Span]

  private def of(group: String): GroupStats =
    stats.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    if (since.isEmpty) return
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // a streaming job's group is its query's run id; key it per micro-batch
    val g = prop("spark.jobGroup.id").getOrElse("(none)") +
      prop("streaming.sql.batchId").map("/" + _).getOrElse("")
    e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, g))
    of(g).synchronized { of(g).jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    if (stageGroup.containsKey(e.stageInfo.stageId))
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageGroup.get(e.stageInfo.stageId)).map(of).foreach(g => g.synchronized { g.stages += 1 })
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    if (!stageGroup.containsKey(e.stageId)) return
    val g = of(stageGroup.get(e.stageId))
    val info = e.taskInfo
    val m = e.taskMetrics
    g.synchronized {
      g.tasks += 1
      if (info.failed || info.killed) g.failedTasks += 1
      // queued for a core after the stage was submitted, plus time the
      // task spent outside its run method (deserialise, result send)
      val queued = info.launchTime - stageSubmitMs.getOrDefault(e.stageId, info.launchTime)
      if (m != null) {
        val overhead = info.duration - m.executorRunTime
        g.waitMs += math.max(0L, queued) + math.max(0L, overhead)
        g.runMs += m.executorRunTime
        g.cpuNs += m.executorCpuTime
        g.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        g.shWriteNs += m.shuffleWriteMetrics.writeTime
        g.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        g.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        g.spillBytes += m.diskBytesSpilled
        g.inBytes += m.inputMetrics.bytesRead
        g.inRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) g.scanTasks += 1
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    events.incrementAndGet()
    if (since.isDefined) qe.tracker.phases.foreach { case (name, p) =>
      phases.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble, name))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Returns once no listener event has arrived for 300 ms (at most 10 s):
    * the listener bus delivers asynchronously. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    var last = -1L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get()
      Thread.sleep(300)
    }
  }

  def group(g: String): GroupStats = Option(stats.get(g)).getOrElse(new GroupStats)
  def groups: Map[String, GroupStats] = stats.asScala.toMap

  private var nextId = 0
  /** Runs `body` inside a span whose jobs carry job group `op/name`. */
  def span[T](parent: Int, op: String, layer: String, name: String)(body: Int => T): T = {
    val id = { nextId += 1; nextId }
    val group = s"$op/$name"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = Clock.nowMs
    try body(id)
    finally {
      spans += Span(id, parent, op, layer, name, t0, Clock.nowMs, group)
      sc.clearJobGroup()
    }
  }

  /** Planner phases become child spans of the op phase that contains
    * them, so that phase's self time excludes planning. */
  def attachPhases(): Unit = {
    val opPhases = spans.filter(_.parent != 0).toSeq
    phases.asScala.foreach { case (s, e, name) =>
      opPhases.find(p => p.startMs <= s + 1 && e <= p.endMs + 1).foreach { p =>
        nextId += 1
        spans += Span(nextId, p.id, p.op, "catalyst", name, s, e, p.group)
      }
    }
  }

  def selfS(s: Span): Double =
    s.durS - spans.iterator.filter(_.parent == s.id).map(_.durS).sum

  sc.addSparkListener(this)
  spark.listenerManager.register(this)
}

/** JVM-wide counters read before and after a measured phase. */
final case class JvmSnap(gcMs: Long, gcCount: Long, jitMs: Long)
object JvmSnap {
  def now(): JvmSnap = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    JvmSnap(gcs.map(_.getCollectionTime.max(0L)).sum,
      gcs.map(_.getCollectionCount.max(0L)).sum,
      if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L)
  }
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
