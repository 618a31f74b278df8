package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pins, SparkEntry}

/** JVM side of the benchmark (see perfbench/run.py, which builds this,
  * generates the inputs and turns the report into the result line).
  *
  *   Harness <workload> <dataDir> <outDir> <seconds> <seed> <trace 0|1>
  *
  * Writes `<outDir>/report.json`: set-up time, one record per timed op,
  * JVM counters and, when traced, the per-layer metrics; the spans of a
  * traced run go to `<outDir>/spans.json`.
  *
  * A traced run keeps untraced ops beside the traced ones (alternate
  * passes on tabular, alternate blocks of 10 arrivals on ingest), so it
  * reports its own tracing overhead; the untraced run registers no
  * listener at all.
  */
object Harness {
  final case class Op(name: String, pass: Int, latencyS: Double, error: Option[String],
      traced: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, seedArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val seed = seedArg.toLong
    val traced = traceArg == "1"
    val spec = json.readTree(
      Paths.get(sys.props.getOrElse("graftbench.spec", "perfbench/spec.json")).toFile)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.local.dir", s"$outDir/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val report = mutable.LinkedHashMap[String, Any]("workload" -> workload, "nproc" -> nproc)
    mark(report, "session")
    try {
      workload match {
        case "tabular" => new Tabular(spark, spec.get("tabular"), s"$dataDir/tabular",
          outDir, seconds, seed, traced, jvmStartMs, report).run()
        case "ingest" => new Ingest(spark, spec.get("ingest"), dataDir,
          outDir, seconds, traced, jvmStartMs, report).run()
        case other => sys.error(s"unknown workload $other")
      }
      report("peak_rss_mb") = JvmSnap.peakRssMb()
      json.writeValue(new java.io.File(s"$outDir/report.json"), report)
    } finally spark.stop()
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Seconds since JVM start at each named point of a run. */
  def mark(report: mutable.Map[String, Any], name: String): Unit = {
    val marks = report.getOrElseUpdate("marks_s", mutable.LinkedHashMap.empty[String, Double])
      .asInstanceOf[mutable.LinkedHashMap[String, Double]]
    marks(name) = (Clock.nowMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }

  def writeSpans(path: String, tr: Tracer, spans: Seq[Span]): Unit =
    json.writeValue(new java.io.File(path), spans.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_s" -> tr.selfS(s), "jobs" -> tr.group(s.group).jobs,
        "tasks" -> tr.group(s.group).tasks)))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** Per-layer metrics shared by both workloads, over the traced windows. */
  def layerMetrics(t: Tracer, groups: Iterable[GroupStats]): mutable.LinkedHashMap[String, Double] = {
    val all = new GroupStats
    groups.foreach(all.add)
    mutable.LinkedHashMap(
      "exec.task_run_s" -> all.runMs / 1e3,
      "exec.task_cpu_s" -> all.cpuNs / 1e9,
      "exec.sched_wait_s" -> all.waitMs / 1e3,
      "exec.busy_frac" -> all.runMs / 1e3 / (t.wallS * Runtime.getRuntime.availableProcessors),
      "exec.failed_tasks" -> all.failedTasks.toDouble,
      "shuffle.write_bytes" -> all.shWriteBytes.toDouble,
      "shuffle.read_bytes" -> all.shReadBytes.toDouble,
      "shuffle.fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "shuffle.write_s" -> all.shWriteNs / 1e9,
      "shuffle.spill_bytes" -> all.spillBytes.toDouble,
      "shuffle.bytes_per_input_byte" -> all.shWriteBytes.toDouble / math.max(1L, all.inBytes),
      "sources.input_bytes" -> all.inBytes.toDouble,
      "sources.input_rows" -> all.inRows.toDouble,
      "sources.scan_tasks" -> all.scanTasks.toDouble,
      "jvm.gc_s" -> t.jvm.gcMs / 1e3,
      "jvm.gc_count" -> t.jvm.gcCount.toDouble,
      "jvm.jit_s" -> t.jvm.jitMs / 1e3)
  }
}

import Harness._

/** Closed loop, one client: whole passes over the query mix, each pass
  * in its own seeded order, so every query weighs the same in the
  * latency percentiles whatever the run length. */
final class Tabular(spark: SparkSession, spec: JsonNode, dir: String, out: String,
    seconds: Double, seed: Long, traced: Boolean, jvmStartMs: Double,
    report: mutable.Map[String, Any]) {
  private val mix = strings(spec.get("mix"))
  private val sc = spark.sparkContext
  private var released = 0L
  private var storageBytes = 0L

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(mix)

  /** One op: registry call, physical planning, noop-sink write, pin
    * release. Untraced when `t` is None. */
  private def op(q: String, opId: String, t: Option[Tracer]): Option[String] = try {
    t match {
      case None =>
        val df = SparkEntry.queries(q)(spark, dir)
        df.queryExecution.executedPlan
        df.write.format("noop").mode("overwrite").save()
        Pins.sweep(spark)
      case Some(tr) => tr.span(0, opId, "op", q) { root =>
        val df = tr.span(root, opId, "queries", "construct")(_ => SparkEntry.queries(q)(spark, dir))
        tr.span(root, opId, "catalyst", "plan")(_ => df.queryExecution.executedPlan)
        df.queryExecution.tracker.phases.foreach { case (n, p) =>
          tr.phases.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble, n))
        }
        tr.span(root, opId, "exec", "execute")(_ =>
          df.write.format("noop").mode("overwrite").save())
        tr.span(root, opId, "pins", "sweep") { _ =>
          storageBytes += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          released += Pins.sweep(spark)
        }
      }
    }
    None
  } catch { case NonFatal(e) =>
    Pins.sweep(spark)
    Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
  }

  /** Whole passes until `seconds` have elapsed: every query weighs the
    * same in each run and runs as often. With a tracer, odd passes are
    * traced; traced and untraced passes interleave so that warm-up drift
    * does not masquerade as tracing overhead. */
  private def measure(t: Option[Tracer]): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = Clock.nowMs
    var pass = 0
    while ((Clock.nowMs - t0) / 1e3 < seconds) {
      val tr = t.filter(_ => pass % 2 == 1)
      tr.foreach(_.on())
      order(pass).foreach { q =>
        val s = Clock.nowMs
        val err = op(q, s"op${ops.size}", tr)
        ops += Op(q, pass, (Clock.nowMs - s) / 1e3, err, tr.isDefined)
      }
      tr.foreach(_.off())
      pass += 1
    }
    ops.toSeq
  }

  def run(): Unit = {
    // Set-up: the first pass captures every query's output for the
    // oracle check and doubles as warm-up (class loading, JIT, codegen);
    // the second pass runs the timed op untimed so the first measured
    // pass is not inflated.
    val captureErrors = mutable.LinkedHashMap.empty[String, String]
    order(-2).foreach { q =>
      try SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/capture/$q")
      catch { case NonFatal(e) => captureErrors(q) = e.toString.take(300) }
      Pins.sweep(spark)
    }
    mark(report, "captured")
    order(-1).foreach(q => op(q, "warmup", None))
    report("setup_s") = (Clock.nowMs - jvmStartMs) / 1e3
    report("oracle_sql") = mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    report("capture_errors") = captureErrors
    mark(report, "warm")

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ops = measure(tracer)
    tracer.foreach { tr =>
      tr.drain()
      tr.attachPhases()
      report("layers") = tabularLayers(tr)
      // mean op latency of traced passes over that of untraced passes
      val (on, off) = ops.partition(_.traced)
      report("trace_overhead_frac") =
        on.map(_.latencyS).sum / on.size / (off.map(_.latencyS).sum / off.size) - 1
      writeSpans(s"$out/spans.json", tr, tr.spans.toSeq)
    }
    report("ops") = ops.map(o => Map("name" -> o.name, "pass" -> o.pass,
      "latency_s" -> o.latencyS, "error" -> o.error, "traced" -> o.traced))
  }

  private def tabularLayers(tr: Tracer): collection.Map[String, Double] = {
    val spans = tr.spans.toSeq
    def phase(name: String) = spans.filter(s => s.parent != 0 && s.name == name)
    def sumS(ss: Seq[Span]) = ss.map(_.durS).sum
    def stats(name: String) = {
      val g = new GroupStats
      phase(name).map(_.group).distinct.foreach(k => g.add(tr.group(k)))
      g
    }
    val opWall = sumS(spans.filter(_.parent == 0))
    val construct = stats("construct")
    val exec = stats("execute")
    // planner phases inside the op's plan and execute phases; analysis
    // also inside construct, where Dataset creation analyses eagerly
    val catalystIn = spans.filter(s => s.layer == "catalyst" && s.name != "plan" &&
      spans.exists(p => p.id == s.parent && (p.name != "construct" || s.name == "analysis")))
    def planner(n: String) = sumS(catalystIn.filter(_.name == n))
    val opGroups = spans.filter(_.parent != 0).map(_.group).toSet
    val m = mutable.LinkedHashMap[String, Double](
      "queries.construct_s" -> sumS(phase("construct")),
      "queries.construct_jobs" -> construct.jobs.toDouble,
      "queries.construct_tasks" -> construct.tasks.toDouble,
      "queries.construct_share" -> sumS(phase("construct")) / opWall,
      "catalyst.analysis_s" -> planner("analysis"),
      "catalyst.optimizer_s" -> planner("optimization"),
      "catalyst.planning_s" -> planner("planning"),
      "catalyst.plan_s" -> sumS(phase("plan")),
      "exec.execute_s" -> phase("execute").map(tr.selfS).sum,
      "exec.jobs" -> exec.jobs.toDouble,
      "exec.stages" -> exec.stages.toDouble,
      "exec.tasks" -> exec.tasks.toDouble)
    m ++= layerMetrics(tr, tr.groups.filter(g => opGroups(g._1)).values)
    m ++= Seq("pins.released" -> released.toDouble,
      "pins.storage_bytes" -> storageBytes.toDouble,
      "pins.sweep_s" -> sumS(phase("sweep")))
    m
  }
}

/** Open loop: arrival batch k falls due at t0 + k * interval whether or
  * not earlier batches have committed; each is timed from when it was
  * due until the micro-batch holding it has committed on both sinks. */
final class Ingest(spark: SparkSession, spec: JsonNode, dataDir: String, out: String,
    seconds: Double, traced: Boolean, jvmStartMs: Double,
    report: mutable.Map[String, Any]) {
  import spark.implicits._
  private val sc = spark.sparkContext
  private def int(k: String) = spec.get(k).asInt
  private def dbl(k: String) = spec.get(k).asDouble

  def run(): Unit = {
    import graft.operators.{QualityModel, Sketches, TextDedup}
    import graft.streaming.{StreamObs, StreamOps}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // ---- set-up: offline artifacts from the corpus ----
    val corpus = spark.read.parquet(s"$dataDir/corpus/documents.parquet")
    val buckets = int("model_buckets")
    val model = QualityModel.trainLogReg(spark,
      QualityModel.hashedFeatures(corpus, "doc_id", "text", buckets),
      corpus.select(col("doc_id"), col("y")), buckets, int("model_iters"), dbl("model_lr"))
    // release the training pins before the index caches, which a sweep
    // would release too
    val pinBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val sweep0 = Clock.nowMs
    val released = Pins.sweep(spark)
    val sweepS = (Clock.nowMs - sweep0) / 1e3
    mark(report, "model")
    val bits = int("bloom_bits")
    val hashes = int("bloom_hashes")
    val packed = Sketches.packBits(Sketches.bloomBuild(corpus, "text", bits, hashes), bits)
    val index = StreamOps.nearDupIndex(corpus, "doc_id", "text").cache()
    val winIndex = TextDedup.windowHashIndex(corpus, "text", int("window_words")).cache()
    index.count(); winIndex.count()
    mark(report, "artifacts")
    val arrivals = spark.read.parquet(s"$dataDir/ingest/arrivals.parquet")
      .select("batch", "doc_id", "source", "text").as[(Int, Long, String, String)]
      .collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.toSeq.sortBy(_._2).map(r => (r._2, r._3, r._4)))
    val intervalMs = dbl("interval_ms")
    val warm = int("warmup_batches")
    val nBatches = warm + math.ceil(seconds * 1000 / intervalMs).toInt
    require(nBatches <= arrivals.size,
      s"schedule holds ${arrivals.size} batches, the run needs $nBatches")

    def frontDoor(df: DataFrame) = StreamOps.ingestFrontDoorV2(df,
      "doc_id", "source", "text", packed, bits, hashes, model, dbl("quality_threshold"),
      index, dbl("near_dup_threshold"), winIndex, spec.get("budget_per_source").asLong,
      int("window_words"))
    // One MemoryStream per sink: a MemoryStream shared by two queries
    // fails once they commit offsets out of step, which an open loop
    // makes routine. Both get every arrival at the same instant.
    implicit val sqlCtx = spark.sqlContext
    val ins = Seq.fill(2)(MemoryStream[(Long, String, String)])
    val tracer = if (traced) Some(new Tracer(spark)) else None
    // building a front door collects the window-hash index into the plan
    def build[T](name: String)(f: => T): T =
      tracer.fold(f)(tr => tr.span(0, "setup", "queries", name)(_ => f))
    tracer.foreach(_.on())
    val (admitted, _) = build("construct_admitted")(
      frontDoor(ins(0).toDF().toDF("doc_id", "source", "text")))
    val (_, cands) = build("construct_cands")(
      frontDoor(ins(1).toDF().toDF("doc_id", "source", "text")))
    tracer.foreach(_.reset())
    val qa = admitted.writeStream.format("memory").queryName("bench_admitted")
      .outputMode("append").option("checkpointLocation", s"$out/ckpt/admitted").start()
    val qc = cands.writeStream.format("memory").queryName("bench_cands")
      .outputMode("append").option("checkpointLocation", s"$out/ckpt/cands").start()

    // ---- the open-loop generator; the first `warm` batches are warm-up ----
    // a traced run records alternate blocks of 10 measured arrivals
    def tracedAt(k: Int) = traced && k >= warm && (k - warm) / 10 % 2 == 1
    val t0 = Clock.nowMs + 50
    val due = Array.tabulate(nBatches)(k => t0 + k * intervalMs)
    val added = new Array[Double](nBatches)
    for (k <- 0 until nBatches) {
      if (k == warm) report("setup_s") = (due(k) - jvmStartMs) / 1e3
      val wait = due(k) - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      tracer.foreach(tr => if (tracedAt(k)) tr.on() else tr.off())
      ins.foreach(_.addData(arrivals(k)))
      added(k) = Clock.nowMs
    }
    mark(report, "fed")
    val finished =
      try { qa.processAllAvailable(); qc.processAllAvailable(); true }
      catch { case NonFatal(e) => report("stream_error") = e.toString.take(300); false }
    tracer.foreach(_.off())
    val endMs = Clock.nowMs

    // ---- latency: commit = trigger start + trigger duration, per sink ----
    def commits(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[(Long, Double)] =
      q.recentProgress.toSeq.filter(p => p.sources.nonEmpty && p.sources(0).endOffset != null)
        .map(p => (p.sources(0).endOffset.trim.toLong,
          java.time.Instant.parse(p.timestamp).toEpochMilli +
            p.durationMs.get("triggerExecution").doubleValue))
        .sortBy(_._2)
    val ca = commits(qa)
    val cc = commits(qc)
    report("trigger_ms") = Seq(qa, qc).map(q => q.name -> q.recentProgress.toSeq.map(p =>
      Seq(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli - due(warm),
        p.durationMs.get("triggerExecution").longValue, p.numInputRows))).toMap
    def commitOf(cs: Seq[(Long, Double)], k: Int) = cs.find(_._1 >= k).map(_._2)

    // ---- output check: streamed results == batch backfill of the same call ----
    val fed = arrivals.take(nBatches).zipWithIndex
      .flatMap { case (b, k) => b.map(r => (r._1, r._2, r._3, k)) }
    val batchOf = fed.map(r => r._1 -> r._4).toMap
    def admRows(df: DataFrame) = df.select("source", "doc_id", "tokens", "n_removed", "admitted")
      .as[(String, Long, Long, Long, Boolean)].collect().toSet
    def candRows(df: DataFrame) = df.select("doc_id", "corpus_id").distinct()
      .as[(Long, Long)].collect().toSet
    mark(report, "drained")
    val (bAdm, bCands) = frontDoor(fed.map(r => (r._1, r._2, r._3)).toDF("doc_id", "source", "text"))
    val (sA, sC) = (admRows(spark.table("bench_admitted")), candRows(spark.table("bench_cands")))
    val (wA, wC) = (admRows(bAdm), candRows(bCands))
    val badDocs = ((sA diff wA) ++ (wA diff sA)).map(_._2) ++
      ((sC diff wC) ++ (wC diff sC)).map(_._1)
    val badBatches = badDocs.flatMap(batchOf.get)
    // per source: docs past the gates, docs admitted, admitted tokens
    def totals(rows: Set[(String, Long, Long, Long, Boolean)]) =
      rows.groupBy(_._1).map { case (s, rs) =>
        s -> Seq(rs.size.toLong, rs.count(_._5).toLong, rs.filter(_._5).toSeq.map(_._3).sum)
      }
    report("check") = Map("stream_docs_per_source" -> totals(sA),
      "backfill_docs_per_source" -> totals(wA),
      "stream_pairs" -> sC.size, "backfill_pairs" -> wC.size,
      "mismatched_docs" -> badDocs.size, "mismatched_batches" -> badBatches.toSeq.sorted)

    val docsPer = arrivals.map(_.size)
    mark(report, "checked")
    val ops = (warm until nBatches).map { k =>
      val commit = for (a <- commitOf(ca, k); c <- commitOf(cc, k)) yield math.max(a, c)
      val err = if (commit.isEmpty) Some("not committed")
        else if (badBatches(k)) Some("stream differs from backfill") else None
      Map("name" -> s"batch$k", "pass" -> 0, "docs" -> docsPer(k),
        "latency_s" -> commit.map(c => (c - due(k)) / 1e3).getOrElse(Double.NaN),
        "late_s" -> (added(k) - due(k)) / 1e3, "error" -> err,
        "traced" -> tracedAt(k))
    }
    report("ops") = ops
    report("measured_s") = (endMs - due(warm)) / 1e3
    report("finished") = finished

    tracer.foreach { tr =>
      tr.drain()
      val runIds = Seq(qa, qc).map(_.runId.toString)
      val groups = tr.groups.filter { case (g, _) => runIds.exists(id => g.startsWith(id + "/")) }
      def inWindow(ms: Double) = tr.windows.exists { case (a, b) => a <= ms && ms < b }
      val progress = (qa.recentProgress ++ qc.recentProgress).toSeq
        .filter(p => inWindow(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble))
      def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
      val state = StreamObs.progressRows(qa).filter(_.stateRowsTotal.isDefined).lastOption
      val all = new GroupStats
      groups.values.foreach(all.add)
      val construct = new GroupStats
      tr.spans.foreach(s => construct.add(tr.group(s.group)))
      val constructS = tr.spans.map(_.durS).sum
      val m = mutable.LinkedHashMap[String, Double](
        "queries.construct_s" -> constructS,
        "queries.construct_jobs" -> construct.jobs.toDouble,
        "queries.construct_tasks" -> construct.tasks.toDouble,
        "queries.construct_share" -> constructS / ((endMs - due(warm)) / 1e3),
        "catalyst.planning_s" -> dur("queryPlanning"),
        "catalyst.plan_s" -> dur("queryPlanning"),
        "exec.execute_s" -> dur("addBatch"),
        "exec.jobs" -> all.jobs.toDouble, "exec.stages" -> all.stages.toDouble,
        "exec.tasks" -> all.tasks.toDouble)
      m ++= layerMetrics(tr, groups.values)
      val lateK = (warm until nBatches).filter(tracedAt)
      m ++= Seq("pins.released" -> released.toDouble, "pins.storage_bytes" -> pinBytes.toDouble,
        "pins.sweep_s" -> sweepS,
        "streaming.trigger_s" -> dur("triggerExecution"),
        "streaming.plan_s" -> dur("queryPlanning"),
        "streaming.add_batch_s" -> dur("addBatch"),
        "streaming.commit_s" -> (dur("walCommit") + dur("commitOffsets")),
        "streaming.state_rows" -> state.flatMap(_.stateRowsTotal).getOrElse(0L).toDouble,
        "streaming.state_bytes" -> state.flatMap(_.stateMemoryBytes).getOrElse(0L).toDouble,
        "streaming.batches" -> progress.size.toDouble,
        "streaming.rows_per_batch" -> progress.map(_.numInputRows).sum.toDouble / math.max(1, progress.size),
        "loadgen.late_s" -> lateK.map(k => (added(k) - due(k)) / 1e3).max,
        "loadgen.due_docs" -> lateK.map(docsPer).sum.toDouble)
      report("layers") = m
      // one span per recorded trigger of each sink, after the construct spans
      val triggers = Seq(qa, qc).flatMap(q => q.recentProgress.toSeq.map(p => (q, p)))
        .filter { case (q, p) => tr.groups.contains(s"${q.runId}/${p.batchId}") }
        .zipWithIndex.map { case ((q, p), i) =>
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          Span(tr.spans.size + i + 1, 0, s"batch${p.batchId}", "streaming", q.name, start,
            start + p.durationMs.get("triggerExecution").doubleValue, s"${q.runId}/${p.batchId}")
        }
      writeSpans(s"$out/spans.json", tr, tr.spans.toSeq ++ triggers)
      def p50(traced: Boolean) = {
        val v = ops.filter(_("traced") == traced).map(_("latency_s").asInstanceOf[Double]).sorted
        v(v.size / 2)
      }
      report("trace_overhead_frac") = p50(true) / p50(false) - 1
    }
    qa.stop(); qc.stop()
    mark(report, "end")
  }
}
