package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Staged plan diagnostics + dev main.
  *
  * `stages(df)` mirrors the reference's staged `explain()` (reference
  * `diagnostics/_explain.py:18-49`: logical → simplified → lowered →
  * fused stages) by mapping each dask-expr optimizer stage to its
  * Catalyst analogue:
  *   - "parsed"    ≈ the raw expression tree (logical, pre-resolution)
  *   - "analyzed"  ≈ resolved schema/meta (the reference's `_meta` pass)
  *   - "optimized" ≈ simplify+lower (pushdown, pruning, fusion)
  *   - "physical"  ≈ the executable plan (task graph)
  *   - "final"     ≈ post-AQE replanned plan, available after execution
  *     (the reference has no runtime replan — Spark-only stage)
  *
  * `analyze(df)` is the runtime half (reference `_analyze.py:36-80`):
  * executes the plan and returns the final adaptive plan string with
  * per-node runtime statistics embedded.
  *
  * `cost(spark)(body)` counts what a block of driver code makes Spark
  * do: wall clock, jobs, stages and tasks. Applied to building a frame
  * it shows the jobs fired before execution (quantile offsets, size
  * gates, model-state collects); applied to a sink write it shows the
  * execution.
  */
object Explain {

  /** Stage-name → plan-string map for the reference's staged explain. */
  def stages(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
    val qe = df.queryExecution
    Seq(
      "parsed" -> qe.logical.toString,
      "analyzed" -> qe.analyzed.toString,
      "optimized" -> qe.optimizedPlan.toString,
      "physical" -> qe.executedPlan.toString)
  }

  /** Execute and return the final (post-AQE) plan with runtime stats.
    * Executes `df`'s OWN QueryExecution (a sink write would wrap a new
    * one and leave this plan unexecuted/non-final); rows are consumed on
    * the executors, nothing is collected. */
  def analyze(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    plan.execute().foreachPartition(_ => ())
    plan.toString
  }

  /** Structured runtime statistics per physical operator (reference
    * `_analyze.py:36-80` surfaces per-expression row counts/sizes the
    * same way): executes the plan, then walks the FINAL adaptive tree
    * collecting each node's SQL metrics (numOutputRows, dataSize, spill
    * and shuffle byte counters, ...). Pre-order, so `(depth, nodeName)`
    * reconstructs the tree shape. */
  def analyzeStats(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, Map[String, Long])] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val root = df.queryExecution.executedPlan
    root.execute().foreachPartition(_ => ())
    def walk(p: SparkPlan, depth: Int): Seq[(Int, String, Map[String, Long])] = {
      // descend through AQE wrappers into the final (executed) subtree:
      // AdaptiveSparkPlanExec holds it as executedPlan, and materialized
      // QueryStageExec nodes hold theirs as `plan` (childless otherwise)
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      (depth, p.nodeName, p.metrics.map { case (k, m) => k -> m.value }.toMap) +:
        kids.flatMap(walk(_, depth + 1))
    }
    walk(root, 0)
  }

  /** Wall clock of a block of driver code, and the jobs, stages and
    * tasks it submitted. Stages and tasks are those actually run:
    * a stage skipped because its shuffle output exists is not counted. */
  final case class Cost(seconds: Double, jobs: Int, stages: Int, tasks: Int) {
    override def toString: String =
      f"$seconds%.2f s, jobs=$jobs stages=$stages tasks=$tasks"
  }

  /** Runs `body` and counts the Spark jobs it submits under this
    * thread's local properties, with their stages and tasks. The body runs
    * in its own job group. A marker job follows it; the listener bus is
    * ordered, so once the marker's start is delivered every earlier job
    * and stage event has been too, with no sleep. The marker's own job
    * and stage are not counted. */
  def cost[T](spark: SparkSession)(body: => T): (T, Cost) = {
    val sc = spark.sparkContext
    val group = s"graft-cost-${System.nanoTime}"
    val marker = s"$group-marker"
    val jobs, stages, tasks = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    def ours(p: java.util.Properties): Boolean =
      p != null && p.getProperty("spark.jobGroup.id") == group
    def isMarker(p: java.util.Properties): Boolean =
      p.getProperty("spark.job.description") == marker
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (ours(js.properties)) {
          if (isMarker(js.properties)) markerSeen.countDown()
          else jobs.incrementAndGet()
        }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (ours(ss.properties) && !isMarker(ss.properties)) {
          stages.incrementAndGet()
          tasks.addAndGet(ss.stageInfo.numTasks)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "graft cost")
      val t0 = System.nanoTime()
      val result = body
      val seconds = (System.nanoTime() - t0) / 1e9
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      if (!markerSeen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("marker job start never delivered")
      (result, Cost(seconds, jobs.get, stages.get, tasks.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Prints the formatted plan of a registered query, then runs it twice.
    * Each run builds the frame anew and writes it to the noop sink, and
    * prints the cost of construction and of execution. Caches and pins
    * are released after each run, so the second run redoes the first's
    * work on a warm JVM.
    *
    * Usage: Explain <query> [sfDir]
    */
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val build = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    def release(): Unit = { spark.catalog.clearCache(); Pins.sweep(spark) }
    build(spark, sfDir).explain("formatted")
    release()
    for (run <- Seq("first", "second")) {
      val (df, construction) = cost(spark)(build(spark, sfDir))
      val (_, execution) = cost(spark)(df.write.format("noop").mode("overwrite").save())
      println(s"[explain] $run run: construction $construction; execution $execution")
      release()
    }
    spark.stop()
  }
}
