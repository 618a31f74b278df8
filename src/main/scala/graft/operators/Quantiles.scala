package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed exact quantiles (reference `_quantile.py:14-133`; pandas
  * `quantile(interpolation="linear")` / DuckDB `quantile_cont`).
  *
  * Spark's built-in exact `percentile`/`median` is a
  * `TypedImperativeAggregate` whose buffer holds EVERY value of the
  * column, so the final merge materializes the whole column in one task
  * — a guaranteed OOM at the 100 TB design point. This operator instead
  * computes exact quantiles with bounded memory everywhere:
  *
  *  1. range-partition the column (`repartitionByRange` — Spark samples
  *     split points, the standard scale-out sort primitive) and persist
  *     it, pinning one concrete partitioning for both passes (the range
  *     sampler is seeded per-execution, so two independent jobs could
  *     otherwise land on different bounds and desynchronize the offsets);
  *  2. count rows per partition (one tiny aggregation; O(partitions)
  *     rows to the driver);
  *  3. turn each requested fraction into its two neighboring global
  *     order statistics, locate each as (partition, local rank) via the
  *     partition offsets, and fetch just those rows with a
  *     partition-local `row_number` window (no global window, no
  *     single-partition funnel);
  *  4. linearly interpolate on the driver (`lo + (hi - lo) * w`, the
  *     same formula Spark's `percentile` and DuckDB's `quantile_cont`
  *     use, so results are bit-identical to both).
  *
  * Driver traffic is O(partitions + fractions); every executor-side
  * structure is bounded by the partition size; the persisted single
  * double column spills to disk if it outgrows memory.
  *
  * A small input (estimated small, and at most 2^20 rows by a capped
  * scan) skips the pipeline: its values are collected in one job and
  * sorted on the driver, with the same order statistics and the same
  * interpolation, so the result is the same to the bit.
  */
object Quantiles {

  /** Exact linear-interpolation quantiles of `valueCol` (nulls excluded),
    * as one driver-side Double per requested fraction.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, fractions: Seq[Double]): Seq[Double] =
    exactQuantilesMulti(df, Seq(valueCol -> fractions))(valueCol)

  /** Exact quantiles for SEVERAL columns in ONE range-partition
    * pipeline: the columns union into a (tag, value) long-format stream
    * range-partitioned on (tag, value), so tag runs are contiguous and
    * per-tag offsets fall out of one per-(partition, tag) count. Versus
    * one pipeline per column this divides the job count (shuffle +
    * count + probe, ~4 jobs each) by the column count — same driver
    * traffic, same bounded executor memory.
    */
  def exactQuantilesMulti(df: DataFrame,
      specs: Seq[(String, Seq[Double])]): Map[String, Seq[Double]] =
    exactQuantilesMulti(df, specs, DriverSortRows)

  /** Inputs of at most this many rows are sorted on the driver: one
    * scan job instead of the range pipeline's sample, count and probe
    * jobs. 2^20 doubles per column; the cap holds whatever the size
    * estimate says. */
  private val DriverSortRows = 1 << 20

  /** [[exactQuantilesMulti]] with the driver-sort row cap as a
    * parameter; 0 always takes the range-partitioned path. */
  private[graft] def exactQuantilesMulti(df: DataFrame, specs: Seq[(String, Seq[Double])],
      driverSortRows: Int): Map[String, Seq[Double]] = Tuning.forSize(df) {
    require(specs.nonEmpty, "at least one (column, fractions) spec")
    specs.foreach { case (c, fs) =>
      require(fs.nonEmpty && fs.forall(f => f >= 0.0 && f <= 1.0),
        s"fractions must be in [0,1] for $c: $fs") }
    sortedOnDriver(df, specs.map(_._1), driverSortRows) match {
      case Some(sorted) => specs.map { case (c, fractions) =>
        val v = sorted(c)
        if (v.isEmpty) throw new IllegalArgumentException(s"exactQuantiles($c): no non-null rows")
        c -> targets(v.length, fractions).map { case (lo, hi, wgt) =>
          interpolate(v(lo.toInt), v(hi.toInt), lo == hi, wgt)
        }
      }.toMap
      case None => rangeQuantiles(df, specs)
    }
  }

  /** Each column's values cast to double, nulls and NaNs dropped (as the
    * range path's `na.drop` does), sorted; None unless the input is
    * estimated small and holds at most `maxRows` rows. The estimate
    * spares a large input the capped scan, and the cap bounds driver
    * memory when the estimate is wrong. */
  private def sortedOnDriver(df: DataFrame, cols: Seq[String],
      maxRows: Int): Option[Map[String, Array[Double]]] = {
    val values = df.select(cols.map(c => col(c).cast("double")): _*)
    val estimate = scala.util.Try(values.queryExecution.optimizedPlan.stats.sizeInBytes)
    if (maxRows <= 0 || !estimate.toOption.exists(_ <= BigInt(8L * maxRows * cols.size))) None
    else {
      val rows = values.limit(maxRows + 1).collect()
      if (rows.length > maxRows) None
      else Some(cols.zipWithIndex.map { case (c, i) =>
        val v = rows.iterator.filter(!_.isNullAt(i)).map(_.getDouble(i)).filter(!_.isNaN).toArray
        java.util.Arrays.sort(v)
        c -> v
      }.toMap)
    }
  }

  /** The two order statistics around `p * (n - 1)` and the weight
    * between them, per fraction. */
  private def targets(n: Long, fractions: Seq[Double]): Seq[(Long, Long, Double)] =
    fractions.map { p =>
      val pos = p * (n - 1)
      (math.floor(pos).toLong, math.ceil(pos).toLong, pos - math.floor(pos))
    }

  /** DuckDB's `lo + (hi - lo) * w`, the form the oracle replays. */
  private def interpolate(a: Double, b: Double, same: Boolean, wgt: Double): Double =
    if (same) a else a + (b - a) * wgt

  /** The range-partitioned pipeline of the object doc, for any input
    * size. */
  private def rangeQuantiles(df: DataFrame,
      specs: Seq[(String, Seq[Double])]): Map[String, Seq[Double]] = {
    val spark = df.sparkSession
    // Session shuffle parallelism (which Tuning.forSize just right-sized
    // for small inputs) also drives the range-partition count.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // localCheckpoint (eager) PINS the partition layout: the range
    // sampler is seeded per-execution, so a plain persist() whose
    // partition is evicted/lost would silently recompute under freshly
    // sampled bounds and desynchronize pass-2 ranks from pass-1 offsets.
    // With the lineage cut, a lost partition fails the job instead of
    // corrupting the answer — fail-fast over silently wrong.
    // (lazy: materializes during the pass-1 count — no extra job)
    val tagged = df.select(explode(array(specs.map { case (c, _) =>
        struct(lit(c).as("__t"), col(c).cast("double").as("__v")) }: _*)).as("s"))
      .select(col("s.__t").as("__t"), col("s.__v").as("__v"))
      .na.drop("any", Seq("__v"))
      .repartitionByRange(parts, col("__t"), col("__v"))
      .localCheckpoint(false)
    try {
      // Pass 1: per-(partition, tag) counts → per-tag global offsets.
      // Range partitioning on (tag, value) keeps each tag's rows
      // contiguous across the partition sequence, so scanning the
      // counts in (pid) order per tag yields that tag's value-order
      // offsets exactly as in the single-column case.
      val counts = tagged
        .groupBy(spark_partition_id().as("__pid"), col("__t"))
        .agg(count(lit(1)).as("__c"))
        .collect().map(r => (r.getString(1), r.getInt(0), r.getLong(2)))
      val byTag = counts.groupBy(_._1)

      // For each tag: (pid, first global index in pid, count) spans,
      // then the wanted order statistics floor/ceil of p*(n-1).
      case class Probe(tag: String, g: Long, pid: Int, rank: Long)
      val targetsByTag = specs.map { case (tag, fractions) =>
        val tagCounts = byTag.getOrElse(tag,
          throw new IllegalArgumentException(
            s"exactQuantiles($tag): no non-null rows")).map(c => c._2 -> c._3).sortBy(_._1)
        val n = tagCounts.map(_._2).sum
        val spans = tagCounts.scanLeft((0, 0L, 0L)) { case ((_, off, c), (pid, cnt)) =>
          (pid, off + c, cnt)
        }.drop(1)
        val ts = targets(n, fractions)
        val probes = ts.flatMap(t => Seq(t._1, t._2)).distinct.map { g =>
          val (pid, off, _) = spans.find { case (_, off, c) => off <= g && g < off + c }.get
          Probe(tag, g, pid, g - off + 1)
        }
        (tag, ts, probes)
      }
      val located = targetsByTag.flatMap(_._3)
      val neededPids = located.map(_.pid).distinct

      // Pass 2 (checkpoint read): (partition, tag)-local ranks via a
      // window — groups are whole range-partition tag runs — then an
      // equi-join against the tiny broadcast lookup fetches only the
      // wanted rows. Partitions holding no wanted order statistic are
      // dropped before the window, so the exchange moves only the few
      // partitions actually probed — O(fractions) of them.
      val lookupDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          located.map(p => Row(p.tag, p.g, p.pid, p.rank)), 1),
        StructType(Seq(StructField("__t", org.apache.spark.sql.types.StringType),
          StructField("__g", LongType),
          StructField("__pid", IntegerType), StructField("__rank", LongType))))
      val w = Window.partitionBy("__pid", "__t").orderBy("__v")
      val picked = tagged.withColumn("__pid", spark_partition_id())
        .filter(col("__pid").isin(neededPids: _*))
        .withColumn("__rank", row_number().over(w).cast("long"))
        .join(broadcast(lookupDf), Seq("__t", "__pid", "__rank"))
        .select("__t", "__g", "__v")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

      targetsByTag.map { case (tag, ts, _) =>
        tag -> ts.map { case (lo, hi, wgt) =>
          interpolate(picked((tag, lo)), picked((tag, hi)), lo == hi, wgt)
        }
      }.toMap
    } finally tagged.unpersist(blocking = false)
  }

  /** Convenience: exact median. */
  def exactMedian(df: DataFrame, valueCol: String): Double =
    exactQuantiles(df, valueCol, Seq(0.5)).head

  /** Exact PER-GROUP quantiles with the same bounded-memory offset
    * machinery, tag = group value: range-partition on (group, value) so
    * each group's rows are contiguous in value order, count per
    * (partition, group), locate each group's order statistics, probe
    * with a partition-local window, interpolate on the driver.
    *
    * Regime note (the honest trade): driver traffic is
    * O(partitions × groups + groups × fractions), so this is the
    * at-scale EXACT path when groups are FEW and huge — the case where
    * Spark's `percentile`/`median` counts-map buffer (memory ∝ distinct
    * values in the largest group) dies. For MANY small groups the
    * buffered aggregate is the right plan (each buffer is bounded by
    * its group), and for many LARGE groups the mergeable t-digest
    * (q_tdigest_quantile) is the approximate answer. Same
    * interpolation formula as `percentile`/DuckDB `quantile_cont` —
    * results are bit-identical.
    *
    * Returns (groupCol, q_<frac>... ) one row per group, group order
    * unspecified.
    */
  def groupedExactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      fractions: Seq[Double]): DataFrame = Tuning.forSize(df) {
    require(fractions.nonEmpty && fractions.forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must be in [0,1]: $fractions")
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tagged = df
      .select(col(groupCol).cast("string").as("__t"), col(valueCol).cast("double").as("__v"))
      .na.drop("any", Seq("__t", "__v"))
      .repartitionByRange(parts, col("__t"), col("__v"))
      .localCheckpoint(false)
    try {
      val counts = tagged
        .groupBy(spark_partition_id().as("__pid"), col("__t"))
        .agg(count(lit(1)).as("__c"))
        .collect().map(r => (r.getString(1), r.getInt(0), r.getLong(2)))
      val byTag = counts.groupBy(_._1)
      case class Probe(tag: String, g: Long, pid: Int, rank: Long)
      val targetsByTag = byTag.toSeq.map { case (tag, tagCounts0) =>
        val tagCounts = tagCounts0.map(c => c._2 -> c._3).sortBy(_._1)
        val n = tagCounts.map(_._2).sum
        val spans = tagCounts.scanLeft((0, 0L, 0L)) { case ((_, off, c), (pid, cnt)) =>
          (pid, off + c, cnt)
        }.drop(1)
        val ts = targets(n, fractions)
        val probes = ts.flatMap(t => Seq(t._1, t._2)).distinct.map { g =>
          val (pid, off, _) = spans.find { case (_, off, c) => off <= g && g < off + c }.get
          Probe(tag, g, pid, g - off + 1)
        }
        (tag, ts, probes)
      }
      val located = targetsByTag.flatMap(_._3)
      val neededPids = located.map(_.pid).distinct
      val lookupDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          located.map(p => Row(p.tag, p.g, p.pid, p.rank)), 1),
        StructType(Seq(StructField("__t", org.apache.spark.sql.types.StringType),
          StructField("__g", LongType),
          StructField("__pid", IntegerType), StructField("__rank", LongType))))
      val w = Window.partitionBy("__pid", "__t").orderBy("__v")
      val picked = tagged.withColumn("__pid", spark_partition_id())
        .filter(col("__pid").isin(neededPids: _*))
        .withColumn("__rank", row_number().over(w).cast("long"))
        .join(broadcast(lookupDf), Seq("__t", "__pid", "__rank"))
        .select("__t", "__g", "__v")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val out = targetsByTag.map { case (tag, ts, _) =>
        Row.fromSeq(tag +: ts.map { case (lo, hi, wgt) =>
          interpolate(picked((tag, lo)), picked((tag, hi)), lo == hi, wgt)
        })
      }
      val schema = StructType(
        StructField(groupCol, org.apache.spark.sql.types.StringType) +:
          fractions.map(f => StructField(
            s"q_${f.toString.replace('.', '_')}",
            org.apache.spark.sql.types.DoubleType)))
      spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
    } finally tagged.unpersist(blocking = false)
  }
}
