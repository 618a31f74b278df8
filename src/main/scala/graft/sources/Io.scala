package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (reference `io/csv.py`, `io/json.py:9-117`,
  * `io/orc.py:5-60`, `io/parquet.py:252-711`, `_collection.py:5092`).
  *
  * Thin by design: Spark's DataSource V2 readers already provide the
  * split computation, schema inference, projection/filter pushdown and
  * parallel writes the reference hand-builds, so the engine surface is
  * a stable facade over `spark.read`/`df.write`. Explicit schemas are
  * accepted by the text-like readers.
  *
  * Parquet schemas are resolved once per file version: see
  * [[readParquet]].
  */
object Io {

  /** Sorted (name, length, mtime) of the listed files, and the sorted
    * parquet session confs. */
  private type Fingerprint = (Seq[(String, Long, Long)], Seq[(String, String)])

  /** Qualified path -> (fingerprint, inferred schema); one entry per
    * path, replaced when the fingerprint changes. */
  private val parquetSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Fingerprint, StructType)]

  /** `spark.read.parquet(path)` without re-running schema inference
    * (one Spark job per read, even for a single file) while the data is
    * unchanged. The inferred schema is kept per qualified path under a
    * fingerprint of the sorted (name, length, mtime) of
    * `fs.listStatus(path)` plus every session conf whose key contains
    * `parquet` (e.g. `binaryAsString`, `legacy.parquet.nanosAsLong`); a
    * hit reads with `spark.read.schema(s)`, so listing, pushdown and
    * pruning are as for an inferred read. Paths that cannot be listed
    * as given (globs) and listings with a subdirectory (Hive-partitioned
    * layouts; a top-level listing does not see nested changes) always
    * infer. A file rewritten in place with the same name, length and
    * mtime is not detected. There is no option to set.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    parquetFingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, fp)) => Option(parquetSchemas.get(key)) match {
        case Some((`fp`, schema)) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          parquetSchemas.put(key, (fp, df.schema))
          df
      }
    }

  private def parquetFingerprint(spark: SparkSession, path: String)
      : Option[(String, Fingerprint)] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val listing = try fs.listStatus(p) catch { case _: java.io.IOException => return None }
    if (listing.isEmpty || listing.exists(_.isDirectory)) None
    else {
      val files = listing.toSeq
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted
      val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
      Some((fs.makeQualified(p).toString, (files, confs)))
    }
  }

  def readCsv(spark: SparkSession, path: String, schema: StructType = null,
      header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    (if (schema != null) r.schema(schema) else r.option("inferSchema", "true")).csv(path)
  }

  def readJson(spark: SparkSession, path: String, schema: StructType = null): DataFrame = {
    val r = spark.read
    (if (schema != null) r.schema(schema) else r).json(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)

  /** XML source/sink (Spark 4 built-in data source; beyond the
    * reference's format list — rounds out the IO surface the same way
    * csv/json/orc do). `rowTag` names the per-record element. */
  def readXml(spark: SparkSession, path: String, rowTag: String,
      schema: StructType = null): DataFrame = {
    val r = spark.read.format("xml").option("rowTag", rowTag)
    (if (schema != null) r.schema(schema) else r).load(path)
  }

  def writeXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("xml")
      .option("rowTag", rowTag).save(path)

  /** Fixed-width reader (reference `_collection.py:5092-5150` read_fwf,
    * which delegates to the tabular text layer): one text scan + a
    * substring-and-trim projection per colspec. Split computation and
    * parallelism come from the text source; the width arithmetic is an
    * ordinary projection, so Catalyst prunes unused fields like any
    * other column. `colspecs` are pandas-style half-open 0-based
    * (name, start, end) character ranges; `schema` (by matching field
    * name) adds the type casts.
    */
  def readFwf(spark: SparkSession, path: String,
      colspecs: Seq[(String, Int, Int)], schema: StructType = null): DataFrame = {
    import org.apache.spark.sql.functions._
    val types = if (schema == null) Map.empty[String, org.apache.spark.sql.types.DataType]
      else schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = colspecs.map { case (name, start, end) =>
      val s = trim(substring(col("value"), start + 1, end - start))
      // blank field = null (pandas reads it as NaN; also writeFwf's null
      // sentinel) — and ANSI cast of "" would throw rather than null out
      types.get(name).map(t => nullif(s, lit("")).cast(t)).getOrElse(s).as(name)
    }
    spark.read.text(path).select(cols: _*)
  }

  /** Fixed-width writer (roundtrip companion to [[readFwf]]): each
    * column right-padded to its width and concatenated into one line.
    * Fails fast on values wider than their field — silent truncation
    * would corrupt the roundtrip. Null values write as the all-spaces
    * sentinel (fixed-width has no other null encoding); [[readFwf]]'s
    * trim + cast recovers null for typed columns, empty string for
    * untyped ones. */
  def writeFwf(df: DataFrame, path: String, widths: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    require(widths.length == df.columns.length,
      s"writeFwf: ${widths.length} widths for ${df.columns.length} columns")
    val padded = df.columns.zip(widths).map { case (c, w) =>
      val s = col(c).cast("string")
      val cell = when(length(s) > w, raise_error(
        concat(lit(s"writeFwf: value wider than $w in column $c: "), s)))
        .otherwise(rpad(s, w, " "))
      coalesce(cell, lit(" " * w))
    }
    df.select(concat(padded.toIndexedSeq: _*).as("value")).write
      .mode(SaveMode.Overwrite).text(path)
  }

  /** Generator-table source (reference io/io.py:218 FromMap) — see
    * [[graft.sources.MapSource]] for pushdown semantics. */
  def readMap(spark: SparkSession, rows: Long, partitions: Int): DataFrame =
    spark.read.format("graft.sources.MapSource")
      .option("rows", rows.toString)
      .option("partitions", partitions.toString)
      .load()

  /** JDBC source/sink (reference io/sql.py). Spark's JDBC relation
    * handles predicate pushdown and partitioned reads
    * (partitionColumn/lowerBound/upperBound for parallel scans at
    * scale); tested here against embedded Derby.
    */
  def readJdbc(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()

  def writeJdbc(df: DataFrame, url: String, table: String): Unit =
    df.write.format("jdbc").option("url", url).option("dbtable", table)
      .mode(SaveMode.Overwrite).save()
}
