package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.sources.{Io, Layout}

/** The parquet schema-reuse contract of `Io.readParquet`: a repeat read
  * of unchanged files fires no Spark job and reads exactly what an
  * inferred read does, while a rewrite or a changed parquet conf is
  * never served a stale schema.
  */
class IoSpec extends SparkSpec {

  private val dir = java.nio.file.Files.createTempDirectory("io_spec").toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a repeat read of unchanged files fires no job and equals an inferred read") {
    val path = s"$sfDir/lineitem.parquet"
    // the counter sees inference: a cold path fires at least one job
    Tables.lineitem(spark, sfDir).write.parquet(s"$dir/cold")
    assert(jobsDuring(Io.readParquet(spark, s"$dir/cold")) >= 1)
    // `Tables.events` sets a parquet conf, which is part of every
    // table's fingerprint: set it first, then one read per table warms
    Tables.events(spark, sfDir)
    Tables.names.foreach(Tables.load(spark, sfDir, _))
    assert(jobsDuring {
      Tables.names.foreach(Tables.load(spark, sfDir, _))
      Tables.lineitem(spark, sfDir)
      Io.readParquet(spark, path)
      graft.api.Frame.readParquet(spark, path)
    } == 0)
    val reused = Io.readParquet(spark, path)
    val inferred = spark.read.parquet(path)
    assert(reused.schema == inferred.schema)
    assert(rows(reused) == rows(inferred))
  }

  test("rewriting a path with a different schema returns the new schema") {
    import spark.implicits._
    val path = s"$dir/rewrite"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(path)
    assert(Io.readParquet(spark, path).schema.fieldNames.toSeq == Seq("id", "name"))
    Seq((3, 0.5)).toDF("n", "x").write.mode("overwrite").parquet(path)
    val df = Io.readParquet(spark, path)
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.schema.fieldNames.toSeq == Seq("n", "x"))
    assert(rows(df) == Seq("[3,0.5]"))
  }

  test("a changed parquet conf is not served the schema inferred under the old one") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // written without Spark's schema metadata, which would otherwise
    // pin the column type regardless of binaryAsString
    val path = s"$dir/binary"
    val ptype = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$path/part-0.parquet"))
      .withType(ptype).build()
    try w.write(new SimpleGroupFactory(ptype).newGroup().append("b", "hi"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Io.readParquet(spark, path).schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val df = Io.readParquet(spark, path)
      assert(df.schema("b").dataType == StringType)
      assert(rows(df) == Seq("[hi]"))
      spark.conf.set(key, "false")
      assert(Io.readParquet(spark, path).schema("b").dataType == BinaryType)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("globs and partitioned layouts read as spark.read.parquet does") {
    Layout.writePartitioned(Tables.nation(spark, sfDir), s"$dir/part", "n_regionkey")
    for (p <- Seq(s"$dir/part", s"$sfDir/n*.parquet")) {
      val df = Io.readParquet(spark, p)
      val plain = spark.read.parquet(p)
      assert(df.schema == plain.schema, p)
      assert(rows(df) == rows(plain), p)
    }
  }
}
