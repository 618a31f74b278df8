package graft

import org.apache.spark.sql.functions._
import graft.operators.TextDedup
import graft.sources.Layout

/** Materialized-stage hygiene funnel (TextDedup.hygieneFunnelStaged):
  * the staged run must equal the in-memory run bit for bit (report AND
  * stage contents), a rerun must RESUME (no stage recomputed, no table
  * rewritten), and the s4 table must be consumable as the admitted
  * batch of the Layout snapshot cycle.
  */
class StagedFunnelSpec extends SparkSpec {

  private def report(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq

  private def dropStage(prefix: String, ns: Int*): Unit =
    ns.foreach(n => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_s$n"))

  test("staged funnel == in-memory funnel; rerun resumes without stage work") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val pfx = "sfs_a"
    try {
      val inMem = report(TextDedup.hygieneFunnel(docs,
        "doc_id", "source", "text"))
      val staged = report(TextDedup.hygieneFunnelStaged(docs,
        "doc_id", "source", "text", tablePrefix = pfx))
      // the report pins each stage's (count, tokens, content XOR of
      // id|text) — bit-equality here IS stage-content equality
      assert(staged == inMem, s"staged $staged vs in-memory $inMem")
      // s1 contents equal an independently computed exact keep-first
      val wantS1 = {
        val keep = docs.groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("doc_id"))
        docs.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      }.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val gotS1 = spark.table(s"${pfx}_s1")
        .select("doc_id", "source", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(gotS1 == wantS1)
      // resume: file sets untouched, almost no jobs (only the report)
      val filesBefore = (1 to 4).map(n =>
        spark.table(s"${pfx}_s$n").inputFiles.toSet)
      var resumed = Seq.empty[(String, Long, Long, Long)]
      val jobs = jobsDuring {
        resumed = report(TextDedup.hygieneFunnelStaged(docs,
          "doc_id", "source", "text", tablePrefix = pfx))
      }
      assert(resumed == inMem)
      val filesAfter = (1 to 4).map(n =>
        spark.table(s"${pfx}_s$n").inputFiles.toSet)
      assert(filesAfter == filesBefore, "resume rewrote a stage table")
      // the resumed run's only work is the single report aggregate (a
      // couple of AQE jobs); stage computation would schedule dozens
      assert(jobs <= 6,
        s"resume scheduled $jobs jobs — stage work was redone")
    } finally dropStage(pfx, 1, 2, 3, 4)
  }

  test("partial resume recomputes only the missing tail stages") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val pfx = "sfs_b"
    try {
      val first = report(TextDedup.hygieneFunnelStaged(docs,
        "doc_id", "source", "text", tablePrefix = pfx))
      val early = (1 to 2).map(n =>
        spark.table(s"${pfx}_s$n").inputFiles.toSet)
      dropStage(pfx, 3, 4) // crash after s2, before s3 completed
      val resumed = report(TextDedup.hygieneFunnelStaged(docs,
        "doc_id", "source", "text", tablePrefix = pfx))
      assert(resumed == first)
      assert((1 to 2).map(n =>
        spark.table(s"${pfx}_s$n").inputFiles.toSet) == early,
        "partial resume rewrote a completed early stage")
    } finally dropStage(pfx, 1, 2, 3, 4)
  }

  test("s4 survivors feed the Layout snapshot cycle as the admitted batch") {
    // day 0 corpus -> stored hygiene indexes; day 1 batch -> staged
    // funnel; the s4 TABLE (rebuilt text) is what refreshes the
    // indexes — the full production loop with the funnel's output, not
    // the raw batch, as the admitted set.
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val day0 = docs.filter(col("doc_id") % 10 < 8)
    val day1 = docs.filter(col("doc_id") % 10 >= 8)
    val pfx = "sfs_c"
    try {
      Layout.writeHygieneIndexes(day0, "doc_id", "text",
        "sfs_fp", "sfs_win", numBuckets = 4)
      TextDedup.hygieneFunnelStaged(day1, "doc_id", "source", "text",
        tablePrefix = pfx).collect()
      val admitted = spark.table(s"${pfx}_s4")
        .select(col("doc_id"), col("text_clean").as("text"))
      Layout.appendHygieneIndexes(admitted, "doc_id", "text",
        "sfs_fp", "sfs_win")
      // stored fp index == day0 + admitted survivors recomputed ad hoc
      val want = TextDedup.winnowFingerprints(
          day0.select(col("doc_id"), col("text")).unionByName(admitted),
          "doc_id", "text", k = 3, w = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = spark.table("sfs_fp")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"fp index drifted: ${got.size} vs ${want.size}")
    } finally {
      dropStage(pfx, 1, 2, 3, 4)
      spark.sql("DROP TABLE IF EXISTS sfs_fp")
      spark.sql("DROP TABLE IF EXISTS sfs_win")
    }
  }
}
