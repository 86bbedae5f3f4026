package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's per-document rules are stateless narrow transforms, so
  * they run unchanged over a `readStream` source: each test streams a
  * pages directory through shipped rule code and compares the verdicts
  * with the batch run over the same pages.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming heuristic verdicts equal the batch pass-1 heuristics") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.streaming.Trigger
    val pages = graft.sources.PagesGen.generate(spark, 500, 4).toDF()
    val dir = java.nio.file.Files.createTempDirectory("graft-pages-stream").toString
    pages.write.mode(SaveMode.Overwrite).parquet(dir)
    val feat = graft.pipeline.QualityPipeline.features(
      spark.readStream.schema(graft.model.Page.schema).parquet(dir))
    val q = graft.pipeline.QualityPipeline
      .heuristicVerdicts(feat, graft.pipeline.QualityPipeline.defaultConfig)
      .writeStream.outputMode("append").format("memory")
      .queryName("page_verdicts").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT url, rule FROM page_verdicts")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val batchPages = spark.read.parquet(dir)
    val batch = graft.pipeline.QualityPipeline.heuristicVerdicts(
        graft.pipeline.QualityPipeline.features(batchPages),
        graft.pipeline.QualityPipeline.defaultConfig)
      .select("url", "rule")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("model-quality rule streams: readStream verdicts equal the batch rule") {
    // the learned filter is a stateless codegen'd narrow map (weights in
    // the expression), so it rides readStream unchanged — the "score the
    // live crawl" production shape
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.streaming.Trigger
    val pages = graft.sources.PagesGen.generate(spark, 600, 4).toDF()
    val dir = java.nio.file.Files.createTempDirectory("graft-mq-stream").toString
    pages.write.mode(SaveMode.Overwrite).parquet(dir)
    val q = graft.rules.Rules.modelQualityRule(
        spark.readStream.schema(graft.model.Page.schema).parquet(dir),
        org.apache.spark.sql.functions.col("url"),
        org.apache.spark.sql.functions.col("text"), 0.45)
      .writeStream.outputMode("append").format("memory")
      .queryName("mq_verdicts").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT url, score FROM mq_verdicts")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val batch = graft.rules.Rules.modelQualityRule(
        spark.read.parquet(dir),
        org.apache.spark.sql.functions.col("url"),
        org.apache.spark.sql.functions.col("text"), 0.45)
      .select("url", "score")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
