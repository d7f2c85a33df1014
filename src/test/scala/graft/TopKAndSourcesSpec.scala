package graft

import java.nio.file.Files

import graft.operators.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("TopKPerKey == window row_number formulation on a second dataset") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"))
    val got = TopK.perKey(ev, Seq("user_id"), Seq(col("value").desc, col("event_id")), 2)
      .orderBy(col("user_id"), col("value").desc, col("event_id")).collect()
    val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    val want = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2).drop("rn")
      .orderBy(col("user_id"), col("value").desc, col("event_id")).collect()
    assert(got.length === want.length)
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("physical plan is two-phase with one exchange") {
    val ev = graft.sources.Tables.events(spark, sf).select(col("user_id"), col("value"))
    val plan = TopK.perKey(ev, Seq("user_id"), Seq(col("value").desc), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"))
    assert("TopKPerKey".r.findAllIn(plan).size === 2, s"expected partial+final:\n$plan")
  }
}

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("csv / json / orc / parquet round-trip preserves data") {
    val base = graft.sources.Tables.customer(spark, sf)
      .orderBy("c_custkey")
    val want = base.collect().map(_.toString)
    for (fmt <- Seq("csv", "json", "orc", "parquet")) {
      val dir = Files.createTempDirectory(s"graft-$fmt").toString + "/out"
      val writer = base.write.mode("overwrite").format(fmt)
      (if (fmt == "csv") writer.option("header", "true") else writer).save(dir)
      val reader = spark.read.format(fmt)
      val back = (fmt match {
        case "csv" => reader.option("header", "true").schema(base.schema).load(dir)
        case "json" => reader.schema(base.schema).load(dir) // inference widens int32→long
        case _ => reader.load(dir)
      }).orderBy("c_custkey").collect().map(_.toString)
      assert(back.sameElements(want), s"$fmt round-trip mismatch")
    }
  }

  test("kafka reader builder produces a streaming kafka plan") {
    val cfg = graft.config.PipelineConfig(topics = Seq("t1", "t2"))
    // no connector jar in the image: building the reader must still
    // produce a kafka-format source definition (resolved at start())
    val err = intercept[Throwable] {
      graft.sources.KafkaIngest.readStream(spark, cfg)
    }
    assert(err.getMessage.toLowerCase.contains("kafka"))
  }

  test("PipelineConfig parses the reference properties surface") {
    val props = new java.util.Properties()
    props.setProperty("kafka.topic", "a,b")
    props.setProperty("window.size", "5")
    props.setProperty("check.field", "cTime,essCode")
    props.setProperty("clickhouse.maxRetries", "7")
    val cfg = graft.config.PipelineConfig.fromProperties(props)
    assert(cfg.topics === Seq("a", "b"))
    assert(cfg.windowSize === 5)
    assert(cfg.requiredFields === Seq("cTime", "essCode"))
    assert(cfg.sinkMaxRetries === 7)

    // keys of the reference file that nothing reads still load
    props.setProperty("state.backend", "rocksdb")
    props.setProperty("clickhouse.stringTypes", "String,Date,DateTime")
    props.setProperty("flink.env", "prod")
    val file = java.nio.file.Files.createTempFile("graft-pipeline", ".properties")
    try {
      val out = java.nio.file.Files.newOutputStream(file)
      try props.store(out, null) finally out.close()
      assert(graft.config.PipelineConfig.fromFile(file.toString) === cfg)
    } finally java.nio.file.Files.delete(file)
  }
}
