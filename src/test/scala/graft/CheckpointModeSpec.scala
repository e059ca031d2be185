package graft

import graft.ops.Caching
import org.apache.spark.sql.functions._

/** The r22 checkpoint-durability rule (Caching.eagerCheckpoint): local
  * checkpoint by default, RELIABLE checkpoint when
  * `spark.graft.checkpoint.dir` is set — both modes value-identical, so
  * a deployment can buy executor-loss durability without touching any
  * operator. The specs share one SparkContext, which holds one
  * checkpoint dir, so every reliable case uses the same dir.
  */
class CheckpointModeSpec extends SparkSpec {

  private lazy val ckptDir = tempDir("graft-reliable-ckpt")

  test("eagerCheckpoint: local and reliable modes are value-identical") {
    val df = spark.range(0, 1000).select(
      col("id"), (col("id") % 7).as("k"), (col("id") * 3).as("v"))
    val local = Caching.eagerCheckpoint(df)
    assert(local.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

    val dir = ckptDir
    val ss = spark.newSession()
    ss.conf.set("spark.graft.checkpoint.dir", dir)
    val dfR = ss.range(0, 1000).select(
      col("id"), (col("id") % 7).as("k"), (col("id") * 3).as("v"))
    val reliable = Caching.eagerCheckpoint(dfR)
    assert(local.collect().toSeq.map(_.toSeq).sortBy(_.head.toString) ==
      reliable.collect().toSeq.map(_.toSeq).sortBy(_.head.toString))
    // the reliable mode actually wrote checkpoint data to the configured dir
    assert(ss.sparkContext.getCheckpointDir.exists(_.contains(new java.io.File(dir).getName)))
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "reliable checkpoint wrote no files")
  }

  test("eagerCheckpoint: reliable mode computes the frame once") {
    // the eager checkpoint writes its files from the one job that
    // computes the frame, so no persist is needed around it
    val dir = ckptDir
    val ss = spark.newSession()
    ss.conf.set("spark.graft.checkpoint.dir", dir)
    val rows = ss.sparkContext.longAccumulator("checkpointed rows")
    val tick = udf { (id: Long) => rows.add(1L); id }
    Caching.eagerCheckpoint(ss.range(0, 1000).select(tick(col("id")).as("id")))
    assert(rows.value == 1000L)
  }

  test("q_vocab_growth is identical in both checkpoint modes") {
    val fn = SparkEntry.queries("q_vocab_growth")
    val base = fn(spark, sf("sf0.001")).collect().map(_.toSeq).sortBy(_.head.toString)
    val dir = ckptDir
    val ss = spark.newSession()
    ss.conf.set("spark.graft.checkpoint.dir", dir)
    val rel = fn(ss, sf("sf0.001")).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(base.toSeq == rel.toSeq)
  }

  test("eagerCheckpoint: a second checkpoint dir on one context fails loudly") {
    val first = spark.newSession()
    first.conf.set("spark.graft.checkpoint.dir", ckptDir)
    Caching.eagerCheckpoint(first.range(0, 10).toDF())
    val other = tempDir("graft-other-ckpt")
    val second = spark.newSession()
    second.conf.set("spark.graft.checkpoint.dir", other)
    val e = intercept[IllegalStateException] {
      Caching.eagerCheckpoint(second.range(0, 10).toDF())
    }
    assert(e.getMessage.contains("graft-other-ckpt"), e.getMessage)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(other)).count() == 0,
      "nothing may be written to the mismatched dir")
  }
}
