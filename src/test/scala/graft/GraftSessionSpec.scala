package graft

import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The engine's one session factory and one profiling listener. */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession is the only SparkSession builder in src/main") {
    // hand-written builders drifted apart (core counts, a missing RocksDB
    // provider); every session the engine builds goes through the factory
    val builder = """SparkSession\s*\.\s*builder""".r
    val files = {
      val s = Files.walk(Paths.get("src/main"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty)
    val offenders = files.filter((p: Path) => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString)
    assert(offenders == List("src/main/scala/graft/GraftSession.scala"), offenders)
  }

  test("QueryListener: jobs, shuffle bytes and a driver gap inside the wall") {
    val l = new QueryListener
    spark.sparkContext.addSparkListener(l)
    try {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      l.reset()
      val t0 = System.currentTimeMillis()
      // one shuffle: a map stage writes it, the result stage reads it
      spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count()
        .queryExecution.toRdd.foreach(_ => ())
      val t1 = System.currentTimeMillis()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      assert(l.jobSpans.size >= 2, l.jobSpans)
      assert(l.bytes.shuffleWrite > 0, l.bytes)
      assert(l.bytes.shuffleRead > 0, l.bytes)
      val gap = l.driverGapMs(t0, t1)
      assert(gap >= 0 && gap <= t1 - t0, s"gap=$gap wall=${t1 - t0}")
      // the cumulative counts start over at reset
      l.reset()
      assert(l.bytes == QueryListener.Bytes(0, 0, 0, 0) && l.jobSpans.isEmpty)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
