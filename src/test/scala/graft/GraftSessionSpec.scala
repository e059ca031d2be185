package graft

import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The engine's one session factory and one profiling listener. */
class GraftSessionSpec extends SparkSpec {

  private lazy val mainSources: List[Path] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("GraftSession is the only SparkSession builder in src/main") {
    // hand-written builders drifted apart (core counts, a missing RocksDB
    // provider); every session the engine builds goes through the factory
    val builder = """SparkSession\s*\.\s*builder""".r
    assert(mainSources.nonEmpty)
    val offenders = mainSources.filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString)
    assert(offenders == List("src/main/scala/graft/GraftSession.scala"), offenders)
  }

  test("src/main has exactly the seven mains: Bench, Verify and five tools") {
    // one-off probe mains outlived the question they answered; a new
    // diagnostic belongs in Probe, not in another main
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val objectDecl = """\bobject\s+(\w+)""".r
    // each main is named by the last object declared above it
    val mains = for {
      p <- mainSources
      src = Files.readString(p)
      m <- """def\s+main\(""".r.findAllMatchIn(src)
    } yield pkg.findFirstMatchIn(src).get.group(1) + "." +
      objectDecl.findAllMatchIn(src.take(m.start)).toList.last.group(1)
    assert(mains.sorted == List("graft.Bench", "graft.Verify", "graft.tools.EntrySmoke",
      "graft.tools.Probe", "graft.tools.ScaleGen", "graft.tools.SurveyDump"), mains.sorted)
  }

  test("src/main builds native expressions as Columns, never by registered name") {
    // a by-name lookup resolves only in a session someone registered the
    // name in; ExprBridge.column needs no session setup at all
    val byName = Seq("call_function(", "ensureRegistered", "registerFunction", "injectFunction",
      "GraftExtensions")
    val offenders = for {
      p <- mainSources
      src = Files.readString(p)
      token <- byName if src.contains(token)
    } yield s"$p: $token"
    assert(offenders.isEmpty, offenders)
  }

  test("registered queries run on a fresh session and register no function") {
    // the six queries together use all seven native expressions
    // (text_bpe_encode, not text_bpe_train: at this scale training takes
    // the driver-local path and never builds a merge column)
    val names = Seq("emb_normalize", "ann_lsh_topk", "emb_pq_encode",
      "text_winnow_fingerprint", "dedup_ngram_jaccard", "text_bpe_encode")
    val expressions = Seq("graft_array_dot", "graft_srp_buckets", "graft_pq_codes",
      "graft_token_runs", "graft_shingle_runs", "graft_winnow_runs", "graft_bpe_merge_runs")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val planText = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    val fresh = spark.newSession()
    spark.sparkContext.addSparkListener(planText)
    try {
      names.foreach { n =>
        val rows = SparkEntry.queries(n)(fresh, sf("sf0.001")).collect()
        assert(rows.nonEmpty, s"$n returned no rows")
      }
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(planText)
    val executed = plans.asScala.mkString("\n")
    assert(expressions.forall(executed.contains), expressions.filterNot(executed.contains))
    val registered = fresh.sessionState.functionRegistry.listFunction().map(_.funcName)
    assert(!registered.exists(_.startsWith("graft_")), registered.filter(_.startsWith("graft_")))
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
