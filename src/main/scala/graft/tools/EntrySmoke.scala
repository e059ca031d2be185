package graft.tools

/** The driver's flagship smoke, runnable locally: `SparkEntry.entry` on
  * a fresh session must return rows > 0 at sf0.001.
  *
  * {{{
  * sbt "runMain graft.tools.EntrySmoke"
  * }}}
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
