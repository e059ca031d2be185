package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (local iteration
    // only — the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave a visible record, not a silent
    // absence: an omitted dump shrinks the driver's CORRECTNESS json and
    // reads as "all green" to anyone diffing only pass/fail columns
    // (exactly how the round-9 fixture regression hid). Collect per-query
    // errors and dump them as errors.json beside oracle_sql.json.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val cause = Option(e.getCause).map(c => s" caused by ${c}").getOrElse("")
        System.err.println(s"[verify] $name failed: ${e}$cause")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[verify]   at $f"))
        errors(name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}$cause"
      }
    }
    // a tab or CR in oracle SQL, left unescaped, would make the DuckDB
    // compare's json.load fail and silently zero every correctness result
    def q(s: String): String = "\"" + graft.util.JsonLog.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
