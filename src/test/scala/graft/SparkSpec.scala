package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  // the production session contract (GraftSession installs GraftExtensions,
  // so imperative ensureRegistered calls become no-ops here, and
  // GraftExtensionsSpec proves the extension route alone resolves the
  // functions in a fresh child session), pinned to 4 threads so plan
  // shapes do not depend on the host
  lazy val session: SparkSession = {
    val s = GraftSession.local(cpus = 4, shufflePartitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
