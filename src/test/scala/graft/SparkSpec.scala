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
  // the production session contract (GraftSession: UTC, UI off, RocksDB
  // state, nothing registered — GraftSessionSpec runs queries on a fresh
  // child session to pin that), pinned to 4 threads so plan shapes do not
  // depend on the host
  lazy val session: SparkSession = {
    val s = GraftSession.local(cpus = 4, shufflePartitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
