package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String): String = s"/root/testdata/$dir"

  private val tempRoots = new ConcurrentLinkedQueue[String]()

  /** A fresh temp directory whose name starts with `prefix`, deleted
    * after the spec's last test.
    */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    tempRoots.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try tempRoots.asScala.foreach(graft.queries.Scratch.delete)
    finally super.afterAll()
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
