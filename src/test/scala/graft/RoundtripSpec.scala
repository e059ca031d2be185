package graft

import graft.queries.{EtlQueries, Scratch}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The interchange round-trip contract behind `q_{jsonl,orc,csv}_roundtrip`:
  * the CSV dialect pinned by `EtlQueries.csvWriteOptions`/`csvReadOptions` must carry
  * every CSV-hostile value shape losslessly (the registry gate's fixture
  * text is benign, so the adversarial shapes are pinned here), and the
  * roundtrip queries must clean their `/tmp/graft-roundtrip/<appId>`
  * staging directory after materializing — staging data previously
  * accumulated unboundedly across sweep runs (fresh applicationId each).
  */
class RoundtripSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  test("pinned CSV dialect round-trips null vs empty vs quotes vs newlines vs delimiters") {
    val rows = Seq(
      Row(1L, null),
      Row(2L, ""),
      Row(3L, "plain words"),
      Row(4L, "comma, separated, values"),
      Row(5L, "a \"quoted\" span"),
      Row(6L, "line one\nline two\r\nline three"),
      Row(7L, "back\\slash and trailing space "),
      Row(8L, "\\N"), // literal backslash-N must NOT read back as null
      Row(9L, "unicode: \u00e9\u4e2d\u6587 \ud83d\ude00"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val dir = tempDir("csvrt")
    df.write.mode("overwrite").options(EtlQueries.csvWriteOptions).csv(dir)
    val back = spark.read.schema(schema)
      .options(EtlQueries.csvReadOptions).csv(dir)
    val got = back.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val want = rows.map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got === want)
  }

  test("null vs empty wire shape: unquoted empty field vs quoted empty string") {
    // pins the WIRE encoding so any RFC-4180 reader can tell null from
    // empty too: null -> nothing between the delimiters, "" -> `""`
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, null), Row(2L, "")), 1), schema)
    val dir = java.nio.file.Paths.get(tempDir("csvrt2"))
    df.coalesce(1).write.mode("overwrite")
      .options(EtlQueries.csvWriteOptions).csv(dir.toString)
    val part = java.nio.file.Files.list(dir).iterator()
    var lines = Seq.empty[String]
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.startsWith("part-"))
        lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .split("\n").toSeq.filter(_.nonEmpty)
    }
    assert(lines.sorted === Seq("1,", "2,\"\""))
  }

  test("roundtrip queries clean their staging directory after materializing") {
    val root = new java.io.File(s"/tmp/graft-roundtrip/${spark.sparkContext.applicationId}")
    for (q <- Seq("q_jsonl_roundtrip", "q_orc_roundtrip", "q_csv_roundtrip")) {
      val out = SparkEntry.queries(q)(spark, sf("sf0.001"))
      assert(out.count() > 0, s"$q returned no rows")
      assert(!root.exists(), s"$q left staging data under $root")
    }
  }

  test("Scratch.withDir deletes its directory and rethrows the body's own failure") {
    var used = ""
    val e = intercept[IllegalStateException] {
      Scratch.withDir(spark, "test-scratch") { dir =>
        used = dir
        spark.range(3).write.parquet(dir)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(used.nonEmpty && !new java.io.File(used).exists(), s"$used survived")
  }

  test("Scratch.withDir removes its emptied /tmp/graft-<name> parents and spares a sibling") {
    for (sub <- Seq("", "part")) {
      val root = new java.io.File(s"/tmp/graft-test-scratch-${java.util.UUID.randomUUID()}")
      val name = root.getName.stripPrefix("graft-")
      val app = new java.io.File(root, spark.sparkContext.applicationId)
      Scratch.withDir(spark, name, sub)(dir => spark.range(3).write.parquet(dir))
      assert(!app.exists(), s"sub='$sub': $app survived")
      assert(!root.exists(), s"sub='$sub': $root survived")
      // a concurrent application's directory keeps the shared parent alive
      val sibling = new java.io.File(root, "other-app")
      assert(sibling.mkdirs())
      try {
        Scratch.withDir(spark, name, sub)(dir => spark.range(3).write.parquet(dir))
        assert(!app.exists(), s"sub='$sub': $app survived beside a sibling")
        assert(sibling.isDirectory, s"sub='$sub': the sibling was deleted")
      } finally Scratch.delete(root.getPath)
    }
  }
}
