package graft

import graft.transform.{TagPivot, Transforms}
import org.apache.spark.sql.functions._

/** Golden tests for the tag parse + dynamic pivot
  * (`/root/reference/data_transform.py:48-68,102-150`; FIXTURES.md §A2
  * expected output).
  */
class TagPivotSpec extends SparkSpec {
  import spark.implicits._

  private val tagsCol = "lfm.content.tags"

  test("FIXTURES A2 golden row: dup-key '//' fold, untitled, sanitation") {
    val raw = Seq(
      (1L, Seq("Campaign: holiday", "Campaign: retail", "Franchise: x", "untagged-note")),
      (2L, Seq.empty[String])
    ).toDF("id", tagsCol)
    val out = Transforms.sanitizeColumnNames(TagPivot.pivotTags(raw, tagsCol))
    val cols = out.columns.toSet
    assert(cols.contains("lfm&content&tags&Campaign"))
    assert(cols.contains("lfm&content&tags&Franchise"))
    assert(cols.contains("lfm&content&tags&untitled"))
    val r1 = out.filter(col("id") === 1L).collect().head
    assert(r1.getAs[String]("lfm&content&tags&Campaign") == "holiday//retail")
    assert(r1.getAs[String]("lfm&content&tags&Franchise") == "x")
    assert(r1.getAs[String]("lfm&content&tags&untitled") == "untagged-note")
    // row 2: all tag columns null
    val r2 = out.filter(col("id") === 2L).collect().head
    assert(r2.isNullAt(r2.fieldIndex("lfm&content&tags&Campaign")))
  }

  test("key spaces → underscores; value keeps inner spaces; first-colon split") {
    val raw = Seq((1L, Seq("Key Name:  a: b "))).toDF("id", tagsCol)
    val out = TagPivot.pivotTags(raw, tagsCol)
    assert(out.columns.contains(s"$tagsCol.Key_Name"))
    assert(out.select(col(s"`$tagsCol.Key_Name`")).as[String].collect().head == "a: b")
  }

  test("dup-key fold preserves array order (A2 determinism)") {
    val raw = Seq((1L, Seq("k: 1", "k: 2", "k: 3"))).toDF("id", tagsCol)
    val out = TagPivot.pivotTags(raw, tagsCol)
    assert(out.select(col(s"`$tagsCol.k`")).as[String].collect().head == "1//2//3")
  }

  test("maxKeys cap: overflow keys retained in a map column, not dropped") {
    val raw = Seq((1L, (1 to 10).map(i => s"k$i: v$i"))).toDF("id", tagsCol)
    val out = TagPivot.pivotTags(raw, tagsCol, maxKeys = 3)
    assert(out.columns.count(_.startsWith(s"$tagsCol.k")) == 3)
    val overflowCol = s"$tagsCol.overflow"
    assert(out.columns.contains(overflowCol))
    val overflow = out.select(map_keys(col(s"`$overflowCol`"))).collect().head.getSeq[String](0)
    assert(overflow.size == 7)
  }

  test("maxKeys cap keeps the smallest keys in string order: k1, k10, k2") {
    val raw = Seq((1L, (1 to 10).map(i => s"k$i: v$i"))).toDF("id", tagsCol)
    val out = TagPivot.pivotTags(raw, tagsCol, maxKeys = 3)
    val kept = Seq("k1", "k10", "k2").map(k => s"$tagsCol.$k")
    assert(out.columns.filter(_.startsWith(s"$tagsCol.k")).toSeq == kept)
    val overflow = out.select(map_keys(col(s"`$tagsCol.overflow`"))).collect().head.getSeq[String](0)
    assert(overflow.toSet == (3 to 9).map(i => s"$tagsCol.k$i").toSet)
  }

  test("tag keys come out in orderBy's string order (UTF-8 bytes, not UTF-16 units)") {
    // U+1D538 is a surrogate pair in UTF-16 (0xD835 …), so Java's String
    // order puts it before U+FF21; its UTF-8 bytes (0xF0 …) put it after
    val keys = Seq("\uD835\uDD38", "\uFF21", "b", "a")
    assert(keys(0).compareTo(keys(1)) < 0)
    val raw = Seq((1L, keys.take(2).map(k => s"$k: x")), (2L, keys.drop(2).map(k => s"$k: y")))
      .toDF("id", tagsCol)
    val want = keys.map(k => s"$tagsCol.$k").toDF("k").orderBy("k").as[String].collect().toSeq
    assert(want.indexOf(s"$tagsCol.\uFF21") < want.indexOf(s"$tagsCol.\uD835\uDD38"))
    val out = TagPivot.pivotTags(raw, tagsCol)
    assert(out.columns.filter(_.startsWith(s"$tagsCol.")).toSeq == want)
    // the cap keeps orderBy's smallest too
    val capped = TagPivot.pivotTags(raw, tagsCol, maxKeys = 3)
    assert(capped.columns.filter(c => c.startsWith(s"$tagsCol.") && c != s"$tagsCol.overflow").toSeq == want.take(3))
  }

  test("the input is evaluated once across pivotTags and one write") {
    val evaluated = spark.sparkContext.longAccumulator("pivot-input-rows")
    val raw = (1 to 200).map(i => (i.toLong, Seq(s"k${i % 7}: v$i", s"j${i % 3}: w"))).toDF("id", tagsCol)
    val counted = raw.map { r => evaluated.add(1); r }(org.apache.spark.sql.Encoders.row(raw.schema))
    val out = TagPivot.pivotTags(counted, tagsCol)
    out.write.parquet(s"${tempDir("graft-pivot-")}/out")
    assert(evaluated.value == 200L, s"the input was evaluated for ${evaluated.value} rows")
  }

  test("null tag array yields empty map (no NPE)") {
    val raw = Seq((1L, Option.empty[Seq[String]]), (2L, Some(Seq("a: b"))))
      .toDF("id", tagsCol)
    val out = TagPivot.pivotTags(raw, tagsCol)
    assert(out.count() == 2)
  }
}
