package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** F2 + A2 — nested tag parse and dynamic pivot
  * (`/root/reference/data_transform.py:48-68,102-150`).
  *
  * The reference takes `lfm.content.tags`, an array of `"Key Name: value"`
  * strings, parses each element (split on first ':', key gets spaces→'_'
  * and the field-name prefix; colon-less items → key `<field>.untitled`),
  * folds duplicate keys by joining values with `"//"` in list order, then
  * pivots the union of keys across all rows into top-level columns.
  *
  * Spark-first design (SURVEY.md §2.9/§4): the parse+fold is pure Catalyst
  * higher-order functions — no UDF, fully codegen-friendly, shuffle-free.
  * Only the dynamic column set needs a driver pass (schema must be known at
  * analysis time — the same two-pass trick built-in `pivot()` uses). The
  * key collect reads the parsed frame's map keys and ships at most
  * `maxKeys + 1` of them per partition, with no shuffle; the key set is
  * bounded by `maxKeys` with overflow retained in a map column
  * (SURVEY.md §7.5.6).
  */
object TagPivot {

  /** Parse one tag array into an ordered key→value map with `//` dup-fold.
    * Element order is array order, so the fold is deterministic (A2).
    */
  def tagsToMap(tags: Column, fieldPrefix: String): Column = {
    val entries = transform(tags, t => {
      val idx = instr(t, ":")
      val rawKey = trim(substring_index(t, ":", 1))
      val key = when(idx > 0, concat(lit(fieldPrefix + "."), translate(rawKey, " ", "_")))
        .otherwise(lit(fieldPrefix + ".untitled"))
      val value = when(idx > 0, trim(t.substr(idx + 1, length(t))))
        .otherwise(trim(t))
      struct(key.as("k"), value.as("v"))
    })
    aggregate(
      entries,
      map().cast("map<string,string>"),
      (acc, e) => {
        val k = e.getField("k")
        val v = e.getField("v")
        when(
          try_element_at(acc, k).isNotNull,
          map_concat(
            map_filter(acc, (mk, _) => mk =!= k),
            map_from_arrays(array(k), array(concat(try_element_at(acc, k), lit("//"), v)))
          )
        ).otherwise(map_concat(acc, map_from_arrays(array(k), array(v))))
      }
    )
  }

  /** Two-pass dynamic pivot over one materialization: the parsed frame is
    * checkpointed once, the (bounded) key set is collected from it without
    * a shuffle, and the result is a lazy projection over the checkpoint
    * with one literal column per key, which the sink's write scans. Keys
    * beyond `maxKeys` stay in an overflow map column instead of exploding
    * the schema. Like every checkpoint-backed frame, the result is released
    * with [[graft.ops.Caching.release]].
    */
  def pivotTags(
      df: DataFrame,
      tagsCol: String,
      maxKeys: Int = 1000
  ): DataFrame = {
    val mapCol = "__tags_map"
    // keep: one materialization feeds the key collect and the write, so
    // the input (a paged HTTP extract, say) and the parse+fold run once
    val parsed = graft.ops.Caching.eagerCheckpoint(
      df.withColumn(mapCol, tagsToMap(col(s"`$tagsCol`"), tagsCol)))
    val keys = smallestKeys(parsed.select(map_keys(col(mapCol))), maxKeys + 1)
    val (kept, overflowed) = (keys.take(maxKeys), keys.length > maxKeys)
    val keep = df.columns.filter(_ != tagsCol).map(c => col(s"`$c`"))
    val tagCols = kept.map(k => try_element_at(col(mapCol), lit(k)).as(k))
    val overflow =
      if (overflowed)
        Seq(map_filter(col(mapCol), (k, _) => !k.isin(kept.toIndexedSeq.map(lit(_)): _*)).as(s"$tagsCol.overflow"))
      else Seq.empty
    parsed.select((keep ++ tagCols ++ overflow).toSeq: _*)
  }

  /** The `n` smallest distinct strings across the rows of `keys`' one
    * array column, in the order `orderBy` gives strings (their UTF-8
    * bytes, `UTF8String.compareTo`; Java's `String.compareTo` compares
    * UTF-16 units and orders supplementary-plane characters differently).
    * No shuffle: each partition keeps its own `n` smallest, and the
    * global `n` smallest all lie in the union of those.
    */
  private def smallestKeys(keys: DataFrame, n: Int): Seq[String] = {
    def smallest(strings: Iterator[UTF8String]): Array[UTF8String] = {
      val set = new java.util.TreeSet[UTF8String]()
      strings.foreach { s => set.add(s); if (set.size > n) set.pollLast() }
      set.asScala.toArray
    }
    val perPartition = keys.queryExecution.toRdd.mapPartitions { rows =>
      val strings = rows.filterNot(_.isNullAt(0)).flatMap { r =>
        val a = r.getArray(0)
        // copied: the string may point into a reused row buffer
        (0 until a.numElements()).map(a.getUTF8String(_).clone())
      }
      Iterator.single(smallest(strings))
    }.collect()
    smallest(perPartition.iterator.flatten).map(_.toString).toSeq
  }
}
