package graft.spec

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Declarative query spec — the reference's only IR.
  *
  * Mirrors the export-configuration document consumed by the reference
  * (`/root/reference/main.py:50,61,72-78`): a JSON object keyed by
  * `config_id`, each value carrying `dataset_id`, ordered
  * `metrics`/`group_by`/`meta_dimensions` (name → dtype string) and a
  * `brands` id list. Field order matters: the output projection keeps
  * `group_by ∪ meta_dimensions ∪ metrics` in declaration order
  * (`/root/reference/data_transform.py:31-32`).
  */
final case class ExportConfig(
    configId: String,
    datasetId: String,
    metrics: ListMap[String, String],
    groupBy: ListMap[String, String],
    metaDimensions: ListMap[String, String],
    brands: Seq[Long]
) {

  /** Output column order: group_by ++ meta_dimensions ++ metrics
    * (`/root/reference/data_transform.py:31-32`).
    */
  def orderedColumns: Seq[String] =
    (groupBy.keys ++ metaDimensions.keys ++ metrics.keys).toSeq

  /** name → declared dtype string, all three sections merged. */
  def dtypes: Map[String, String] =
    (groupBy ++ metaDimensions ++ metrics).toMap

  /** Content datasets get the 365-day lookback + date BETWEEN treatment
    * (`/root/reference/data_extract.py:60`).
    */
  def isContentDataset: Boolean = datasetId.contains("content")
}

object ExportConfig {

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  /** Parse the whole configuration document (object keyed by config_id).
    * Driver-side, tiny — one of the two sanctioned driver materializations
    * (SURVEY.md §7.5.6).
    */
  def parseAll(json: String): Seq[ExportConfig] = {
    val root = mapper.readTree(json)
    // properties() is a (linked) Set — map through an iterator, NOT the Set
    // (a Set.map rehashes and destroys the JSON field order, which the
    // output projection depends on, data_transform.py:31-32)
    root.properties().iterator().asScala.toSeq.map { e =>
      val id = e.getKey
      val node = e.getValue
      def section(name: String): ListMap[String, String] =
        if (node.has(name))
          ListMap.from(
            node.get(name).properties().iterator().asScala
              .map(kv => kv.getKey -> kv.getValue.asText())
          )
        else ListMap.empty
      val brands =
        if (node.has("brands")) node.get("brands").elements().asScala.map(_.asLong()).toSeq
        else Seq.empty
      ExportConfig(
        configId = id,
        datasetId = if (node.has("dataset_id")) node.get("dataset_id").asText() else "",
        metrics = section("metrics"),
        groupBy = section("group_by"),
        metaDimensions = section("meta_dimensions"),
        brands = brands
      )
    }
  }
}
