package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.etl.RetailStar
import graft.ext.{Dedup, Graph, Multimodal, Pipeline, Similarity, TextAnalysis}
import graft.queries.{AdvancedQueries, CoreQueries, InventoryQueries}
import graft.streaming.{DocumentsStream, EmbeddingsStream, EventsStream, StarStream}

/** One setup step: an artifact builder called directly, so its cost
  * lands in `setup_s` and never inside a row's latency. */
final case class Builder(name: String, layer: String, run: (SparkSession, String) => Unit)

/** A workload: the artifact trees its rows read (built in setup) and
  * the gate rows it runs, by their short id (`q1`, `st13`, ...). */
final case class Workload(name: String, builders: Seq[Builder], rowIds: Seq[String]) {
  /** Full `SparkEntry.queries` names, in declaration order. */
  lazy val rows: Seq[String] = rowIds.map(Workloads.fullName)
}

object Workloads {
  private lazy val byShortId: Map[String, String] =
    SparkEntry.queries.keys.map(k => k.takeWhile(_ != '_') -> k).toMap

  def fullName(id: String): String =
    byShortId.getOrElse(id, throw new IllegalArgumentException(s"no gate row $id"))

  /** The layer a row belongs to: the module whose `queries` map holds it. */
  lazy val layerOf: Map[String, String] = {
    def tag(layer: String, maps: Map[String, _]*) = maps.flatMap(_.keys.map(_ -> layer))
    (tag("queries", CoreQueries.queries, InventoryQueries.queries, AdvancedQueries.queries) ++
      tag("etl", RetailStar.queries) ++
      tag("ext", Dedup.queries, Graph.queries, TextAnalysis.queries, Similarity.queries,
        Multimodal.queries, Pipeline.queries) ++
      tag("streaming", EventsStream.queries, DocumentsStream.queries,
        EmbeddingsStream.queries, StarStream.queries)).toMap
  }

  // builders: each forces one artifact family to exist
  private def star = Builder("star", "etl", (s, d) => { RetailStar.servedStar(s, d); () })
  private def warehouse = Builder("warehouse", "artifacts",
    (s, d) => { RetailStar.warehouseSubstrate(s, d); () })

  /** Every artifact family a traced run reports `artifacts.build_s.<name>` for:
    * those some workload builds; 0 for a family the workload does not build. */
  val builderNames: Seq[String] = Seq("star", "warehouse")

  val all: Map[String, Workload] = Seq(
    Workload("warehouse_olap", Seq(star), Seq("q1", "q17", "q52", "q29")),
    Workload("maintenance_writes", Seq(star, warehouse), Seq("st11", "q56", "s4")),
  ).map(w => w.name -> w).toMap
}
