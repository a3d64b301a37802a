package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Independent connected-components implementations that
  * ConnectedComponentsSpec checks `ConnectedComponents.run` against. Both
  * label each node with the MIN node id of its component, `run`'s
  * contract. */
object CcOracles {

  /** GraphX's Pregel connectedComponents (RDD-based; GraphX has no
    * DataFrame API). */
  def runGraphX(edgesIn: DataFrame, maxIter: Int = Int.MaxValue): DataFrame = {
    val spark = edgesIn.sparkSession
    import org.apache.spark.graphx.{Edge, Graph}
    val edgeRdd = edgesIn.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = Graph.fromEdges(edgeRdd, defaultValue = ())
    val labeled = graph.connectedComponents(maxIter).vertices // (id, minIdOfComponent)
    spark.createDataFrame(labeled.map { case (id, comp) => (id, comp) })
      .toDF("id", "component")
  }

  /** Simple min-label propagation (O(diameter) rounds). */
  def minLabelPropagation(edgesIn: DataFrame, maxIter: Int = 50): DataFrame = {
    val e = edgesIn.select(col("src").cast("long"), col("dst").cast("long"))
    val edges = e.select(col("src").as("a"), col("dst").as("b"))
      .union(e.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val nbrMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("id2")).agg(min(col("component")).as("nbrComponent"))
      val updated = labels.join(nbrMin, labels("id") === nbrMin("id2"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbrComponent"), col("component"))).as("newComponent"),
          col("component"))
      changed = updated.filter(col("newComponent") =!= col("component")).count()
      labels = updated.select(col("id"), col("newComponent").as("component")).localCheckpoint(true)
      iter += 1
    }
    labels
  }
}
