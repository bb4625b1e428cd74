package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference formulations of the graph operators — what the specs compare
  * the library's forms against. */
object ReferenceForms {
  /** Triangle count by the degree-ordered wedge join (compact-forward):
    * edges oriented low → high under the same packed (degree, id) order as
    * [[Graph.triangleCountAdj]], wedges = pairs of out-neighbors of the
    * same low vertex, each triangle counted once when the closing oriented
    * edge exists. Returns one row: (n_edges, n_triangles). */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select("x", "y")
    val deg = e.select(col("x").as("v")).unionByName(e.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val key = (d: Column, v: Column) => d * lit(4294967296L) + v
    val oriented = e
      .join(deg.select(col("v").as("x"), col("dg").as("dgx")), "x")
      .join(deg.select(col("v").as("y"), col("dg").as("dgy")), "y")
      .select(key(col("dgx"), col("x")).as("kx"),
        key(col("dgy"), col("y")).as("ky"))
      .select(least(col("kx"), col("ky")).as("u"),
        greatest(col("kx"), col("ky")).as("w"))
    val wedges = oriented.select(col("u"), col("w").as("b"))
      .join(oriented.select(col("u"), col("w").as("c")), "u")
      .filter(col("b") < col("c"))
      .select("b", "c")
    val tri = wedges.join(oriented.select(col("u").as("b"), col("w").as("c")),
        Seq("b", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }
}
