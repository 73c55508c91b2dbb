package graft.agentbench

import org.apache.spark.sql.functions.col

import graft.api.MemoryManager

/** Read-only access to the engine's package-private graph view, used once
  * at the end of a traced run.
  */
object EngineAccess {
  /** Distinct nodes of the whole-graph edge set the metric recompute
    * runs on; its size gates the exact-vs-distributed algorithm paths.
    */
  def graphNodes(m: MemoryManager): Long = {
    val ge = m.globalEdges
    ge.select(col("src").as("n")).union(ge.select(col("dst").as("n"))).distinct().count()
  }
}
