package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental-maintenance set operations, expressed as joins so Catalyst can
  * pick broadcast/shuffle strategies and push filters below them.
  *
  * Mirrors the reference's diff-layer semantics (reference:
  * storage/diff_layers.py:11-77 — added/removed/modified/unchanged via content
  * hashes) and its orphan-relation cleanup (storage/qdrant.py:1937-2323),
  * re-expressed set-at-a-time: one full-outer join for the diff sketch, two
  * anti-joins for orphan detection, instead of per-item RPCs.
  *
  * Scale notes: both inputs shuffle on the key once; at 100 TB the key should
  * be the table's bucketing/partition key so the join is co-located. The
  * node-side of orphan checks is typically the small side — Catalyst
  * broadcasts it automatically under the threshold, and callers can force
  * `broadcast(nodes)` when the entity-name set is known to be small.
  */
object Diff {

  /** Diff sketch between an old and a new snapshot keyed by `key`, comparing
    * `content` for modification. Returns rows (key, status) with status in
    * {added, removed, modified, unchanged}.
    */
  def diffByKey(oldDf: DataFrame, newDf: DataFrame, key: String, content: String): DataFrame = {
    val o = oldDf.select(col(key).as("k"), col(content).as("old_c"))
    val n = newDf.select(col(key).as("k"), col(content).as("new_c"))
    o.join(n, Seq("k"), "full_outer")
      .select(
        col("k").as(key),
        when(col("old_c").isNull, lit("added"))
          .when(col("new_c").isNull, lit("removed"))
          .when(col("old_c") === col("new_c"), lit("unchanged"))
          .otherwise(lit("modified"))
          .as("status")
      )
  }

  /** Edges whose endpoint referenced by `edgeCol` has no match in
    * `nodes(nodeCol)` — the orphan-relation pattern. Pure left-anti join.
    */
  def orphanEdges(edges: DataFrame, nodes: DataFrame, edgeCol: String, nodeCol: String): DataFrame =
    edges.join(nodes, edges(edgeCol) === nodes(nodeCol), "left_anti")
}
