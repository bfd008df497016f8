package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists — the link-graph half of web
  * curation ([[Dedup.dupClusters]] is the other iterative op in the repo:
  * same per-round materialization discipline). The motivating use is
  * domain-authority scoring: a crawl's host link graph ranked by PageRank
  * decides which domains' documents deserve a larger mixture share — the
  * CommonCrawl-style centrality signal.
  */
object Graph {

  /** Damped PageRank over `edges` (src, dst) for the node set `nodes`
    * (id) — nodes with no in-links keep the teleport base, dangling-node
    * mass is not redistributed (the standard simplification; ranks then
    * sum to < 1 in graphs with sinks, which only rescales scores).
    *
    * Scale shape: each iteration is ONE join-shuffle keyed on src (ranks ⋈
    * edges ⋈ out-degrees — co-partitioned on the same key, so AQE plans a
    * single exchange per side) and ONE aggregation keyed on dst; the rank
    * table is pinned ([[Materialize]]) per round exactly like
    * [[Dedup.dupClusters]], so lineage stays O(1) instead of O(iterations),
    * and each round is released once the next is pinned — at most two
    * rounds are held. Nothing corpus-sized is ever collected or broadcast.
    *
    * Determinism: per-edge contributions (rank/out-degree, an IEEE double
    * op) are cast to DECIMAL(30,12) and summed exactly, so each
    * iteration's ranks are independent of partition merge order AND
    * reproducible on any engine evaluating the same arithmetic — the same
    * trick that makes the BM25 (q96) and LM (q89) floats hash-comparable.
    *
    * Output: (id, pr) — `iterations` damped rounds from a uniform 1/N
    * start. On a preemptible cluster, `graft.materialize.mode=reliable`
    * makes every round's pin durable.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, iterations: Int,
      damping: Double = 0.85): DataFrame = Materialize.scoped {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    // materialized ONCE (the dupClusters discipline): every iteration
    // re-reads the edge set and re-joins the node set, and without this
    // each round's eager checkpoint action would re-execute the caller's
    // whole edge-/node-derivation lineage
    val ids = Materialize(nodes.select(col("id").cast("long").as("id")))
    val e = Materialize(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
    val n = ids.count().toDouble
    require(n > 0, "pageRank needs a non-empty node set (1/N seed)")
    // out-degree attached to the edge table ONCE: the lazy groupBy it
    // replaces re-aggregated and re-joined the full edge set inside every
    // iteration's checkpoint action — one edge-sized aggregation + join
    // per round, pure re-computation at 100 TB edge scale
    val eDeg = Materialize(e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("d")), Seq("src")))
    var pr = ids.select(col("id"), lit(1.0 / n).as("pr"))
    for (i <- 1 to iterations) {
      val contribs = eDeg
        .join(pr.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), (col("pr") / col("d")).cast("decimal(30,12)").as("c"))
      val sums = contribs.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val next = Materialize(ids
        .join(sums.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (lit((1 - damping) / n) +
            lit(damping) * coalesce(col("s").cast("double"), lit(0.0))).as("pr")))
      // round 1's input is the lazy 1/N seed over `ids`, not a pin
      if (i > 1) Materialize.release(pr)
      pr = next
    }
    pr
  }
}
