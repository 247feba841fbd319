package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge lists — PageRank and triangle
  * counting, the two classic "is your join discipline right" graph
  * kernels, expressed as declarative Spark plans so Catalyst handles
  * pushdown/AQE and the iteration state is explicitly materialized.
  *
  * Scale shape:
  *
  *   - [[pageRank]] iterates `rank ⨝ edges → groupBy(dst)` — one
  *     shuffle per iteration on the edge key. The rank table is
  *     `localCheckpoint`ed each iteration (same device as
  *     [[Dedup.connectedComponents]]): without it the lineage doubles
  *     per iteration and Catalyst re-derives the whole prefix at every
  *     action, which is quadratic work and eventually a planner OOM on
  *     a 1000-executor run. Ranks are carried as INTEGER MICROS and
  *     every per-edge contribution is truncated to an integer BEFORE
  *     the aggregate, so the sum is order-independent (integer
  *     addition is associative/commutative exactly; double addition is
  *     not) and the result is bit-identical under any partitioning —
  *     which is what lets a DuckDB oracle hash-match it.
  *   - [[triangleCount]] orients each undirected edge from the
  *     lower-degree endpoint to the higher (ties by id) before the
  *     wedge join. On a skewed graph (web/social degree distributions)
  *     this is the difference between the wedge join exploding on the
  *     hub vertices — a hub of degree d contributes d² unordered
  *     wedges but only (its ordered out-degree)² ≤ O(m) ordered ones —
  *     and the standard O(m^{3/2}) bound of the compact-forward
  *     algorithm.
  */
object Graph {

  /** Symmetrize + dedupe a directed edge list: returns both
    * orientations of every edge, self-loops dropped, duplicates
    * collapsed. One shuffle (the distinct).
    */
  def symmetrize(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** PageRank with damping `d` (as a percent, e.g. 85) over a directed
    * edge list, `iters` fixed iterations, ranks in integer micros.
    *
    * Every node that appears as an endpoint participates; nodes with
    * no out-edges (dangling) redistribute nothing — their mass decays
    * into the teleport term, which is the standard "dangling mass to
    * teleport" simplification and keeps the recurrence local to the
    * edge join (no global dangling-sum broadcast per iteration).
    *
    * Exactness contract: rank_0 = 10^6 / N (integer division); each
    * iteration computes per-edge `contrib = rank(src) div outdeg(src)`
    * (integer division), then
    * `rank' = (100 - d)·10^6 div (100·N) + d·Σcontrib div 100` —
    * all integer ops, so any evaluation order gives the same bits.
    *
    * Ownership: the returned frame IS a `localCheckpoint` (reusable
    * without recompute); once consumed, release its blocks via
    * `GraftColumnBridge.unpersistCheckpoint` — the loop's internal
    * checkpoints are released before return.
    */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iters: Int = 5, dampingPct: Int = 85): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")

    // no repartition ahead of the checkpoint: a local checkpoint
    // reports no partitioning, so the joins below shuffle anyway
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "pageRank requires a non-empty edge list")

    // the loop-invariant e ⨝ outDeg join is hoisted out of the loop and
    // materialized once (r19: it was re-joined per pass)
    val eDeg = e
      .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .localCheckpoint()
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(e)
    val teleport = ((100L - dampingPct) * 1000000L) / (100L * n)

    var ranks = nodes.withColumn("rank", lit(1000000L / n)).localCheckpoint()
    for (_ <- 1 to iters) {
      // contrib truncated to a long BEFORE the sum → order-independent.
      val contribs = eDeg.join(ranks, eDeg("src") === ranks("id"))
        .select(col("dst").as("id"),
          expr("rank div outdeg").as("contrib")) // integral div: exact
        .groupBy("id").agg(sum("contrib").as("inflow"))
      val next = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) +
            expr(s"(${dampingPct}L * coalesce(inflow, 0L)) div 100")
          ).as("rank"))
        .localCheckpoint()
      org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(ranks)
      ranks = next
    }
    // loop-only inputs: the returned ranks are a materialized checkpoint
    // with truncated lineage, so these blocks can go now
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(nodes)
    org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint(eDeg)
    ranks
  }

  /** Exact triangle count per vertex over an UNDIRECTED graph given as
    * a symmetric edge list (both orientations present — use
    * [[symmetrize]]). Returns `(id, triangles)` for every vertex in at
    * least one triangle.
    *
    * Compact-forward: orient each edge low→high by `(degree, id)`,
    * join wedges `a→b, b→c` against oriented edges `a→c`. Each
    * triangle {a,b,c} is found exactly once in oriented form, then
    * credited to all three corners.
    *
    * Ownership: the returned plan embeds a `localCheckpoint` of the
    * oriented edge list (scanned three times by the wedge join); once
    * the result is consumed, release it via
    * `GraftColumnBridge.unpersistEmbeddedCheckpoints` — re-executing
    * the plan afterwards is not possible.
    */
  def triangleCount(symEdges: DataFrame, src: Column, dst: Column): DataFrame = {
    val e = symEdges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "id")
    // Orient low→high by (deg, id): total order, so each undirected
    // edge survives in exactly one direction.
    val withDeg = e
      .join(deg.select(col("id").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("ddeg")), "dst")
    val oriented = withDeg.where(
        (col("sdeg") < col("ddeg")) ||
          (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select("src", "dst")
      .localCheckpoint() // joined three times below — scan once
    val tri = oriented.as("ab")
      .join(oriented.as("bc"), col("ab.dst") === col("bc.src"))
      .join(oriented.as("ac"),
        col("ab.src") === col("ac.src") && col("bc.dst") === col("ac.dst"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"), col("bc.dst").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
  }
}
