package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.llm.Pin

/** Graph centrality over corpus-derived edge lists: PageRank (Brin & Page
  * 1998) in SCALED-LONG arithmetic — rank mass is an integer in units of
  * 1e-12, every update is integer multiply/divide/sum, so the result is
  * bit-identical across engines, partitionings, and summation orders (the
  * trained-gate scaled-long discipline applied to an iterative graph
  * computation; no float enters until the final display column).
  *
  * Pipeline uses: embedding-space centrality over the kNN graph (hub
  * detection — high-in-degree "hubness" vectors distort retrieval and
  * over-select in greedy coresets), URL/domain importance over link
  * graphs, influence weighting for sampling.
  *
  * Semantics: `pr₀(v) = SCALE div N`;
  * `pr_{t+1}(v) = (15·(SCALE div N)) div 100 + (85·(Σ_{u→v} pr_t(u) div
  * outdeg(u) + [D_t div N])) div 100` — the standard d = 0.85 update.
  * The `D_t div N` term (D_t = total rank mass on SINK nodes, spread
  * uniformly — the standard dangling-node redistribution) is applied
  * when `redistributeDangling` is set; the default keeps the original
  * drop-the-mass behavior (rank sums < 1 on sink-bearing graphs;
  * acceptable for centrality ranking on kNN graphs, which have no sinks
  * since every vector emits exactly k edges, and kept as the default for
  * oracle stability of the existing pagerank_knn row).
  *
  * Scale design: the canonical distributed PageRank — each iteration is
  * one equi join of the slim edge list to the rank table on the source id
  * plus one destination-keyed sum (map-side combined), both shuffling
  * (node, long) pairs only; each iterate pins
  * ([[graft.llm.Pin]]) so lineage stays O(1) across iterations instead of
  * re-executing the whole chain (the ivfTrain discipline). Node count and
  * the base term ride one broadcast row — no driver-side collection.
  */
object GraphOps {

  val Scale = 1000000000000L // 1e-12 rank units

  /** PageRank after `iters` synchronous updates. Output: (`node`,
    * `pr_scaled` — the exact integer in 1e-12 units, `pr` — the display
    * double rounded to 6). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10,
               redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1,100], got $iters")
    val e = Pin(edges.select(col(srcCol).cast(LongType).as("_s"),
      col(dstCol).cast(LongType).as("_d")))
    val nodes = Pin(e.df.select(col("_s").as("node"))
      .union(e.df.select(col("_d"))).distinct())
    val nn = nodes.df.agg(count(lit(1)).as("_n"))
    val outdeg = Pin(e.df.groupBy(col("_s")).agg(count(lit(1)).as("_deg")))
    // sinks (nodes with no out-edges): bounded slim table, joined only to
    // build the one-row dangling-mass aggregate per iteration
    val sinks = Pin(nodes.df.join(
      outdeg.df.select(col("_s").as("node")), Seq("node"), "left_anti"))
    // base = SCALE div N, once per row via the broadcast one-row count
    var pr = Pin(nodes.df.crossJoin(broadcast(nn))
      .select(col("node"), expr(s"$Scale div _n").as("_pr")))
    var i = 0
    while (i < iters) {
      val contrib = e.df
        .join(pr.df.withColumnRenamed("node", "_s"), Seq("_s"))
        .join(outdeg.df, Seq("_s"))
        .select(col("_d").as("node"), expr("_pr div _deg").as("_c"))
        .groupBy(col("node")).agg(sum(col("_c")).as("_sum"))
      // dangling share: one slim semi-join + one-row aggregate, broadcast
      // like nn — each node receives D_t div N inside the damped term
      val base = nodes.df.crossJoin(broadcast(nn))
      val withDang =
        if (redistributeDangling) {
          val dang = sinks.df.join(pr.df, Seq("node"))
            .agg(coalesce(sum(col("_pr")), lit(0L)).as("_dsum"))
          base.crossJoin(broadcast(dang))
            .withColumn("_dshare", expr("_dsum div _n"))
        } else base.withColumn("_dshare", lit(0L))
      val next = Pin(withDang
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (expr(s"(15 * ($Scale div _n)) div 100") +
            expr("(85 * (coalesce(_sum, 0) + _dshare)) div 100")).as("_pr")))
      pr.release()
      pr = next
      i += 1
    }
    sinks.release()
    val out = pr.df.select(col("node"), col("_pr").as("pr_scaled"),
      round(col("_pr").cast("double") / lit(Scale.toDouble), 6).as("pr"))
    e.release(); nodes.release(); outdeg.release()
    out
  }
}
