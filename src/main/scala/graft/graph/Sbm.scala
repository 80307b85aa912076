package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stochastic block model network generation
  * (/root/reference/scripts/NetworkBuilder.py:423-480,
  * /root/reference/src/transforms/matrix_transforms.py:176-221:
  * nx.stochastic_block_model(sizes, probs, seed) + node re-tagging).
  *
  * Distributed design: candidate undirected pairs (i < j) are the
  * node×node upper triangle (a range-join over two node DataFrames);
  * each pair draws a deterministic uniform from xxhash64(i, j, seed) —
  * *partitioning-independent* seeded randomness, unlike rand(), which
  * depends on task layout — and keeps the edge when u < p(block_i,
  * block_j). Scales as |V|²/2 map-side work with no driver state;
  * block-pair probabilities are a broadcast dim.
  */
object Sbm {

  /** nodes: (node_id long, block string) built from per-block sizes —
    * contiguous id ranges per block, matching the reference's
    * node-ordering convention. The blocks are ONE local (block, lo, n)
    * relation exploded over each id range, not a union of per-block
    * ranges: a union's literal blocks become a disjunction as deep as
    * the block count, which overflows the stack once it is pushed into
    * a cached scan (1,000 blocks). Empty blocks yield no nodes, and
    * dropping them first keeps `sequence` from counting down.
    */
  def nodes(spark: SparkSession, sizes: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    val offsets = sizes.scanLeft(0L)(_ + _._2)
    sizes.zip(offsets)
      .collect { case ((b, n), lo) if n > 0 => (b, lo, n) }
      .toDF("block", "lo", "n")
      .select(explode(sequence(col("lo"), col("lo") + col("n") - 1))
        .as("node_id"), col("block"))
  }

  /** Seeded SBM edges: upper-triangle pairs filtered by the block-pair
    * probability matrix (long form: block_a, block_b, prob).
    */
  def edges(spark: SparkSession, nodesDf: DataFrame, probs: DataFrame,
      seed: Long): DataFrame = {
    val a = nodesDf.select(col("node_id").as("src"), col("block").as("block_a"))
    val b = nodesDf.select(col("node_id").as("dst"), col("block").as("block_b"))
    // deterministic per-pair uniform in [0, 1): bottom 52 bits of the
    // pair hash scaled by 2^-52
    val u = (pmod(xxhash64(col("src"), col("dst"), lit(seed)), lit(1L << 52))
      .cast("double") / lit((1L << 52).toDouble))
    a.crossJoin(b)
      .where(col("src") < col("dst"))
      .join(broadcast(probs), Seq("block_a", "block_b"))
      .where(u < col("prob"))
      .select(col("src"), col("dst"), col("block_a"), col("block_b"))
  }

  /** Full pipeline: sizes + probability matrix → tagged vertex/edge
    * DataFrames ready for the GraphML sink.
    */
  def generate(spark: SparkSession, sizes: Seq[(String, Long)],
      probs: DataFrame, seed: Long): (DataFrame, DataFrame) = {
    val n = nodes(spark, sizes)
    val e = edges(spark, n, probs, seed)
    val vertices = n.select(col("node_id").cast("string").as("node_id"),
      map(lit("block"), col("block")).as("attrs"))
    val edgesOut = e.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
    (vertices, edgesOut)
  }
}
