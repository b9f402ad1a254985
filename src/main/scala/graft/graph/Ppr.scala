package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Personalized PageRank as iterative DataFrame joins — the query-side
  * graph algorithm of the reference (G1), distributed.
  *
  * Semantics from src/qortex/core/memory.py:231-372 (InMemory power
  * iteration; the Memgraph variant at backend.py:777-957 pulls the whole
  * graph client-side and runs the same loop):
  *   - undirected view: every edge contributes both directions
  *     (memory.py:316-326 adds the reverse edge)
  *   - edge weight = confidence; per-step contribution is
  *     weight / Σ(out-weights of the source) — weighted-degree
  *     normalization (memory.py:331-339)
  *   - π(t+1) = d · (Â π) + (1 − d) · personalization, d = 0.85 at call
  *     sites (adapter.py:514-544), tol 1e-6 on Σ|Δ|, ≤ 100 iterations
  *   - personalization = normalized seed weights (uniform fallback),
  *     scores ≤ 1e-8 dropped from the result (memory.py:357-366)
  *
  * Dataflow per iteration: ranks ⋈ edges (shuffle on src) →
  * groupBy(dst).sum → join personalization → convergence check via a
  * single agg. `localCheckpoint` truncates lineage every iteration.
  * [[runLocal]] is the same loop over driver-resident CSR arrays.
  */
object Ppr {

  /** A query-reusable normalized graph: the undirected weighted edge list
    * and per-source out-weight sums, both checkpointed. A query SERVICE
    * over a committed snapshot prepares this ONCE and serves every query
    * from it — the per-query work drops to merging that query's ephemeral
    * online edges (tiny) and the loop itself, instead of rebuilding
    * und/outW from the full edge table per call.
    */
  final case class PreparedGraph(und: DataFrame, outW: DataFrame)

  /** Build the reusable normalized adjacency inputs from a committed edge
    * table (one scan + one aggregation, checkpointed).
    */
  def prepare(edges: DataFrame)(implicit spark: SparkSession): PreparedGraph = {
    val und = edges
      .select(col("source_id").as("src"), col("target_id").as("dst"),
        col("confidence").cast("double").as("w"))
      .union(edges.select(col("target_id").as("src"), col("source_id").as("dst"),
        col("confidence").cast("double").as("w")))
      .localCheckpoint()
    val outW = und.groupBy("src").agg(sum("w").as("wout")).localCheckpoint()
    PreparedGraph(und, outW)
  }

  /** @param edges  (source_id, target_id, confidence)
    * @param seeds  (id, weight) — personalization vector (need not sum to 1)
    */
  def run(
      edges: DataFrame,
      seeds: DataFrame,
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      minScore: Double = 1e-8
  )(implicit spark: SparkSession): DataFrame = {
    // measure the graph BEFORE building the adjacency so the build itself
    // runs at the loop's scoped shuffle width — the previous shape built
    // adj0 at the session width and then paid an extra repartition +
    // checkpoint job to narrow it (guide §2.4: one exchange, not two)
    val nEdges = edges.count()
    graft.core.Loops.withShuffleWidth(spark, 2L * nEdges) {
      // undirected weighted adjacency with per-source normalization
      val und = edges
        .select(col("source_id").as("src"), col("target_id").as("dst"),
          col("confidence").cast("double").as("w"))
        .union(edges.select(col("target_id").as("src"), col("source_id").as("dst"),
          col("confidence").cast("double").as("w")))
      val outW = und.groupBy("src").agg(sum("w").as("wout"))
      // localCheckpoint (NOT persist): persist caches the *data* but keeps the
      // full upstream logical plan attached to every derived frame, so each
      // loop block pays Catalyst re-analysis/optimization of the whole
      // extraction→linking→pruning tree (measured: 754 s for 25 iterations on
      // a 1.5k-node graph). Checkpointing truncates the plan to a leaf.
      val adj0 = und.join(outW, Seq("src"))
        .select(col("src"), col("dst"), (col("w") / col("wout")).as("p"))
        .localCheckpoint()
      // adj0 rows = und rows exactly (the normalization join matches every
      // row), so the measured edge count stands in for a re-count job
      runAdj(adj0, seeds, damping, tol, maxIter, minScore,
        rowsHint = Some(2L * nEdges))
    }
  }

  /** Run from a prepared graph plus per-query extra edges (the online
    * similarity edges of one retrieval, adapter.py:532). Only the extras
    * pay new aggregation work: their out-weight delta folds into the
    * cached sums with a broadcast-sized join, and sources untouched by
    * extras keep their cached normalization.
    */
  def runPrepared(
      graph: PreparedGraph,
      extraEdges: DataFrame, // (source_id, target_id, confidence)
      seeds: DataFrame,
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      minScore: Double = 1e-8
  )(implicit spark: SparkSession): DataFrame = {
    val extraUnd = extraEdges
      .select(col("source_id").as("src"), col("target_id").as("dst"),
        col("confidence").cast("double").as("w"))
      .union(extraEdges.select(col("target_id").as("src"), col("source_id").as("dst"),
        col("confidence").cast("double").as("w")))
      .localCheckpoint()
    val nExtra = extraUnd.count()
    // size the scoped width from the prepared graph (a checkpointed leaf —
    // counting it is one cheap job) so the merged-adjacency build below
    // runs at loop width instead of session width + a narrowing repartition
    val totalRows = graph.und.count() + nExtra // extraUnd already holds both directions
    graft.core.Loops.withShuffleWidth(spark, totalRows) {
      val (und, outW) =
        if (nExtra == 0L) (graph.und, graph.outW)
        else {
          val delta = extraUnd.groupBy("src").agg(sum("w").as("__dw"))
          val merged = graph.outW.join(delta, Seq("src"), "full_outer")
            .select(col("src"),
              (coalesce(col("wout"), lit(0.0)) + coalesce(col("__dw"), lit(0.0))).as("wout"))
          (graph.und.unionByName(extraUnd), merged)
        }
      val adj0 = und.join(outW, Seq("src"))
        .select(col("src"), col("dst"), (col("w") / col("wout")).as("p"))
        .localCheckpoint()
      runAdj(adj0, seeds, damping, tol, maxIter, minScore,
        rowsHint = Some(totalRows))
    }
  }

  /** Local-array twin of [[runAdj]] for a graph held in driver arrays
    * (the serving path of a snapshot under the driver cap — what the
    * reference's Memgraph backend does client-side). Same semantics:
    * node set = adjacency sources ∪ seeds, personalization = seed weight /
    * Σ weights (uniform over the node set when Σ ≤ 0), blocks of 5
    * iterations with the Σ|Δ| check after each block (skipped when
    * tol ≤ 0), ranks ≤ `minScore` dropped. Only the summation order
    * differs from the DataFrame loop.
    *
    * @param offsets CSR row offsets over node indices (length n + 1)
    * @param targets CSR entry targets
    * @param p       normalized weight per entry (w / Σ out-w of its source)
    * @param seeds   seed node indices (distinct), with `weights` aligned
    * @return the kept (node index, rank) pairs, ascending node index
    */
  def runLocal(
      offsets: Array[Int],
      targets: Array[Int],
      p: Array[Double],
      seeds: Array[Int],
      weights: Array[Double],
      damping: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      minScore: Double = 1e-8
  ): Array[(Int, Double)] = {
    val n = offsets.length - 1
    val inSet = Array.tabulate(n)(v => offsets(v + 1) > offsets(v))
    seeds.foreach(inSet(_) = true)
    val pers = new Array[Double](n)
    val totalSeed = weights.sum
    if (totalSeed <= 0.0) {
      val size = inSet.count(identity)
      for (v <- 0 until n if inSet(v)) pers(v) = 1.0 / size
    } else
      for (i <- seeds.indices) pers(seeds(i)) = weights(i) / totalSeed

    def step(ranks: Array[Double]): Array[Double] = {
      val inflow = new Array[Double](n)
      var u = 0
      while (u < n) {
        val r = ranks(u)
        var e = offsets(u)
        while (e < offsets(u + 1)) { inflow(targets(e)) += r * p(e); e += 1 }
        u += 1
      }
      val next = new Array[Double](n)
      for (v <- 0 until n if inSet(v))
        next(v) = damping * inflow(v) + (1.0 - damping) * pers(v)
      next
    }

    val blockSize = 5 // runAdj's block: one convergence check per 5 steps
    var ranks = pers
    var iter = 0
    var delta = Double.MaxValue
    while (delta > tol && iter < maxIter) {
      val steps = math.min(blockSize, maxIter - iter)
      var next = ranks
      for (_ <- 0 until steps) next = step(next)
      if (tol > 0.0) {
        delta = 0.0
        for (v <- 0 until n if inSet(v)) delta += math.abs(next(v) - ranks(v))
      }
      ranks = next
      iter += steps
    }
    (0 until n).iterator.filter(v => inSet(v) && ranks(v) > minScore)
      .map(v => (v, ranks(v))).toArray
  }

  private def runAdj(
      adj0: DataFrame,
      seeds: DataFrame,
      damping: Double,
      tol: Double,
      maxIter: Int,
      minScore: Double,
      /** Caller-measured adjacency row count (both builders already count
        * the edges to scope the build width) — saves the re-count job; an
        * over-estimate only widens the loop slightly.
        */
      rowsHint: Option[Long] = None
  )(implicit spark: SparkSession): DataFrame = {
    // right-size the loop's partitioning from the MEASURED adjacency: the
    // session's spark.sql.shuffle.partitions (sized for corpus-scale
    // stages) makes every one of the 25+ iterations pay mostly-empty
    // tasks on a small query graph; ~100k edges per partition keeps a
    // 10⁹-edge graph at real-cluster width while a 10³-edge retrieval
    // graph runs the whole loop in ONE task per stage.
    val adjRows = rowsHint.getOrElse(adj0.count())
    val parts = math.max(1, (adjRows / 100000L).toInt + 1)
    val adj =
      if (adj0.rdd.getNumPartitions <= parts) adj0
      else adj0.repartition(parts, col("src")).localCheckpoint()

    // scope the session's shuffle width to the measured graph for the
    // whole loop (graft.core.Loops): every published frame below is
    // checkpointed before the width is restored.
    graft.core.Loops.withShuffleWidth(spark, adjRows) {

    // node set = edge endpoints ∪ seed ids: the reference's InMemory PPR
    // personalizes over ALL graph nodes (memory.py:304-315), so a seed with
    // no edges must still receive (1−d)·pers mass each iteration instead of
    // silently dropping to rank 0. No persist: the only consumer is the
    // checkpointed `pers` build below (the uniform fallback recomputes it
    // once for its count — a branch no bench/query path takes).
    val nodes = adj.select(col("src").as("id"))
      .unionByName(seeds.select(col("id")))
      .distinct()

    // normalized personalization over the node set (uniform fallback —
    // memory.py:304-315)
    val seedSum = seeds.agg(sum(col("weight"))).collect()(0)
    val totalSeed = if (seedSum.isNullAt(0)) 0.0 else seedSum.getDouble(0)
    val pers =
      if (totalSeed <= 0.0) {
        val n = nodes.count()
        nodes.withColumn("pers", lit(1.0 / n))
      } else {
        nodes.join(seeds.withColumnRenamed("id", "id"), Seq("id"), "left")
          .select(col("id"), (coalesce(col("weight"), lit(0.0)) / totalSeed).as("pers"))
      }
    val persisted = pers.localCheckpoint()

    // Iterations are chained LAZILY in blocks of `blockSize`; each block
    // materializes once (localCheckpoint, truncating lineage) and pays one
    // convergence check. Per-iteration eager checkpoints + delta counts
    // would cost ~3 driver jobs per iteration — at 25+ iterations that is
    // pure scheduling overhead dominating small/medium graphs.
    // measured: larger blocks for the fixed-iteration case (13 → 2 jobs)
    // LOSE — the deeper Catalyst plan costs more per materialization than
    // the saved job round-trips; 5 is the sweet spot on both paths
    val blockSize = 5
    def step(ranks: DataFrame): DataFrame = {
      val contrib = adj
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") * col("p")).as("inflow"))
      persisted
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(damping) * coalesce(col("inflow"), lit(0.0)) +
            lit(1.0 - damping) * col("pers")).as("rank"))
    }

    // tol ≤ 0 ⇒ the convergence probe can only stop the loop early when a
    // block's delta is EXACTLY 0.0 — and a zero delta means ranks are at a
    // double-exact fixed point, so the remaining iterations reproduce them
    // bit-for-bit. Skipping the probe therefore yields identical results
    // while saving one join+agg job per block (q29 runs fixed 25
    // iterations with tol = 0: five convergence jobs were pure overhead).
    val checkConvergence = tol > 0.0
    // ranks₀ is a projection of the checkpointed personalization leaf — no
    // checkpoint job needed for it
    var ranks = persisted.select(col("id"), col("pers").as("rank"))
    var iter = 0
    var delta = Double.MaxValue
    while (delta > tol && iter < maxIter) {
      val n = math.min(blockSize, maxIter - iter)
      var next = ranks
      for (_ <- 0 until n) next = step(next)
      next = next.localCheckpoint()
      if (checkConvergence)
        delta = next
          .join(ranks.withColumnRenamed("rank", "prev"), Seq("id"))
          .agg(sum(abs(col("rank") - col("prev"))))
          .collect()(0).getDouble(0)
      ranks = next
      iter += n
    }
    adj.unpersist()
    ranks.filter(col("rank") > minScore)
    }
  }
}
