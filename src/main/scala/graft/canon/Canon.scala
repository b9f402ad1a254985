package graft.canon

import graft.core.TextSpec
import graft.observe.Observe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonicalization: synonym-edge detection + connected-components entity
  * resolution.
  *
  * The reference plans synonym edges from embedding cosine ≥ τ
  * (docs/PHASE4-HIPPORAG-PLAN.md:692-699) and implements the online variant
  * as an all-pairs cosine among retrieved candidates
  * (src/qortex/hippocampus/adapter.py:627-663). It never computes connected
  * components — canonical entities are what the north star adds: synonym
  * edges feed a CC over concept ids, and the smallest id in each component
  * becomes the canonical id.
  *
  * CC is "GraphFrames-style iterative DataFrame joins with checkpointed
  * frontiers", behind one entry point, [[Canon.connectedComponents]]: label
  * propagation to the component minimum for up to `MinLabelRounds` rounds
  * (one join + one aggregation each), escalating to large-star/small-star
  * (O(log n) rounds, capped at `StarRounds`) when the graph is deeper.
  * `localCheckpoint` every round truncates lineage so 20 rounds don't
  * stack 20 plans. Convergence is decided on the driver from counts only,
  * no per-row driver work.
  */
object Canon {

  /** Alias pairs from explicit "X is also known as Y" sentences.
    * Deterministic textual alias rule (our spec; plays the role of the
    * LLM's illustrative-concept matching at ingest/base.py:184-223).
    * Input: chunks DF (url, chunk_id, text). Output: (name_a, name_b).
    */
  def aliasPairsFromText(chunks: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val aliasRe =
      "([A-Z][A-Za-z0-9'\\-]*(?: [A-Z][A-Za-z0-9'\\-]*)*) is also known as ([A-Z][A-Za-z0-9'\\-]*(?: [A-Z][A-Za-z0-9'\\-]*)*)".r
    chunks
      .select(col("text"))
      .as[String]
      .flatMap { text =>
        if (text == null) Iterator.empty
        else
          aliasRe
            .findAllMatchIn(text)
            .map(m => (TextSpec.titleCase(m.group(1)), TextSpec.titleCase(m.group(2))))
      }
      .toDF("name_a", "name_b")
      .filter(col("name_a") =!= col("name_b"))
      .distinct()
  }

  /** Abbreviation synonym edges: a short ALL-CAPS concept name equal to the
    * initials of a multi-word concept name ("DI" ↔ "Dependency Injection").
    * Computed as an equi-join on the initials key — no quadratic pass.
    */
  def abbreviationPairs(concepts: DataFrame): DataFrame = {
    val initialsUdf = udf { (name: String) =>
      val parts = name.split(" ")
      if (parts.length >= 2) parts.map(_.charAt(0).toUpper).mkString else null
    }
    val multi = concepts
      .filter(size(split(col("name"), " ")) >= 2)
      .select(col("id").as("id_long"), initialsUdf(col("name")).as("__abbr"))
      .filter(col("__abbr").isNotNull)
    val short = concepts
      .filter(!col("name").contains(" ") && col("name") === upper(col("name")) &&
        length(col("name")).between(2, 6))
      .select(col("id").as("id_short"), col("name").as("__abbr"))
    multi.join(short, Seq("__abbr"), "inner").select(col("id_long"), col("id_short"))
  }

  /** Name-similarity synonym edges: concepts whose name token sets overlap
    * with Jaccard ≥ `threshold`. Blocked self-join: block by each name
    * token (explode), join within block, dedupe pairs; block sizes are
    * capped upstream by dropping ultra-frequent blocking tokens (df > cap)
    * so a stopword-ish token can't create a quadratic block at scale.
    */
  def nameSimilarityPairs(
      concepts: DataFrame,
      threshold: Double = 0.6,
      blockCap: Long = 1000L
  )(implicit spark: SparkSession): DataFrame = {
    val tokUdf = udf((n: String) => TextSpec.tokenize(n).toSeq.sorted)
    // checkpoint the exploded token-block frame: it feeds the block-size
    // aggregation AND both sides of the within-block self-join — without
    // the checkpoint the tokenize UDF + explode re-run once per consumer
    // (4× over the concept table)
    val blocked = concepts.select(col("id"), tokUdf(col("name")).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__block", explode(col("__toks")))
      .localCheckpoint()
    val blockSizes = blocked.groupBy("__block").agg(count(lit(1)).as("__bn"))
    val pruned = blocked
      .join(blockSizes.filter(col("__bn") <= blockCap), Seq("__block"))
      .select(col("__block"), col("id"), col("__toks"))
      .localCheckpoint()

    val a = pruned.select(col("__block"), col("id").as("id_a"), col("__toks").as("__ta"))
    val b = pruned.select(col("__block"), col("id").as("id_b"), col("__toks").as("__tb"))
    val jac = udf((x: Seq[String], y: Seq[String]) => TextSpec.jaccard(x.toSet, y.toSet))
    a.join(b, Seq("__block"))
      .filter(col("id_a") < col("id_b"))
      .filter(jac(col("__ta"), col("__tb")) >= threshold)
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Min-label rounds [[connectedComponents]] runs before it escalates to
    * large-star/small-star. Synonym and near-dup graphs have diameter ≤ a
    * handful, so they converge well inside this budget.
    */
  val MinLabelRounds = 10

  /** Round cap of the large-star/small-star escalation. Star converges in
    * O(log n) rounds, so reaching the cap means the loop is broken, not
    * slow: [[largeSmallStar]] throws rather than return labels that are
    * not component minima.
    */
  val StarRounds = 50

  /** Round budget the q28 DuckDB oracle generates its label-propagation
    * chain with. Round3Suite asserts [[minLabel]] converges on the shared
    * verify corpus within THIS budget, so oracle and operator cannot
    * silently diverge on a deeper synonym component — the oracle chain is
    * generated from this constant.
    */
  val OracleRoundBudget = 15

  /** Connected components over undirected (src, dst) id pairs — the one
    * CC entry point. Returns (id, canonical_id) for every id appearing in
    * `pairs`, where canonical_id is the smallest id of the component.
    *
    * Runs [[minLabel]] (cheap rounds: one join + one aggregation) for up
    * to `MinLabelRounds` rounds. A graph that has not converged by then (a
    * long alias chain) escalates to [[largeSmallStar]] — O(log n) rounds,
    * heavier each, capped at `StarRounds` — and emits one
    * `canon.cc.escalated` event. Labels are exact component minima on
    * both paths, so downstream results do not depend on the path taken.
    */
  def connectedComponents(pairs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val (labels, rounds, converged) = minLabel(pairs, MinLabelRounds)
    if (converged) labels
    else {
      Observe.emit("canon.cc.escalated", "min_label_rounds" -> rounds)
      largeSmallStar(pairs)._1
    }
  }

  /** Min-label propagation: label(v) starts as v; each round every vertex
    * takes the min of its own label and its neighbors' labels; stop when
    * no label changed or after `maxRounds` rounds. Rounds ≤ graph
    * diameter + 1 (the last round observes zero changes — the convergence
    * proof). Frontier data is checkpointed each round (`localCheckpoint`)
    * per the north star, bounding lineage and making stragglers
    * restart-cheap. Returns (labels, rounds run, converged); labels are
    * component minima only when converged.
    */
  private[graft] def minLabel(
      pairs: DataFrame,
      maxRounds: Int
  )(implicit spark: SparkSession): (DataFrame, Int, Boolean) = {
    val srcCol = pairs.columns(0)
    val dstCol = pairs.columns(1)
    // materialize the pair plan ONCE before mirroring it: the undirected
    // union would otherwise embed (and compute) the full upstream pair
    // derivation twice — for q50/q62 that upstream is the banded LSH
    // candidate join, the dominant cost of the whole operator
    val p = pairs
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    // undirected, deduped edge list — both directions so one join propagates
    // labels both ways
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      // localCheckpoint (not persist): truncates the upstream plan so each
      // label-propagation round plans against a leaf, not the full pipeline.
      .localCheckpoint()

    // shuffle width sized to the measured synonym-edge set for the whole
    // loop (graft.core.Loops) — all published frames are checkpointed
    graft.core.Loops.withShuffleWidth(spark, edges.count()) {
    var labels = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()

    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxRounds) {
      // candidate labels arriving over edges
      val incoming = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      val newLabels = labels
        .select(col("id"), col("label"))
        .union(incoming)
        .groupBy("id")
        .agg(min("label").as("new_label"))

      // ONE materialization per round: checkpoint the (label, new_label)
      // join itself, then derive both the changed-count and the next
      // frontier from that leaf — the previous shape ran the whole
      // join+union+groupBy a second time just to count changes
      val joined = labels.join(newLabels, Seq("id")).localCheckpoint()
      changed = joined.filter(col("new_label") =!= col("label")).count()
      labels = joined.select(col("id"), col("new_label").as("label"))
      iter += 1
    }
    (labels.withColumnRenamed("label", "canonical_id"), iter, changed == 0L)
    }
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * O(log n) rounds instead of min-label propagation's O(diameter).
    * Returns ((id, canonical_id = component minimum), rounds run); throws
    * `IllegalStateException` if `StarRounds` rounds do not converge.
    *
    * Each round is two aggregations + two joins, no per-node neighbor
    * collection (the per-node minimum is computed with `min`, never
    * `collect_set`, so a 10⁸-degree hub costs one combiner, not one
    * buffer). Convergence = the canonical edge set's (count, hash-sum)
    * fingerprint repeating — no driver-side edge materialization.
    *
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(N(u) ∪ u)
    *  - small-star(u): with edges oriented larger→smaller, every neighbor
    *    (all ≤ u) and u itself re-point to m = min(N(u) ∪ u)
    */
  private[graft] def largeSmallStar(pairs: DataFrame)(
      implicit spark: SparkSession): (DataFrame, Int) = {
    val srcCol = pairs.columns(0)
    val dstCol = pairs.columns(1)
    val allNodes = pairs.select(col(srcCol).as("id"))
      .union(pairs.select(col(dstCol).as("id"))).distinct().localCheckpoint()

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = und.groupBy("a").agg(least(min(col("b")), first(col("a"))).as("m"))
      und.filter(col("b") > col("a"))
        .join(mins, Seq("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b")).distinct()
      val mins = oriented.groupBy("a").agg(min(col("b")).as("m"))
      oriented.join(mins, Seq("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent, overflow-free under ANSI mode
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edges = pairs
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    graft.core.Loops.withShuffleWidth(spark, edges.count()) {
    var iter = 0
    var prev = (-1L, 0L)
    var cur = fingerprint(edges)
    while (cur != prev && iter < StarRounds) {
      edges = smallStar(largeStar(edges)).localCheckpoint()
      prev = cur
      cur = fingerprint(edges)
      iter += 1
    }
    if (cur != prev)
      throw new IllegalStateException(
        s"large-star/small-star did not converge in $StarRounds rounds; labels " +
          "from a non-star edge set are not component minima")
    // converged star graph: every non-root points at its component minimum
    val labels = allNodes
      .join(edges.withColumnRenamed("a", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("b"), col("id")).as("canonical_id"))
      .localCheckpoint()
    (labels, iter)
    }
  }

  /** All synonym edge families as one deduped (id_a, id_b) pair set —
    * exposed separately so the verify harness can dump it as the CC
    * oracle's input fixture.
    */
  def synonymEdges(
      concepts: DataFrame,
      aliasPairs: DataFrame,
      nameSimThreshold: Double = 0.6
  )(implicit spark: SparkSession): DataFrame = {
    // alias pairs arrive as names; map both sides to ids
    val byName = concepts.select(lower(col("name")).as("__k"), col("id"))
    val aliasIdPairs = aliasPairs
      .join(broadcast(byName).withColumnRenamed("id", "id_a"),
        lower(col("name_a")) === col("__k")).drop("__k")
      .join(broadcast(byName).withColumnRenamed("id", "id_b"),
        lower(col("name_b")) === col("__k")).drop("__k")
      .select(col("id_a"), col("id_b"))

    aliasIdPairs
      .union(abbreviationPairs(concepts))
      .union(nameSimilarityPairs(concepts, nameSimThreshold))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
  }

  /** Full canonicalization: synonym edges (alias + abbreviation +
    * name-similarity) → CC → (id, canonical_id) map covering ALL concepts
    * (identity for singletons).
    */
  def canonicalMap(
      concepts: DataFrame,
      aliasPairs: DataFrame,
      nameSimThreshold: Double = 0.6
  )(implicit spark: SparkSession): DataFrame = {
    val cc = connectedComponents(synonymEdges(concepts, aliasPairs, nameSimThreshold))
    concepts
      .select(col("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical_id"), col("id")).as("canonical_id"))
  }
}
