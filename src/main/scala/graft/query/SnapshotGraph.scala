package graft.query

import graft.core.Embeddings
import graft.graph.Ppr
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.ArraySeq

/** One committed snapshot's retrieval inputs held in driver arrays — the
  * shape the reference's Memgraph backend pulls client-side before it
  * runs its PPR loop (Ppr.scala header, memory.py:231-372). A service
  * over a snapshot under the driver cap answers every query from these
  * arrays without a Spark job.
  *
  * Node indices cover concept ids ∪ edge endpoints in Spark's binary
  * UTF-8 string order, so each `id asc` tie-break of the Spark path is an
  * index comparison here. Edges are held as an undirected CSR (each row
  * in both directions, like `Ppr.prepare`) with per-source out-weights.
  * Rows with a null key or edge confidence are skipped, as the Spark
  * path's equi-joins drop them.
  */
private[graft] final class SnapshotGraph private (
    ids: Array[String],
    domains: Array[String], // substring_index(id, ":", 1)
    names: Array[String], // concept name; null for a non-concept node
    confidence: Array[Double], // concept confidence; -∞ when null
    embedding: Array[Seq[Float]], // concept embedding; null when absent
    concepts: Array[Int], // concept node indices, ascending
    offsets: Array[Int],
    targets: Array[Int],
    weights: Array[Double],
    wout: Array[Double], // Σ out-weight per node
    rules: Array[(String, String, String)], // (id, text, category), id order
    rulesOf: Array[Array[Int]] // node → rules naming it in concept_ids
) {
  private def n = ids.length

  /** [[Retrieval.retrieveFull]] with `prepared` = this snapshot's graph,
    * step for step, plus the service's domain / min-confidence filters:
    * the concept set is filtered before the vector search and the name
    * join (so an activated node outside it has a null name), and the
    * domain filter runs on the top-k after the rules bundle is built.
    *
    * @param factorsOf teleportation factors for the given seed ids
    */
  def retrieve(
      queryText: String,
      domainFilter: Seq[String],
      k: Int,
      minConf: Double,
      factorsOf: Seq[String] => Map[String, Double],
      onlineThreshold: Double = 0.7
  ): SnapshotGraph.Result = {
    val fetchK = math.max(3 * k, 30)
    val q = ArraySeq.unsafeWrapArray(Embeddings.embed(queryText))
    val inDomain: Int => Boolean =
      if (domainFilter.isEmpty) _ => true
      else { val ds = domainFilter.toSet; i => ds.contains(domains(i)) }

    // step 1: vector search over the filtered concept set
    val cs = new Array[Boolean](n)
    val vec = new Array[Double](n)
    val cand = concepts.filter(i => inDomain(i) && (minConf <= 0.0 || confidence(i) >= minConf))
    cand.foreach { i => cs(i) = true; vec(i) = Similarity.cosine(embedding(i), q) }
    val seeds = cand
      .sortWith((a, b) => vec(a) > vec(b) || (vec(a) == vec(b) && a < b))
      .take(fetchK).sorted
    // a seed keeps its vec score; every other node scores vec = 0
    val isSeed = new Array[Boolean](n)
    val seedVec = new Array[Double](n)
    seeds.foreach { i => isSeed(i) = true; seedVec(i) = vec(i) }

    // step 2: online cosine edges among the seeds (id_a < id_b)
    val extras = (for {
      x <- seeds.indices.iterator; y <- (x + 1 until seeds.length).iterator
      c = Similarity.cosine(embedding(seeds(x)), embedding(seeds(y)))
      if c >= onlineThreshold
    } yield (seeds(x), seeds(y), c)).toArray

    // step 4: committed edge rows with both endpoints among the seeds —
    // each row sits in the CSR once per direction
    var both = 0L
    for (u <- seeds; e <- offsets(u) until offsets(u + 1) if isSeed(targets(e))) both += 1
    val nPersistent = both / 2
    val kgCoverage =
      nPersistent.toDouble / math.max(nPersistent + extras.length, 1L).toDouble

    // A6: seed weight = vec score × factor clamped to [0.1, 5]
    val factors = factorsOf(seeds.map(ids(_)).toSeq)
    val seedWeights = seeds.map(i =>
      seedVec(i) * math.min(5.0, math.max(0.1, factors.getOrElse(ids(i), 1.0))))

    // step 5: PPR over committed ∪ online edges
    val (o, t, p) = merged(extras)
    val kept = Ppr.runLocal(o, t, p, seeds, seedWeights,
      damping = 0.85, tol = 1e-4, maxIter = 30)
    val ppr = new Array[Double](n)
    kept.foreach { case (v, r) => ppr(v) = r }

    // step 6: max-normalized 0.5/0.5 blend over seeds ∪ activated, top-k
    val maxPpr = if (kept.isEmpty) 0.0 else kept.map(_._2).max
    val maxV = if (maxPpr <= 0.0) 1.0 else maxPpr
    val combined = new Array[Double](n)
    val pool = (seeds ++ kept.map(_._1)).distinct
    pool.foreach(i => combined(i) = 0.5 * seedVec(i) + 0.5 * (ppr(i) / maxV))
    val top = pool
      .sortWith((a, b) => combined(a) > combined(b) || (combined(a) == combined(b) && a < b))
      .take(k)

    // J3: rules naming any top-k node, relevance = max combined
    val relevance = scala.collection.mutable.HashMap.empty[Int, Double]
    for (i <- top; r <- rulesOf(i))
      relevance(r) = math.max(relevance.getOrElse(r, Double.NegativeInfinity), combined(i))
    val ruleRows = relevance.toArray
      .sortWith { case ((ra, a), (rb, b)) => a > b || (a == b && ra < rb) }
      .map { case (r, rel) => val (id, text, cat) = rules(r); Row(id, text, cat, rel) }

    val items = top.filter(inDomain).map(i =>
      Row(ids(i), if (cs(i)) names(i) else null, seedVec(i), ppr(i), combined(i)))
    SnapshotGraph.Result(items, ruleRows, kgCoverage)
  }

  /** The query's adjacency: the committed CSR plus its online edges (both
    * directions, after each node's committed entries), each entry
    * normalized by the merged out-weight — `Ppr.runPrepared`'s merge.
    * Returns (offsets, targets, p).
    */
  private def merged(
      extras: Array[(Int, Int, Double)]): (Array[Int], Array[Int], Array[Double]) = {
    val extraDeg = new Array[Int](n)
    val dw = new Array[Double](n)
    extras.foreach { case (a, b, c) =>
      extraDeg(a) += 1; extraDeg(b) += 1; dw(a) += c; dw(b) += c
    }
    val o = new Array[Int](n + 1)
    for (v <- 0 until n) o(v + 1) = o(v) + (offsets(v + 1) - offsets(v)) + extraDeg(v)
    val t = new Array[Int](o(n))
    val w = new Array[Double](o(n))
    val fill = new Array[Int](n)
    for (v <- 0 until n) {
      val len = offsets(v + 1) - offsets(v)
      System.arraycopy(targets, offsets(v), t, o(v), len)
      System.arraycopy(weights, offsets(v), w, o(v), len)
      fill(v) = o(v) + len
    }
    extras.foreach { case (a, b, c) =>
      t(fill(a)) = b; w(fill(a)) = c; fill(a) += 1
      t(fill(b)) = a; w(fill(b)) = c; fill(b) += 1
    }
    val p = new Array[Double](o(n))
    for (v <- 0 until n) {
      val out = wout(v) + dw(v)
      var e = o(v)
      while (e < o(v + 1)) { p(e) = w(e) / out; e += 1 }
    }
    (o, t, p)
  }
}

private[graft] object SnapshotGraph {

  final case class Result(items: Array[Row], rules: Array[Row], kgCoverage: Double)

  /** `limit(cap + 1)` probe-collect: the rows when the frame holds at most
    * `cap` of them, None when it is over the cap. One job either way.
    */
  def collectUnderCap(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val probe = df.limit(cap + 1).collect()
    if (probe.length <= cap) Some(probe) else None
  }

  /** Collect the committed tables into a snapshot graph, or None when any
    * table holds more than `cap` rows (the caller keeps the Spark path).
    * A table is only probed when every table before it fit.
    */
  def load(concepts: DataFrame, edges: DataFrame, rules: DataFrame,
      cap: Int): Option[SnapshotGraph] =
    for {
      cs <- collectUnderCap(
        concepts.select(col("id"), col("name"), col("confidence").cast("double"),
          col("embedding")), cap)
      es <- collectUnderCap(
        edges.select(col("source_id"), col("target_id"), col("confidence").cast("double")),
        cap)
      rs <- collectUnderCap(
        rules.select(col("id"), col("text"), col("category"), col("concept_ids")), cap)
    } yield build(cs, es, rs)

  private def utf8Sorted(xs: Iterable[String]): Array[String] = {
    val u = xs.iterator.map(UTF8String.fromString).toArray[AnyRef]
    java.util.Arrays.sort(u)
    u.map(_.toString)
  }

  private def build(cs: Array[Row], es: Array[Row], rs: Array[Row]): SnapshotGraph = {
    val conceptRows = cs.filterNot(_.isNullAt(0))
    val edgeRows = es.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
    val ids = utf8Sorted(
      (conceptRows.iterator.map(_.getString(0)) ++
        edgeRows.iterator.flatMap(r => Iterator(r.getString(0), r.getString(1)))).toSet)
    val n = ids.length
    val index = ids.zipWithIndex.toMap

    val names = new Array[String](n)
    val confidence = new Array[Double](n)
    val embedding = new Array[Seq[Float]](n)
    conceptRows.foreach { r =>
      val i = index(r.getString(0))
      names(i) = r.getString(1)
      confidence(i) = if (r.isNullAt(2)) Double.NegativeInfinity else r.getDouble(2)
      embedding(i) =
        if (r.isNullAt(3)) null else ArraySeq.unsafeWrapArray(r.getSeq[Float](3).toArray)
    }
    val concepts = conceptRows.map(r => index(r.getString(0))).distinct.sorted

    // undirected CSR: each edge row contributes both directions
    val src = edgeRows.map(r => index(r.getString(0)))
    val dst = edgeRows.map(r => index(r.getString(1)))
    val w = edgeRows.map(_.getDouble(2))
    val offsets = new Array[Int](n + 1)
    for (e <- src.indices) { offsets(src(e) + 1) += 1; offsets(dst(e) + 1) += 1 }
    for (v <- 0 until n) offsets(v + 1) += offsets(v)
    val fill = offsets.clone()
    val targets = new Array[Int](offsets(n))
    val weights = new Array[Double](offsets(n))
    for (e <- src.indices) {
      targets(fill(src(e))) = dst(e); weights(fill(src(e))) = w(e); fill(src(e)) += 1
      targets(fill(dst(e))) = src(e); weights(fill(dst(e))) = w(e); fill(dst(e)) += 1
    }
    val wout = Array.tabulate(n)(v => (offsets(v) until offsets(v + 1)).map(weights(_)).sum)

    // rules grouped by (id, text, category) — the Spark bundle's group key —
    // in id order, each linked to the nodes its concept_ids name
    val ruleKeys = rs.filterNot(_.isNullAt(0))
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .distinct
    val byId = utf8Sorted(ruleKeys.map(_._1).toSet).zipWithIndex.toMap
    val rules = ruleKeys.sortBy(r => byId(r._1))
    val ruleIndex = rules.zipWithIndex.toMap
    val rulesOf = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    rs.filterNot(r => r.isNullAt(0) || r.isNullAt(3)).foreach { r =>
      val ri = ruleIndex((r.getString(0), r.getString(1), r.getString(2)))
      r.getSeq[String](3).distinct.flatMap(index.get).foreach { v =>
        if (!rulesOf(v).contains(ri)) rulesOf(v) += ri
      }
    }

    new SnapshotGraph(ids, ids.map(id => id.takeWhile(_ != ':')), names, confidence,
      embedding, concepts, offsets, targets, weights, wout, rules, rulesOf.map(_.toArray))
  }
}
