package graftbench

import graft.ops.{Dedup, IncrementalDedup}
import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `corpus_dedup`: near-duplicate clustering, benchmark decontamination and
  * two incremental dedup batches (80 % then 20 %) over a seeded corpus
  * with planted verbatim duplicate families, in a cold JVM — the corpus
  * CLI's shape.
  */
object CorpusDedup {
  val Docs = 10000L
  val FamilyPeriod = 37L // ids with id % 37 < 3 share their family's text
  val FamilySize = 3L
  val BenchPeriod = 101L // every 101st doc is copied into the benchmark set
  val BenchIdOffset = 10000000L

  private val Vocab = Array("platform", "service", "token", "access", "cluster",
    "shuffle", "partition", "snapshot", "lineage", "entity", "graph", "window",
    "stream", "quality", "sample", "shard", "bucket", "band", "signature",
    "document", "corpus", "benchmark", "training", "data")

  def familyOf(id: Long): Long = if (id % FamilyPeriod < FamilySize) id - id % FamilyPeriod else id

  /** ~60 words drawn by splitmix64 from (seed, family): members of one
    * family are verbatim copies.
    */
  def text(seed: Long, id: Long): String = {
    val family = familyOf(id)
    val sb = new StringBuilder
    var w = 0
    while (w < 60) {
      var z = (seed * 0x2545f4914f6cdd1dL) ^ (family * 131 + w) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      sb.append(Vocab((((z ^ (z >>> 31)) >>> 8).toInt & 0x7fffffff) % Vocab.length)).append(' ')
      w += 1
    }
    sb.toString.trim
  }

  def run(ctx: RunCtx): Outcome = {
    implicit val spark: SparkSession = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed

    // input generation: corpus and benchmark tables written once
    val textUdf = udf((id: Long) => text(seed, id))
    ctx.labelled("setup") {
      spark.range(Docs).select(col("id").as("doc_id"), textUdf(col("id")).as("text"))
        .write.parquet(ctx.dir("docs"))
      spark.range(0, Docs, BenchPeriod)
        .select((col("id") + BenchIdOffset).as("doc_id"), textUdf(col("id")).as("text"))
        .write.parquet(ctx.dir("bench"))
    }
    val docs = spark.read.parquet(ctx.dir("docs"))
    val bench = spark.read.parquet(ctx.dir("bench"))
    val cut = Docs * 8 / 10
    val setupS = ctx.sinceStartS

    var last: (Array[(Long, Long, Boolean)], Array[(Long, Long)], Array[(Long, Boolean)]) = null
    val walls = Vector.newBuilder[Double]
    val commits = Vector.newBuilder[Double]
    val parts = Vector.newBuilder[(Double, Double, Double)]
    var lastStore = ""
    val n = ctx.timedLoop(ctx.args.seconds) { i =>
      if (lastStore.nonEmpty) ctx.deleteDir(lastStore)
      lastStore = ctx.dir(s"sigs-$i")
      val store = new SnapshotStore(lastStore)
      val (_, wall) = ctx.span("ops.run") {
        val (clusters, tc) = ctx.span("ops.clusters") {
          ctx.labelled("ops")(Dedup.dedupClusters(docs)
            .select("doc_id", "cluster_id", "keep").as[(Long, Long, Boolean)].collect())
        }
        val (contam, tx) = ctx.span("ops.contamination") {
          ctx.labelled("ops")(Dedup.crossContamination(docs, bench)
            .select("corpus_id", "benchmark_id").as[(Long, Long)].collect())
        }
        val (inc, ti) = ctx.span("ops.incremental") {
          Seq(("b0", col("doc_id") < cut), ("b1", col("doc_id") >= cut)).flatMap {
            case (batch, cond) =>
              val (rows, tb) = ctx.span("ops.batch") {
                ctx.labelled("ops")(IncrementalDedup.ingestBatch(store, batch, docs.filter(cond))
                  .select("doc_id", "accepted").as[(Long, Boolean)].collect())
              }
              commits += tb
              rows
          }.toArray
        }
        last = (clusters, contam, inc)
        parts += ((tc, tx, ti))
      }
      walls += wall
    }
    val wallS = walls.result()
    val rss = ctx.peakRssMb
    val runSpans = ctx.spansOf("ops.run")
    val trace = ctx.traceWindow(runSpans.head._1, runSpans.last._2)

    // --- verification (untimed) on the last pass ---
    val (clusters, contam, inc) = last
    val clusterOf = clusters.map(r => r._1 -> r._2).toMap
    val members = (0L until Docs).groupBy(familyOf)
    val families = members.values.filter(_.size > 1).toSeq
    val split = families.count(f => f.map(clusterOf.get).distinct.size != 1)
    val okFamilies = ctx.check("dedup.families", split == 0 && clusterOf.size == Docs,
      s"$split of ${families.size} planted families span several clusters " +
        s"(${clusterOf.size} rows)")
    // and nothing else is merged: one cluster per family, one per other doc
    val wantClusters = Docs - families.map(_.size - 1).sum
    val gotClusters = clusterOf.values.toSet.size
    val okMerged = ctx.check("dedup.clusters", gotClusters == wantClusters,
      s"$gotClusters clusters, want $wantClusters")
    // flagged pairs are exactly (corpus doc, benchmark copy) of one family
    val benchIds = (0L until Docs by BenchPeriod).map(_ + BenchIdOffset)
    val wantPairs = benchIds.flatMap(b => members(familyOf(b - BenchIdOffset)).map(c => (c, b))).toSet
    val gotPairs = contam.toSet
    val okContam = ctx.check("contamination.pairs", gotPairs == wantPairs,
      s"${(wantPairs -- gotPairs).size} planted pairs missed, " +
        s"${(gotPairs -- wantPairs).size} unplanted pairs flagged")
    val accepted = inc.filter(_._2).map(_._1).toSet
    val famAccepted = families.count(f => f.count(accepted) != 1)
    val okInc = ctx.check("incremental.one_per_family", famAccepted == 0 && inc.length == Docs,
      s"$famAccepted of ${families.size} families accepted != 1 member (${inc.length} rows)")
    val failed = if (okFamilies && okMerged && okContam && okInc) 0 else 1

    val partS = parts.result()
    val layer = trace.map { w =>
      val textBytes = docs.select(sum(length(col("text")))).as[Long].head().toDouble
      Metrics.unitLayer(w, n.toDouble, textBytes) ++ Seq(
        "ops.clusters_s" -> Stats.median(partS.map(_._1)),
        "ops.contamination_s" -> Stats.median(partS.map(_._2)),
        "ops.incremental_s" -> Stats.median(partS.map(_._3)),
        "ops.dup_ratio" -> clusters.count(!_._3).toDouble / clusters.length,
        "trace.op_p50_ms" -> Stats.median(wallS) * 1000)
    }.getOrElse(Nil)

    Outcome(
      setupS = setupS,
      firstOpS = wallS.head,
      opMs = wallS.map(_ * 1000),
      commitMs = commits.result().map(_ * 1000),
      items = Docs.toDouble * n,
      itemsWallS = wallS.sum,
      peakRssMb = rss,
      attempted = n,
      failed = failed,
      layer = layer,
      samples = Seq("corpus_wall_s" -> wallS, "clusters_s" -> partS.map(_._1),
        "contamination_s" -> partS.map(_._2), "incremental_s" -> partS.map(_._3)),
      details = Seq(
        "docs" -> Docs.toString, "families" -> families.size.toString,
        "benchmark_docs" -> benchIds.size.toString, "passes" -> n.toString,
        "dup_docs" -> clusters.count(!_._3).toString) ++
        trace.map(w => "job_frames" -> Metrics.framesJson(w)))
  }
}
