package graftbench

import graft.core.PageRow
import graft.fixtures.PagesGen
import graft.oracle.SeqOracle
import graft.pipeline.Ingest
import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `ingest_full`: a fresh warehouse and one `Ingest.run` over generated
  * pages in 4 day partitions, in a cold JVM — the batch ingest a
  * spark-submit user runs. Repeats on a new warehouse while time remains.
  */
object IngestFull {
  val Pages = 4000L
  val Days = 4

  def run(ctx: RunCtx): Outcome = {
    implicit val spark: SparkSession = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed

    // input generation: the seeded pages, written once as the input table
    val pagesDir = ctx.dir("pages")
    ctx.labelled("setup") {
      PagesGen.pages(spark, Pages, seed = seed, days = Days).write.parquet(pagesDir)
    }
    val pages = spark.read.parquet(pagesDir).as[PageRow]
    val setupS = ctx.sinceStartS

    val cfg = Ingest.Config()
    var failed = 0
    val walls = Vector.newBuilder[Double]
    var lastWh = ""
    val n = ctx.timedLoop(ctx.args.seconds) { i =>
      if (lastWh.nonEmpty) ctx.deleteDir(lastWh)
      lastWh = ctx.dir(s"wh-$i")
      val store = new SnapshotStore(lastWh)
      val (newParts, wall) = ctx.span("pipeline.run") {
        Ingest.run(pages, store, cfg, knownPartitions = Some(PagesGen.dayStrings(Days)))
      }
      walls += wall
      if (!ctx.check(s"run$i.new_partitions", newParts == Days, s"Ingest.run returned $newParts"))
        failed += 1
    }
    val wallS = walls.result()
    val rss = ctx.peakRssMb
    val runSpans = ctx.spansOf("pipeline.run")
    val trace = ctx.traceWindow(runSpans.head._1, runSpans.last._2)

    // --- verification (untimed) on the last warehouse; the sequential
    // oracle runs on its own thread beside the Spark reads ---
    import scala.concurrent.ExecutionContext.Implicits.global
    val oracleF = scala.concurrent.Future(SeqOracle.run(Pages, seed = seed, days = Days, cfg = cfg))
    val store = new SnapshotStore(lastWh)
    val extractions = store.read("extractions")
    val docs = store.read("pages_text").count()
    val rawTriples = Ingest.triplesOf(extractions).count()
    val got = Ingest.triplesOf(extractions).select("subj", "pred", "obj").distinct()
      .as[(String, String, String)].collect().toSet
    val sha = store.read("pages_text").select("url", "text_sha256").as[(String, String)]
      .collect().toMap
    val oracle = scala.concurrent.Await.result(oracleF, scala.concurrent.duration.Duration.Inf)
    val (p, r) = SeqOracle.precisionRecall(got, oracle.triples)
    val okPr = ctx.check("triples.precision_recall", p >= 0.95 && r >= 0.95,
      f"precision=$p%.4f recall=$r%.4f (${got.size} vs ${oracle.triples.size})")
    val shaBad = (sha.keySet ++ oracle.textSha.keySet).count(u => sha.get(u) != oracle.textSha.get(u))
    val okSha = ctx.check("pages_text.text_sha256", shaBad == 0 && sha.nonEmpty,
      s"$shaBad of ${oracle.textSha.size} urls differ from the sequential oracle")
    if (!(okPr && okSha)) failed += 1

    val htmlBytes = pages.select(sum(length(col("html")))).as[Long].head().toDouble
    val layer = trace.map { w =>
      val nOps = n.toDouble
      val spanS = runSpans.map { case (s, e) => (e - s) / 1000.0 }.sum
      val busy = w.wallS(within = runSpans)
      val idle = spanS - busy
      val attributed = w.units.map(u => w.wallS(Some(u), runSpans)).sum
      val edgesTagged = store.read("edges_tagged").count().toDouble
      val pruneStats = store.read("lineage_prune").as[(String, Long)].collect().toMap
      val concepts = store.read("concepts")
      val merged = concepts.filter(col("canonical_id") =!= col("id")).count().toDouble
      Metrics.unitLayer(w, nOps, htmlBytes) ++ Seq(
        "pipeline.span_s" -> spanS / nOps,
        "pipeline.idle_s" -> idle / nOps,
        "pipeline.accounted_ratio" -> (attributed + idle) / spanS,
        "link.resolved_ratio" -> edgesTagged / rawTriples,
        "prune.kept_ratio" -> pruneStats.getOrElse("kept", 0L) / pruneStats.values.sum.toDouble,
        "canon.merge_ratio" -> merged / concepts.count(),
        "trace.op_p50_ms" -> Stats.median(wallS) * 1000)
    }.getOrElse(Nil)

    Outcome(
      setupS = setupS,
      firstOpS = wallS.head,
      opMs = wallS.map(_ * 1000),
      commitMs = wallS.map(_ * 1000),
      items = docs.toDouble * n,
      itemsWallS = wallS.sum,
      peakRssMb = rss,
      attempted = n,
      failed = failed,
      layer = layer,
      samples = Seq("ingest_wall_s" -> wallS),
      details = Seq(
        "pages" -> Pages.toString, "docs" -> docs.toString, "raw_triples" -> rawTriples.toString,
        "ingest_runs" -> n.toString,
        "docs_per_s" -> Json.num(docs * n / wallS.sum),
        "triples_per_s" -> Json.num(rawTriples * n / wallS.sum),
        "precision" -> Json.num(p), "recall" -> Json.num(r),
        "input_html_bytes" -> Json.num(htmlBytes)) ++
        trace.map(w => "job_frames" -> Metrics.framesJson(w)))
  }
}
