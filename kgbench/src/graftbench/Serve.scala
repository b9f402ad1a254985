package graftbench

import graft.fixtures.PagesGen
import graft.pipeline.Ingest
import graft.query.GraftService
import graft.store.SnapshotStore
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable

/** `serve`: one `GraftService` over a committed warehouse, driven by one
  * client in a closed loop. Each `query(topK = 10)` is followed by one
  * `feedback` that accepts the first item and rejects the second.
  */
object Serve {
  val BasePages = 300L
  val TopK = 10
  val MinWarmRounds = 2
  val ItemColumns = Seq("id", "name", "vec_score", "ppr", "combined")
  val RuleColumns = Seq("id", "text", "category", "relevance")

  /** Seeded query texts: even positions name a head/core entity, odd ones a
    * long-tail entity.
    */
  def queries(seed: Long, n: Int): Seq[String] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      if (i % 2 == 0) PagesGen.allEntities(rng.nextInt(PagesGen.allEntities.length))
      else PagesGen.tailEntity(rng.nextInt(1 << 20).toLong, rng.nextInt(1 << 20).toLong)
    }
  }

  final case class Call(text: String, items: Array[Row], rules: Array[Row],
      itemCols: Seq[String], ruleCols: Seq[String], fb: Map[String, String], fbOk: Boolean)

  def run(ctx: RunCtx): Outcome = {
    implicit val spark: SparkSession = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed

    // set-up: the committed warehouse the service reads
    val store = new SnapshotStore(ctx.dir("wh"))
    ctx.labelled("setup") {
      Ingest.run(PagesGen.pages(spark, BasePages, seed = seed), store, Ingest.Config(),
        knownPartitions = Some(PagesGen.dayStrings(4)))
    }
    val texts = queries(seed, 1000)
    val setupS = ctx.sinceStartS

    val calls = mutable.ArrayBuffer.empty[Call]
    val queryS = mutable.ArrayBuffer.empty[Double]
    val feedbackS = mutable.ArrayBuffer.empty[Double]
    var failed = 0

    def queryOnce(svc: GraftService, i: Int): (String, Array[Row]) =
      ctx.span("serve.query") {
        val r = svc.query(texts(i), topK = TopK)
        val items = ctx.labelled("query")(r.items.collect())
        val rules = ctx.labelled("rules")(r.rules.collect())
        calls += Call(texts(i), items, rules, r.items.columns.toSeq, r.rules.columns.toSeq,
          Map.empty, fbOk = true)
        (r.queryId, items)
      }._1

    def feedbackOnce(svc: GraftService, qid: String, items: Array[Row]): Unit = {
      val outcomes = items.take(2).map(_.getString(0)).zip(Seq("accepted", "rejected")).toMap
      val (res, wall) = ctx.span("serve.feedback") {
        ctx.labelled("feedback")(svc.feedback(qid, outcomes))
      }
      feedbackS += wall
      calls(calls.length - 1) = calls.last.copy(fb = outcomes, fbOk = res.isRight)
    }

    /** (persisted RDDs, their storage in MB) */
    def storage(): (Double, Double) = {
      val sc = spark.sparkContext
      (sc.getPersistentRDDs.size.toDouble,
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    }

    // first call: service construction (table checkpoints) + first query
    val ((svc, firstItems, firstQid), firstS) = ctx.span("serve.first") {
      val svc = new GraftService(store)
      val (qid, items) = queryOnce(svc, 0)
      (svc, items, qid)
    }
    val storageFirst = storage()
    feedbackOnce(svc, firstQid, firstItems)

    // warm rounds: the loop's clock starts after the first round, so the
    // cold first query does not eat into --seconds
    val loopFrom = System.currentTimeMillis()
    val rounds = ctx.timedLoop(ctx.args.seconds, minCalls = MinWarmRounds) { i =>
      val t0 = System.nanoTime()
      val (qid, items) = queryOnce(svc, i + 1)
      queryS += (System.nanoTime() - t0) / 1e9
      feedbackOnce(svc, qid, items)
    }
    val loopTo = System.currentTimeMillis()
    val loopS = (loopTo - loopFrom) / 1000.0
    val storageLast = storage()
    val rss = ctx.peakRssMb
    val trace = ctx.traceWindow(loopFrom, loopTo)
    val firstTrace = ctx.traceWindow(ctx.spansOf("serve.first").head._1,
      ctx.spansOf("serve.first").head._2)

    // --- verification (untimed) ---
    for ((c, i) <- calls.zipWithIndex) {
      val combined = c.items.map(_.getAs[Double]("combined"))
      val maxCombined = if (combined.isEmpty) Double.NegativeInfinity else combined.max
      val ok = Seq(
        ctx.check(s"q$i.items", c.items.nonEmpty && c.items.length <= TopK,
          s"${c.items.length} items for '${c.text}'"),
        ctx.check(s"q$i.columns", c.itemCols == ItemColumns && c.ruleCols == RuleColumns,
          s"items ${c.itemCols.mkString(",")}; rules ${c.ruleCols.mkString(",")}"),
        ctx.check(s"q$i.descending", combined.sameElements(combined.sortBy(-_)),
          combined.mkString(",")),
        ctx.check(s"q$i.rules_relevance",
          c.rules.forall(_.getAs[Double]("relevance") <= maxCombined + 1e-12),
          s"${c.rules.length} rules, max combined $maxCombined"),
        ctx.check(s"q$i.feedback", c.fbOk && c.fb.size == math.min(2, c.items.length),
          s"feedback ${c.fb}"))
      if (ok.contains(false)) failed += 1
    }
    // factors must equal the replay of every feedback delta in order
    val expected = mutable.Map.empty[String, Double]
    for (c <- calls; (node, outcome) <- c.fb) {
      val d = if (outcome == "accepted") 0.1 else -0.05
      expected(node) = math.min(5.0, math.max(0.1, expected.getOrElse(node, 1.0) + d))
    }
    val factors = store.read("factors").as[(String, Double)].collect().toMap
    val factorBad = expected.count { case (k, v) => factors.get(k).forall(f => math.abs(f - v) > 1e-9) }
    if (!ctx.check("factors.replay", factorBad == 0 && factors.size == expected.size,
        s"$factorBad of ${expected.size} factors differ from the feedback replay " +
          s"(${factors.size} rows)")) failed += 1

    val digest = java.security.MessageDigest.getInstance("SHA-256").digest(
      calls.map(c => c.text + "\u0001" + c.items.map(_.getString(0)).mkString(","))
        .mkString("\n").getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val inputBytes = calls.map(_.fb.map { case (k, v) => k.length + v.length }.sum).sum.toDouble

    val layer = trace.zip(firstTrace).map { case (w, first) =>
      val qSpans = ctx.spansOf("serve.query").filter(_._1 >= loopFrom)
      val nq = qSpans.size.toDouble
      val qJobs = w.jobsIn(qSpans)
      val qJobIds = qJobs.map(_.id).toSet
      val qTasks = w.tasks.count(t => w.stageJob.get(t.stage).exists(qJobIds))
      val spanMs = qSpans.map { case (s, e) => (e - s).toDouble }.sum
      val prepare = first.jobs.filter(_.frame.contains("Ppr$.prepare"))
        .map(j => (j.start, j.end))
      Metrics.unitLayer(w, rounds.toDouble, inputBytes / calls.size * rounds) ++ Seq(
        "query.jobs_per_call" -> qJobs.size / nq,
        "query.tasks_per_call" -> qTasks / nq,
        "query.driver_ms_per_call" -> (spanMs - w.wallS(within = qSpans) * 1000) / nq,
        "graph.ppr_ms_per_call" -> w.wallS(Some("graph"), qSpans) * 1000 / nq,
        "rules.bundle_ms_per_call" -> w.wallS(Some("rules"), qSpans) * 1000 / nq,
        "graph.prepare_s" -> Stats.unionLength(prepare) / 1000.0,
        "serve.cached_rdds_first" -> storageFirst._1,
        "serve.cached_rdds_last" -> storageLast._1,
        "serve.storage_mb_first" -> storageFirst._2,
        "serve.storage_mb_last" -> storageLast._2,
        "trace.op_p50_ms" -> Stats.median(queryS.toSeq) * 1000)
    }.getOrElse(Nil)

    Outcome(
      setupS = setupS,
      firstOpS = firstS,
      opMs = queryS.toSeq.map(_ * 1000),
      commitMs = feedbackS.toSeq.map(_ * 1000),
      items = rounds.toDouble,
      itemsWallS = loopS,
      peakRssMb = rss,
      attempted = calls.size * 2,
      failed = failed,
      layer = layer,
      samples = Seq("query_s" -> queryS.toSeq, "feedback_s" -> feedbackS.toSeq),
      details = Seq(
        "base_pages" -> BasePages.toString, "rounds" -> rounds.toString,
        "first_query_s" -> Json.num(firstS),
        "query_p50_ms" -> Json.num(Stats.median(queryS.toSeq) * 1000),
        "feedback_p50_ms" -> Json.num(Stats.median(feedbackS.toSeq) * 1000),
        "result_digest" -> Json.str(digest)) ++
        trace.map(w => "job_frames" -> Metrics.framesJson(w)))
  }
}
