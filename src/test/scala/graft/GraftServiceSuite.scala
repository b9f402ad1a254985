package graft

import graft.fixtures.PagesGen
import graft.pipeline.Ingest
import graft.query.GraftService
import graft.store.SnapshotStore
import org.apache.spark.sql.functions._

/** End-to-end service facade over a freshly ingested warehouse: the
  * reference's query/feedback/explore/stats/project call pattern.
  */
class GraftServiceSuite extends SparkFunSuite {
  import spark.implicits._

  private lazy val store: SnapshotStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-svc").toString
    val st = new SnapshotStore(dir)
    Ingest.run(PagesGen.pages(spark, 80), st, Ingest.Config(),
      knownPartitions = Some(PagesGen.dayStrings(4)))
    st
  }
  private lazy val svc = new GraftService(store)(spark)

  test("query: ranked items + bundled rules + coverage, clamped top_k") {
    val r = svc.query("platform access control tokens", topK = 5)
    assert(r.queryId.startsWith("q") && r.queryId.contains("-"))
    val items = r.items.collect()
    assert(items.nonEmpty && items.length <= 5)
    assert(r.items.columns.toSeq == Seq("id", "name", "vec_score", "ppr", "combined"))
    assert(r.kgCoverage >= 0.0 && r.kgCoverage <= 1.0)
    // bundled rules (if any) have relevance ≤ the max combined score
    val maxCombined = items.map(_.getAs[Double]("combined")).max
    val bundled = r.rules.select("relevance").as[Double].collect()
    assert(bundled.forall(_ <= maxCombined + 1e-9))
    assert(svc.queryCount == 1)
    // domain filter: an unknown domain yields no items
    assert(svc.query("anything", domains = Seq("nope")).items.isEmpty)
  }

  test("feedback: validates, updates + persists factors, optional credit") {
    val item = svc.query("platform access control tokens", topK = 3)
      .items.select("id").as[String].head()
    assert(svc.feedback("q-bad", Map(item -> "great")).isLeft)
    val fb = svc.feedback("q-ok", Map(item -> "accepted"), propagateCredit = true)
      .fold(e => fail(e), identity)
    assert(fb.accepted == 1 && fb.status == "recorded")
    assert(store.exists("factors"))
    val f = store.read("factors").filter(col("node_id") === item)
      .select("factor").as[Double].head()
    assert(math.abs(f - 1.1) < 1e-9) // default 1.0 + accepted delta 0.1
    // credit: the accepted concept gets direct credit at reward 1.0
    val credit = fb.credit.getOrElse(fail("no credit summary"))
    assert(credit.directCount >= 1)
    assert(credit.posteriorDeltas(item)._1 == 1.0)
    assert(svc.feedbackCount == 1)
    // the deltas land in the service's "credit" learner (service.py:1653)
    // and its state is committed next to the warehouse
    val armState = svc.creditLearner
      .statesFor(Seq(graft.learning.Thompson.Arm(item)))
      .getOrElse(item, fail("credit learner has no state for the item"))
    assert(armState.alpha == 2.0 && armState.pulls == 1L) // 1.0 prior + 1.0 delta
    assert(store.exists("learner_credit"))
  }

  test("GraftCli: query/stats/feedback/project command surface over the warehouse") {
    val wh = store.root
    val q = graft.pipeline.GraftCli.run(
      Seq(wh, "query", "platform access control tokens", "3"), spark)
    assert(q.head.contains("\"query_id\"") && q.head.contains("kg_coverage"))
    assert(q.exists(_.contains("\"combined\"")))

    val st = graft.pipeline.GraftCli.run(Seq(wh, "stats"), spark)
    assert(st.exists(_.contains("\"domain\":\"web\"")))

    val id = svc.query("platform access control tokens", topK = 1)
      .items.select("id").as[String].head()
    val fb = graft.pipeline.GraftCli.run(
      Seq(wh, "feedback", "q-cli", s"$id=accepted"), spark)
    assert(fb.head.contains("\"status\":\"recorded\"") && fb.head.contains("\"accepted\":1"))
    val bad = graft.pipeline.GraftCli.run(
      Seq(wh, "feedback", "q-cli", s"$id=meh"), spark)
    assert(bad.head.startsWith("""{"error":"""))

    val out = java.nio.file.Files.createTempDirectory("graft-cli").toString + "/rules.json"
    val pr = graft.pipeline.GraftCli.run(
      Seq(wh, "project", "reviewer", out, "2026-01-01T00:00:00Z"), spark)
    assert(pr.head.contains("written"))
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8")
      .contains("\"persona\":\"reviewer\""))
  }

  test("explore: reachable edges, neighbors and linked rules; unknown → None") {
    assert(svc.explore("web:Nope").isEmpty)
    // pick a well-connected node (an edge endpoint)
    val seed = store.read("edges").select("source_id").as[String].head()
    val ex = svc.explore(seed, depth = 2).getOrElse(fail("explore returned None"))
    assert(ex.edges.count() > 0)
    val neighborIds = ex.neighbors.select("id").as[String].collect().toSet
    assert(neighborIds.contains(seed))
    // every linked rule references at least one reached concept
    val ruleIds = ex.rules.select("id").as[String].collect().toSet
    val linked = store.read("rules")
      .select(col("id"), explode(col("concept_ids")).as("cid"))
      .filter(col("cid").isin(neighborIds.toSeq: _*))
      .select("id").as[String].collect().toSet
    assert(ruleIds == linked)
  }

  test("knowledgeStats matches the committed tables") {
    val row = svc.knowledgeStats().filter(col("domain") === "web").collect().head
    assert(row.getAs[Long]("concepts") == store.read("concepts").count())
    assert(row.getAs[Long]("edges") == store.read("edges").count())
    assert(row.getAs[Long]("rules") == store.read("rules").count())
  }

  test("project: universal artifact over the committed rules table") {
    val doc = svc.project("graft_web", projectedAt = "2026-01-01T00:00:00Z")
    val parsed = spark.read.json(Seq(doc).toDS)
    assert(parsed.select("persona").head.getString(0) == "graft_web")
    assert(parsed.select("metadata.rule_count").head.getLong(0) ==
      store.read("rules").count())
    val rs = parsed.select(explode(col("rules")).as("r")).select("r.*")
    // both derivations present, with template provenance only on derived
    val derivs = rs.select("provenance.derivation").distinct().as[String].collect().toSet
    assert(derivs == Set("explicit", "derived"))
    assert(rs.filter(col("provenance.derivation") === "derived")
      .filter(col("provenance.template_id").isNull).count() == 0)
  }

  // ---- driver-resident query path ---------------------------------------

  /** (text, domains, topK, minConfidence): head and tail entities, the
    * known and an unknown domain, a confidence floor.
    */
  private val pathQueries = Seq(
    ("platform access control tokens", Seq.empty[String], 5, 0.0),
    (PagesGen.headEntities(0), Seq.empty[String], 10, 0.0),
    (PagesGen.entities(3), Seq.empty[String], 20, 0.0),
    (PagesGen.tailEntity(7L, 11L), Seq.empty[String], 10, 0.0),
    (PagesGen.tailEntity(123L, 4L), Seq.empty[String], 3, 0.0),
    (PagesGen.entities(5), Seq("web"), 10, 0.0),
    ("platform access control tokens", Seq("nope"), 10, 0.0),
    (PagesGen.headEntities(1), Seq.empty[String], 10, 0.8),
    (PagesGen.entities(1) + " " + PagesGen.tailEntity(3L, 9L), Seq("web"), 15, 0.75))

  /** The driver-resident result equals the Spark path's on the same
    * service tables: same ids in the same order (a swap only between
    * combined scores within 1e-12), scores within 1e-9, same rules,
    * identical KG coverage.
    */
  private def assertPathsAgree(s: GraftService, text: String, domains: Seq[String],
      topK: Int, minConf: Double): Unit = {
    val local = s.query(text, domains, topK, minConf)
    val (items, rules, coverage) = s.querySpark(text, domains, topK, minConf)
    val what = s"'$text' domains=$domains k=$topK minConf=$minConf"
    val (a, b) = (local.items.collect(), items.collect())
    assert(a.map(_.getString(0)).toSet == b.map(_.getString(0)).toSet && a.length == b.length,
      s"$what: ids ${a.map(_.getString(0)).toSeq} vs ${b.map(_.getString(0)).toSeq}")
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x.getDouble(4) - y.getDouble(4)) <= 1e-12, s"$what: order $x vs $y")
    }
    val byId = b.map(r => r.getString(0) -> r).toMap
    a.foreach { x =>
      val y = byId(x.getString(0))
      assert(x.getString(1) == y.getString(1), s"$what: name $x vs $y")
      (2 to 4).foreach(c =>
        assert(math.abs(x.getDouble(c) - y.getDouble(c)) <= 1e-9, s"$what: score $x vs $y"))
    }
    val (ra, rb) = (local.rules.collect(), rules.collect())
    assert(ra.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      rb.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq,
      s"$what: rules ${ra.toSeq} vs ${rb.toSeq}")
    ra.zip(rb).foreach { case (x, y) =>
      assert(math.abs(x.getDouble(3) - y.getDouble(3)) <= 1e-9, s"$what: relevance $x vs $y")
    }
    assert(local.kgCoverage == coverage, s"$what: coverage")
  }

  test("driver-resident query equals the Spark retrieval path, before and after feedback") {
    val s = new GraftService(store)(spark)
    assert(s.snapshot.isDefined, "the test warehouse is under the driver cap")
    pathQueries.foreach { case (t, d, k, c) => assertPathsAgree(s, t, d, k, c) }
    // commit non-empty factors, then compare the queries they re-weight
    val top = s.query(pathQueries.head._1, topK = 5).items.select("id").as[String].collect()
    assert(s.feedback("q-eq", Map(top(0) -> "accepted", top(1) -> "rejected")).isRight)
    assert(store.read("factors").count() > 0)
    assertPathsAgree(s, pathQueries.head._1, Seq.empty, 5, 0.0)
    assertPathsAgree(s, pathQueries(5)._1, Seq("web"), 10, 0.0)
  }

  test("warm driver-resident query launches no Spark job; at most one after feedback") {
    val s = new GraftService(store)(spark)
    val text = "platform access control tokens"
    s.query(text, topK = 10).items.collect() // cold: loads the snapshot
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.get()
    }
    def queryAndCollect(): Array[org.apache.spark.sql.Row] = {
      val r = s.query(text, topK = 10)
      r.rules.collect()
      r.items.collect()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      var items = Array.empty[org.apache.spark.sql.Row]
      assert(jobsOf { items = queryAndCollect() } == 0)
      assert(jobsOf(queryAndCollect()) == 0)
      assert(s.feedback("q-jobs", Map(items.head.getString(0) -> "accepted")).isRight)
      assert(jobsOf(queryAndCollect()) <= 1) // recollects the new factors
      assert(jobsOf(queryAndCollect()) == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("concurrent queries on one service return the sequential results") {
    def rows(s: GraftService, q: (String, Seq[String], Int, Double)) = {
      val r = s.query(q._1, q._2, q._3, q._4)
      (r.items.collect().toSeq, r.rules.collect().toSeq, r.kgCoverage)
    }
    val sequential = {
      val s = new GraftService(store)(spark)
      pathQueries.map(rows(s, _))
    }
    val shared = new GraftService(store)(spark)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Any]] {
          def call(): Seq[Any] = {
            val order = pathQueries.indices.map(i => (i + t) % pathQueries.length)
            order.map(i => i -> rows(shared, pathQueries(i))).sortBy(_._1).map(_._2)
          }
        })
      }
      futures.foreach(f => assert(f.get() == sequential))
    } finally pool.shutdown()
  }

  test("the driver cap selects the path: a table over the cap falls back to Spark") {
    val (c, e, r) = (store.read("concepts"), store.read("edges"), store.read("rules"))
    val n = Seq(c, e, r).map(_.count()).max.toInt
    assert(graft.query.SnapshotGraph.load(c, e, r, cap = n).isDefined)
    assert(graft.query.SnapshotGraph.load(c, e, r, cap = n - 1).isEmpty)
    val small = (1 to 5).toDF("x")
    assert(graft.query.SnapshotGraph.collectUnderCap(small, 5).map(_.length).contains(5))
    assert(graft.query.SnapshotGraph.collectUnderCap(small, 4).isEmpty)
  }
}
