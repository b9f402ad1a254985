package graftbench

/** Checks of the benchmark's own helpers; no Spark session needed.
  *
  * {{{
  *   graftbench.SelfTest [BENCHMARK.json]
  * }}}
  * Exits non-zero if any check fails.
  */
object SelfTest {
  private var failures = 0

  private def expect[T](what: String, got: T, want: T): Unit =
    if (got != want) {
      failures += 1
      System.err.println(s"FAIL $what: got $got, want $want")
    }

  def stats(): Unit = {
    expect("median odd", Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    expect("median even", Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
    expect("union", Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))), 20L)
    expect("union nested", Stats.unionLength(Seq((0L, 10L), (2L, 3L))), 10L)
    expect("clip", Stats.clip(Seq((0L, 10L), (20L, 30L)), 5L, 25L), Seq((5L, 10L), (20L, 25L)))
  }

  private def module(callSite: String): Option[String] =
    Attribution.innermostFrame(callSite).map(_._1)

  def callSiteAttribution(): Unit = {
    val prune =
      """org.apache.spark.sql.Dataset.collect(Dataset.scala:3810)
        |graft.prune.Pruning$.tag(Pruning.scala:112)
        |graft.pipeline.Ingest$.rebuildDerived(Ingest.scala:262)
        |graft.pipeline.Ingest$.run(Ingest.scala:235)
        |graftbench.IngestFull$.run(IngestFull.scala:40)""".stripMargin
    expect("innermost graft frame", module(prune), Some("prune"))
    expect("frame text", Attribution.innermostFrame(prune).map(_._2),
      Some("graft.prune.Pruning$.tag(Pruning.scala:112)"))
    val lambda =
      """org.apache.spark.rdd.RDD.count(RDD.scala:1300)
        |graft.canon.Canon$.$anonfun$minLabelWithStats$3(Canon.scala:201)
        |graft.canon.Canon$.connectedComponents(Canon.scala:130)""".stripMargin
    expect("anonfun frame", module(lambda), Some("canon"))
    val benchOnly =
      """org.apache.spark.sql.Dataset.collect(Dataset.scala:3810)
        |graftbench.Serve$.queryOnce$1(Serve.scala:55)
        |graft.Bench$.main(Bench.scala:10)""".stripMargin
    expect("benchmark and top-level frames are not modules", module(benchOnly), None)
    expect("null call site", module(null), None)
    val prepare = "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:1)\n" +
      "graft.graph.Ppr$.prepare(Ppr.scala:46)\ngraft.query.GraftService.pprGraph(GraftService.scala:34)"
    expect("graph prepare", Attribution.innermostFrame(prepare),
      Some(("graph", "graft.graph.Ppr$.prepare(Ppr.scala:46)")))
  }

  def writePathAttribution(): Unit = {
    val plan =
      """== Physical Plan ==
        |Execute InsertIntoHadoopFsRelationCommand file:/w/wh-0/edges_tagged/data/batch=00003-1a2b, false, Parquet, [path=/w/wh-0/edges_tagged/data/batch=00003-1a2b], Overwrite, [source_id, target_id]
        |+- AdaptiveSparkPlan isFinalPlan=false""".stripMargin
    expect("write table", Attribution.writtenTable(plan), Some("edges_tagged"))
    // formatted plan: the tree names the node, its detail block the path;
    // scans of other tables in the same plan must not be taken for it
    val formatted =
      """== Physical Plan ==
        |AdaptiveSparkPlan (8)
        |+- Execute InsertIntoHadoopFsRelationCommand (7)
        |   +- WriteFiles (6)
        |      +- Scan parquet  (1)
        |
        |(1) Scan parquet
        |Output [2]: [source_id#1, target_id#2]
        |Location: InMemoryFileIndex [file:/w/wh-0/edges_tagged/data/batch=00002-9f]
        |
        |(7) Execute InsertIntoHadoopFsRelationCommand
        |Input: []
        |Arguments: file:/w/wh-0/edges/data/batch=00003-1a2b, false, Parquet, [path=/w/wh-0/edges/data/batch=00003-1a2b], Overwrite, [source_id, target_id]
        |""".stripMargin
    expect("formatted write table", Attribution.writtenTable(formatted), Some("edges"))
    expect("commit unit", Attribution.writtenTable(plan).map(Attribution.commitUnit),
      Some("commit.edges_tagged"))
    val ex = "Execute InsertIntoHadoopFsRelationCommand file:/tmp/a b/wh/extractions/data/batch=0, false"
    expect("extractions charged to extract",
      Attribution.writtenTable(ex).map(Attribution.commitUnit), Some("extract"))
    expect("read plan is no write",
      Attribution.writtenTable("FileScan parquet [id] Location: /w/concepts/data/batch=0"), None)
    expect("null plan", Attribution.writtenTable(null), None)
  }

  /** Names and units in BENCHMARK.json equal the ones the benchmark prints. */
  def benchmarkJson(path: String): Unit = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    def section(key: String): Seq[(String, String)] = {
      val body = s""""$key"\\s*:\\s*\\[(.*?)\\]""".r.findFirstMatchIn(text.replace("\n", " "))
        .map(_.group(1)).getOrElse("")
      """\{\s*"name"\s*:\s*"([^"]+)"\s*,\s*"unit"\s*:\s*"([^"]+)"""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2)).toSeq
    }
    expect("end_to_end in BENCHMARK.json", section("end_to_end"), Metrics.EndToEnd)
    expect("per_layer in BENCHMARK.json", section("per_layer"), Metrics.PerLayer)
  }

  def main(args: Array[String]): Unit = {
    stats()
    callSiteAttribution()
    writePathAttribution()
    args.headOption.foreach(benchmarkJson)
    expect("per-layer names unique", Metrics.PerLayer.map(_._1).distinct.size, Metrics.PerLayer.size)
    if (failures > 0) { System.err.println(s"$failures self-test failures"); sys.exit(1) }
    println("self-test ok")
  }
}
