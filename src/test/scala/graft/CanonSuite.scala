package graft

import graft.canon.Canon

class CanonSuite extends SparkFunSuite {
  import spark.implicits._

  test("connectedComponents: labels every node with its component minimum") {
    val pairs = Seq(("b", "a"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "h"))
      .toDF("id_a", "id_b")
    val cc = Canon.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(cc("a") == "a" && cc("b") == "a" && cc("c") == "a")
    assert(cc("d") == "d" && cc("e") == "d")
    assert(cc("f") == "f" && cc("g") == "f" && cc("h") == "f")
  }

  test("connectedComponents: idempotent (running on its own output changes nothing)") {
    val pairs = Seq(("x", "y"), ("y", "z")).toDF("a", "b")
    val cc1 = Canon.connectedComponents(pairs).as[(String, String)].collect().toSet
    // feed (id → canonical) pairs back in: same components
    val cc2 = Canon.connectedComponents(
      cc1.toSeq.toDF("id_a", "id_b")).as[(String, String)].collect().toMap
    assert(cc1.forall { case (id, canon) => cc2(id) == canon || id == canon })
  }

  test("connectedComponents: long chain converges (diameter > 1 iteration)") {
    val chain = (0 until 20).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("a", "b")
    val cc = Canon.connectedComponents(chain).as[(String, String)].collect().toMap
    assert(cc.values.toSet == Set("n00"))
  }

  test("large-star/small-star CC matches min-label on random graphs (property)") {
    val rng = new java.util.Random(11L)
    for (_ <- 1 to 5) {
      val n = 30
      val pairs = (1 to 25).map { _ =>
        (f"n${rng.nextInt(n)}%02d", f"n${rng.nextInt(n)}%02d")
      }.filter { case (a, b) => a != b }
      val df = pairs.toDF("id_a", "id_b")
      // a graph on n nodes has diameter < n: n rounds always converge
      val (mlLabels, _, converged) = Canon.minLabel(df, maxRounds = n)
      assert(converged)
      val minLabel = mlLabels.as[(String, String)].collect().toMap
      val star = Canon.largeSmallStar(df)._1.as[(String, String)].collect().toMap
      assert(star == minLabel, s"divergence on pairs $pairs")
    }
  }

  test("star CC converges in O(log n) rounds where min-label needs O(diameter)") {
    val chain = (0 until 64).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("a", "b")
    val (labels, starRounds) = Canon.largeSmallStar(chain)
    assert(labels.select("canonical_id").distinct().as[String].collect().toSeq == Seq("n00"))
    val (_, mlRounds, mlConverged) = Canon.minLabel(chain, maxRounds = 100)
    assert(mlConverged)
    assert(starRounds <= 12, s"star took $starRounds rounds")
    assert(mlRounds > starRounds,
      s"expected min-label ($mlRounds) to need more rounds than star ($starRounds)")
  }

  test("connectedComponents: a 120-node path graph gets the single label n000") {
    val path = (0 until 119).map(i => (f"n$i%03d", f"n${i + 1}%03d")).toDF("id_a", "id_b")
    val cc = Canon.connectedComponents(path).as[(String, String)].collect().toMap
    assert(cc.size == 120)
    assert(cc.count(_._2 != "n000") == 0, s"split component: n119 -> ${cc("n119")}")
  }

  test("abbreviationPairs: initials of multiword names match short ALL-CAPS names") {
    val concepts = Seq(
      ("web:Dependency Injection", "Dependency Injection"),
      ("web:DI", "DI"),
      ("web:Message Queue", "Message Queue"),
      ("web:MQ", "MQ"),
      ("web:Auth Module", "Auth Module"),
      ("web:Rate Limiter", "Rate Limiter")).toDF("id", "name")
    val pairs = Canon.abbreviationPairs(concepts)
      .as[(String, String)].collect().toSet
    assert(pairs == Set(
      ("web:Dependency Injection", "web:DI"),
      ("web:Message Queue", "web:MQ")))
  }

  test("nameSimilarityPairs: token-Jaccard blocking finds near-identical names") {
    val concepts = Seq(
      ("1", "Session Store Service"),
      ("2", "Session Store"),
      ("3", "Audit Log"),
      ("4", "Completely Unrelated Thing")).toDF("id", "name")
    val pairs = Canon.nameSimilarityPairs(concepts, threshold = 0.6)
      .as[(String, String)].collect().toSet
    assert(pairs == Set(("1", "2")))
  }

  test("canonicalMap: alias + abbreviation + similarity merge into one component") {
    val concepts = Seq(
      ("web:Dependency Injection", "Dependency Injection"),
      ("web:DI", "DI"),
      ("web:Auth Module", "Auth Module")).toDF("id", "name")
    val aliasPairs = Seq(("Dependency Injection", "DI")).toDF("name_a", "name_b")
    val cm = Canon.canonicalMap(concepts, aliasPairs, 0.75)
      .as[(String, String)].collect().toMap
    // lexicographic component minimum: 'I' < 'e', so "web:DI" wins
    assert(cm("web:DI") == "web:DI")
    assert(cm("web:Dependency Injection") == "web:DI")
    assert(cm("web:Auth Module") == "web:Auth Module") // singleton: identity
  }
}
