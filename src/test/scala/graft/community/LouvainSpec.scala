package graft.community

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Louvain over planted graphs: known community structure recovered,
  * modularity positive and non-decreasing along useful levels, membership
  * is a partition, hierarchy + summaries deterministic.
  */
class LouvainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two 4-cliques bridged by a single edge, as triples. */
  private def cliquesTriples = {
    val a = Seq("a1", "a2", "a3", "a4")
    val b = Seq("b1", "b2", "b3", "b4")
    def clique(xs: Seq[String]) =
      for { i <- xs.indices; j <- (i + 1) until xs.size }
        yield (xs(i), "REL", xs(j), "chunk0")
    (clique(a) ++ clique(b) :+ (("a1", "BRIDGE", "b1", "chunk0")))
      .toDF("subj", "pred", "obj", "chunk_id")
  }

  test("two bridged cliques resolve to two level-1 communities") {
    val res = Louvain.run(cliquesTriples)
    val lvl1 = res.levels.head
    val m = lvl1.membership.as[(String, String)].collect().toMap
    assert(m.size == 8)
    val aComms = Set("a1", "a2", "a3", "a4").map(m)
    val bComms = Set("b1", "b2", "b3", "b4").map(m)
    assert(aComms.size == 1, s"clique A split: $aComms")
    assert(bComms.size == 1, s"clique B split: $bComms")
    assert(aComms != bComms, "cliques merged")
    assert(res.modularities.head > 0.3)
  }

  test("membership is a partition and community ids carry the level suffix") {
    val res = Louvain.run(cliquesTriples)
    val lvl1 = res.levels.head
    assert(lvl1.membership.groupBy("child_id").count().where($"count" > 1).isEmpty)
    assert(lvl1.communities.where(!$"community_id".endsWith("_1")).isEmpty)
  }

  test("isolated entities get singleton communities when provided") {
    val all = Seq("a1", "a2", "a3", "a4", "b1", "b2", "b3", "b4", "lonely")
      .toDF("canonical_id")
    val res = Louvain.run(cliquesTriples, allEntities = Some(all))
    val m = res.levels.head.membership.as[(String, String)].collect().toMap
    assert(m("lonely") == "lonely_1")
  }

  test("hierarchy: ring of cliques coarsens across levels") {
    // 6 triangles in a ring; level 1 should find the triangles
    val n = 6
    val tri = (0 until n).flatMap { c =>
      val ids = (0 until 3).map(i => s"c${c}n$i")
      val inner = for { i <- 0 until 3; j <- (i + 1) until 3 }
        yield (ids(i), "REL", ids(j), "k")
      inner :+ ((ids(0), "RING", s"c${(c + 1) % n}n0", "k"))
    }.toDF("subj", "pred", "obj", "chunk_id")
    val res = Louvain.run(tri)
    val lvl1 = res.levels.head
    val m = lvl1.membership.as[(String, String)].collect().toMap
    val perTriangle = (0 until n).map(c => (0 until 3).map(i => m(s"c${c}n$i")).toSet)
    assert(perTriangle.forall(_.size == 1), s"triangles split: $perTriangle")
    assert(res.modularities.head > 0.5)
    assert(res.levels.size >= 1)
  }

  test("local-finish and distributed localMoving routes are identical") {
    // the driver-side mirror (default route under the bound) must produce
    // the SAME labels as the distributed hop loop (forced via bound = 0) —
    // on both planted graphs and at both hop regimes (hop-1 ΔQ form and
    // the hop>1 sum_tot form)
    for (triples <- Seq(cliquesTriples, {
      val n = 6
      (0 until n).flatMap { c =>
        val ids = (0 until 3).map(i => s"c${c}n$i")
        val inner = for { i <- 0 until 3; j <- (i + 1) until 3 }
          yield (ids(i), "REL", ids(j), "k")
        inner :+ ((ids(0), "RING", s"c${(c + 1) % n}n0", "k"))
      }.toDF("subj", "pred", "obj", "chunk_id")
    })) {
      val (nodes, edges, m) = Louvain.initGraph(triples)
      val local = Louvain.localMoving(nodes, edges, m)
        .as[(String, String)].collect().sorted.toSeq
      val dist = Louvain.localMoving(nodes, edges, m, localFinishEdges = 0L)
        .as[(String, String)].collect().sorted.toSeq
      assert(local == dist, "routes diverged")
    }
    // seeded random graph: noisy structure forces multiple hops and the
    // hop>1 sum_tot ΔQ form; full Louvain.run must also agree level-for-level
    val rng = new scala.util.Random(11)
    val rand = (0 until 400).map { _ =>
      val a = rng.nextInt(120); val b = rng.nextInt(120)
      (s"n$a", "R", s"n$b", "k")
    }.filter(t => t._1 != t._3).distinct.toDF("subj", "pred", "obj", "chunk_id")
    val (n2, e2, m2) = Louvain.initGraph(rand)
    val local2 = Louvain.localMoving(n2, e2, m2)
      .as[(String, String)].collect().sorted.toSeq
    val dist2 = Louvain.localMoving(n2, e2, m2, localFinishEdges = 0L)
      .as[(String, String)].collect().sorted.toSeq
    assert(local2 == dist2, "routes diverged on the random graph")
  }

  test("driver-side hierarchy finish is identical to the distributed loop") {
    // r5: Louvain.run switches the WHOLE remaining hierarchy driver-side
    // once a level's linksTo fits localFinishEdges (default route on these
    // graphs). Forcing localFinishEdges = 0 keeps every level distributed;
    // both routes must agree level-for-level on membership, linksTo
    // (weights bit-exact), communities AND modularities — covering the
    // level-1 switch (default) and the mid-loop switch (small bound that
    // admits level >= 2 only).
    val rng = new scala.util.Random(7)
    val rand = (0 until 500).map { _ =>
      val a = rng.nextInt(150); val b = rng.nextInt(150)
      (s"n$a", "R", s"n$b", "k")
    }.filter(t => t._1 != t._3).distinct.toDF("subj", "pred", "obj", "chunk_id")
    val ringOfCliques = {
      val n = 6
      (0 until n).flatMap { c =>
        val ids = (0 until 3).map(i => s"c${c}n$i")
        val inner = for { i <- 0 until 3; j <- (i + 1) until 3 }
          yield (ids(i), "REL", ids(j), "k")
        inner :+ ((ids(0), "RING", s"c${(c + 1) % n}n0", "k"))
      }.toDF("subj", "pred", "obj", "chunk_id")
    }
    def snapshot(r: Louvain.Result) = (
      r.levels.map(_.membership.as[(String, String)].collect().sorted.toSeq),
      r.levels.map(_.linksTo.as[(String, String, Double)].collect().sorted.toSeq),
      r.levels.map(_.communities.as[(String, Int)].collect().sorted.toSeq),
      r.modularities)
    for (triples <- Seq(cliquesTriples, ringOfCliques, rand)) {
      val dist = snapshot(Louvain.run(triples, localFinishEdges = 0L))
      val local = snapshot(Louvain.run(triples))
      assert(local == dist, "level-1-switch route diverged from distributed")
      // mid-loop switch: a bound below level-1's linksTo size but above a
      // later level's keeps early levels distributed, then finishes locally
      val lvl1Links = Louvain.run(triples, localFinishEdges = 0L)
        .levels.head.linksTo.count()
      if (lvl1Links > 1) {
        val mid = snapshot(Louvain.run(triples, localFinishEdges = lvl1Links - 1))
        assert(mid == dist, s"mid-switch route (bound ${lvl1Links - 1}) diverged")
      }
    }
  }

  test("local-finish bounds at and beyond Int.MaxValue take the driver route") {
    // the bound sizes an Int limit probe: bound + 1 must not overflow into a
    // negative (or zero) limit for any Long bound
    val (nodes, edges, m) = Louvain.initGraph(cliquesTriples)
    val expected = Louvain.localMoving(nodes, edges, m).as[(String, String)].collect().sorted.toSeq
    for (bound <- Seq(Int.MaxValue - 1L, Int.MaxValue.toLong, Long.MaxValue)) {
      val got = Louvain.localMoving(nodes, edges, m, localFinishEdges = bound)
        .as[(String, String)].collect().sorted.toSeq
      assert(got == expected, s"localMoving diverged at bound $bound")
    }
    val runDefault = Louvain.run(cliquesTriples)
    val runMax = Louvain.run(cliquesTriples, localFinishEdges = Long.MaxValue)
    assert(runMax.modularities == runDefault.modularities)
    assert(runMax.levels.map(_.membership.as[(String, String)].collect().sorted.toSeq) ==
      runDefault.levels.map(_.membership.as[(String, String)].collect().sorted.toSeq))
  }

  test("unattached communities are carried forward to higher levels") {
    // bridged cliques A,B (cross-community LINKS_TO at level 2) + a fully
    // separate clique C with NO external edge: C's level-1 community has no
    // LINKS_TO row, so without carry-forward it vanishes from level >= 2
    // (ADVICE r1: broken HAS_PARENT descent + modularity projection)
    val c = Seq("c1", "c2", "c3", "c4")
    val extra = (for { i <- c.indices; j <- (i + 1) until c.size }
      yield (c(i), "REL", c(j), "k")).toDF("subj", "pred", "obj", "chunk_id")
    val res = Louvain.run(cliquesTriples.unionByName(extra))
    assert(res.levels.size >= 2, "need a level-2 pass for this test")
    val lvl1 = res.levels.head.membership.as[(String, String)].collect().toMap
    val cComm = lvl1("c1")
    assert(c.forall(x => lvl1(x) == cComm))
    val lvl2 = res.levels(1).membership.as[(String, String)].collect().toMap
    assert(lvl2.contains(cComm), s"community $cComm vanished at level 2: $lvl2")
    assert(lvl2(cComm) == s"${cComm}_2", "carried community is an identity singleton")
    // every level-1 community has a level-2 parent
    val l1Comms = res.levels.head.communities.select($"community_id")
      .as[String].collect().toSet
    assert(l1Comms.subsetOf(lvl2.keySet))
  }

  test("deterministic across runs") {
    val r1 = Louvain.run(cliquesTriples).levels.head.membership
      .orderBy("child_id").as[(String, String)].collect().toSeq
    val r2 = Louvain.run(cliquesTriples).levels.head.membership
      .orderBy("child_id").as[(String, String)].collect().toSeq
    assert(r1 == r2)
  }

  test("summaries: single child verbatim, multi-child sorted concat") {
    assert(Summarize.summarize("abc_12", Seq("only")) == "only")
    assert(Summarize.summarize("abc_12", Seq("z desc", "a desc", "z desc")) ==
      "abc: a desc | z desc")
  }

  test("describeAll produces one description per community at every level") {
    val res = Louvain.run(cliquesTriples)
    val entities = Seq(
      ("a1", Seq("alpha one")), ("a2", Seq("alpha two")), ("a3", Seq("")),
      ("a4", Seq("alpha four")), ("b1", Seq("beta one")), ("b2", Seq("beta two")),
      ("b3", Seq("beta three")), ("b4", Seq[String]()))
      .toDF("entity_id", "descriptions")
    val resolvesTo = entities.select($"entity_id", $"entity_id".as("canonical_id"))
    val descs = Summarize.describeAll(res.levels, entities, resolvesTo)
    val nComms = res.levels.map(_.communities.count()).sum
    assert(descs.count() == nComms)
    assert(descs.where($"description" === "").isEmpty)
    // empty-description entity falls back to its id
    val lvl1A = descs.where($"iteration" === 1).collect()
    assert(lvl1A.exists(_.getString(2).contains("a3")))
  }
}
