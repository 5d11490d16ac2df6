package graft.resolve

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.extract.HashEmbedder
import graft.model.Entity

/** Route-parity invariants of entity resolution: the broadcast-map and
  * shuffle-join candidate-scoring paths must emit IDENTICAL rows (bit-equal
  * cosines — the auto-routing bound must never change results), and the
  * driver-local union-find finish must agree with the distributed min-label
  * loop. PipelineSpec covers the end-to-end P/R gates; this spec pins the
  * internal path equivalences those gates rely on.
  */
class ResolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def embFrame(texts: (String, String)*): DataFrame = {
    val e = new HashEmbedder(1536, 42)
    texts.map { case (id, t) => (id, e.embed(t)) }.toDF("entity_id", "embedding")
  }

  private val base = "one two three four five six seven eight nine ten eleven twelve"

  test("broadcast and shuffle-join scoring paths emit identical rows") {
    val emb = embFrame(
      "a1" -> s"$base alpha", "a2" -> s"$base beta", "a3" -> s"$base gamma",
      "b1" -> "completely different tokens sharing nothing with the cluster",
      "b2" -> "another unrelated bag of words far away in embedding space")
    val viaBroadcast = Resolution
      .candidatePairs(emb, Resolution.Params())
      .as[(String, String, Double)].collect().toSet
    val viaShuffle = Resolution
      .candidatePairs(emb, Resolution.Params(maxBroadcastBytes = 0L))
      .as[(String, String, Double)].collect().toSet
    assert(viaBroadcast.nonEmpty, "alias cluster must produce candidate pairs")
    assert(viaBroadcast == viaShuffle,
      s"paths diverged:\n  broadcast=$viaBroadcast\n  shuffle=$viaShuffle")
    // the ≥ 0.90 threshold held on every emitted pair
    assert(viaBroadcast.forall(_._3 >= 0.90 - 1e-6))
    // no cross-cluster pair leaked
    assert(viaBroadcast.forall { case (s, d, _) => s.startsWith("a") && d.startsWith("a") })
  }

  test("connectedComponents: local finish and distributed loop agree") {
    val ids = Seq("n0", "n1", "n2", "n3", "n4", "n5", "n6", "n7", "iso")
      .toDF("entity_id")
    val pairs = Seq(("n0", "n1"), ("n1", "n2"), ("n3", "n4"),
      ("n5", "n6"), ("n6", "n7"), ("n7", "n5")).toDF("src", "dst")
    val local = Resolution.connectedComponents(ids, pairs)
      .as[(String, String)].collect().toMap
    val distributed = Resolution.connectedComponents(ids, pairs, localFinishEdges = 0L)
      .as[(String, String)].collect().toMap
    assert(local == distributed)
    assert(local("n0") == "n0" && local("n2") == "n0")
    assert(local("n5") == "n5" && local("n7") == "n5")
    assert(local("iso") == "iso", "isolated ids resolve to themselves")
  }

  test("resolvesTo canonical pick: longest id, ties to the larger id") {
    val ents = Seq(
      Entity("ab", Seq("x"), ""), Entity("abc", Seq("x"), ""),
      Entity("abd", Seq("x"), ""), Entity("zz", Seq("y"), "")).toDS()
    val pairs = Seq(("ab", "abc", 0.95), ("abc", "abd", 0.95)).toDF("src", "dst", "cos")
    val out = Resolution.resolvesTo(ents, pairs).collect()
      .map(r => r.entity_id -> r.canonical_id).toMap
    assert(out("ab") == "abd" && out("abc") == "abd" && out("abd") == "abd",
      "longest id wins; length tie broken by lexicographically larger id")
    assert(out("zz") == "zz", "unpaired entity self-resolves")
  }

  test("a probe vector shorter than p.dim fails loudly") {
    // the broadcast scoring map hoists each vector's norm, which is only
    // valid when every embedding has length p.dim
    val emb = embFrame("a1" -> s"$base alpha", "a2" -> s"$base beta")
      .union(Seq(("short", Array.fill(8)(1f))).toDF("entity_id", "embedding"))
    val e = intercept[IllegalArgumentException](
      Resolution.candidatePairs(emb, Resolution.Params()))
    assert(e.getMessage.contains("length 8") && e.getMessage.contains("p.dim = 1536"),
      e.getMessage)
  }

  test("signatures are stable across partitionings (sparse signing)") {
    val emb = embFrame((0 until 40).map(i => s"e$i" -> s"$base token$i"): _*)
    val p = Resolution.Params()
    val a = Resolution.signatures(emb, p)
      .as[(String, Int, Int)].collect().toSet
    val b = Resolution.signatures(emb.repartition(7), p)
      .as[(String, Int, Int)].collect().toSet
    assert(a == b)
    assert(a.size == 40 * p.bands)
  }

  test("scaledParams: identity at/below the floor — pinned oracles untouched") {
    val p = Resolution.Params()
    assert(Resolution.scaledParams(p, 0L) == p)
    assert(Resolution.scaledParams(p, 180L) == p) // sf0.01 KG corpus
    assert(Resolution.scaledParams(p, 36000L) == p) // 300k-page bench point
    assert(Resolution.scaledParams(p, 65536L) == p) // boundary inclusive
  }

  test("scaledParams: bits pin the mean bucket load, bands preserve recall") {
    val p = Resolution.Params()
    val q1 = 1.0 - math.acos(p.cosineThreshold) / math.Pi
    val r0 = 1.0 - math.pow(1.0 - math.pow(q1, p.bits), p.bands)
    for (n <- Seq(100000L, 360000L, 1000000L, 10000000L)) {
      val s = Resolution.scaledParams(p, n)
      assert(s.bits >= p.bits && s.bands >= p.bands)
      // mean random bucket load n/2^bits <= targetLoad (up to ceil rounding)
      assert(n.toDouble / (1L << s.bits) <= 4.0 * 2.0,
        s"load ${n.toDouble / (1L << s.bits)} at n=$n bits=${s.bits}")
      // recall at the scaled geometry >= the default geometry's recall
      val r = 1.0 - math.pow(1.0 - math.pow(q1, s.bits), s.bands)
      assert(r >= r0 - 1e-9, s"recall $r < default $r0 at n=$n (${s.bits}/${s.bands})")
      // the scale property itself: expected random-collision pair volume is
      // linear in n — bands * n * load / 2 <= c * n for a constant c
      val vol = s.bands.toDouble * n * n / (1L << s.bits).toDouble / 2.0
      assert(vol <= 600.0 * n, s"pair volume $vol superlinear at n=$n")
    }
    // derivation is monotone in n and capped
    val big = Resolution.scaledParams(p, 100000000L)
    assert(big.bits <= 24 && big.bands <= 128)
  }

  test("scaledParams: unchanged fields ride through") {
    val p = Resolution.Params(dim = 64, seed = 7, cosineThreshold = 0.8, topK = 5)
    val s = Resolution.scaledParams(p, 1000000L)
    assert(s.dim == 64 && s.seed == 7 && s.cosineThreshold == 0.8 && s.topK == 5)
    assert(s.maxBucket == p.maxBucket && s.maxBroadcastBytes == p.maxBroadcastBytes)
  }
}
