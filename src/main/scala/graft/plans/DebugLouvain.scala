package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.community.Louvain
import graft.corpus.CorpusSynth

/** One-off sub-stage timing of the community pipeline at bench scale —
  * attribution for the 89.6s communities wall the r4 endurance probe
  * measured at 150k pages. Not part of the driver contract.
  */
object DebugLouvain {
  def main(args: Array[String]): Unit = {
    val pages = args.headOption.map(_.toInt).getOrElse(150000)
    val spark = SparkSession.builder()
      .appName("graft-debug-louvain").master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.graft.er.maxBroadcastBytes", (2L << 30).toString)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[louvain-prof] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val cfg = CorpusSynth.Config(nPages = pages, nClusters = math.max(12, pages / 25))
    val st = graft.pipeline.Pipeline.inMemory(spark, cfg)
    val lifted = time("chain_through_lift") { st.read("resolved_triples") }
    val res = st.read("resolves_to")
    // localFinishEdges = 0 keeps localMoving on the distributed hop loop for
    // any graph with an edge (every call here has m > 0), so the label names
    // the route it times
    def localMoving(it: Int, n: DataFrame, e: DataFrame, m: Double) =
      time(f"localMoving_L$it[distributed](e=${e.count()})") {
        Louvain.localMoving(n, e, m, localFinishEdges = 0L).localCheckpoint(true)
      }

    val (nodes0, edges0, m0) = time("initGraph") {
      val g = Louvain.initGraph(lifted)
      g._1.count(); g
    }
    val labels = localMoving(1, nodes0, edges0, m0)
    val lvl = time("coarsen_L1") {
      val l = Louvain.coarsen(labels, edges0, 1)
      l.membership.count(); l.linksTo.count(); l
    }
    val entityEdges = edges0.select("src", "dst")
    time("modularity_L1") { Louvain.modularity(entityEdges, Seq(lvl), 1) }

    // r5: per-level breakdown ABOVE level 1 — mirrors run's distributed loop
    // with explicit walls + graph sizes, so "which level still pays the hop
    // loop" is measured, not inferred (the driver-side finish only engages
    // once a level's linksTo fits the 2M-edge bound)
    println(f"[louvain-prof] L1 nodes=${nodes0.count()} m=$m0%.0f " +
      f"linksTo_L1=${lvl.linksTo.count()} comms_L1=${lvl.communities.count()}")
    var allLevels = Seq(lvl)
    var it = 2
    var continue = true
    while (it <= 6 && continue) {
      val (n, e, m) = Louvain.levelGraph(allLevels.last.linksTo)
      if (m <= 1e-11) continue = false
      else {
        val lbl = localMoving(it, n, e, m)
        import org.apache.spark.sql.functions.col
        val prevComms = allLevels.last.communities.select(col("community_id").as("id"))
        val lblAll = lbl.select(col("id"), col("comm")).unionByName(
          prevComms.join(lbl.select(col("id")), Seq("id"), "left_anti")
            .select(col("id"), col("id").as("comm")))
        val next = time(f"coarsen_L$it") {
          val l = Louvain.coarsen(lblAll, e, it)
          l.membership.count(); l.linksTo.count(); l
        }
        allLevels = allLevels :+ next
        time(f"modularity_L$it") { Louvain.modularity(entityEdges, allLevels, it) }
        println(f"[louvain-prof] L$it linksTo=${next.linksTo.count()} " +
          f"comms=${next.communities.count()}")
        if (next.communities.count() >= allLevels(allLevels.size - 2).communities.count())
          continue = false
        it += 1
      }
    }

    time("full_run") { Louvain.run(lifted, allEntities = Some(res.select("canonical_id").distinct())) }
    spark.stop()
  }
}
