package graft.community

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Louvain community detection over the resolved-entity graph — the Spark
  * realization of the reference's hierarchical community pass (SURVEY.md
  * §2.8; `common/gsql/graphrag/louvain/graphrag_louvain_init.gsql:1-189`,
  * `graphrag_louvain_communities.gsql:1-198`, `modularity.gsql:1-49`).
  *
  * Semantics mirrored from the GSQL:
  *   - local moving, max `maxHop` rounds, synchronous: every candidate node
  *     evaluates its best neighboring community per round;
  *   - hop 1 ΔQ = `1 − k_s·k_t / (2m)` per neighbor (init :58); later hops
  *     ΔQ_remove = `2·k_self − 2·k_in + k·(Σtot(C) − k)/m` (:94) and
  *     ΔQ_add(C) = `2·w(s→C) − k·Σtot(C)/m` (:102);
  *   - move when ΔQ_remove + ΔQ_add > 0; pairwise swaps cancelled for the
  *     lower-gain side, ties by node id (:116-135 — the reference
  *     tie-breaks on `getvid`, a load-order internal id; we use the
  *     lexicographic node id, the deterministic equivalent);
  *   - next round's candidates = neighbors of moved nodes that are not in
  *     the mover's new community (:150-152);
  *   - coarsening: community id = `<rep_vid>_<level>`, isolated nodes get
  *     singleton communities (:171-176); LINKS_TO weight = inter-community
  *     directed weight sum, halved at levels ≥ 2 exactly as the reference
  *     does (init :181-185 inserts `w`, level-n :193-197 inserts `w/2`);
  *     intra-community weight is dropped at coarsening (no self LINKS_TO is
  *     ever inserted — the reference's `@@community_sum_in_map` is write-only),
  *     so `k_self` is always 0 in practice; the formula keeps the term.
  *
  * Scale: each hop is 4 bounded shuffles (sum-total agg, two edge joins,
  * best-move agg) over DataFrames checkpointed per hop ([[graft.Ckpt.local]])
  * to truncate lineage — the analogue of the reference's per-hop
  * materialized accumulator state; set `spark.graft.checkpoint.replicated`
  * on a real cluster so hop state survives single-executor loss. The graph
  * shrinks geometrically per level.
  */
object Louvain {

  /** One coarsening level's outputs. */
  final case class Level(
      iteration: Int,
      /** (child_id, community_id) — IN_COMMUNITY at level 1, HAS_PARENT above. */
      membership: DataFrame,
      /** (community_id, iteration) vertex table for this level. */
      communities: DataFrame,
      /** (src, dst, weight) directed LINKS_TO between this level's communities. */
      linksTo: DataFrame)

  /** Local-moving pass. `nodes`: (id, k, k_self); `edges`: (src, dst, w)
    * DIRECTED with both directions present; `m` per the reference's
    * accounting (init: directed edge count; levels: Σ directed w / 2).
    * Returns (id, comm) where comm is the representative node id.
    */
  def localMoving(nodes: DataFrame, edges: DataFrame, m: Double, maxHop: Int = 10,
      localFinishEdges: Long = 2000000L): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._

    if (m <= 1e-11) return nodes.select($"id", $"id".as("comm"))

    // contract-before-iterate, same auto-routing as connectedComponents'
    // residual finish: the hop loop costs ~4 scheduled jobs per hop, pure
    // fixed latency when the graph is small (EVERY level ≥ 2 after
    // coarsening, and whole corpora at test scale — measured 39 s for a
    // 931-triple graph at 8 cores). Under the bound the identical algorithm
    // runs driver-side in one collect (LouvainSpec asserts bit-equality on
    // both routes); above it the distributed loop below is unchanged. The
    // arithmetic is route-independent by construction: every weight is a
    // dyadic rational (unit counts halved per level), so sums are exact in
    // double regardless of order, and string tie-breaks use UTF-8 byte
    // order exactly like Spark's UTF8String comparison.
    // the probe limit is an Int: cap the bound so `bound + 1` cannot
    // overflow (a driver array holds < Int.MaxValue edges anyway)
    val bound = math.min(localFinishEdges, Int.MaxValue - 1L)
    if (edges.limit((bound + 1).toInt).count() <= bound) {
      val nodeArr = nodes.select($"id", $"k", $"k_self")
        .as[(String, Double, Double)].collect()
      val edgeArr = edges.select($"src", $"dst", $"w")
        .as[(String, String, Double)].collect()
      val res = localMovingDriver(nodeArr, edgeArr, m, maxHop)
      return res.toSeq.toDF("id", "comm")
    }

    // persist+count instead of checkpoint+isEmpty: one job materializes the
    // frame AND yields the loop-control count — r1 paid a separate isEmpty
    // job per structure per hop, pure scheduling latency in the efficiency
    // decomposition (BENCH/BASELINE.md Amdahl F term)
    var labels = nodes.select($"id", $"id".as("comm"), $"k", $"k_self")
      .transform(graft.Ckpt.local)
    var candidates = nodes.select($"id").persist()
    var nCandidates = candidates.count()
    var hop = 0

    while (hop < maxHop && nCandidates > 0) {
      hop += 1

      // per-node edge view with both endpoints' state
      val lSrc = labels.select($"id".as("src"), $"comm".as("s_comm"),
        $"k".as("s_k"), $"k_self".as("s_self"))
      val lDst = labels.select($"id".as("dst"), $"comm".as("t_comm"), $"k".as("t_k"))
      val cand = candidates.select($"id".as("src"))
      val e = edges.join(cand, "src").join(lSrc, "src").join(lDst, "dst")

      val moves: DataFrame =
        if (hop == 1) {
          // dq per neighbor t: 1 - k_s * k_t / (2m); move if best dq > 0
          e.where($"s_comm" =!= $"t_comm")
            .withColumn("dq", lit(1.0) - $"s_k" * $"t_k" / (2 * m))
            .groupBy($"src")
            .agg(max(struct($"dq", $"t_comm")).as("best"),
              first($"s_comm").as("old_comm"))
            .select($"src".as("id"), $"old_comm",
              $"best.t_comm".as("new_comm"), $"best.dq".as("gain"))
            .where($"gain" > 0)
        } else {
          val sumTot = labels.groupBy($"comm").agg(sum($"k").as("sum_tot"))
          val withTot = e
            .join(sumTot.select($"comm".as("s_comm"), $"sum_tot".as("s_sumtot")), "s_comm")
            .join(sumTot.select($"comm".as("t_comm"), $"sum_tot".as("t_sumtot")), "t_comm")

          // k_in: weight into own community; w(s -> C) per foreign community
          val kIn = withTot.where($"s_comm" === $"t_comm")
            .groupBy($"src").agg(sum($"w").as("k_in"))
          val toComm = withTot.where($"s_comm" =!= $"t_comm")
            .groupBy($"src", $"t_comm")
            .agg(sum($"w").as("w_to"),
              first($"s_comm").as("s_comm"), first($"s_k").as("s_k"),
              first($"s_self").as("s_self"), first($"s_sumtot").as("s_sumtot"),
              first($"t_sumtot").as("t_sumtot"))

          toComm
            .join(kIn, Seq("src"), "left")
            .na.fill(0.0, Seq("k_in"))
            .withColumn("dq_remove",
              lit(2) * $"s_self" - lit(2) * $"k_in" +
                $"s_k" * ($"s_sumtot" - $"s_k") / m)
            .withColumn("dq_add", lit(2) * $"w_to" - $"s_k" * $"t_sumtot" / m)
            .groupBy($"src")
            .agg(max(struct($"dq_add", $"t_comm")).as("best"),
              first($"s_comm").as("old_comm"), first($"dq_remove").as("dq_remove"))
            .select($"src".as("id"), $"old_comm", $"best.t_comm".as("new_comm"),
              ($"dq_remove" + $"best.dq_add").as("gain"))
            .where($"gain" > 0)
        }

      val moversRaw = moves.transform(graft.Ckpt.local)

      // swap resolution (init :116-135): for adjacent (s, t) both moving into
      // each other's communities, cancel the side with the smaller gain
      // (ties: cancel the lexicographically larger id)
      val ms = moversRaw.select($"id".as("src"), $"old_comm".as("s_old"),
        $"new_comm".as("s_new"), $"gain".as("s_gain"))
      val mt = moversRaw.select($"id".as("dst"), $"old_comm".as("t_old"),
        $"new_comm".as("t_new"), $"gain".as("t_gain"))
      val cancelled = edges.join(ms, "src").join(mt, "dst")
        .where($"s_new" === $"t_old" && $"t_new" === $"s_old" &&
          ($"s_gain" < $"t_gain" ||
            (abs($"s_gain" - $"t_gain") < 1e-11 && $"src" > $"dst")))
        .select($"src".as("id")).distinct()

      val movers = moversRaw.join(cancelled, Seq("id"), "left_anti").persist()
      val nMovers = movers.count()

      if (nMovers == 0) {
        nCandidates = 0
        movers.unpersist(false)
      } else {
        labels = labels.as("l")
          .join(movers.select($"id", $"new_comm").as("mv"), Seq("id"), "left")
          .select($"id", coalesce($"new_comm", $"l.comm").as("comm"), $"k", $"k_self")
          .transform(graft.Ckpt.local)

        // next candidates: neighbors of movers outside the mover's new community
        val prevCandidates = candidates
        candidates = edges
          .join(movers.select($"id".as("src"), $"new_comm"), "src")
          .join(labels.select($"id".as("dst"), $"comm".as("t_comm")), "dst")
          .where($"t_comm" =!= $"new_comm")
          .select($"dst".as("id")).distinct()
          .persist()
        nCandidates = candidates.count()
        prevCandidates.unpersist(false)
        movers.unpersist(false)
      }
    }
    candidates.unpersist(false)
    labels.select($"id", $"comm")
  }

  /** UTF-8 byte comparison — Spark compares strings as UTF8String (binary
    * over UTF-8 bytes), which differs from Java's UTF-16 compareTo for
    * supplementary characters; the local route must tie-break identically.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side mirror of the distributed hop loop — executed when the
    * graph fits [[localMoving]]'s `localFinishEdges` bound. Statement-for-
    * statement the same algorithm: same ΔQ forms, same (gain, community)
    * argmax with UTF-8 tie order, same pairwise-swap cancellation, same
    * post-update candidate frontier. Returns (id, comm) for every node.
    */
  def localMovingDriver(nodes: Array[(String, Double, Double)],
      edges: Array[(String, String, Double)], m: Double, maxHop: Int): Array[(String, String)] = {
    import scala.collection.mutable
    val k = mutable.HashMap.empty[String, Double]
    val kSelf = mutable.HashMap.empty[String, Double]
    val comm = mutable.HashMap.empty[String, String]
    nodes.foreach { case (id, kk, ks) =>
      k(id) = kk; kSelf(id) = ks; comm(id) = id
    }
    // adjacency over candidate sources (edges are directed, both directions
    // present — mirrors `edges.join(cand, "src")`)
    val adj = mutable.HashMap.empty[String, mutable.ArrayBuffer[(String, Double)]]
    edges.foreach { case (s, d, w) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((d, w))
    }

    final case class Move(id: String, oldComm: String, newComm: String, gain: Double)

    var candidates: Set[String] = nodes.map(_._1).toSet
    var hop = 0
    while (hop < maxHop && candidates.nonEmpty) {
      hop += 1
      val moves = mutable.HashMap.empty[String, Move]

      if (hop == 1) {
        candidates.foreach { src =>
          adj.get(src).foreach { nbrs =>
            var bestDq = Double.NegativeInfinity
            var bestComm: String = null
            nbrs.foreach { case (dst, _) =>
              val tc = comm(dst)
              if (comm(src) != tc) {
                val dq = 1.0 - k(src) * k(dst) / (2 * m)
                // max(struct(dq, t_comm)): larger dq wins, ties to the
                // UTF-8-larger community
                if (dq > bestDq || (dq == bestDq && (bestComm == null || utf8Lt(bestComm, tc))))
                  { bestDq = dq; bestComm = tc }
              }
            }
            if (bestComm != null && bestDq > 0)
              moves(src) = Move(src, comm(src), bestComm, bestDq)
          }
        }
      } else {
        val sumTot = mutable.HashMap.empty[String, Double]
        comm.foreach { case (id, c) => sumTot(c) = sumTot.getOrElse(c, 0.0) + k(id) }
        candidates.foreach { src =>
          adj.get(src).foreach { nbrs =>
            val sComm = comm(src)
            var kIn = 0.0
            val wTo = mutable.HashMap.empty[String, Double]
            nbrs.foreach { case (dst, w) =>
              val tc = comm(dst)
              if (tc == sComm) kIn += w
              else wTo(tc) = wTo.getOrElse(tc, 0.0) + w
            }
            if (wTo.nonEmpty) {
              val dqRemove = 2 * kSelf(src) - 2 * kIn + k(src) * (sumTot(sComm) - k(src)) / m
              var bestAdd = Double.NegativeInfinity
              var bestComm: String = null
              wTo.foreach { case (tc, w) =>
                val dqAdd = 2 * w - k(src) * sumTot(tc) / m
                if (dqAdd > bestAdd ||
                    (dqAdd == bestAdd && (bestComm == null || utf8Lt(bestComm, tc))))
                  { bestAdd = dqAdd; bestComm = tc }
              }
              val gain = dqRemove + bestAdd
              if (gain > 0) moves(src) = Move(src, sComm, bestComm, gain)
            }
          }
        }
      }

      // pairwise-swap cancellation over edges where both endpoints move into
      // each other's communities
      val cancelled = mutable.HashSet.empty[String]
      edges.foreach { case (s, d, _) =>
        (moves.get(s), moves.get(d)) match {
          case (Some(ms), Some(mt))
              if ms.newComm == mt.oldComm && mt.newComm == ms.oldComm &&
                (ms.gain < mt.gain ||
                  (math.abs(ms.gain - mt.gain) < 1e-11 && utf8Lt(d, s))) =>
            cancelled += s
          case _ =>
        }
      }
      val movers = moves.view.filterKeys(!cancelled.contains(_)).toMap

      if (movers.isEmpty) candidates = Set.empty
      else {
        movers.valuesIterator.foreach(mv => comm(mv.id) = mv.newComm)
        // post-update frontier: neighbors of movers outside the mover's new
        // community (dst community read AFTER applying all moves)
        val next = mutable.HashSet.empty[String]
        movers.valuesIterator.foreach { mv =>
          adj.get(mv.id).foreach(_.foreach { case (dst, _) =>
            if (comm(dst) != mv.newComm) next += dst
          })
        }
        candidates = next.toSet
      }
    }
    nodes.map { case (id, _, _) => (id, comm(id)) }
  }

  /** Coarsen one level: labels (id, comm) + edges (src, dst, w) →
    * communities/membership/LINKS_TO at `iteration` (1-based output level).
    */
  def coarsen(labels: DataFrame, edges: DataFrame, iteration: Int): Level = {
    val spark = labels.sparkSession
    import spark.implicits._
    val suffix = s"_$iteration"
    val halve = iteration >= 2 // reference halves LINKS_TO weight at levels >= 2

    val connected = edges.select($"src".as("id"))
      .union(edges.select($"dst".as("id"))).distinct()
    val lab = labels.join(connected, Seq("id"), "left_semi")
    val isolated = labels.join(connected, Seq("id"), "left_anti")

    val membership = lab.select($"id".as("child_id"),
        concat($"comm", lit(suffix)).as("community_id"))
      .union(isolated.select($"id".as("child_id"),
        concat($"id", lit(suffix)).as("community_id")))

    val communities = membership.select($"community_id").distinct()
      .withColumn("iteration", lit(iteration))

    val e2 = edges
      .join(labels.select($"id".as("src"), $"comm".as("s_comm")), "src")
      .join(labels.select($"id".as("dst"), $"comm".as("t_comm")), "dst")
      .where($"s_comm" =!= $"t_comm")
      .groupBy($"s_comm", $"t_comm")
      .agg(sum($"w").as("w_sum"))
    val linksTo = e2.select(
      concat($"s_comm", lit(suffix)).as("src"),
      concat($"t_comm", lit(suffix)).as("dst"),
      (if (halve) $"w_sum" / 2 else $"w_sum").cast("double").as("weight"))

    Level(iteration, membership, communities, linksTo)
  }

  /** Build (nodes, edges, m) for the entity-level pass from resolved triples:
    * unit weight per distinct (subj, pred, obj) edge instance, symmetrized;
    * m = directed instance count (init :50-52 `@@m += 1` per traversal).
    */
  def initGraph(resolvedTriples: DataFrame): (DataFrame, DataFrame, Double) = {
    val spark = resolvedTriples.sparkSession
    import spark.implicits._
    val inst = resolvedTriples.select($"subj", $"pred", $"obj").distinct()
    val directed = inst.select($"subj".as("src"), $"obj".as("dst"))
      .union(inst.select($"obj".as("src"), $"subj".as("dst")))
      .where($"src" =!= $"dst") // self-edges never move nodes; reference's
                                // hop filters them via community inequality
    val edges = directed.groupBy($"src", $"dst").agg(count(lit(1)).cast("double").as("w"))
      .transform(graft.Ckpt.local)
    val m = edges.agg(sum($"w")).as[Double].collect()(0)
    val nodes = edges.groupBy($"src".as("id")).agg(sum($"w").as("k"))
      .withColumn("k_self", lit(0.0))
    (nodes, edges, m)
  }

  /** (nodes, edges, m) for a community-level pass from the previous level's
    * LINKS_TO (levels :37-47: k = Σ incident directed weight, m = Σ w / 2,
    * self-loops fold into k_self).
    */
  def levelGraph(linksTo: DataFrame): (DataFrame, DataFrame, Double) = {
    val spark = linksTo.sparkSession
    import spark.implicits._
    val edges = linksTo.select($"src", $"dst", $"weight".as("w"))
    val m = edges.agg(coalesce(sum($"w"), lit(0.0))).as[Double].collect()(0) / 2
    val nodes = edges.groupBy($"src".as("id"))
      .agg(sum($"w").as("k"),
        sum(when($"src" === $"dst", $"w").otherwise(0.0)).as("k_self"))
    (nodes, edges.where($"src" =!= $"dst"), m)
  }

  /** Modularity at a hierarchy level (`modularity.gsql:1-49`): project each
    * entity to its ancestor community at `iteration` via HAS_PARENT descent,
    * then Q = Σ_C [ in_C/Σw − (tot_C/Σw)² ] over the unit-weight directed
    * entity graph.
    */
  def modularity(entityEdges: DataFrame, levels: Seq[Level], iteration: Int): Double = {
    val spark = entityEdges.sparkSession
    import spark.implicits._
    require(iteration >= 1 && iteration <= levels.size)
    // entity -> level-1 community -> ... -> level-`iteration` community
    var proj = levels.head.membership // (child_id, community_id)
    for (lvl <- levels.slice(1, iteration)) {
      proj = proj.join(
        lvl.membership.select($"child_id".as("community_id"), $"community_id".as("up")),
        "community_id")
        .select($"child_id", $"up".as("community_id"))
    }
    // ONE pass and ONE job (r1 ran e.count() then re-joined for the agg —
    // two full computations of the same two joins). Algebra:
    // Q = Σ_C in_C/W − Σ_C (tot_C/W)² = in_sum/W − tot²_sum/W², so only
    // three scalars are needed; all three are integer-valued double sums
    // (exact below 2^53), making Q bit-deterministic across partitionings.
    entityEdges
      .join(proj.select($"child_id".as("src"), $"community_id".as("s_comm")), "src")
      .join(proj.select($"child_id".as("dst"), $"community_id".as("t_comm")), "dst")
      .groupBy($"s_comm")
      .agg(sum(lit(1.0)).as("tot"),
        sum(when($"s_comm" === $"t_comm", 1.0).otherwise(0.0)).as("in_w"))
      .agg(sum($"tot").as("w"), sum($"in_w").as("in_sum"),
        sum($"tot" * $"tot").as("tot2"))
      .select(
        when($"w".isNull || $"w" === 0.0, 0.0)
          .otherwise($"in_sum" / $"w" - $"tot2" / ($"w" * $"w")).as("q"))
      .as[Double].collect()(0)
  }

  final case class Result(levels: Seq[Level], modularities: Seq[Double])

  /** Pair-count matrix of the unit-weight directed entity graph projected to
    * the hierarchy's LAST materialized level, INCLUDING the diagonal — the
    * sufficient statistic for modularity at that level and every level above
    * it: a higher-level community is a union of these cells, so its tot is a
    * sum of cell row-sums and its in-weight a sum of intra-union cells.
    * (linksTo alone can't serve: coarsening drops intra-community weight and
    * its weights are instance counts, not the unit counts Q is defined over.)
    * One distributed aggregation; the off-diagonal support equals the
    * coarsened graph's edge support, so the collect is bounded by
    * `localFinishEdges` + one diagonal row per community whenever the caller
    * switched because that bound held.
    */
  private[community] def pairCounts(entityEdges: DataFrame,
      levels: Seq[Level]): Array[(String, String, Long)] = {
    val spark = entityEdges.sparkSession
    import spark.implicits._
    var proj = levels.head.membership // (child_id, community_id)
    for (lvl <- levels.tail) {
      proj = proj.join(
        lvl.membership.select($"child_id".as("community_id"), $"community_id".as("up")),
        "community_id")
        .select($"child_id", $"up".as("community_id"))
    }
    entityEdges
      .join(proj.select($"child_id".as("src"), $"community_id".as("s_comm")), "src")
      .join(proj.select($"child_id".as("dst"), $"community_id".as("t_comm")), "dst")
      .groupBy($"s_comm", $"t_comm").agg(count(lit(1)).as("cnt"))
      .as[(String, String, Long)].collect()
  }

  /** Q from the pair-count matrix under an ancestor mapping (identity for
    * the matrix's own level). Bit-equal to [[modularity]]: every input is an
    * exact integer below 2^53, so the double sums are exact on either route,
    * and the final expression is the same `in/w − tot²/w²` arithmetic.
    */
  private[community] def modularityFromPc(pc: Array[(String, String, Long)],
      anc: String => String): Double = {
    val tot = scala.collection.mutable.HashMap.empty[String, Long]
    var w = 0L
    var inSum = 0L
    pc.foreach { case (s, t, c) =>
      val sa = anc(s)
      tot(sa) = tot.getOrElse(sa, 0L) + c
      if (sa == anc(t)) inSum += c
      w += c
    }
    if (w == 0L) 0.0
    else {
      var tot2 = 0.0
      tot.valuesIterator.foreach(v => tot2 += v.toDouble * v.toDouble)
      inSum.toDouble / w.toDouble - tot2 / (w.toDouble * w.toDouble)
    }
  }

  /** Driver-side finish of the ENTIRE remaining hierarchy (r4 VERDICT #1):
    * above the corpus-sized level 1, every coarsened graph is a few thousand
    * nodes, yet the distributed loop paid ~10 scheduled jobs per level —
    * pure fixed latency (measured 29 s of a 37 s communities wall at 150k
    * pages; 513.7 s across ~1,830 stages at 3M). Once a level's linksTo fits
    * the `localFinishEdges` bound this runs ALL remaining levels in one
    * driver pass: the bit-equal [[localMovingDriver]] route plus local
    * mirrors of [[levelGraph]]/[[coarsen]] (same dyadic-rational sums, exact
    * in double in any order) and [[modularityFromPc]] over the one-job
    * pair-count matrix. Same convergence rules as the distributed loop
    * (`ecc/app/graphrag/graph_rag.py:349-413`).
    *
    * @param linksTo0   collected linksTo of the last materialized level
    * @param prevComms0 that level's full community id set (carry-forward)
    * @param pc         [[pairCounts]] at that level
    * @param prevQ0     that level's modularity
    * @param startIt    1-based iteration of the first level to build here
    */
  private[community] def localHierarchy(spark: SparkSession,
      linksTo0: Array[(String, String, Double)],
      prevComms0: Array[String],
      pc: Array[(String, String, Long)],
      prevQ0: Double,
      startIt: Int, maxLevels: Int, maxHop: Int): (Seq[Level], Seq[Double]) = {
    import spark.implicits._
    import scala.collection.mutable

    val outLevels = Seq.newBuilder[Level]
    val outMods = Seq.newBuilder[Double]
    var links = linksTo0
    var prevComms = prevComms0
    // pc-level community -> current-level community; null = identity (pc is
    // keyed at level startIt − 1)
    var anc: mutable.HashMap[String, String] = null
    var prevQ = prevQ0
    var it = startIt
    var stop = false

    while (it <= maxLevels && !stop) {
      // levelGraph mirror: m = Σw/2; k over ALL edges, k_self on self-loops,
      // the moving pass sees self-loop-free edges
      var m = 0.0
      links.foreach { case (_, _, w) => m += w }
      m /= 2
      if (m <= 1e-11) { stop = true }
      else {
        val kMap = mutable.HashMap.empty[String, Double]
        val kSelf = mutable.HashMap.empty[String, Double]
        links.foreach { case (s, d, w) =>
          kMap(s) = kMap.getOrElse(s, 0.0) + w
          if (s == d) kSelf(s) = kSelf.getOrElse(s, 0.0) + w
        }
        val nodesArr = kMap.iterator
          .map { case (id, kk) => (id, kk, kSelf.getOrElse(id, 0.0)) }.toArray
        val edgesArr = links.filter(e => e._1 != e._2)
        val lbl = localMovingDriver(nodesArr, edgesArr, m, maxHop)
        // carry forward unattached communities (identity label → the
        // isolated branch of coarsening), exactly like the distributed loop
        val lblAll = lbl ++ prevComms.iterator
          .filterNot(kMap.contains).map(id => (id, id))

        // coarsen mirror
        val suffix = s"_$it"
        val connected = mutable.HashSet.empty[String]
        edgesArr.foreach { case (s, d, _) => connected += s; connected += d }
        val commOf = mutable.HashMap.empty[String, String] // raw, unsuffixed
        lblAll.foreach { case (id, c) => commOf(id) = if (connected(id)) c else id }
        val membership = lblAll.map { case (id, _) => (id, commOf(id) + suffix) }
        val halve = it >= 2
        val agg = mutable.HashMap.empty[(String, String), Double]
        edgesArr.foreach { case (s, d, w) =>
          val sc = commOf(s)
          val tc = commOf(d)
          if (sc != tc) agg(sc -> tc) = agg.getOrElse(sc -> tc, 0.0) + w
        }
        val nextLinks = agg.iterator
          .map { case ((s, t), w) => (s + suffix, t + suffix, if (halve) w / 2 else w) }
          .toArray

        // modularity via the pair-count matrix under the composed ancestry
        val mm = membership.toMap
        if (anc == null) {
          anc = mutable.HashMap.empty
          mm.foreach { case (k, v) => anc(k) = v }
        } else anc.keysIterator.toArray.foreach(k => anc(k) = mm(anc(k)))
        // anc is total over pc's community ids by construction (carry-forward
        // keeps every community present at every level) — apply() so a gap
        // fails loudly instead of silently mis-projecting Q
        val q = modularityFromPc(pc, anc)
        outMods += q

        val commArr = membership.map(_._2).distinct
        outLevels += Level(it,
          membership.toSeq.toDF("child_id", "community_id"),
          commArr.map(c => (c, it)).toSeq.toDF("community_id", "iteration"),
          nextLinks.toSeq.toDF("src", "dst", "weight"))
        if (math.abs(q - prevQ) <= 1e-7 || q == 0.0 || q - prevQ <= -0.05 ||
            commArr.length >= prevComms.length)
          stop = true
        prevQ = q
        prevComms = commArr
        links = nextLinks
        it += 1
      }
    }
    (outLevels.result(), outMods.result())
  }

  /** Collect a linksTo frame iff its row count fits the local bound — a
    * count on the (checkpointed) frame first, so an over-bound level never
    * ships rows to the driver.
    */
  private def collectIfFits(linksTo: DataFrame, bound: Long): Option[Array[(String, String, Double)]] = {
    val spark = linksTo.sparkSession
    import spark.implicits._
    val capped = math.min(bound, Int.MaxValue - 1L)
    if (linksTo.limit((capped + 1).toInt).count() <= capped)
      Some(linksTo.select($"src", $"dst", $"weight").as[(String, String, Double)].collect())
    else None
  }

  /** Full hierarchy driver — the ECC convergence loop
    * (`ecc/app/graphrag/graph_rag.py:349-413`): run levels until
    * |Q_i − Q_{i−1}| ≤ 1e-7, Q drops by > 0.05, Q hits 0, or the graph
    * stops shrinking. Levels whose graph fits `localFinishEdges` run
    * driver-side in ONE pass ([[localHierarchy]], bit-equal by
    * construction, LouvainSpec-asserted); only corpus-sized levels pay
    * distributed jobs.
    */
  def run(resolvedTriples: DataFrame, maxLevels: Int = 6, maxHop: Int = 10,
      allEntities: Option[DataFrame] = None,
      localFinishEdges: Long = -1L): Result = {
    val spark = resolvedTriples.sparkSession
    import spark.implicits._
    // bound resolution: explicit arg (specs force routes with it) > the
    // `spark.graft.louvain.localFinishEdges` session conf (fat-driver
    // deployments raise it — a 24 GB single-JVM driver comfortably holds an
    // 8M-edge level, and the driver route beats the distributed hop loop by
    // ~15× there: measured 201 s distributed vs seconds local on the 3.47M-
    // row level-2 graph at 3M pages) > the 2M-edge default (safe for a
    // modest spark-submit driver heap)
    val bound =
      if (localFinishEdges >= 0L) localFinishEdges
      else spark.conf.getOption("spark.graft.louvain.localFinishEdges")
        .map { v =>
          val n = v.trim.toLongOption.getOrElse(sys.error(
            s"spark.graft.louvain.localFinishEdges must be a long, got '$v'"))
          require(n >= 0, s"spark.graft.louvain.localFinishEdges must be >= 0, got $n")
          n
        }
        .getOrElse(2000000L)
    val (nodes0, edges0, m0) = initGraph(resolvedTriples)
    val entityEdges = edges0.select($"src", $"dst")
    val levels = Seq.newBuilder[Level]
    val mods = Seq.newBuilder[Double]

    var labels = localMoving(nodes0, edges0, m0, maxHop, bound)
    // entities that appear in no triple still get singleton communities
    // (init :171-176); callers pass the full canonical-entity id set
    for (all <- allEntities) {
      val extra = all.select(col(all.columns.head).as("id"))
        .join(labels.select($"id"), Seq("id"), "left_anti")
        .select($"id", $"id".as("comm"))
      labels = labels.select($"id", $"comm").union(extra)
    }
    var lvl = coarsen(labels, edges0, 1)
    lvl = lvl.copy(membership = lvl.membership.transform(graft.Ckpt.local),
      linksTo = lvl.linksTo.transform(graft.Ckpt.local))
    levels += lvl
    var allLevels = Seq(lvl)

    /** Switch to the driver-side finish at the current last level: one job
      * for the pair-count matrix (which also yields this level's Q when the
      * caller hasn't computed it yet), one collect for linksTo, one for the
      * community ids — then zero further Spark jobs.
      */
    def finishLocally(arr: Array[(String, String, Double)],
        prevQOpt: Option[Double], it: Int): Unit = {
      val pc = pairCounts(entityEdges, allLevels)
      val qLast = prevQOpt.getOrElse {
        val q = modularityFromPc(pc, identity)
        mods += q
        q
      }
      val prevCommIds = allLevels.last.communities
        .select($"community_id").as[String].collect()
      val (ls, qs) = localHierarchy(spark, arr, prevCommIds, pc, qLast,
        it, maxLevels, maxHop)
      levels ++= ls
      mods ++= qs
    }

    var finished = false
    var prevQ = 0.0
    // level-1 switch BEFORE paying the distributed level-1 modularity job —
    // the pair-count job subsumes it (modularityFromPc under identity)
    collectIfFits(lvl.linksTo, bound) match {
      case Some(arr) =>
        finishLocally(arr, None, 2)
        finished = true
      case None =>
        prevQ = modularity(entityEdges, allLevels, 1)
        mods += prevQ
    }

    var it = 2
    var stop = false
    var prevCommCount = -1L
    while (!finished && it <= maxLevels && !stop) {
      val (n, e, m) = levelGraph(allLevels.last.linksTo)
      if (m <= 1e-11) { stop = true }
      else {
        val lbl = localMoving(n, e, m, maxHop, bound)
        // carry forward unattached communities: a community with NO
        // cross-community LINKS_TO edge is absent from this level's node set
        // and would vanish from the hierarchy (breaking HAS_PARENT descent
        // and the modularity projection at levels >= 2). The reference
        // explicitly inserts identity parents for them ("Continue community
        // hierarchy for unattached partitions",
        // graphrag_louvain_communities.gsql:171-189) — appending them as
        // self-labelled nodes routes them through coarsen's isolated branch.
        val prevComms = allLevels.last.communities.select($"community_id".as("id"))
        val lblAll = lbl.select($"id", $"comm").unionByName(
          prevComms.join(lbl.select($"id"), Seq("id"), "left_anti")
            .select($"id", $"id".as("comm")))
        var next = coarsen(lblAll, e, it)
        next = next.copy(membership = next.membership.transform(graft.Ckpt.local),
          linksTo = next.linksTo.transform(graft.Ckpt.local))
        allLevels = allLevels :+ next
        levels += next
        val q = modularity(entityEdges, allLevels, it)
        mods += q
        // previous level's count is carried from the last iteration — r4
        // paid a second count() job per level for a number already known
        val nPrev = if (prevCommCount >= 0) prevCommCount
          else allLevels(allLevels.size - 2).communities.count()
        val nCur = next.communities.count()
        prevCommCount = nCur
        if (math.abs(q - prevQ) <= 1e-7 || q == 0.0 || q - prevQ <= -0.05 || nCur >= nPrev)
          stop = true
        prevQ = q
        it += 1
        // the coarsened graph shrinks geometrically — switch to the
        // driver-side finish the first level it fits
        if (!stop)
          collectIfFits(next.linksTo, bound) match {
            case Some(arr) =>
              finishLocally(arr, Some(prevQ), it)
              finished = true
            case None => ()
          }
      }
    }
    Result(levels.result(), mods.result())
  }
}
