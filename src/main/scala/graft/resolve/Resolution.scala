package graft.resolve

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.extract.{HashEmbedder, VectorOps}
import graft.model.{Entity, ResolvesTo}

/** Entity resolution — SURVEY.md §2.7 (R1-R4).
  *
  * Reference semantics re-expressed for a cluster:
  *   - candidate neighbors per entity: all entities at cosine ≥ 0.90, top-10
  *     including self (`tigergraph_embedding_store.py:375-396`,
  *     `common/gsql/vector/get_topk_closest.gsql:9-12`);
  *   - each entity merges its candidates under the LONGEST candidate id
  *     (`ecc/app/graphrag/workers.py:460-468`); TigerGraph edge-upsert union
  *     across workers makes the merge effectively transitive, so the faithful
  *     scale-out is connected components over the candidate edges with one
  *     canonical per component, tie-broken deterministically by
  *     (id length, id) — SURVEY.md §7.4 documents the divergence for
  *     components larger than k=10.
  *
  * Scale design: sign-random-projection LSH banding (bands × bits) prunes the
  * O(E²) similarity self-join to same-bucket pairs, then the exact cosine
  * filter runs only on candidates; buckets above `maxBucket` are dropped
  * (degenerate near-duplicate floods — documented, counted via lineage).
  * Connected components is an iterative min-label DataFrame loop with
  * localCheckpoint truncation per iteration (alias clusters have tiny
  * diameter, so it converges in a handful of rounds).
  */
object Resolution {

  final case class Params(
      dim: Int = 1536,
      cosineThreshold: Double = 0.90,
      topK: Int = 10,
      bands: Int = 20,
      bits: Int = 12,
      maxBucket: Int = 1024,
      seed: Int = 42,
      bruteForce: Boolean = false,
      /** When the whole embeddings table fits under this many bytes
        * (rows × dim × 4, probed with a limit-count — no unbounded collect),
        * candidate scoring broadcasts an id→vector map and computes cosine
        * map-side instead of two shuffle joins of 6 KB arrays + a large
        * pre-filter dedup. Beyond the bound the shuffle-join path runs —
        * same auto-routing contract as Dedup.embeddingPairs. Both paths are
        * row-identical (same index-order double accumulation).
        */
      maxBroadcastBytes: Long = 256L << 20)

  /** Entity embeddings. Deterministic input: the first (sorted) non-empty
    * description, else the entity id — the reference embeds desc[0] or the id
    * when blank (`workers.py:255-262,352-358`); its vector store keeps one
    * vector per entity with last-write-wins, which we make deterministic by
    * the sort. One narrow mapPartitions; embedder built once per partition.
    */
  def embedEntities(entities: Dataset[Entity], p: Params): DataFrame = {
    val spark = entities.sparkSession
    import spark.implicits._
    entities.mapPartitions { it =>
      val emb = new HashEmbedder(p.dim, p.seed)
      it.map { e =>
        val input = e.descriptions.filter(_.nonEmpty).sorted.headOption.getOrElse(e.entity_id)
        (e.entity_id, emb.embed(input))
      }
    }.toDF("entity_id", "embedding")
  }

  /** Deterministic pseudo-gaussian hyperplanes for sign-RP LSH. */
  private def hyperplanes(p: Params): Array[Array[Float]] = {
    val rng = new Random(p.seed * 31L + 7)
    Array.fill(p.bands * p.bits)(Array.fill(p.dim)(rng.nextGaussian().toFloat))
  }

  /** Corpus-size-adaptive (bits, bands) — the r4 endurance probe's fix.
    *
    * Fixed 12-bit bands saturate as the entity table grows: the expected
    * RANDOM-collision pair count is bands · N²/2^bits/2, i.e. QUADRATIC in N
    * once mean bucket load N/2^bits exceeds ~1 (measured at 3M pages /
    * ~360k entities: 62 GB of pair shuffle, 3.8 TB of sort spill, 772 s of
    * a 936 s wall in candidate_pairs alone). Scaling `bits` with log2(N)
    * pins the mean load at `targetLoad`, making the random-pair volume
    * bands · N · targetLoad / 2 — LINEAR in N; `bands` then grows just
    * enough to keep the DEFAULT configuration's true-pair recall at the
    * configured cosine threshold (sign-RP per-band match probability
    * q = (1 − θ/π)^bits; recall over m bands = 1 − (1−q)^m; solve m for the
    * recall the (p.bands, p.bits) default delivers — bands grows only as
    * N^0.22 at θ(0.9)).
    *
    * Below `floor` entities the params return UNCHANGED — every pinned
    * oracle (sf tiers, kg_eval P/R gate) and the 300k-page bench operating
    * point sit far under the floor, so their outputs are bit-identical.
    * Above the caps (bits 24 / bands 128 ⇒ ~67M entities at load 4) the
    * volume term goes quadratic again — the 10^12-doc regime needs the
    * persisted-index sharding documented in BENCH/BASELINE.md, not bigger
    * in-memory bands.
    *
    * Callers that PERSIST signatures (Pipeline's lsh_sigs) must derive once
    * and record (bands, bits) beside the index — re-deriving from a GROWN
    * corpus would silently mismatch the standing index; see the
    * `_graft_er_params` marker.
    */
  def scaledParams(p: Params, nEntities: Long, floor: Long = 65536L,
      targetLoad: Double = 4.0, maxBits: Int = 24, maxBands: Int = 128): Params = {
    if (nEntities <= floor) return p
    val q1 = 1.0 - math.acos(math.min(1.0, p.cosineThreshold)) / math.Pi // per-plane
    val bits = math.min(maxBits, math.max(p.bits,
      math.ceil(log2(nEntities / targetLoad)).toInt))
    val r0 = 1.0 - math.pow(1.0 - math.pow(q1, p.bits), p.bands) // default recall
    val qb = math.pow(q1, bits)
    val bands = math.min(maxBands, math.max(p.bands,
      math.ceil(math.log(1.0 - r0) / math.log(1.0 - qb)).toInt))
    // capped geometry = reduced recall vs what the derivation promises
    // (bucket load grows past targetLoad once bits caps; recall drops once
    // bands caps) — surface it like the maxBucket flood counter does
    // (ADVICE r4: a silent cap is an unobservable recall regression)
    val bitsWanted = math.max(p.bits, math.ceil(log2(nEntities / targetLoad)).toInt)
    val bandsWanted = math.max(p.bands,
      math.ceil(math.log(1.0 - r0) / math.log(1.0 - qb)).toInt)
    if (bits < bitsWanted || bands < bandsWanted)
      System.err.println(
        s"[graft.er] scaledParams cap hit at nEntities=$nEntities: " +
          s"bits=$bits (wanted $bitsWanted, cap $maxBits), " +
          s"bands=$bands (wanted $bandsWanted, cap $maxBands) — blocking recall " +
          "below the default geometry's; shard the persisted index " +
          "(BENCH/BASELINE.md) past this regime")
    p.copy(bits = bits, bands = bands)
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** Sign-RP band signature rows (entity_id, band, sig) — the hyperplanes
    * and banding [[candidatePairs]] blocks on, exposed so incremental runs
    * can PERSIST the blocking index (lsh_sigs table) and re-sign only
    * changed entities.
    *
    * Sparse-aware signing: the deterministic [[graft.extract.HashEmbedder]]
    * emits vectors with nnz ≈ token count (~13 of 1536), so computing the
    * bands×bits hyperplane dots over the nonzero coordinates only cuts the
    * signing FLOPs ~100× (one 1536-scan + 240·nnz mults vs 240·1536).
    * Bit-identical to the dense loop: a zero coordinate contributes exactly
    * ±0.0 to the double accumulator, which never changes the sum, and the
    * nonzero terms are accumulated in the same index order. Dense vectors
    * (a real embedding model) degrade only by the single gather pass.
    */
  def signatures(embeddings: DataFrame, p: Params): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val planes = spark.sparkContext.broadcast(hyperplanes(p))
    val bands = p.bands
    val bits = p.bits
    embeddings
      .as[(String, Array[Float])]
      .mapPartitions { it =>
        val h = planes.value
        val idxBuf = new Array[Int](p.dim)
        val valBuf = new Array[Float](p.dim)
        it.flatMap { case (id, v) =>
          var nnz = 0
          var i = 0
          val n = math.min(v.length, p.dim)
          while (i < n) {
            if (v(i) != 0f) { idxBuf(nnz) = i; valBuf(nnz) = v(i); nnz += 1 }
            i += 1
          }
          val sigs = new Array[Int](bands)
          var b = 0
          while (b < bands) {
            var sig = 0
            var j = 0
            while (j < bits) {
              val plane = h(b * bits + j)
              var d = 0.0
              var k = 0
              while (k < nnz) { d += plane(idxBuf(k)).toDouble * valBuf(k); k += 1 }
              if (d >= 0) sig |= (1 << j)
              j += 1
            }
            sigs(b) = sig
            b += 1
          }
          (0 until bands).iterator.map(b => (id, b, sigs(b)))
        }
      }
      .toDF("entity_id", "band", "sig")
  }

  /** Candidate pairs (src, dst, cos) with cos ≥ threshold − 1e-6 (the
    * reference's epsilon, `get_topk_closest.gsql:9`), ranked top-(k−1)
    * non-self neighbors per src. Both directions are emitted (the reference
    * resolves per-entity); CC treats them as undirected.
    */
  def candidatePairs(embeddings: DataFrame, p: Params): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._

    val pairs: DataFrame =
      if (p.bruteForce) {
        val a = embeddings.select($"entity_id".as("src"), $"embedding".as("emb_a"))
        val b = embeddings.select($"entity_id".as("dst"), $"embedding".as("emb_b"))
        a.crossJoin(b).where($"src" < $"dst")
      } else {
        val sigs = signatures(embeddings, p)

        // drop degenerate buckets (near-duplicate floods) before the self-join
        val bucketed = sigs
          .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy($"band", $"sig")))
          .where($"bucket_n" <= p.maxBucket)
          .drop("bucket_n")

        val l = bucketed.select($"band", $"sig", $"entity_id".as("src"))
        val r = bucketed.select($"band", $"sig", $"entity_id".as("dst"))
        val raw = l.join(r, Seq("band", "sig")).where($"src" < $"dst")
          .select("src", "dst")

        // probe + fetch in ONE job: collect at most bound+1 rows (limit is
        // pushed, so an over-bound table ships ≤ maxBroadcastBytes + 1 row,
        // never the whole table). 12-bit sign-RP bands over high-dim
        // embeddings run ~40 false candidates per true pair (measured 825k
        // → 19.7k at 150k pages), so when the id→vector map fits, scoring
        // map-side and deduping AFTER the cosine filter beats two shuffle
        // joins of 6 KB arrays plus an 825k-row dedup — the dedup input
        // shrinks to the surviving pairs (≤ bands× smaller). The fused
        // probe halves this stage's fixed job count (r3: the KG chain is
        // fixed-latency-bound at 150k pages, F ≈ 14 s of T32 ≈ 18 s).
        // session override for the scoring-map bound: one shared JVM
        // (local[N]) or fat executors hold ONE copy of the map, so a
        // several-GB bound is safe there and map-side scoring beats the
        // shuffle path's array-carrying exchange by orders of magnitude —
        // while the 256 MB default stays right for small executors
        val bcBytes = spark.conf.getOption("spark.graft.er.maxBroadcastBytes")
          .map { v =>
            val n = v.trim.toLongOption.getOrElse(sys.error(
              s"spark.graft.er.maxBroadcastBytes must be a long, got '$v'"))
            require(n > 0, s"spark.graft.er.maxBroadcastBytes must be positive, got $n")
            n
          }
          .getOrElse(p.maxBroadcastBytes)
        val maxRows = (bcBytes / (p.dim.toLong * 4L)).toInt
        // r5: the probe ships SPARSE (see [[sparseProbe]]). maxRows keeps
        // the DENSE byte accounting so the map-side/shuffle switch point —
        // and every plan at every scale — is unchanged.
        val probe = sparseProbe(embeddings, maxRows).collect()
        if (probe.length <= maxRows) {
          val vecMap = spark.sparkContext.broadcast(
            probe.iterator.map { case (id, len, idx, vals) =>
              id -> mkProbeVec(p.dim, len, idx, vals)
            }.toMap)
          val thr = p.cosineThreshold - 1e-6
          return raw.as[(String, String)]
            .mapPartitions { it =>
              val m = vecMap.value
              it.flatMap { case (a, b) =>
                val cos = cosProbe(m(a), m(b))
                if (cos >= thr) Iterator.single((a, b, cos)) else Iterator.empty
              }
            }
            .toDF("src", "dst", "cos")
            .dropDuplicates("src", "dst")
            .transform(symTopK(_, p))
        }
        // Beyond-bound fallback. Cost shape, measured and documented: the
        // dedup shuffles the (src, dst) pair stream — LINEAR in N when the
        // caller sized (bits, bands) via [[scaledParams]] — but the second
        // join must re-exchange rows already carrying emb_a (dim·4 bytes
        // each), so its shuffle is pairs × vector width. That is the same
        // linear-in-data volume as any self-join of the embedding table on
        // a bounded-multiplicity key, and AQE splits its skew; raising
        // `spark.graft.er.maxBroadcastBytes` on fat executors avoids it
        // entirely (the r4 endurance point runs map-side at 3M pages).
        raw.dropDuplicates("src", "dst")
          .join(embeddings.select($"entity_id".as("src"), $"embedding".as("emb_a")), "src")
          .join(embeddings.select($"entity_id".as("dst"), $"embedding".as("emb_b")), "dst")
      }

    val scored = pairs
      .withColumn("cos", graft.operators.Similarity.cosineFast($"emb_a", $"emb_b"))
      .where($"cos" >= lit(p.cosineThreshold - 1e-6))
      .select($"src", $"dst", $"cos")

    symTopK(scored, p)
  }

  /** The ER scoring probe: (entity_id, length, idx, vals) per embedding,
    * at most `maxRows + 1` rows. Each vector ships SPARSE (nnz index/value
    * pairs; `idx` null and `vals` dense when that is the smaller encoding)
    * — the deterministic HashEmbedder runs nnz ≈ 13 of 1536, so the collect
    * + broadcast shrink ~50-100× and, with the squared norm hoisted per
    * entity ([[mkProbeVec]]), per-pair scoring drops the two norm loops.
    * This is serial driver work on the chain's critical path (the Amdahl F
    * term in the scaling ladder). Bit-equality with the dense loop: see
    * [[cosProbe]].
    *
    * ORDER MATTERS: limit comes AFTER the sparsifying map so the plan stays
    * a terminal CollectLimitExec over a parallel narrow map — limit-before-
    * map plans a GlobalLimit single-partition shuffle that funnels the whole
    * DENSE table through one task (measured +38% on the 4×4-executor chain
    * wall before this ordering; guarded by ExplainAudit).
    */
  private[graft] def sparseProbe(embeddings: DataFrame, maxRows: Int)
      : Dataset[(String, Int, Array[Int], Array[Float])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.as[(String, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        var nnz = 0
        var i = 0
        while (i < v.length) { if (v(i) != 0f) nnz += 1; i += 1 }
        if (nnz.toLong * 2 <= v.length) {
          val idx = new Array[Int](nnz)
          val vals = new Array[Float](nnz)
          var j = 0
          i = 0
          while (i < v.length) {
            if (v(i) != 0f) { idx(j) = i; vals(j) = v(i); j += 1 }
            i += 1
          }
          (id, v.length, idx, vals)
        } else (id, v.length, null: Array[Int], v)
      })
      .limit(maxRows + 1)
  }

  /** Both directions, then top-(k−1) per src: self always occupies one slot
    * — the shared tail of the broadcast and shuffle-join scoring paths.
    */
  private def symTopK(scored: DataFrame, p: Params): DataFrame = {
    val sym = scored.unionByName(
      scored.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    sym.withColumn("rank", row_number().over(w))
      .where(col("rank") <= p.topK - 1)
      .drop("rank")
  }

  /** Cosine with the exact accumulation order of
    * [[graft.functions.CosineSimilarity]] (three index-order double
    * accumulators, dot / (sqrt·sqrt)) — the broadcast scoring path must be
    * bit-identical to the shuffle-join path's codegen'd expression.
    */
  @inline private def cosRawOrdered(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.length); var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Broadcast scoring-map entry: one of (idx, vals) sparse or `dense` set,
    * plus the squared norm. All entity embeddings share length p.dim (the
    * precomputed norm is only valid under that invariant — cosRawOrdered
    * norms over min(len) when lengths differ).
    */
  private final case class ProbeVec(len: Int, norm2: Double,
      idx: Array[Int], vals: Array[Float], dense: Array[Float])

  private def mkProbeVec(dim: Int, len: Int, idx: Array[Int], vals: Array[Float]): ProbeVec = {
    require(len == dim, s"ER probe vector has length $len, expected p.dim = $dim — " +
      "the hoisted norm is only valid when every embedding has length p.dim")
    // Σx² over the shipped values in index order — for a sparse row that
    // skips only exact-zero addends of the dense accumulation, so the value
    // is bit-equal to cosRawOrdered's na (a +0.0 addend is an IEEE identity
    // on a non-negative accumulator)
    var n2 = 0.0
    var i = 0
    while (i < vals.length) { val x = vals(i).toDouble; n2 += x * x; i += 1 }
    if (idx == null) ProbeVec(len, n2, null, null, vals)
    else ProbeVec(len, n2, idx, vals, null)
  }

  /** Cosine over [[ProbeVec]]s, bit-equal to [[cosRawOrdered]] on the
    * original dense arrays: each of the three accumulators of the dense
    * loop is an INDEPENDENT index-order sum, so (a) hoisting the norms out
    * of the pair loop and (b) skipping the ±0.0 dot addends where either
    * coordinate is zero both leave the exact IEEE values unchanged (a
    * running sum can only sit at -0.0 while every prior addend was -0.0,
    * and the first real addend produces the same result either way); the
    * final `d / (√na·√nb)` expression is identical.
    */
  private def cosProbe(a: ProbeVec, b: ProbeVec): Double = {
    val n = math.min(a.len, b.len)
    var d = 0.0
    if (a.dense == null && b.dense == null) {
      var i = 0; var j = 0
      while (i < a.idx.length && j < b.idx.length) {
        val ai = a.idx(i); val bj = b.idx(j)
        if (ai < bj) i += 1
        else if (bj < ai) j += 1
        else {
          if (ai < n) d += a.vals(i).toDouble * b.vals(j).toDouble
          i += 1; j += 1
        }
      }
    } else if (a.dense != null && b.dense != null) {
      var i = 0
      while (i < n) { d += a.dense(i).toDouble * b.dense(i).toDouble; i += 1 }
    } else {
      val sp = if (a.dense == null) a else b
      val de = if (a.dense == null) b else a
      var i = 0
      while (i < sp.idx.length) {
        val ix = sp.idx(i)
        if (ix < n) d += sp.vals(i).toDouble * de.dense(ix).toDouble
        i += 1
      }
    }
    if (a.norm2 == 0 || b.norm2 == 0) 0.0
    else d / (math.sqrt(a.norm2) * math.sqrt(b.norm2))
  }

  /** Candidate pairs restricted to `affected` source entities, computed from
    * a PERSISTED signature index instead of re-signing the corpus — the
    * incremental-run ER primitive. Per-src results are independent in
    * [[candidatePairs]] (src's neighbor set = entities sharing ≥1 uncapped
    * (band, sig) bucket at cosine ≥ threshold, top-(k−1) by (cos desc, dst)),
    * so for every src ∈ affected this returns EXACTLY the rows a full
    * candidatePairs over the same embeddings would — the identity the
    * incremental PipelineSpec asserts. The affected side is delta-sized and
    * broadcast into the bucket join; the corpus side is the narrow sigs
    * index, never the embeddings.
    */
  def candidatePairsFor(affected: DataFrame, sigs: DataFrame, embeddings: DataFrame,
      p: Params): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    // global flood cap — identical to candidatePairs' bucket prune
    val capped = sigs
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy($"band", $"sig")))
      .where($"bucket_n" <= p.maxBucket)
      .drop("bucket_n")
    val l = capped.join(broadcast(affected.select($"entity_id").distinct()),
        Seq("entity_id"), "left_semi")
      .select($"band", $"sig", $"entity_id".as("src"))
    val r = capped.select($"band", $"sig", $"entity_id".as("dst"))
    val cand = broadcast(l).join(r, Seq("band", "sig"))
      .where($"src" =!= $"dst")
      .select("src", "dst").dropDuplicates("src", "dst")
    val scored = cand
      .join(embeddings.select($"entity_id".as("src"), $"embedding".as("emb_a")), "src")
      .join(embeddings.select($"entity_id".as("dst"), $"embedding".as("emb_b")), "dst")
      .withColumn("cos", graft.operators.Similarity.cosineFast($"emb_a", $"emb_b"))
      .where($"cos" >= lit(p.cosineThreshold - 1e-6))
      .select($"src", $"dst", $"cos")
    val w = Window.partitionBy($"src").orderBy($"cos".desc, $"dst")
    scored.withColumn("rank", row_number().over(w))
      .where($"rank" <= p.topK - 1)
      .drop("rank")
  }

  /** Connected components, two-level (SURVEY.md §4.2 + bench profiling):
    *
    *   1. hash-partition the (symmetrized) edges by src and run union-find
    *      LOCALLY per partition — one narrow pass contracts every
    *      within-partition path to its min-id label;
    *   2. the residual label-equivalence graph (one edge per node that
    *      received different labels from different partitions) is orders of
    *      magnitude smaller; solve it with driver union-find when it fits
    *      (`localFinishEdges` bound), else with the distributed min-label
    *      loop ([[minLabelLoop]], localCheckpoint per iteration).
    *
    * The per-iteration loop over the FULL graph — a job per hop — was pure
    * scheduling latency on blocked candidate graphs (alias clusters are tiny
    * cliques); contraction turns 10+ jobs into 2-3. At 10^12-doc scale the
    * same structure holds: phase 1 is one shuffle, and the label graph is
    * bounded by the number of partition-boundary nodes, not by edges.
    *
    * Output: (entity_id, component_id = min entity_id in component).
    */
  def connectedComponents(allIds: DataFrame, pairs: DataFrame, maxIter: Int = 25,
      localFinishEdges: Long = 5000000L): DataFrame = {
    val spark = allIds.sparkSession
    import spark.implicits._

    val sym = pairs.select($"src", $"dst")
      .unionByName(pairs.select($"dst".as("src"), $"src".as("dst")))
      .where($"src" =!= $"dst")

    // phase 1: local union-find per partition (min-id roots)
    val partial = sym.repartition($"src").as[(String, String)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[String, String]
        def find(x: String): String = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        def union(a: String, b: String): Unit = {
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
            parent.getOrElseUpdate(ra, ra); parent.getOrElseUpdate(rb, rb)
          } else parent.getOrElseUpdate(ra, ra)
        }
        it.foreach { case (a, b) => union(a, b) }
        parent.keysIterator.map(n => (n, find(n)))
      }
      .toDF("id", "label")

    // label equivalences: a node seen by k partitions links its k labels.
    // nodeLabels is persisted (consumed by eqEdges AND the final projection)
    // but NOT separately materialized — the eqEdges count below computes
    // partial → nodeLabels → eqEdges in ONE job (r1 spent three: two eager
    // checkpoints plus the count)
    val nodeLabels = partial.groupBy($"id")
      .agg(min($"label").as("minl"), collect_set($"label").as("ls"))
      .persist()
    // size-probe + fetch the residual graph in ONE job: collect at most
    // cap+1 edges (limit pushed — an over-bound graph ships ≤ cap+1 rows,
    // never everything). The persist still backs the rare
    // distributed-fallback path. r2 did persist+count then a second
    // collect; at 150k pages the KG chain is fixed-latency-bound, so every
    // fused job is wall time off T32. The probe is additionally capped at
    // 1M pairs so an over-bound graph can never ship hundreds of MB of
    // strings to the driver just to be discarded — residual graphs between
    // the probe cap and localFinishEdges simply take the distributed loop
    // (route-identical results, ResolutionSpec).
    val eqEdges = nodeLabels
      .select($"minl".as("dst"), explode($"ls").as("src"))
      .where($"src" =!= $"dst")
      .dropDuplicates("src", "dst")
      .persist()
    val cap = math.min(localFinishEdges, 1000000L).toInt
    val sample = eqEdges.limit(cap + 1).as[(String, String)].collect()

    // resolve label -> component root
    val labelRoots: DataFrame =
      if (sample.isEmpty) {
        spark.emptyDataset[(String, String)].toDF("label", "root")
      } else if (sample.length <= cap) {
        val parent = scala.collection.mutable.HashMap.empty[String, String]
        def find(x: String): String = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        sample.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        parent.keysIterator.map(l => (l, find(l))).toSeq.toDF("label", "root")
      } else {
        val labelIds = eqEdges.select($"src".as("entity_id"))
          .unionByName(eqEdges.select($"dst".as("entity_id"))).distinct()
        minLabelLoop(labelIds, eqEdges, maxIter)
          .toDF("label", "root")
      }

    val resolvedNodes = nodeLabels
      .join(labelRoots.withColumnRenamed("label", "minl"), Seq("minl"), "left")
      .select($"id".as("entity_id"),
        coalesce($"root", $"minl").as("component_id"))

    // isolated ids resolve to themselves
    allIds.select($"entity_id")
      .join(resolvedNodes, Seq("entity_id"), "left")
      .select($"entity_id", coalesce($"component_id", $"entity_id").as("component_id"))
  }

  /** Distributed min-label propagation (the classic loop), localCheckpoint
    * per iteration to truncate lineage. Used on the contracted label graph
    * when it exceeds the driver bound, and directly testable.
    */
  def minLabelLoop(allIds: DataFrame, edges0: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = allIds.sparkSession
    import spark.implicits._
    val edges = edges0.select($"src", $"dst")
      .unionByName(edges0.select($"dst".as("src"), $"src".as("dst")))
      .dropDuplicates("src", "dst")
      .localCheckpoint(true)
    var labels = allIds.select($"entity_id", $"entity_id".as("component_id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("entity_id", "dst"), "dst")
        .groupBy($"src".as("entity_id"))
        .agg(min($"component_id").as("nbr_min"))
      val updated = labels
        .join(neighborMin, Seq("entity_id"), "left")
        .select(
          $"entity_id",
          least($"component_id", coalesce($"nbr_min", $"component_id")).as("component_id"))
        .localCheckpoint(true)
      val changed = updated.as("u")
        .join(labels.as("l"), Seq("entity_id"))
        .where($"u.component_id" =!= $"l.component_id")
        .limit(1).count()
      labels = updated
      converged = changed == 0
      iter += 1
    }
    labels
  }

  /** RESOLVES_TO: canonical per component = max by (id length, id) —
    * the reference's longest-id pick (`workers.py:460-468`) made
    * deterministic. Entities with no ≥-threshold neighbor resolve to
    * themselves (aget_k_closest always includes self).
    */
  def resolvesTo(entities: Dataset[Entity], pairs: DataFrame): Dataset[ResolvesTo] = {
    val spark = entities.sparkSession
    import spark.implicits._
    val ids = entities.select($"entity_id")
    val comps = connectedComponents(ids, pairs)
    val canon = comps
      .groupBy($"component_id")
      .agg(max_by($"entity_id", struct(length($"entity_id"), $"entity_id")).as("canonical_id"))
    comps.join(canon, "component_id")
      .select($"entity_id", $"canonical_id")
      .as[ResolvesTo]
  }
}
