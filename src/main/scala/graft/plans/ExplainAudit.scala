package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan auditor: prints `explain("formatted")` for the engine's key
  * operators and greps each plan for the physical properties the scale
  * design depends on — pushed filters, pruned read schemas, broadcast
  * joins, partial aggregation, TakeOrderedAndProject, whole-stage codegen
  * spans. Run:
  *
  *   sbt -batch "runMain graft.plans.ExplainAudit /root/testdata/sf0.01"
  *
  * Exits nonzero if a required property is missing from its plan, so this
  * doubles as a CI guard for plan regressions.
  */
object ExplainAudit {

  final case class Check(name: String, df: SparkSession => DataFrame,
      mustContain: Seq[String], note: String,
      mustNotContain: Seq[String] = Nil)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-explain-audit")
      .config("spark.sql.shuffle.partitions", "4")
      // static-plan audit: AQE wraps plans in AdaptiveSparkPlan before
      // execution, hiding codegen spans from toString; runtime sessions
      // keep AQE on
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def t(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")

    val checks = Seq(
      Check("filter+projection pushdown",
        _ => t("lineitem").where(col("l_quantity") > 45)
          .select("l_orderkey", "l_quantity"),
        Seq("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]",
          "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
        "filter AND column pruning must reach the parquet scan"),

      Check("broadcast dimension join",
        _ => t("customer")
          .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name").count(),
        Seq("BroadcastHashJoin", "HashAggregate"),
        "small dims broadcast; aggregate is partial+final"),

      Check("partial aggregation",
        _ => t("lineitem").groupBy("l_returnflag").agg(sum("l_quantity")),
        Seq("partial_sum", "HashAggregate"),
        "map-side combine before the shuffle"),

      Check("top-k as TakeOrderedAndProject",
        _ => t("orders").orderBy(col("o_totalprice").desc).limit(10),
        Seq("TakeOrderedAndProject"),
        "orderBy+limit must not global-sort"),

      Check("whole-stage codegen on the hot text path",
        _ => t("documents").select(
          length(regexp_replace(col("text"), "[^A-Z]", "")).as("u"),
          size(split(trim(col("text")), "\\s+")).as("n")),
        Seq("*(1) Project"), // the *(n) prefix marks a WholeStageCodegen span
        "string metrics stay inside codegen"),

      Check("semi join stays a join (no distinct blowup)",
        _ => t("supplier").join(t("lineitem").where(col("l_quantity") > 45),
          col("s_suppkey") === col("l_suppkey"), "left_semi"),
        Seq("LeftSemi"),
        "left_semi physical operator (broadcast or shuffled)"),

      Check("scaled-integer float sums stay codegen'd",
        s => graft.SparkEntry.queries("q_agg_pricing")(s, sfDir),
        // the aggregate must be a whole-stage-codegen HashAggregate over LONG
        // partial sums — the r2 decimal(18,6) sums widened past precision 18
        // (BigDecimal accumulation, no codegen benefit: 2.9s → 11.6s)
        Seq("*(1) HashAggregate", "partial_sum"),
        "float-column sums are scaled-long, never wide-decimal",
        mustNotContain = Seq("ObjectHashAggregate", "decimal(28", "decimal(38")),

      Check("multimodal metadata pushdown",
        s => {
          import s.implicits._
          val dir = java.nio.file.Files.createTempDirectory("graft-media").toString
          graft.operators.Multimodal.synth(s, 50).write
            .mode("overwrite").parquet(dir)
          graft.operators.Multimodal.decodeImagesAbove(
            s.read.parquet(dir).as[graft.operators.Multimodal.MediaRow], 100, 100).toDF()
        },
        // plan toString elides long filter lists — assert the pushdown via
        // the stable prefix (modality equality + the width bound's prefix)
        Seq("EqualTo(modality,image)", "IsNotNull(width)", "IsNotNull(height)",
          "GreaterThanOr"),
        "meta predicates must reach the parquet scan BEFORE payload decode " +
          "(r1 used a typed lambda filter that deserialized every payload)"),

      Check("decontamination broadcasts the benchmark grams",
        s => graft.operators.Curation.decontaminate(
          t("documents").where(pmod(col("doc_id"), lit(20)) =!= 0),
          t("documents").where(pmod(col("doc_id"), lit(20)) === 0), n = 8),
        // the bounded (benchmark) side must broadcast into a semi join and
        // the per-doc hit count must partial-aggregate before its shuffle —
        // the two properties that keep the 100 TB training side un-shuffled
        Seq("BroadcastHashJoin", "LeftSemi", "partial_count"),
        "training grams never shuffle; bench side broadcasts; counts combine map-side"),

      Check("IVF index probe prunes partitions",
        s => {
          import s.implicits._
          val rng = new scala.util.Random(7)
          val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian().toFloat))
          val corpus = (0L until 400L).map { i =>
            val c = centers((i % 8).toInt)
            (i, c.map(x => x + 0.05f * rng.nextGaussian().toFloat))
          }.toDF("vec_id", "embedding")
          val dir = java.nio.file.Files.createTempDirectory("graft-ivf-audit").toString
          graft.operators.IvfIndex.build(corpus, dir,
            graft.operators.Similarity.IvfParams(nPivots = 16))
          graft.operators.IvfIndex.topK(s, dir, corpus.where($"vec_id" === 3),
            k = 5, nProbe = 2)
        },
        // the probed-cluster literal must land in PartitionFilters (pruning
        // at file-listing time), not in a post-scan Filter
        Seq("PartitionFilters: [cluster"),
        "materialized IVF probes scan only the probed clusters' partitions"),

      Check("temperature sample: broadcast rate table, corpus never shuffles",
        s => {
          // a materialized rate table (how a standing pipeline uses it —
          // rates are computed once per epoch, sampling runs per scan):
          // the per-scan plan must be broadcast + narrow filter only.
          // Multi-row and range-derived so Catalyst can't constant-fold it
          // into the scan (a single literal row degenerates to a pushed
          // filter — even narrower, but not the general shape under test)
          val rates = s.range(0, 3)
            .select(concat(lit("l"), col("id")).as("lang"),
              (col("id") * 100000L + 300000L).as("rate_ppm"))
          graft.operators.Curation.temperatureSample(t("documents"), rates, "lang", "doc_id")
        },
        Seq("BroadcastHashJoin"),
        "mixture resampling is a broadcast + narrow filter at any corpus size",
        mustNotContain = Seq("Exchange hashpartitioning")),

      Check("bloom history probe is map-only on the batch side",
        s => {
          val docs = t("documents")
          graft.operators.Dedup.bloomNewDocs(
            docs.where(pmod(col("doc_id"), lit(2)) === 0),
            docs.where(pmod(col("doc_id"), lit(2)) =!= 0))
        },
        // probing the broadcast Bloom filter is Filter+Project over the
        // scan — the batch must reach the filter without any Exchange and
        // without joining the history table
        Seq("Filter"),
        "incremental dedup never reshuffles or re-joins the history",
        mustNotContain = Seq("Exchange hashpartitioning", "SortMergeJoin", "BroadcastHashJoin")),

      Check("bm25 joins stay broadcast; corpus shuffles only on (doc,term)",
        s => {
          import s.implicits._
          val q = Seq(("q1", "spark"), ("q1", "merge")).toDF("query_id", "term")
          graft.retrieval.Retrieval.bm25TopK(t("documents"), q, k = 10)
        },
        // the only SortMergeJoin-eligible join is tf⋈dl (both corpus-sized);
        // df/query/stats joins must all be broadcast, and the token explode
        // must reach the tf aggregate pre-filtered by the broadcast term set
        Seq("BroadcastHashJoin", "partial_count"),
        "query-term/df/stats fan-out never shuffles the corpus",
        mustNotContain = Seq("CartesianProduct")),

      Check("catalog PK lookup: pruned paths + literal In pushdown",
        s => {
          import s.implicits._
          val dir = java.nio.file.Files.createTempDirectory("graft-lookup-audit").toString
          val cat = new graft.pipeline.Catalog(dir, s)
          cat.writeBucketed("docs",
            s.range(0, 2000).select(concat(lit("doc"), col("id")).as("doc_id"),
              col("id").as("v")), Seq("doc_id"), 64)
          cat.lookup("docs", Seq("doc3", "doc57").toDF("doc_id"))
        },
        // the point read must push an In filter to the parquet scan (row-group
        // stats skipping inside the selected buckets) and must not join
        Seq("PushedFilters: [In(doc_id"),
        "point lookups are path-pruned literal scans, never joins or table scans",
        mustNotContain = Seq("SortMergeJoin", "BroadcastHashJoin",
          "Exchange hashpartitioning")),

      Check("lift broadcasts the resolves_to map on both hops",
        s => {
          import s.implicits._
          // replicate the bench condition: both inputs are localCheckpoint
          // ExistingRDDs with NO stats — Catalyst once build-hashed the
          // million-row triple side here and sort-merged the second hop
          val triples = (0L until 5000L)
            .map(i => graft.model.Triple(s"e${i % 97}", "REL", s"e${(i * 7) % 97}", s"c$i"))
            .toDS().localCheckpoint(true)
          val res = (0L until 97L)
            .map(i => graft.model.ResolvesTo(s"e$i", s"canon${i % 11}"))
            .toDS().localCheckpoint(true)
          graft.operators.Lift.resolvedTriples(triples, res).toDF()
        },
        // both canonicalization hops must be broadcast hash joins; the only
        // exchange left is the final (subj, pred, obj) dedup
        Seq("BroadcastHashJoin"),
        "the per-entity mapping broadcasts; triples never sort-merge",
        mustNotContain = Seq("SortMergeJoin")),

      Check("ER sparse probe is a CollectLimit over the parallel map",
        s => {
          import s.implicits._
          // a parquet-backed table like the catalog's `embeddings` (a local
          // relation would fold the limit into the data at plan time)
          val e = new graft.extract.HashEmbedder(64, 42)
          val dir = java.nio.file.Files.createTempDirectory("graft-probe-audit").toString
          (0 until 200).map(i => (s"e$i", e.embed(s"token$i other${i % 7}")))
            .toDF("entity_id", "embedding").repartition(4)
            .write.mode("overwrite").parquet(dir)
          graft.resolve.Resolution.sparseProbe(s.read.parquet(dir), maxRows = 1000).toDF()
        },
        // the limit must stay ABOVE the sparsifying map: limit-before-map
        // plans a GlobalLimit behind a single-partition exchange that
        // funnels the whole dense table through one task (+38% chain wall)
        Seq("CollectLimit", "MapPartitions"),
        "the probe's limit is terminal; sparsifying stays a parallel narrow map",
        mustNotContain = Seq("GlobalLimit", "Exchange SinglePartition")),

      Check("as-of join is one window pass, never a nested-loop join",
        s => graft.SparkEntry.queries("q_asof_join")(s, sfDir),
        // the union+carry-forward formulation must plan as Window over ONE
        // key exchange — a theta join (r.ts <= l.ts) would plan as
        // BroadcastNestedLoopJoin and die at scale
        Seq("Window"),
        "asof = union + running last() inside the key shuffle",
        mustNotContain = Seq("BroadcastNestedLoopJoin", "CartesianProduct")),

      Check("range join buckets to an equi-join, never a nested loop",
        s => graft.SparkEntry.queries("q_range_join")(s, sfDir),
        // the grid-cell explode turns point-in-interval into an equi-join on
        // (key, cell) with a residual between filter
        Seq("Join"),
        "interval containment joins on (key, grid cell)",
        mustNotContain = Seq("BroadcastNestedLoopJoin", "CartesianProduct")),

      Check("winnowing stats are a pure narrow pass",
        s => graft.SparkEntry.queries("q_winnow")(s, sfDir),
        // per-doc selection is a row-local function: the whole stats query
        // must plan as scan→project with NO exchange of any kind
        Seq("Project"),
        "winnowing never shuffles; selection is per-row",
        mustNotContain = Seq("Exchange", "Join", "Window")),

      Check("co-occurrence: partial agg + total-ordered head",
        s => graft.SparkEntry.queries("q_cooc_pairs")(s, sfDir),
        // the pair explode feeds a map-side-combined HashAggregate and the
        // head is TakeOrderedAndProject, never a global sort + limit
        Seq("partial_count", "TakeOrderedAndProject"),
        "pair counts combine map-side; top-n avoids the global sort",
        mustNotContain = Seq("CartesianProduct")),

      Check("blocklist filter is a pure narrow pass",
        s => graft.SparkEntry.queries("q_blocklist")(s, sfDir),
        // the dictionary rides the plan as a literal array: scan→project,
        // no exchange, no join — the dictionary must NEVER become a join side
        Seq("Project"),
        "the dictionary is plan-literal; the corpus never shuffles",
        mustNotContain = Seq("Exchange", "Join")),

      Check("SQ8 encode is a narrow pass over literal stats",
        // sqStats' collect happens at build time (bounded by dim); the
        // RETURNED encode plan must be a pure projection
        s => graft.SparkEntry.queries("q_sq8")(s, sfDir),
        Seq("Project"),
        "min/max stats are plan literals; the encode never shuffles",
        mustNotContain = Seq("Exchange", "Join")),

      Check("JL projection is a narrow pass over the literal sign table",
        s => graft.SparkEntry.queries("q_rp")(s, sfDir),
        Seq("Project", "Generate"),
        "the sign matrix is a plan literal; project+posexplode never shuffle",
        mustNotContain = Seq("Exchange", "Join")),

      Check("weighted sample is TakeOrderedAndProject over a narrow key",
        s => graft.SparkEntry.queries("q_weighted_sample")(s, sfDir),
        // the A-ES race key is a per-row codegen column; selection must be
        // the streaming top-n operator, never a global sort + limit
        Seq("TakeOrderedAndProject"),
        "the race never globally sorts; one top-n pass",
        mustNotContain = Seq("Exchange rangepartitioning", "Join")),

      Check("z-order key derivation is a pure narrow pass",
        s => graft.SparkEntry.queries("q_zorder")(s, sfDir),
        // min/max stats are collected at build time; the returned key
        // computation is scan→project (cluster() adds ONE range exchange
        // by design — that is the layout step, not this query)
        Seq("Project"),
        "grid cells + interleave are plan literals over the scan",
        mustNotContain = Seq("Exchange", "Join", "Window"))
    )

    var failures = 0
    checks.foreach { c =>
      val plan = c.df(spark).queryExecution.executedPlan.toString
      val missing = c.mustContain.filterNot(plan.contains) ++
        c.mustNotContain.filter(plan.contains).map("FORBIDDEN " + _)
      val status = if (missing.isEmpty) "OK  " else { failures += 1; "FAIL" }
      println(s"[$status] ${c.name} — ${c.note}")
      missing.foreach(m => println(s"       missing: $m"))
      if (missing.nonEmpty || args.contains("--verbose")) {
        println(plan.linesIterator.take(40).map("       | " + _).mkString("\n"))
      }
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
    println(s"all ${checks.size} plan checks passed")
  }
}
