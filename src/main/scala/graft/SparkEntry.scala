package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.chunk.CharacterChunker
import graft.corpus.CorpusSynth
import graft.functions.Normalize
import graft.model._
import graft.operators.{Dedup, GraphAssembly, Similarity, TextStats, Winnow}
import graft.pipeline.{InMemoryStages, Pipeline}
import graft.resolve.Resolution
import graft.retrieval.{Retrieval, RetrieverDriver}

/** Driver contract — the queryable surface of the engine.
  *
  * Two query families:
  *   - `q_*`  run over the driver's parquet tables in `sfDir` and carry a
  *     DuckDB oracle in [[oracleSql]] (full row/schema/hash compare);
  *   - `kg_*` run the KG-construction stages (SURVEY.md §2) over the
  *     deterministic synthesized web corpus (the pipeline's own input shape,
  *     BASELINE.json input_hint) — not expressible as ANSI SQL over the
  *     sfDir tables, so they are rows-only checked here and exactly checked
  *     by the ScalaTest golden specs.
  *
  * Every aggregate/computed column is aliased identically in the Spark code
  * and the oracle SQL (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  // ------------------------------------------------------------- helpers

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val processIdUdf = udf(Normalize.processId _)

  /** (doc_id, h): FNV-1a hash of each 5-token shingle of the lowercased
    * token stream — the KMV sketch universe. The \u0001 joiner and the
    * slice bounds are mirrored verbatim in the DuckDB oracles (chr(1),
    * tk[i:i+4]); fingerprint64 is char-for-char reproducible there.
    */
  private def kmvShingleHashes(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(tk) >= 5
             THEN transform(sequence(1, size(tk) - 4),
                    i -> concat_ws(char(1), slice(tk, i, 5)))
             ELSE CAST(array() AS ARRAY<STRING>) END""")).as("g"))
      .select(col("doc_id"), graft.operators.TextStats.fingerprintCol(col("g")).as("h"))

  /** Documents text with deterministically planted PII (the sfDir corpus has
    * none): emails on doc_id%3==0, +CC phones on %5==0, dotted-quad IPv4 on
    * %7==0. Pure string arithmetic on doc_id so the DuckDB oracle builds the
    * byte-identical input.
    */
  private def piiPlantedText: Column = {
    val d = col("doc_id")
    concat(
      col("text"),
      when(pmod(d, lit(3)) === 0,
        concat(lit(" Contact user"), d.cast("string"),
          lit("@mail.example.com for details."))).otherwise(lit("")),
      when(pmod(d, lit(5)) === 0,
        concat(lit(" Call +1 555-"), lpad(pmod(d, lit(1000)).cast("string"), 3, "0"),
          lit("-0199 today."))).otherwise(lit("")),
      when(pmod(d, lit(7)) === 0,
        concat(lit(" Origin 10."), pmod(d, lit(256)).cast("string"), lit(".0."),
          pmod(d, lit(100)).cast("string"), lit(" logged."))).otherwise(lit("")))
  }

  /** Documents text with deterministically planted accents, digits, and
    * whitespace variety (the sfDir corpus is pure ASCII): precomposed
    * Latin-1 accents, a decomposed combining-acute sequence (e + U+0301 --
    * NFC and NFD inputs must normalize identically), the doc_id digits, a tab
    * and a double space. Pure string arithmetic on doc_id so the DuckDB
    * oracle builds the byte-identical input.
    */
  private def accentPlantedText: Column =
    concat(
      col("text"),
      lit(" Caf\u00e9 N\u00daMERO "), col("doc_id").cast("string"),
      lit(" R\u00c9SUM\u00c9S na\u00efve fa\u00e7ade \u00dcber 42, e\u0301clair.\tEnd  line"))

  /** Multi-line planted input for the C4 cleaning rules (the sfDir docs are
    * single-line): line 1 = the doc text with a terminal dot, then lines
    * exercising every rule — short lines (%2), javascript boilerplate (%3),
    * lorem-ipsum pages (%11), code-brace pages (%13).
    */
  private def c4PlantedText: Column = {
    val d = col("doc_id")
    concat(
      col("text"), lit(".\n"),
      when(pmod(d, lit(2)) === 0, lit("This line has five proper words."))
        .otherwise(lit("too short")), lit("\n"),
      when(pmod(d, lit(3)) === 0, lit("Please enable JavaScript to view the comments."))
        .otherwise(lit("Another complete sentence sits right here.")), lit("\n"),
      when(pmod(d, lit(11)) === 0, lit("lorem ipsum dolor sit amet paragraph text."))
        .otherwise(lit("Final sentence line with many words too.")),
      when(pmod(d, lit(13)) === 0, lit("\nvar x = { a: 1 };")).otherwise(lit("")))
  }

  /** Deterministic Common-Crawl-style URL per document, exercising every
    * normalization rule: scheme variants (%2), upper-cased hosts (%7),
    * www. prefixes (%4), subdomain split (news/blog on %2), trailing
    * slashes (%3), tracking params + param order (%6), fragments (%9).
    * Collision design: url_norm is a pure function of doc_id mod 120 (and
    * source = src{doc_id%20} divides it), so at 500 sf0.01 docs every
    * canonical URL has 4-5 claimants — real dedup work with an exact oracle.
    */
  private def plantedUrlCol: Column = {
    val d = col("doc_id")
    val hostBase = concat(
      when(pmod(d, lit(2)) === 0, lit("news.site")).otherwise(lit("blog.site")),
      pmod(d, lit(8)).cast("string"), lit(".org"))
    val host = when(pmod(d, lit(7)) === 0, upper(hostBase)).otherwise(hostBase)
    concat(
      when(pmod(d, lit(2)) === 0, lit("https://")).otherwise(lit("http://")),
      when(pmod(d, lit(4)) === 0, lit("www.")).otherwise(lit("")),
      host,
      lit("/"), col("source"), lit("/page"), pmod(d, lit(12)).cast("string"),
      when(pmod(d, lit(3)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(d, lit(6)) === 0,
          concat(lit("?utm_source=feed&ref="), pmod(d, lit(5)).cast("string")))
        .when(pmod(d, lit(6)) === 1,
          concat(lit("?ref="), pmod(d, lit(5)).cast("string"), lit("&utm_campaign=x")))
        .when(pmod(d, lit(6)) === 2,
          concat(lit("?ref="), pmod(d, lit(5)).cast("string")))
        .otherwise(lit("")),
      when(pmod(d, lit(9)) === 0, concat(lit("#sec"), pmod(d, lit(3)).cast("string")))
        .otherwise(lit("")))
  }

  /** Memoized stage graphs: ~20 kg_* queries share one corpus pipeline, so
    * without this Verify rebuilt (and localCheckpoint-pinned) the full stage
    * graph once PER QUERY — ~20x the work and an unbounded block-manager
    * leak across the 55-query run (the likely cause of kg_gate — the last
    * ListMap entry — silently missing from CORRECTNESS_r02). Keyed by
    * session so Bench's fresh-session runs never share state.
    */
  private val kgCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, CorpusSynth.Config), InMemoryStages]

  /** The pipeline's full-build stage list over `cfg`, held in memory (no
    * table writes — Verify persists results).
    */
  def kgStages(s: SparkSession, cfg: CorpusSynth.Config): InMemoryStages =
    kgCache.getOrElseUpdate((s, cfg), Pipeline.inMemory(s, cfg))

  /** The PINNED corpus every digest-gated kg_* query runs over (r4: the 20
    * formerly rows-only kg_* queries now emit a one-row content digest over
    * this corpus, so their oracle constants hold wherever Verify runs —
    * same pattern as kg_gate / kg_content_gate). 1500 pages = the sf0.01
    * tier the driver verifies at.
    */
  private def pinnedKg(s: SparkSession): InMemoryStages =
    kgStages(s, CorpusSynth.Config(nPages = 1500, nClusters = 60))

  /** Simple directed graph view of the resolved KG (distinct (subj, obj),
    * self-loops dropped) — the edge table the canned graph statistics
    * (kg_graph_stats / kg_pagerank_top / kg_bfs_hops) run over.
    */
  private def kgSimpleEdges(st: InMemoryStages): DataFrame =
    st.read("resolved_triples")
      .select(col("subj").as("src"), col("obj").as("dst"))
      .where(col("src") =!= col("dst"))
      .dropDuplicates("src", "dst")

  /** (community_id, iteration, description) of every community
    * `Summarize.describeAll` described, read back from the communities table.
    */
  private def kgCommunityDescriptions(st: InMemoryStages): DataFrame =
    st.read("communities").where(col("description").isNotNull)
      .select("community_id", "iteration", "description")

  /** Louvain level `level`'s (child_id, community_id) membership: in_community
    * at level 1, above it the has_parent rows whose child is a community of
    * the level below.
    */
  private def kgMembership(st: InMemoryStages, level: Int): DataFrame =
    if (level == 1) st.read("in_community").toDF("child_id", "community_id")
    else st.read("has_parent")
      .join(st.read("communities").where(col("iteration") === level - 1), "community_id")
      .select(col("community_id").as("child_id"), col("parent_id").as("community_id"))

  /** Every community with its description, "" where none — the retrievers'
    * community table.
    */
  private def kgCommunities(st: InMemoryStages): DataFrame =
    st.read("communities").na.fill("", Seq("description"))

  /** The typed GSQL edge set the hybrid retrievers traverse. */
  private def kgTypedEdges(st: InMemoryStages): DataFrame =
    Retrieval.typedEdges(st.read("triples"), st.read("mentions"), st.read("chunks"))
      .localCheckpoint(true)

  /** Entity-vertex seeds of the hybrid retrievers: the first two subjects. */
  private def kgTripleSeeds(st: InMemoryStages): Seq[String] =
    st.read("triples").orderBy(col("subj")).limit(2)
      .select(col("subj")).collect().map(r => Retrieval.EntityPrefix + r.getString(0))
      .toSeq.distinct

  /** One (table_name, n_rows, cols, digest) row pinning a stage table's full
    * content: order-independent sum of per-row xxhash64 over every
    * deterministic column (floats/doubles excluded — embeddings and weights
    * are pinned separately by the kg_eval / kg_modularity gates). Column
    * canonicalization is type-directed so the digest is partition- and
    * session-invariant: binary → base64, timestamp → epoch micros, arrays →
    * JSON, everything else → string cast; NULL → a sentinel no real value
    * produces. Sum runs in decimal(38,0) (|xxhash64| < 2^63 ⇒ no overflow
    * below 10^19 rows) so ANSI mode cannot throw.
    */
  private def contentDigest(name: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    def keep(dt: DataType): Boolean = dt match {
      case FloatType | DoubleType => false
      case ArrayType(et, _) => keep(et)
      case _ => true
    }
    val kept = df.schema.fields.filter(f => keep(f.dataType)).sortBy(_.name)
    val canon = kept.map { f =>
      val c = col(f.name)
      val v = f.dataType match {
        case BinaryType => base64(c)
        case TimestampType => unix_micros(c).cast("string")
        case _: ArrayType => to_json(c)
        case _ => c.cast("string")
      }
      coalesce(v, lit("\u0000NULL"))
    }
    df.select(xxhash64(canon: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")).cast("string").as("digest"))
      .select(lit(name).as("table_name"), lit(kept.map(_.name).mkString(",")).as("cols"),
        col("n_rows"), col("digest"))
  }

  /** Deterministic probe vector for the vector-search queries: the same
    * embedder the pipeline uses, applied to a fixed query text.
    */
  private def kgProbeVec(s: SparkSession): Array[Float] =
    new graft.extract.HashEmbedder(1536, 42).embed("works at corporation technology")

  /** Canned completion backend for the Q7 retriever-driver gate — routes on
    * the distinguishing phrase of each reference prompt template (the same
    * dispatch the drivers exercise against a real provider), with
    * corpus-relevant candidates so every path retrieves nonempty context.
    * The answer step hashes its full prompt, so the pinned response strings
    * witness the exact assembled prompt (question + retrieved sources).
    */
  private object DriverLlm extends graft.extract.LlmClient {
    def complete(prompt: String): String =
      if (prompt.contains("generating 10 new questions"))
        """{"candidates": [
            {"candidate": "works at corporation technology", "quality_score": 90},
            {"candidate": "technology corporation employees", "quality_score": 70}]}"""
      else if (prompt.contains("extracting key terms"))
        """{"candidates": [
            {"candidate": "corporation", "quality_score": 95},
            {"candidate": "technology", "quality_score": 80}]}"""
      else if (prompt.contains("writing an example of a document"))
        "founded the corporation technology group"
      else if (prompt.contains("generating an answer to the question below using the data provided")) {
        // community scoring map step: candidate + score derived from the
        // context, so ranking is deterministic and context-sensitive
        val h = scala.util.hashing.MurmurHash3.stringHash(prompt, 7)
        s"""{"answer": "cand:${Integer.toHexString(h)}", "quality_score": ${math.abs(h) % 101}}"""
      } else if (prompt.contains("Extract a knowledge graph"))
        // entity_rel driver extracts seeds from the QUESTION; these ids/types
        // exist in the synthesized corpus after normalization
        """{"nodes": [{"id": "pokube corporation", "node_type": "org", "definition": "d"}],
            "rels": [{"source": "pokube corporation", "target": "posube rosube",
                      "relation_type": "works at", "definition": "d"}]}"""
      else if (prompt.startsWith("Answer this question:"))
        "ANSWER:" + Integer.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(prompt, 42))
      else "{}"
  }

  /** Deterministic clustered vectors (unit centers + gaussian noise) —
    * the planted-structure corpus for the IVF recall gate. Seeded
    * java.util.Random is spec-fixed, so rows are identical across JVMs.
    */
  private def clusteredVecs(s: SparkSession, nClusters: Int, perCluster: Int,
      dim: Int, seed: Long): DataFrame = {
    import s.implicits._
    s.range(nClusters.toLong * perCluster).map { i =>
      val c = (i % nClusters).toInt
      val crng = new scala.util.Random(seed * 7919 + c)
      val center = Array.fill(dim)(crng.nextGaussian().toFloat)
      val vrng = new scala.util.Random(seed * 104729 + i)
      val v = center.map(x => x + 0.35f * vrng.nextGaussian().toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  /** Shared recall-gate harness for the PQ family: the clustered gate
    * corpus, the residual model at the gate setting, and recall@10 of the
    * supplied approximate scan vs the exact inner-product top-10, pinned
    * ≥ 0.8. One definition so the two gates can never silently measure
    * different setups.
    */
  private def pqRecallGate(s: SparkSession)(
      approx: (DataFrame, DataFrame, operators.Pq.ResidualModel) => DataFrame): DataFrame = {
    val corpus = clusteredVecs(s, nClusters = 40, perCluster = 125, dim = 64, seed = 7)
      .localCheckpoint(true)
    val qs = corpus.where(col("vec_id") % 500 === 0)
    val rp = operators.Pq.ResidualParams(coarseK = 64, m = 16, k = 256, iters = 5)
    val model = operators.Pq.trainResidual(corpus, rp)
    val codes = operators.Pq.encodeResidual(corpus, model).localCheckpoint(true)
    val app = approx(qs, codes, model).select(col("query_id"), col("neighbor_id"))
    val exact = operators.Pq.exactDotTopK(corpus, qs, topK = 10)
      .select(col("query_id"), col("neighbor_id"))
    val hitCounts = app.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    val perQuery = qs.select(col("vec_id").cast("long").as("query_id"))
      .join(hitCounts, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
    perQuery.agg(
      count(lit(1)).cast("long").as("n_queries"),
      (sum(col("hits")).cast("double") / (count(lit(1)) * 10) >= 0.8).as("recall_ok"))
  }

  /** Flagship: full KG construction (chunk → extract → resolve → lift) on a
    * small deterministic corpus; returns the canonical triple table.
    */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.inMemory(spark, CorpusSynth.Config(nPages = 120, nClusters = 16))
      .read("resolved_triples")

  // ------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(

    // ---- relational core (SURVEY.md §2.10 crosswalk) ----

    "q_agg_pricing" -> ((s, d) => {
      // Exact partition-order-free float sums WITHOUT decimal aggregation:
      // the inputs are fixed-scale (2dp, verified max |x*100 - round(x*100)|
      // < 1e-9 across every float column), so round(x*100)::long recovers the
      // exact scaled integer and a plain LONG sum is both exact and codegen'd.
      // r2 used decimal(18,6) sums — correct but 4x slower (sum(decimal)
      // widens past precision 18, leaving compact-long Decimal for BigDecimal
      // accumulation; q_agg_pricing 2.9s → 11.6s in the driver bench).
      // The oracle SQL applies the identical scaled-integer arithmetic.
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(round(col("l_quantity") * 100).cast("long")).cast("double") / 100.0).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") / 100.0).as("sum_price"),
          round(sum(round(col("l_discount") * 100).cast("long")).cast("double") / 100.0
            / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
    }),

    "q_multi_join_revenue" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        // 2dp × 2dp = exact 4dp product → scale by 10^4 (double error ~1e-7
        // of an integer, round() recovers it exactly); long sum, /1e4 at end
        .agg(round(sum(round((col("l_extendedprice") * (lit(1) - col("l_discount"))) * 10000)
            .cast("long")).cast("double") / 10000.0, 2).as("revenue"),
          count(lit(1)).as("cnt"))
    }),

    "q_topk_orders" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, d, "customer")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"), col("c_acctbal"))
    }),

    "q_anti_join" -> ((s, d) => {
      // users who clicked but never purchased (C6 Check_Nonexistent_Vertices
      // shape: candidate ids anti-joined against an existing set)
      val ev = t(s, d, "events")
      ev.where(col("event_type") === "click").select(col("user_id")).distinct()
        .join(ev.where(col("event_type") === "purchase" && col("value") > 90)
            .select(col("user_id")),
          Seq("user_id"), "left_anti")
    }),

    "q_semi_join" -> ((s, d) =>
      t(s, d, "supplier")
        .join(t(s, d, "lineitem").where(col("l_quantity") > 45),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))),

    "q_set_ops" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.where(col("o_orderstatus") === "O").select(col("o_custkey")))
    }),

    "q_distinct_count" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))),

    "q_date_agg" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("cnt"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0).as("total"))),

    "q_event_windows" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0).as("sum_value"))),

    "q_sessionize" -> ((s, d) =>
      graft.operators.Events.sessionize(t(s, d, "events"), gapSeconds = 1800)),

    // Hopping (sliding) windows via Spark's native window() generator —
    // each event lands in exactly 4 of the 1h/15min windows, one explode +
    // one partial-agg shuffle. The oracle replays the window algebra from
    // epoch seconds (both engines' buckets align: epoch0 ≡ 0 mod 900).
    "q_hopping_windows" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("cnt"), col("sum_value"))),

    // As-of join: each purchase attributed to the same user's latest click
    // at-or-before it (union + carry-forward window — ONE key shuffle; the
    // naive theta-join plans as BroadcastNestedLoop). Ties on click ts break
    // to max event_id; the oracle pins identical semantics via QUALIFY.
    "q_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofJoin(purchases, clicks, Seq("user_id"),
        leftTs = "ts", rightTs = "ts",
        rightPayload = Seq("ts", "value"), tieBreak = "event_id")
    }),

    // Range join: clicks landing inside the hour after each purchase, via
    // grid-bucketed interval join (equi-shuffle on (user, hour-cell) + in-
    // plan cell-budget guard), aggregated per purchase. The oracle is the
    // exact inequality join DuckDB can afford at sf scale.
    "q_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("w_start"), (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      graft.operators.Temporal.rangeJoin(clicks, windows, Seq("user_id"),
          pointTs = "ts", startCol = "w_start", endCol = "w_end", gridSeconds = 3600L)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_clicks"), max(col("ts")).as("last_click_ts"))
    }),

    "q_rollup" -> ((s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("cnt"), col("total"))),

    "q_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(round(avg(col("k")), 6).as("avg_k"), max(col("k")).as("max_k"))),

    // ---- normalization / chunking / text ops over documents ----

    "q_process_id" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), processIdUdf(col("p_name")).as("norm_id"))),

    "q_chunk_character" -> ((s, d) => {
      import s.implicits._
      val chunker = new CharacterChunker(100, 20)
      t(s, d, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          chunker.chunk(text).iterator.zipWithIndex.map { case (c, i) =>
            (id, i.toLong, c)
          }
        }
        .toDF("doc_id", "idx", "chunk")
    }),

    "q_keyword_search" -> ((s, d) => {
      // reference Keyword_Search (Q1): per-keyword substring hit count,
      // ANY semantics, top-k by hits (retrievers/Keyword_Search.gsql:28-48)
      val kws = Seq("spark table", "merge", "vector")
      val doc = t(s, d, "documents")
      val hits = kws.map(k => when(col("text").contains(k), 1L).otherwise(0L))
        .reduce(_ + _)
      doc.select(col("doc_id"), hits.as("hits"))
        .where(col("hits") > 0)
        .orderBy(col("hits").desc, col("doc_id"))
        .limit(20)
    }),

    // BM25 lexical top-10 for three fixed queries. The ranked ids are
    // hash-compared against an exact DuckDB replica; the ranking orders by
    // score rounded to 1e-9 (then doc_id) so cross-engine ulp noise in
    // ln/avg/sum cannot flip a rank — scores themselves stay out of the
    // gated output (floats never survive an exact cross-engine compare).
    "q_bm25" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        "q1" -> "customer", "q1" -> "join",
        "q2" -> "vector", "q2" -> "stream", "q2" -> "window",
        "q3" -> "spark").toDF("query_id", "term")
      Retrieval.bm25TopK(t(s, d, "documents"), queries, k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
    }),

    // hybrid retrieval: RRF fusion of the BM25 lexical top-10 and the
    // brute-force cosine top-10 (embeddings vec_id 0..2 as the query
    // vectors for q1..q3, ids shared with documents). Exact DuckDB oracle.
    "q_rrf_fusion" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        "q1" -> "customer", "q1" -> "join",
        "q2" -> "vector", "q2" -> "stream", "q2" -> "window",
        "q3" -> "spark").toDF("query_id", "term")
      val lex = Retrieval.bm25TopK(t(s, d, "documents"), queries, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, d, "embeddings")
      val vec = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), k = 10)
        .select(concat(lit("q"), col("query_id") + 1).as("query_id"),
          col("neighbor_id").cast("string").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex.unionByName(vec), k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
    }),

    "q_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextStats.tokenCountCol(col("text")).as("n_tokens"))),

    "q_quality" -> ((s, d) =>
      TextStats.qualityMetrics(t(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
          col("mean_tok_len"), col("top_token_share"), col("quality_ok"))),

    "q_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextStats.langIdCol(col("text")).as("lang_pred"))),

    "q_repetition" -> ((s, d) =>
      TextStats.repetitionMetrics(t(s, d, "documents"))
        .select(col("doc_id"), col("n_lines"), col("dup_line_frac"),
          col("n_bigrams"), col("dup_bigram_frac"), col("repetition_ok"))),

    // vocabulary heavy hitters: top-100 tokens by tf with df, deterministic
    // (tf desc, token) cut — TakeOrderedAndProject, no global sort
    "q_vocab_topk" -> ((s, d) =>
      TextStats.termStats(t(s, d, "documents"), k = 100)),

    // Misra–Gries heavy-hitter sketch gate: the sketch's raw counters vary
    // with partitioning (legitimately — MG is a summary, not a total), but
    // its guarantees do NOT: never overestimate, error within the tracked
    // bound, err ≤ N/(k+1), and no token with true freq > N/(k+1) evicted.
    // The gate pins exactly those, plus the deterministic corpus totals.
    "q_mg_topk_gate" -> ((s, d) => {
      val k = 64
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .select(col("token"))
      val sk = toks
        .agg(graft.functions.FreqSketch.misraGries(k)(col("token")).as("r"))
        .select(col("r.err").as("err"), explode(col("r.items")).as(Seq("token", "est")))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("tru"))
      val totals = toks.agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_distinct"))
      sk.join(exact, Seq("token"), "right")
        .crossJoin(broadcast(totals))
        .agg(
          max(col("n_tokens")).as("n_tokens"),
          max(col("n_distinct")).as("n_distinct"),
          count(when(col("est") > col("tru"), 1)).as("n_overestimates"),
          count(when(col("est").isNotNull &&
            col("tru") - col("est") > col("err"), 1)).as("n_outside_bound"),
          count(when(col("tru") > col("n_tokens") / lit((k + 1).toDouble) &&
            col("est").isNull, 1)).as("n_heavy_missed"),
          (max(col("err")) <= max(col("n_tokens")) / lit((k + 1).toDouble))
            .as("err_within_bound"))
    }),

    // KMV (bottom-k) distinct sketch over 5-token shingles. The sketch
    // state is the k unsigned-smallest distinct FNV hashes OF THE SET —
    // partitioning/merge-order invariant — and the hash is DuckDB-
    // reproducible, so the oracle recomputes the ACTUAL kth hash and the
    // estimate to the bit, not just a tolerance band.
    "q_kmv_distinct" -> ((s, d) => {
      val k = 1024
      val h = kmvShingleHashes(t(s, d, "documents")).select(col("h"))
      h.agg(graft.functions.KmvSketch.kmv(k)(col("h")).as("r"),
          countDistinct(col("h")).as("exact_distinct"))
        .select(
          size(col("r.hashes")).cast("long").as("n_hashes"),
          element_at(col("r.hashes"), -1).as("kth_hash"),
          round(expr(
            s"""CASE WHEN size(r.hashes) < $k THEN CAST(size(r.hashes) AS DOUBLE)
                ELSE (${k - 1}.0 * 18446744073709551616.0) /
                  (CASE WHEN element_at(r.hashes, -1) >= 0L
                        THEN CAST(element_at(r.hashes, -1) AS DOUBLE)
                        ELSE CAST(element_at(r.hashes, -1) AS DOUBLE)
                             + 18446744073709551616.0 END) END"""), 3).as("est_distinct"),
          col("exact_distinct"),
          expr(
            s"""abs((CASE WHEN size(r.hashes) < $k THEN CAST(size(r.hashes) AS DOUBLE)
                ELSE (${k - 1}.0 * 18446744073709551616.0) /
                  (CASE WHEN element_at(r.hashes, -1) >= 0L
                        THEN CAST(element_at(r.hashes, -1) AS DOUBLE)
                        ELSE CAST(element_at(r.hashes, -1) AS DOUBLE)
                             + 18446744073709551616.0 END) END) - exact_distinct)
                <= 0.15 * exact_distinct""").as("est_ok"))
    }),

    // KMV crawl-overlap: Jaccard between the even- and odd-doc shingle
    // sets estimated from two independent sketches (never co-shuffling the
    // corpora) vs the exact hash-set Jaccard. Both the estimate and the
    // exact value are deterministic — full oracle compare.
    "q_kmv_overlap" -> ((s, d) => {
      val k = 1024
      val h = kmvShingleHashes(t(s, d, "documents"))
        .select(pmod(col("doc_id"), lit(2)).as("side"), col("h"))
      val exact = h.groupBy(col("h"))
        .agg(max(when(col("side") === 0, 1).otherwise(0)).as("in_a"),
          max(when(col("side") === 1, 1).otherwise(0)).as("in_b"))
        .agg(
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L)).as("inter"),
          count(lit(1)).as("uni"))
      val ska = h.where(col("side") === 0)
        .agg(graft.functions.KmvSketch.kmv(k)(col("h")).as("ra"))
      val skb = h.where(col("side") === 1)
        .agg(graft.functions.KmvSketch.kmv(k)(col("h")).as("rb"))
      val jac = udf((a: Seq[Long], b: Seq[Long]) =>
        graft.functions.KmvSketch.estimateJaccard(k, a, b))
      ska.crossJoin(skb).crossJoin(broadcast(exact))
        .select(
          round(jac(col("ra.hashes"), col("rb.hashes")), 3).as("est_jaccard"),
          round(col("inter").cast("double") / col("uni"), 6).as("exact_jaccard"),
          (abs(jac(col("ra.hashes"), col("rb.hashes")) -
            col("inter").cast("double") / col("uni")) <= 0.1).as("est_ok"))
    }),

    // ---- corpus curation (decontaminate / sample / bin / pack) ----

    // benchmark decontamination: docs with doc_id % 20 == 0 play the
    // held-out benchmark; every other doc sharing an 8-gram with them is
    // flagged with its distinct-hit count (broadcast semi-join on grams)
    "q_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      operators.Curation.decontaminate(
        docs.where(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(20)) === 0), n = 8)
    }),

    // deterministic per-language sampling by FNV hash bucket — identical
    // sample on every run/engine (the reason pipelines sample by hash)
    "q_sample_stratified" -> ((s, d) =>
      operators.Curation.stratifiedSample(
          t(s, d, "documents"), "lang", "doc_id",
          Map("en" -> 80, "zh" -> 25), defaultPct = 50)
        .select(col("doc_id"), col("lang"), col("bucket"))),

    // C4-style heuristic cleaning (Raffel et al. 2020 §2.2) over planted
    // multi-line pages — full row/hash compare of line counts, doc verdicts
    // and cleaned text against the DuckDB rule replica
    "q_c4_clean" -> ((s, d) =>
      operators.Curation.c4Clean(
        t(s, d, "documents").select(col("doc_id"), c4PlantedText.as("text")))),

    // C4 badwords rule: dictionary blocklist over whitespace tokens —
    // per-doc flag counts, the first offending token (audit sample), and
    // the keep verdict; the dictionary rides the plan as a literal array
    // (one narrow pass, zero shuffles)
    "q_blocklist" -> ((s, d) =>
      operators.Curation.blocklistFilter(
        t(s, d, "documents"), Seq("slow", "merge", "stream"))),

    // asymmetric containment join (quote/subset detection — near-zero
    // jaccard pairs that symmetric thresholds can never find): ordered
    // pairs with |S(src)∩S(dst)|/|S(src)| ≥ 0.6
    "q_containment" -> ((s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), w = 3, threshold = 0.6)),

    // exact order statistics by value bisection (no sort, no approx): the
    // five exact quantiles of lineitem price-cents, each found in ~40
    // count passes — the oracle sorts outright and must agree to the cent
    "q_exact_quantiles" -> ((s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
      val cents = floor(col("l_extendedprice") * 100).cast("long")
      val n = li.where(col("l_extendedprice").isNotNull).count()
      val ks = Seq(1L, (n + 1) / 2, n)
      ks.map(k => (k, operators.Selection.exactKth(li, cents, k)))
        .toDF("k", "value")
    }),

    // PPJoin prefix-filtered similarity self-join: COMPLETE jaccard ≥ 0.4
    // pair finding that only ever indexes/shuffles document PREFIXES — the
    // oracle is the pure exact threshold join (no filter modeling needed:
    // the prefix filter is provably lossless, and the hash compare proves
    // it held on this corpus)
    "q_ppjoin" -> ((s, d) =>
      Dedup.ppjoinPairs(t(s, d, "documents"), w = 3, threshold = 0.4)),

    // Z-order layout key (Morton interleave of exact integral grid cells —
    // the OPTIMIZE ZORDER BY primitive): every z-value recomputed exactly
    // by the oracle; the cluster()/skipping property is ZOrderSpec's
    "q_zorder" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (amn, amx) = operators.ZOrder.minMax(docs, "doc_id")
      val (bmn, bmx) = operators.ZOrder.minMax(docs, "n_chars")
      docs.select(col("doc_id"),
        operators.ZOrder.zValueCol(
          operators.ZOrder.normalized(col("doc_id"), amn, amx, 10),
          operators.ZOrder.normalized(col("n_chars"), bmn, bmx, 10), 10).as("z"))
    }),

    // A-ES weighted sampling without replacement: 100 of 500 docs weighted
    // by n_chars — the quality-weighted subsample; the rounded race key +
    // id tiebreak makes the exact winner set engine-reproducible
    "q_weighted_sample" -> ((s, d) =>
      operators.Curation.weightedSample(t(s, d, "documents"), n = 100,
          weightCol = "n_chars")
        .select(col("doc_id"), col("es_key"))),

    // temperature mixture resampling (α=0.5): per-language rate table,
    // then the deterministic ppm-hash sample it induces — flattens the
    // source distribution the way training-data mixes are rebalanced
    "q_temperature_rates" -> ((s, d) =>
      operators.Curation.temperatureRates(t(s, d, "documents"), "lang", targetTotal = 300)),

    "q_temperature_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val rates = operators.Curation.temperatureRates(docs, "lang", targetTotal = 300)
      operators.Curation.temperatureSample(docs, rates, "lang", "doc_id")
        .select(col("doc_id"), col("lang"))
    }),

    // CCNet-style LM perplexity bucketing: docs with doc_id % 5 == 0 play
    // the trusted reference slice (CCNet's Wikipedia), a per-language add-k
    // bigram LM scores every doc, and each language splits into
    // head/middle/tail terciles. The bucket boundary orders by the 1e-9-
    // rounded score (ties by doc_id) so cross-engine ulp noise in ln/sum
    // cannot flip a bucket; the float score stays out of the gated output.
    "q_lm_ppl_buckets" -> ((s, d) => {
      val docs = t(s, d, "documents")
      operators.Curation.lmPerplexityBuckets(
          docs, docs.where(pmod(col("doc_id"), lit(5)) === 0), nBuckets = 3)
        .select(col("doc_id"), col("lang"), col("n_bigrams"), col("ppl_bucket"))
    }),

    // DSIR data selection: English docs play the target distribution, all
    // docs the raw pool; hashed unigram+bigram bag models, add-1 smoothed
    // log-ratios, top-200 importance cut. Rank/selected only in the gated
    // output (ln noise absorbed by the shared round-9 before ranking).
    "q_dsir_select" -> ((s, d) => {
      val docs = t(s, d, "documents")
      operators.Curation.dsirWeights(docs, docs.where(col("lang") === "en"),
        selectK = 200)
    }),

    // per-language length deciles (curriculum/packing buckets)
    "q_quantile_bins" -> ((s, d) =>
      operators.Curation.quantileBins(
        t(s, d, "documents"), "lang", "n_chars", "doc_id", nBins = 10)),

    // shard-local sequence packing at a 2048-token budget
    "q_pack" -> ((s, d) =>
      operators.Curation.packContiguous(
        t(s, d, "documents"), "source", "doc_id", "text", budgetTokens = 2048)),

    // deterministic global shuffle into 8 training shards: FNV shard
    // assignment + within-shard (hash, id) positions — full per-doc oracle
    "q_shard_assign" -> ((s, d) =>
      operators.Curation.shuffleShards(
        t(s, d, "documents"), "doc_id", "text", nShards = 8)),

    // per-shard manifest (counts + order-sensitive xor-of-FNV digest) the
    // loader checks before trusting a shard — full oracle incl. the digest
    "q_shard_manifest" -> ((s, d) =>
      operators.Curation.shardManifest(
        operators.Curation.shuffleShards(
          t(s, d, "documents"), "doc_id", "text", nShards = 8), "doc_id")),

    // BPE tokenizer training on the corpus: the 30-merge table learned from
    // exact distributed word counts. Integer-only arithmetic with total-order
    // tie-breaks — identical on any partitioning/engine — so the learned
    // table itself is pinned (constant oracle, sf0.01 gate corpus)
    "q_bpe_merges" -> ((s, d) => {
      import s.implicits._
      operators.Bpe.train(t(s, d, "documents"), "text", nMerges = 30, maxWords = 8192)
        .map(m => (m.rank.toLong, m.left, m.right))
        .toDF("rank", "lhs", "rhs")
    }),

    // distributed encode with the table trained above: corpus-total word /
    // BPE-piece counts (pinned gate — a drifting encoder flips the sums)
    "q_bpe_encode_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = operators.Bpe.train(docs, "text", nMerges = 30, maxWords = 8192)
      operators.Bpe.encode(docs, "doc_id", "text", merges)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_pieces")).as("total_pieces"))
    }),

    // ---- web curation (PII redaction / URL canonicalization) ----

    // PII scrub over documents with deterministically planted emails /
    // phones / IPv4s (the sfDir corpus has none) — counts AND the fully
    // redacted text are hash-compared against a DuckDB regex replica
    // (patterns live in the RE2 ∩ Java subset precisely for this)
    "q_pii" -> ((s, d) =>
      operators.WebCuration.redactPii(
          t(s, d, "documents").select(col("doc_id"), piiPlantedText.as("text")))
        .select(col("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ips").cast("long").as("n_ips"),
          col("text_redacted"))),

    // CCNet text normalization over planted accents/digits/whitespace
    // (precomposed AND decomposed unicode forms): the FULL normalized text
    // is hash-compared against DuckDB's strip_accents(nfc_normalize(..))
    // + lower + digit/whitespace regex replica
    "q_ccnet_normalize" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), accentPlantedText.as("text"))
        .select(col("doc_id"),
          operators.WebCuration.ccnetNormalizeCol(col("text")).as("text_norm"))),

    // URL canonicalization: scheme forcing, host lowering, www-strip,
    // trailing-slash strip, tracking-param drop + param sort — full-table
    // hash compare of (raw, normalized, registered domain)
    "q_url_normalize" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), plantedUrlCol.as("url"))
        .select(col("doc_id"), col("url"),
          operators.WebCuration.normalizeUrlCol(col("url")).as("url_norm"),
          operators.WebCuration.registeredDomainCol(col("url")).as("domain"))),

    // crawl-frontier dedup: groups of documents whose URLs canonicalize to
    // the same resource (scheme/case/www/tracking-param/slash variants)
    "q_url_dedup" -> ((s, d) =>
      operators.WebCuration.urlDedupGroups(
        t(s, d, "documents").select(col("doc_id"), plantedUrlCol.as("url")))),

    // per-domain quota: keep the 10 longest docs per registered domain
    // (salted two-phase top-k — one hot domain never pins a single task);
    // exact integer ordering, verbatim SQL window replica
    "q_domain_quota" -> ((s, d) =>
      operators.WebCuration.domainQuota(
          t(s, d, "documents").select(col("doc_id"), plantedUrlCol.as("url"), col("n_chars")),
          k = 10)
        .select(col("domain"), col("rank").cast("long").as("rank"), col("doc_id"))),

    // per-registered-domain corpus stats (docs, distinct hosts, tokens)
    "q_domain_stats" -> ((s, d) =>
      operators.WebCuration.domainStats(
        t(s, d, "documents").select(col("doc_id"), plantedUrlCol.as("url"), col("text")))),

    // cross-document line dedup (CCNet-style boilerplate pass) over the
    // pinned multi-line KG page corpus — the sfDir documents are
    // single-line so the gate runs where the operator has work to do;
    // summary row pinned as a constant oracle
    "kg_line_dedup" -> ((s, d) => {
      val st = pinnedKg(s)
      operators.Curation.dedupLines(
          st.read("pages").select(lower(col("url")).as("doc_id"), col("text")))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_lines")).as("total_lines"),
          sum(col("n_lines_kept")).as("total_kept"),
          count(when(col("n_lines_kept") === 0, 1)).as("n_fully_boilerplate"))
    }),

    // triangle count over the high-quantity co-supply graph (suppliers
    // sharing an order at l_quantity > 49) — graph analytics with a REAL
    // SQL oracle: the 3-way edge self-join is exactly expressible in DuckDB
    "q_supplier_triangles" -> ((s, d) => {
      val hi = t(s, d, "lineitem").where(col("l_quantity") > 49)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val edges = hi.as("a").join(hi.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      operators.GraphAlgos.triangleCount(edges)
    }),

    // global clustering (transitivity) profile of the same co-supply graph:
    // exact wedge and closed-wedge integers (the coefficient is their
    // ratio) — fully SQL-recomputable, unlike most graph metrics
    "q_clustering" -> ((s, d) => {
      val hi = t(s, d, "lineitem").where(col("l_quantity") > 49)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val edges = hi.as("a").join(hi.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      operators.GraphAlgos.clusteringProfile(edges)
    }),

    // PageRank determinism gate: fixed planted graph (200 nodes, two affine
    // rings + every (i%10==1) node feeding hub 0; DEDUPED — the two affine
    // maps collide for i=33/133 and pageRank's contract is simple-graph
    // edges), 10 iterations in decimal(20,18). The constant oracle pins the
    // top-5 ranks to 9 dp — any arithmetic-order nondeterminism or formula
    // drift flips the hash.
    "q_pagerank_gate" -> ((s, d) => {
      import s.implicits._
      val edges = (0 until 200).flatMap { i =>
        Seq((i.toLong, ((i * 7 + 1) % 200).toLong), (i.toLong, ((i * 13 + 3) % 200).toLong)) ++
          (if (i % 10 == 1) Seq((i.toLong, 0L)) else Nil)
      }.distinct.toDF("src", "dst")
      operators.GraphAlgos.pageRank(edges, iterations = 10)
        .select(col("id"), round(col("rank").cast("double"), 9).as("pr"))
        .orderBy(col("pr").desc, col("id")).limit(5)
    }),

    // ---- dedup family over documents / embeddings ----

    // Approximate-aggregate gate: at 10^12 rows exact count-distinct and
    // exact percentiles are shuffle-bound; HLL++ and the Greenwald-Khanna
    // percentile sketch are the scale tools. The gate computes BOTH on the
    // same scan and pins the sketch error inside its configured bound
    // (rsd 0.02 → 10% is a 5σ envelope; percentile accuracy 10000 → rank
    // error 1e-4). Booleans only, so the constant oracle holds at any SF.
    "q_sketch_gate" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      li.agg(
          countDistinct(col("l_suppkey")).as("ex_s"),
          approx_count_distinct(col("l_suppkey"), 0.02).as("ap_s"),
          countDistinct(col("l_orderkey")).as("ex_o"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("ap_o"),
          expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("ap_m"),
          expr("percentile(l_extendedprice, 0.5)").as("ex_m"))
        .select(
          (abs(col("ap_s") - col("ex_s")) <= col("ex_s") * 0.1).as("cd_supp_ok"),
          (abs(col("ap_o") - col("ex_o")) <= col("ex_o") * 0.1).as("cd_order_ok"),
          (abs(col("ap_m") - col("ex_m")) <= col("ex_m") * 0.05).as("median_ok"))
    }),

    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(t(s, d, "documents"))),

    "q_dedup_prefix" -> ((s, d) => {
      val doc = t(s, d, "documents")
        .withColumn("pfx", substring(col("text"), 1, 50))
      Dedup.exactGroups(doc, "pfx").where(col("cnt") > 1)
    }),

    // per-class embedding centroids (mean-pool in sorted-id fold order —
    // bit-deterministic doubles): scalar projections hash-compared against
    // the DuckDB list_reduce replica
    "q_embed_centroids" -> ((s, d) =>
      graft.extract.Embeddings.centroids(
          t(s, d, "embeddings"), "label", "vec_id")
        .select(col("label"), col("n_vecs"), col("dim"), col("norm"), col("c0"))),

    // JL random projection 64→16 (FNV-sign Achlioptas matrix): every
    // projected component bit-compared against the DuckDB replica — it
    // recomputes the sign table from the same "j:i" FNV fingerprints and
    // folds the dot product in the same ascending-i order
    "q_rp" -> ((s, d) =>
      graft.extract.Embeddings.randomProject(t(s, d, "embeddings"), dim = 64, k = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "y")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("y"))),

    // Lee-et-al-style repeated-substring coverage: per-doc fraction of
    // token positions inside an 8-token window shared with another doc —
    // exact SQL recompute oracle (same tokenization, same interval union)
    "q_substring_dup" -> ((s, d) =>
      Dedup.substringDupStats(t(s, d, "documents"), windowTokens = 8)),

    // Winnowing fingerprint selection (Schleimer et al. SIGMOD'03 — MOSS):
    // per-doc selected-set stats. The oracle recomputes the selection
    // shingle-for-shingle in SQL: FNV-1a fold per 4-token shingle, then the
    // same windowed-min with the identical (unsigned hash, rightmost-pos)
    // tie-break via hu·2^20 + (2^20−1−pos) key packing.
    "q_winnow" -> ((s, d) =>
      Winnow.stats(t(s, d, "documents"), k = 4, w = 5)),

    // winnowed pair-finding: the inverted index shuffles only the ≈2/(w+1)
    // selected sample yet still catches every shared ≥(w+k−1)-token run; the
    // doc-frequency cap is mirrored exactly in the oracle SQL
    "q_winnow_pairs" -> ((s, d) =>
      Winnow.pairs(t(s, d, "documents"), k = 4, w = 5,
        minShared = 2, maxDocFreq = 100)),

    // skip-gram co-occurrence counts — the PMI/collocation substrate. Emits
    // exact integers only (pair + both unigram counts); ln is applied
    // downstream (TextStats.pmiCol) because it is not correctly-rounded
    // IEEE and would hash-differ across engines.
    "q_cooc_pairs" -> ((s, d) =>
      TextStats.coocPairs(t(s, d, "documents"),
        window = 3, minCount = 2, topN = 200)),

    // Count-Min sketch cells: the sketch is LINEAR (every cell a plain sum),
    // so the merged grid is bit-identical under any partitioning and the
    // oracle recomputes all depth×width cells exactly from token counts +
    // the same row-salted FNV hashes — a full-strength oracle where
    // Misra-Gries (order-dependent state) only supports guarantee gates.
    "q_cm_cells" -> ((s, d) => {
      val toks = t(s, d, "documents").select(explode(
        filter(split(lower(trim(col("text"))), "\\s+"), x => x =!= "")).as("tok"))
      toks.agg(graft.functions.CmSketch.countMin(4, 64)(col("tok")).as("cm"))
        .select(posexplode(col("cm.cells")).as(Seq("i", "cell_count")))
        .select(expr("CAST(i DIV 64 AS BIGINT)").as("r"),
          expr("CAST(i % 64 AS BIGINT)").as("c"), col("cell_count"))
    }),

    // incremental Bloom dedup gate: even-ids play the standing history,
    // odd-ids the new crawl batch, keyed on the 50-char prefix so the two
    // sides genuinely overlap. The bloom-filtered "new" set is reconciled
    // against the exact anti-join: zero false negatives (Bloom's one-sided
    // guarantee — a true duplicate is never re-admitted) and a bounded
    // false-positive drop count, pinned as a constant oracle
    "q_bloom_dedup" -> ((s, d) => {
      val keyed = t(s, d, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 50).as("text"))
      val history = keyed.where(pmod(col("doc_id"), lit(2)) === 0)
      val batch = keyed.where(pmod(col("doc_id"), lit(2)) =!= 0)
      val exactNew = batch
        .withColumn("digest", md5(col("text").cast("binary")))
        .join(history.select(md5(col("text").cast("binary")).as("digest")),
          Seq("digest"), "left_anti")
        .select(col("doc_id"), lit(1).as("e"))
      val bloomNew = Dedup.bloomNewDocs(history, batch, fpp = 0.01)
        .select(col("doc_id"), lit(1).as("b"))
      exactNew.join(bloomNew, Seq("doc_id"), "full_outer")
        .agg(
          sum(when(col("b") === 1 && col("e").isNull, 1).otherwise(0)).cast("long").as("n_false_neg"),
          sum(when(col("e") === 1 && col("b").isNull, 1).otherwise(0)).cast("long").as("n_dropped_new"),
          sum(when(col("e") === 1, 1).otherwise(0)).cast("long").as("n_exact_new"))
        .select(col("n_false_neg"),
          (col("n_dropped_new") <= lit(5) + col("n_exact_new") * 0.05).as("fp_ok"),
          (col("n_exact_new") > 0).as("has_new"))
    }),

    // PK point-lookup through the bucketed catalog layout (C2
    // StreamDocContent re-expressed, `Scan_For_Updates.gsql` content
    // fetch): the documents table is materialized hash-bucketed by PK,
    // then three ids are fetched via Catalog.lookup — bucket-dir pruning +
    // literal row-group pushdown, never a table scan. Oracle is the plain
    // SQL point SELECT, so the pruned path must return byte-identical rows
    "q_pk_lookup" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-lookup-q").toString
      val cat = new graft.pipeline.Catalog(dir, s)
      cat.writeBucketed("docs",
        t(s, d, "documents").select(col("doc_id"), col("text")), Seq("doc_id"), 32)
      import s.implicits._
      cat.lookup("docs", Seq(3L, 57L, 101L).toDF("doc_id"))
        .select(col("doc_id"), col("text"))
    }),

    // maxHamming=3 is the Manku/Jain/Sarma WWW'07 web-dedup operating point;
    // r1's maxHamming=12 degenerated the pigeonhole blocking (4-bit chunks →
    // near-quadratic candidate join, 59.6s of the bench) and is now rejected
    // by simhashPairs itself
    "q_dedup_simhash" -> ((s, d) =>
      // assertLossless: the DuckDB oracle is an exact uncapped O(N²) scan, so
      // the blocked plan asserts no bucket exceeds the cap on this corpus
      Dedup.simhashPairs(t(s, d, "documents"), maxHamming = 3, assertLossless = true)),

    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairs(t(s, d, "documents"),
        Dedup.MinHashParams(jaccardThreshold = 0.3))),

    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), w = 3, threshold = 0.3)),

    // dedup CLUSTER assignment: connected components over the exact-jaccard
    // pair graph, cluster id = min doc id in the component. The one CC
    // consumer with a REAL SQL oracle (DuckDB recursive-CTE transitive
    // closure) rather than a pinned gate — it hash-checks the min-label
    // semantics of Resolution.connectedComponents end-to-end.
    "q_dedup_clusters" -> ((s, d) => {
      // pinned once: CC's fused size-probe plus the ids/edges branches
      // would otherwise re-run the O(docs × shingles) jaccard join 2-3×
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"), w = 3, threshold = 0.3)
        .localCheckpoint(true)
      val ids = pairs.select(col("a").as("entity_id"))
        .unionByName(pairs.select(col("b").as("entity_id"))).distinct()
      Resolution.connectedComponents(ids,
          pairs.select(col("a").as("src"), col("b").as("dst")))
        .select(col("entity_id").as("doc_id"), col("component_id").as("cluster_id"))
    }),

    // survivor selection: one doc per duplicate cluster survives — argmax
    // token count, ties to the lexicographically smallest id; unclustered
    // docs pass through. Exact SQL oracle (recursive-CTE closure + window).
    "q_dedup_canonical" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, w = 3, threshold = 0.3)
        .localCheckpoint(true)
      val ids = pairs.select(col("a").as("entity_id"))
        .unionByName(pairs.select(col("b").as("entity_id"))).distinct()
      val clusters = Resolution.connectedComponents(ids,
          pairs.select(col("a").as("src"), col("b").as("dst")))
        .select(col("entity_id").as("doc_id"), col("component_id").as("cluster_id"))
      Dedup.canonicalDocs(docs, clusters, TextStats.tokenCountCol(col("text")))
    }),

    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextStats.fingerprintCol(col("text")).as("fp64"))),

    // ---- similarity search over embeddings ----

    "q_embed_neardup" -> ((s, d) =>
      Dedup.embeddingPairs(t(s, d, "embeddings"), threshold = 0.45)),

    // SemDeDup: within-cluster semantic dedup (clusters = the table's label
    // column, standing in for the IVF assignment), keep-the-outlier survivor
    // rule — full keep/drop decision table, exact DuckDB replica
    "q_semdedup" -> ((s, d) =>
      Dedup.semDedup(t(s, d, "embeddings"), threshold = 0.3)),

    "q_ann_bruteforce" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // r4: digest-gated like the kg_* family. The result is pivot-dependent
    // (not SQL-expressible — q_ann_ivf_recall pins the recall INVARIANT),
    // but it IS deterministic: pivots are seeded, Lloyd updates are exact
    // per-cluster means over deterministic assignments, and ties break on
    // id. The pinned constant is the sf0.01 capture (two independent JVMs,
    // identical digests) — the tier the driver verifies at; the float rank
    // scores are excluded from the hash by contentDigest.
    "q_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      contentDigest("q_ann_ivf",
        Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id")))
    }),

    // materialized-index parity gate: build the cluster-partitioned IVF
    // index once, then assert that serving FROM the index (pruned partition
    // scan) returns rows IDENTICAL to the in-memory path with the same
    // pivots, over the same planted-cluster corpus as the recall gate. One
    // constant row — any drift between the two paths flips the hash.
    "q_ann_ivf_indexed" -> ((s, d) => {
      import s.implicits._
      val corpus = clusteredVecs(s, nClusters = 40, perCluster = 125, dim = 64, seed = 7)
        .localCheckpoint(true)
      val qs = corpus.where(col("vec_id") % 500 === 0)
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-gate").toString
      graft.operators.IvfIndex.build(corpus, dir)
      val fromIndex = graft.operators.IvfIndex.topK(s, dir, qs, k = 5)
      val pivots = s.read.parquet(graft.operators.IvfIndex.pivotsPath(dir))
      val inMemory = Similarity.ivfTopK(corpus, qs, k = 5,
        pivotsOverride = Some(pivots))
      val diff = fromIndex.exceptAll(inMemory).count() + inMemory.exceptAll(fromIndex).count()
      Seq((fromIndex.count(), diff == 0L)).toDF("n_rows", "paths_identical")
    }),

    // recall gate: IVF top-k vs exact brute-force top-k, one row. The IVF
    // result itself is pivot-dependent (not SQL-expressible), so the oracle
    // pins the INVARIANT — aggregate recall@5 ≥ 0.9 — as a constant row
    // that hash-mismatches the moment recall degrades.
    //
    // Run over a deterministic CLUSTERED corpus, not the sfDir embeddings
    // table: that table is structureless (measured intra- vs cross-label
    // cosine 0.010 vs −0.003), and on isotropic random vectors ANY
    // list-pruning index information-theoretically degenerates to
    // recall ≈ probed fraction. Real text embeddings are strongly
    // clustered, which is the regime IVF exists for — the gate validates
    // the operator in that regime.
    "q_ann_ivf_recall" -> ((s, d) => {
      import s.implicits._
      // 5000 vectors = 10× the sfDir embeddings table; with √N ≈ 71 pivots
      // the expected cluster share is 125/5000 = 2.5% — no join key can
      // concentrate the corpus
      val corpus = clusteredVecs(s, nClusters = 40, perCluster = 125, dim = 64, seed = 7)
        .localCheckpoint(true)
      val qs = corpus.where(col("vec_id") % 500 === 0)
      val exact = Similarity.bruteForceTopK(corpus, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(corpus, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      // recall over ALL issued queries: left-join hit counts back onto the
      // full query set with hits coalesced to 0 — a zero-hit query must drag
      // the denominator, not vanish from it (the left_semi alone dropped it)
      val hitCounts = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      val perQuery = qs.select(col("vec_id").cast("long").as("query_id"))
        .join(hitCounts, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
      perQuery.agg(
        count(lit(1)).cast("long").as("n_queries"),
        (sum(col("hits")).cast("double") / (count(lit(1)) * 5) >= 0.9).as("recall_ok"))
    }),

    // PQ-ADC recall gate: residual product quantization (IVF-PQ, the
    // billion-scale ANN memory structure) — coarse-quantize, PQ-encode the
    // residual (1 coarse code + 16 byte-codes per 64-dim vector, a 14x
    // compression), rank by asymmetric-distance lookup sums, and pin
    // recall@10 vs the exact inner-product top-10. Flat PQ measured 0.5
    // here (within-cluster ordering lost); residual PQ measures 0.87 — the
    // gate pins ≥ 0.8. Same clustered-regime rationale as q_ann_ivf_recall;
    // the codebook is data-dependent so the result rows aren't
    // SQL-expressible — the invariant is (and the driver-side sample train
    // is fully deterministic, so 0.87 is an exact constant).
    "q_pq_recall" -> ((s, d) =>
      pqRecallGate(s)((qs, codes, model) =>
        operators.Pq.adcTopKResidual(qs, codes, model, topK = 10))),

    // IVF-ADC gate: the full probed composition — each query ADC-scans only
    // its 4 best coarse lists of 64 (a 16x candidate reduction) and recall
    // holds at 0.87 (probing is NOT the recall limiter on clustered data;
    // the residual quantizer is). Pins ≥ 0.8, same corpus as q_pq_recall.
    "q_ivfadc_recall" -> ((s, d) =>
      pqRecallGate(s)((qs, codes, model) =>
        operators.Pq.ivfAdcTopK(qs, codes, model, topK = 10, nProbe = 4))),

    // SQ8 scalar quantization (the int8-embeddings memory lever, FAISS SQ8):
    // per-dimension affine codes from corpus min/max stats. Every step is a
    // correctly-rounded IEEE double op in a mirrored order, so the oracle
    // recomputes the codes EXACTLY in SQL — full-strength per-vector digest
    // compare (count + plain and position-weighted code sums), not a gate.
    "q_sq8" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val stats = operators.Pq.sqStats(emb)
      operators.Pq.sqEncode(emb, stats)
        .select(col("vec_id"),
          size(col("codes")).cast("long").as("n_dims"),
          aggregate(col("codes"), lit(0L), (acc, c) => acc + c.cast("long"))
            .as("code_sum"),
          aggregate(transform(col("codes"), (c, i) => (i + 1).cast("long") * c.cast("long")),
            lit(0L), (acc, w) => acc + w).as("code_wsum"))
    }),

    // ---- multimodal plumbing (r4: digest-gated over the real-codec
    //      synthEncoded corpus — bmp/png/gif/wav genuinely decoded) ----

    // per-row features digest: every deterministic cell (id, modality,
    // format, byte size, decoded flag) is hashed, and the float features are
    // pinned via integer-scaled columns (bmp/png/gif/wav features are
    // integer-derived, so ×1000 rounding is exact). mp4 rows must show
    // decoded=false — the stub fallback stays observable inside the digest.
    "q_media_features" -> ((s, d) => {
      import s.implicits._
      contentDigest("q_media_features",
        graft.operators.Multimodal.extractFeaturesDecoded(
          graft.operators.Multimodal.synthEncoded(s, 300), dim = 64)
          .map(f => (f.media_id, f.modality, f.format, f.n_bytes, f.decoded,
            math.rint(f.features(0) * 1000).toLong,
            math.rint(f.features.map(_.toDouble).sum * 1000).toLong))
          .toDF("media_id", "modality", "format", "n_bytes", "decoded",
            "f0_x1000", "fsum_x1000"))
    }),

    // frame-sample digest: frame bytes ride as a binary column, so the
    // digest pins every sampled byte (base64'd inside contentDigest)
    "q_media_frames" -> ((s, d) =>
      contentDigest("q_media_frames", graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.synthEncoded(s, 300), everyMs = 5000L).toDF())),

    // digest gate over the deterministic synth media corpus (pinned n=300,
    // independent of sfDir): per-modality counts + exact byte/feature sums.
    // The decode path is synthetic but the whole Spark surface (schema,
    // mapPartitions batching, metadata-gated decode) is exercised; the
    // constant oracle row pins its output bit-for-bit.
    "q_media_gate" -> ((s, d) => {
      import s.implicits._
      val media = graft.operators.Multimodal.synth(s, 300)
      val feats = graft.operators.Multimodal.extractFeatures(media, dim = 64)
        .map(f => (f.modality, f.n_bytes,
          BigDecimal(f.features.map(_.toDouble).sum).setScale(3, BigDecimal.RoundingMode.HALF_UP)))
        .toDF("modality", "n_bytes", "feature_sum")
      feats.groupBy(col("modality"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_bytes")).as("total_bytes"),
          sum(col("feature_sum").cast("decimal(18,3)")).cast("double").as("sum_features"))
    }),

    // ---- KG construction stages (r4: digest-gated over the pinned corpus;
    //      each emits ONE (table_name, cols, n_rows, digest) row whose
    //      constant oracle pins every deterministic cell of the result) ----

    "kg_pages" -> ((s, d) => {
      import s.implicits._
      // digest also pins the north rule's per-row invariant: extract(html)
      // is byte-identical to the stored text for EVERY url (any false flips
      // the hash)
      contentDigest("kg_pages", pinnedKg(s).read("pages").as[Page]
        .map(p => (p.url, p.lang, graft.functions.HtmlText.extract(p.html) == p.text))
        .toDF("url", "lang", "text_byte_identical"))
    }),

    "kg_chunks" -> ((s, d) => contentDigest("kg_chunks", pinnedKg(s).read("chunks"))),

    "kg_triples_raw" -> ((s, d) =>
      contentDigest("kg_triples_raw", pinnedKg(s).read("triples"))),

    "kg_entities" -> ((s, d) =>
      contentDigest("kg_entities", pinnedKg(s).read("entities"))),

    "kg_mentions" -> ((s, d) =>
      contentDigest("kg_mentions", pinnedKg(s).read("mentions"))),

    "kg_resolves_to" -> ((s, d) =>
      contentDigest("kg_resolves_to", pinnedKg(s).read("resolves_to"))),

    "kg_resolved_triples" -> ((s, d) =>
      contentDigest("kg_resolved_triples", pinnedKg(s).read("resolved_triples"))),

    "kg_type_relationships" -> ((s, d) =>
      contentDigest("kg_type_relationships", pinnedKg(s).read("type_relationships"))),

    // one-row digest of every KG stage's cardinality over the PINNED
    // sf0.01-tier corpus (1500 pages — independent of sfDir, so the constant
    // oracle row stays valid wherever Verify runs). Catches silent row-loss
    // or -inflation in any stage the moment it happens. Placed early in the
    // map (r2: as the LAST entry it was silently absent from the driver's
    // correctness output — a late-run casualty, not a query failure).
    "kg_gate" -> ((s, d) => {
      import s.implicits._
      val st = pinnedKg(s)
      val Seq(chunks, entities, mentions, triples, resolves, resolved) =
        Seq("chunks", "entities", "mentions", "triples", "resolves_to", "resolved_triples")
          .map(st.read(_).count())
      Seq((chunks, entities, mentions, triples, resolves, resolved,
          st.read("communities").where(col("iteration") === 1).count(),
          st.read("modularity").count()))
        .toDF("n_chunks", "n_entities", "n_mentions", "n_triples_raw",
          "n_resolves_to", "n_resolved_triples", "n_l1_communities", "n_levels")
    }),

    // full-content digest of every KG stage table over the same pinned
    // corpus: where kg_gate pins cardinalities, this pins every
    // deterministic CELL (order-independent xxhash64 sum per table, floats
    // excluded). Any silent content drift in pages → chunks → extraction →
    // assembly → ER → lift → communities flips a digest even when row
    // counts are unchanged. Constant oracle row per table.
    "kg_content_gate" -> ((s, d) => {
      val st = pinnedKg(s)
      val tables: Seq[(String, DataFrame)] =
        Seq("pages", "chunks", "mentions", "entities", "resolves_to", "resolved_triples",
            "type_relationships").map(t => t -> st.read(t)) ++
          Seq("triples_raw" -> st.read("triples"),
            "community_descriptions" -> kgCommunityDescriptions(st)) ++
          (1 to st.read("modularity").count().toInt)
            .map(i => s"louvain_l${i}_membership" -> kgMembership(st, i))
      tables.map { case (n, df) => contentDigest(n, df) }
        .reduce(_ unionAll _).orderBy(col("table_name"))
    }),

    // ---- graph analytics over the resolved KG (tg_pagerank/tg_bfs/
    //      get_edge_stats — the reference's canned statistics surface) ----

    // shape summary of the simple resolved graph (constant oracle: the
    // pinned corpus makes every number deterministic)
    "kg_graph_stats" -> ((s, d) => {
      val st = pinnedKg(s)
      operators.GraphAlgos.degreeStats(kgSimpleEdges(st))
    }),

    // top-10 hubs by decimal PageRank on the resolved graph, pinned to 9 dp
    "kg_pagerank_top" -> ((s, d) => {
      val st = pinnedKg(s)
      operators.GraphAlgos.pageRank(kgSimpleEdges(st), iterations = 10)
        .select(col("id"), round(col("rank").cast("double"), 9).as("pr"))
        .orderBy(col("pr").desc, col("id")).limit(10)
    }),

    // personalized PageRank around the max-out-degree hub (the GraphRAG
    // "expand around the query entities" scorer): decimal arithmetic is
    // bit-deterministic, so the rounded top-10 is a pinned constant; the
    // seed itself is excluded (its teleport mass dwarfs the neighborhood)
    "kg_ppr_top" -> ((s, d) => {
      val st = pinnedKg(s)
      val e = kgSimpleEdges(st).localCheckpoint(true)
      val seed = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("src")).limit(1)
        .select(col("src").as("id"))
      operators.GraphAlgos.personalizedPageRank(e, seed, iterations = 10)
        .join(seed, Seq("id"), "left_anti")
        .select(col("id"), round(col("rank").cast("double"), 9).as("ppr"))
        .where(col("ppr") > 0)
        .orderBy(col("ppr").desc, col("id")).limit(10)
    }),

    // neighborhood function N(t) of the entity graph (HyperANF shape, KMV
    // registers): 61 nodes < k=64 so every ball count is EXACT — the pinned
    // rows are true reachable-pair counts per hop up to convergence
    "kg_neighborhood" -> ((s, d) => {
      val st = pinnedKg(s)
      operators.GraphAlgos.neighborhoodFunction(kgSimpleEdges(st), maxHops = 8, k = 64)
        .select(col("t"), col("n_pairs").cast("long").as("n_pairs"))
    }),

    // harmonic centrality top-10 (exact below sketch capacity — same 61<64
    // regime as kg_neighborhood, so the inverse-distance sums are exact
    // rationals and the rounded ranking is a pinned constant)
    "kg_harmonic_top" -> ((s, d) => {
      val st = pinnedKg(s)
      operators.GraphAlgos.harmonicCentrality(kgSimpleEdges(st), maxHops = 8, k = 64)
        .select(col("id"), round(col("hc"), 6).as("hc"))
        .orderBy(col("hc").desc, col("id")).limit(10)
    }),

    // k-core peel summary of the entity graph: (k, surviving nodes, sum of
    // in-core degrees = 2·core edges) across the k ladder — the
    // dense-nucleus profile of the KG (the graph is dense: the profile
    // only starts shedding above its degeneracy shoulder); exact peel
    // fixpoints on the pinned corpus
    "kg_kcore" -> ((s, d) => {
      val st = pinnedKg(s)
      val e = kgSimpleEdges(st).localCheckpoint(true)
      Seq(2, 16, 18, 20, 22).map { k =>
        operators.GraphAlgos.kCore(e, k)
          .agg(count(lit(1)).as("n_core_nodes"),
            coalesce(sum(col("core_degree")), lit(0L)).as("sum_core_degree"))
          .select(lit(k.toLong).as("k"), col("n_core_nodes"), col("sum_core_degree"))
      }.reduce(_.unionByName(_))
    }),

    // label propagation on a planted community graph: doc_ids grouped into
    // cliques of 5 plus a bridge edge between consecutive cliques — LPA
    // must recover every clique (bridges lose the vote 1:4) and never
    // merge across them; histogram (community_size, n_communities) is the
    // exact recovery certificate. (The KG entity graph itself is near-
    // complete at this scale — LPA's known dense-graph failure mode — so
    // the gate plants the structure the operator is FOR.)
    "q_lpa" -> ((s, d) => {
      val ids = t(s, d, "documents")
        .select(col("doc_id").cast("long").as("id"),
          floor(col("doc_id") / 5).as("grp"))
      val cliques = ids.as("a").join(ids.as("b"),
          col("a.grp") === col("b.grp") && col("a.id") < col("b.id"))
        .select(col("a.id").as("src"), col("b.id").as("dst"))
      val bridges = ids.where(col("id") % 5 === 4)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      operators.GraphAlgos.labelPropagation(cliques.unionByName(bridges))
        .groupBy(col("label")).agg(count(lit(1)).as("community_size"))
        .groupBy(col("community_size")).agg(count(lit(1)).as("n_communities"))
    }),

    // BFS reachability histogram from the max-out-degree hub (ties by id)
    "kg_bfs_hops" -> ((s, d) => {
      import s.implicits._
      val st = pinnedKg(s)
      val e = kgSimpleEdges(st).localCheckpoint(true)
      val seed = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("src")).limit(1)
        .select(col("src").as("id"))
      operators.GraphAlgos.bfsDistances(e, seed, maxHops = 5)
        .groupBy(col("dist")).agg(count(lit(1)).as("cnt"))
    }),

    // ---- retrieval operators (SURVEY.md §2.9) ----

    "q_sibling_search" -> ((s, d) => {
      import s.implicits._
      val chunker = new CharacterChunker(100, 20)
      val chunks = t(s, d, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          chunker.chunk(text).iterator.zipWithIndex.map { case (c, i) =>
            (id.toString, i, s"${id}_chunk_$i", c)
          }
        }
        .toDF("doc_id", "idx", "chunk_id", "text")
      val seeds = (0 until 5).map(i => s"${i}_chunk_1")
      Retrieval.siblingSearch(chunks, seeds, lookback = 1, lookahead = 2)
        .select(col("seed_chunk_id"), col("chunk_id"), col("distance"), col("text"))
    }),

    "kg_keyword_search" -> ((s, d) => contentDigest("kg_keyword_search",
      Retrieval.keywordSearch(pinnedKg(s).read("chunks"),
        Seq("corporation", "works at", "moved to"), "ANY", topK = 25))),

    "kg_sibling_search" -> ((s, d) => {
      val chunks = pinnedKg(s).read("chunks")
      val seeds = chunks.orderBy(col("chunk_id")).limit(5)
        .select(col("chunk_id")).collect().map(_.getString(0)).toSeq
      contentDigest("kg_sibling_search", Retrieval.siblingSearch(chunks, seeds, 2, 2))
    }),

    "kg_hybrid_expand" -> ((s, d) => {
      // typed BFS over the full GSQL edge set (RELATIONSHIP, CONTAINS_ENTITY
      // both ways, IS_AFTER, IS_HEAD_OF, HAS_TAIL) with visited/ancestor
      // guards and per-seed attribution
      val st = pinnedKg(s)
      contentDigest("kg_hybrid_expand",
        Retrieval.hybridExpandTyped(kgTypedEdges(st), kgTripleSeeds(st), numHops = 2, numSeenMin = 1))
    }),

    "kg_hybrid_context" -> ((s, d) => {
      // the GSQL result_set: per-seed context strings per reached vertex
      val st = pinnedKg(s)
      val expanded = Retrieval.hybridExpandTyped(kgTypedEdges(st), kgTripleSeeds(st),
        numHops = 2, numSeenMin = 1)
      contentDigest("kg_hybrid_context",
        Retrieval.hybridContext(expanded, st.read("entities"), st.read("chunks")))
    }),

    "kg_entity_retrieval" -> ((s, d) => {
      val st = pinnedKg(s)
      contentDigest("kg_entity_retrieval", Retrieval.entityRelationshipRetrieval(
        st.read("entities"), st.read("mentions"), st.read("chunks"), st.read("triples"),
        Seq("%corporation%"), Seq("%works_at%"), topK = 10))
    }),

    // ---- vector-seeded retrievers (VERDICT r1 item 2: chunk + community
    // embeddings wired end-to-end into the *_Vector_Search variants) ----

    "kg_content_vector_search" -> ((s, d) => {
      val st = pinnedKg(s)
      val withEmb = st.read("chunk_embeddings")
        .join(st.read("chunks").select(col("chunk_id"), col("text").as("content")), "chunk_id")
        .withColumnRenamed("chunk_id", "id")
      contentDigest("kg_content_vector_search",
        Retrieval.contentSimilaritySearch(withEmb, kgProbeVec(s), topK = 15))
    }),

    "kg_content_fetch" -> ((s, d) => {
      import s.implicits._
      // Q2's NON-vector form (`Content_Similarity_Search.gsql:29-47`): seeds
      // arrive as explicit (id, type) pairs, no embedding involved; each
      // fetches its content by type
      val st = pinnedKg(s)
      val chunks = st.read("chunks")
      val docs = GraphAssembly.docs(st.read("pages").as[Page]).toDF()
      def firstIds(df: DataFrame, idCol: String, n: Int, kind: String) =
        df.orderBy(col(idCol)).limit(n).select(col(idCol)).collect()
          .map(r => (r.getString(0), kind)).toSeq
      contentDigest("kg_content_fetch", Retrieval.contentFetch(
        firstIds(chunks, "chunk_id", 3, "DocumentChunk") ++
          firstIds(st.read("entities"), "entity_id", 2, "Entity") ++
          firstIds(docs, "doc_id", 1, "Document") ++
          firstIds(st.read("communities").where(col("iteration") === 1),
            "community_id", 1, "Community"),
        chunks, docs, st.read("entities"), kgCommunities(st)))
    }),

    "kg_sibling_vector_search" -> ((s, d) => {
      val st = pinnedKg(s)
      contentDigest("kg_sibling_vector_search", Retrieval.siblingVectorSearch(
        st.read("chunks"), st.read("chunk_embeddings"), kgProbeVec(s),
        topKSeeds = 5, lookback = 1, lookahead = 2))
    }),

    "kg_community_vector_search" -> ((s, d) => {
      val st = pinnedKg(s)
      contentDigest("kg_community_vector_search",
        Retrieval.communityVectorSearch(kgCommunities(st), st.read("community_embeddings"),
          st.read("has_parent"), st.read("in_community"), st.read("resolves_to"),
          st.read("mentions"), st.read("chunks"), kgProbeVec(s), topKSeeds = 2))
    }),

    "kg_hybrid_vector_search" -> ((s, d) => {
      val st = pinnedKg(s)
      contentDigest("kg_hybrid_vector_search",
        Retrieval.hybridVectorSearch(kgTypedEdges(st), st.read("embeddings"), kgProbeVec(s),
          topKSeeds = 3, numHops = 2, numSeenMin = 1))
    }),

    // real-codec multimodal path: synthesized genuine BMP/WAV payloads ->
    // pure-JVM decode -> pixel/sample features; per-format decode rate and
    // integer-stable feature aggregates pinned by a constant oracle (mp4
    // rows must show decoded=0: the stub fallback is observable, not
    // silent).
    "q_media_codec" -> ((s, d) => {
      import s.implicits._
      val media = operators.Multimodal.synthEncoded(s, 300)
      operators.Multimodal.extractFeaturesDecoded(media, 16).toDF()
        .groupBy($"format")
        .agg(count(lit(1)).as("n"),
          sum(when($"decoded", 1L).otherwise(0L)).as("n_decoded"),
          sum($"n_bytes").as("sum_bytes"),
          sum(round(element_at($"features", 1) * 100).cast("long")).as("f0_sum"))
        .orderBy($"format")
    }),

    // Q7 — the retriever DRIVER layer end-to-end over the pinned corpus:
    // five (driver, mode) configurations through RetrieverDriver with the
    // canned DriverLlm + the pipeline embedder. The response column is a
    // hash of the final assembled answer prompt, so each pinned row
    // witnesses the whole flow (expansion/keywords/HyDE -> start set ->
    // distributed search -> context assembly -> response prompt) cell-for-
    // cell. Constant oracle.
    "kg_retriever_driver" -> ((s, d) => {
      import s.implicits._
      val st = pinnedKg(s) // constant oracle ⇒ corpus must not follow sfDir
      val embed: String => Array[Float] =
        new graft.extract.HashEmbedder(1536, 42).embed
      val q = "works at corporation technology"
      val withEmb = st.read("chunk_embeddings")
        .join(st.read("chunks").select($"chunk_id", $"text"), "chunk_id")
        .select($"chunk_id".as("id"), $"embedding", $"text".as("content"))
        .localCheckpoint(true)
      val chunks = st.read("chunks")
      val docs = GraphAssembly.docs(st.read("pages").as[Page]).toDF()
      val entities = st.read("entities")
      val mentions = st.read("mentions")
      def sim(hyde: Boolean, expand: Boolean) =
        RetrieverDriver.similarityRetrieveAnswer(q, withEmb, chunks, docs,
          entities, kgCommunityDescriptions(st), DriverLlm, embed, topK = 3,
          withHyDE = hyde, expand = expand, similarityThreshold = 0.5)
      val edges = kgTypedEdges(st)
      def hyb(expand: Boolean, method: String) =
        RetrieverDriver.hybridRetrieveAnswer(q, edges, st.read("embeddings"), chunks,
          entities, DriverLlm, embed, topK = 2, numHops = 2,
          expand = expand, method = method)
      val community = RetrieverDriver.communityRetrieveAnswer(q, kgCommunities(st),
        st.read("community_embeddings"), st.read("has_parent"), st.read("in_community"),
        st.read("resolves_to"), mentions, chunks,
        DriverLlm, embed, communityLevel = 1, topK = 2)
      val sibling = RetrieverDriver.siblingRetrieveAnswer(q, chunks,
        st.read("chunk_embeddings"), DriverLlm, embed, topK = 2)
      val entRel = RetrieverDriver.entityRelationshipRetrieveAnswer(q,
        entities, mentions, chunks, st.read("triples"), DriverLlm, topK = 5)
      val rows = Seq(
        ("similarity", "plain", sim(hyde = false, expand = false)),
        ("similarity", "hyde", sim(hyde = true, expand = false)),
        ("similarity", "expand", sim(hyde = false, expand = true)),
        ("hybrid", "vector", hyb(expand = false, method = "similarity")),
        ("hybrid", "keywords", hyb(expand = true, method = "keywords")),
        ("community", "scored", community),
        ("sibling", "vector", sibling),
        ("entity_rel", "extract", entRel))
      rows.map { case (driver, mode, a) =>
        (driver, mode, a.retrieved.size.toLong,
          a.retrieved.map(_.length.toLong).sum, a.response)
      }.toDF("driver", "mode", "n_sources", "source_chars", "response")
        .orderBy($"driver", $"mode")
    }),

    "kg_community_search" -> ((s, d) => {
      val st = pinnedKg(s)
      val inComm = st.read("in_community")
      val seeds = inComm.groupBy(col("community_id")).count()
        .orderBy(col("count").desc, col("community_id")).limit(2)
        .select(col("community_id")).collect().map(_.getString(0)).toSeq
      contentDigest("kg_community_search", Retrieval.communitySearch(
        st.read("communities").withColumn("description", lit("")), st.read("has_parent"),
        inComm, st.read("resolves_to"), st.read("mentions"), st.read("chunks"), seeds))
    }),

    "kg_communities" -> ((s, d) =>
      contentDigest("kg_communities", pinnedKg(s).read("communities"))),

    // Q8 concept curation end-to-end (r4: leaf builders + Build_Concept_Tree
    // + co-occurrence): reify the raw triples, seed per-relation-type
    // concepts, derive head/tail entity concepts, then grow one AND level
    // from same-type co-occurring roots and resolve every cover bottom-up.
    // Digest pins concepts, tree edges, co-occurrence counts and the full
    // cover table in one hash.
    "kg_concepts" -> ((s, d) => {
      import s.implicits._
      val (rels, heads, tails) = operators.Concepts.reify(pinnedKg(s).read("triples").as[Triple])
      val seed = operators.Concepts.conceptsPerRelationType(rels).localCheckpoint(true)
      val relConcepts = seed.select(col("concept_id")).distinct()
        .withColumn("concept_type", lit("RELATIONSHIP_LEAF"))
      val (entConcepts, describesEnt) =
        operators.Concepts.buildEntityConcepts(seed, heads, tails)
      val leafConcepts = relConcepts.unionByName(entConcepts).localCheckpoint(true)
      val leafMembers = seed
        .select(col("concept_id"), col("rel_id").as("member_id"))
        .unionByName(describesEnt.select(col("concept_id"),
          col("entity_id").as("member_id")))
        .localCheckpoint(true)
      val noTree = leafConcepts.sparkSession.emptyDataFrame
        .select(lit("").as("child_id"), lit("").as("parent_id")).limit(0)
      val cover0 = operators.Concepts.conceptCover(leafConcepts, noTree, leafMembers)
      val (andConcepts, andEdges) = operators.Concepts.buildConceptTree(
        leafConcepts, noTree, cover0, minCooccurrence = 40)
      val allConcepts = leafConcepts.unionByName(andConcepts)
      val fullCover = operators.Concepts.conceptCover(allConcepts, andEdges, leafMembers)
      val cooc = operators.Concepts.conceptCooccurrence(leafConcepts, noTree, cover0)
      Seq(
        contentDigest("concepts", allConcepts),
        contentDigest("is_child_of", andEdges),
        contentDigest("cooccurrence", cooc),
        contentDigest("cover", fullCover))
        .reduce(_ unionAll _).orderBy(col("table_name"))
    }),

    "kg_modularity" -> ((s, d) => {
      import s.implicits._
      // PINNED 1500-page corpus (= the sf0.01 tier the driver verifies at)
      // so the constant oracle row holds wherever Verify runs; Q itself is
      // bit-deterministic (exact integer-sum algebra, Louvain.modularity),
      // rounded to 4dp for the oracle literal
      pinnedKg(s).read("modularity").as[(Int, Double)].collect().sortBy(_._1)
        .map { case (i, q) => (i.toLong, math.rint(q * 1e4) / 1e4) }.toSeq
        .toDF("iteration", "modularity")
    }),

    // PINNED corpus for the same reason — this is the north rule's headline
    // P/R row (triple and entity-link precision/recall vs the planted gold)
    "kg_eval" -> ((s, d) => kgEval(s, CorpusSynth.Config(nPages = 1500, nClusters = 60))),

  )

  /** P/R of emitted canonical triples vs planted golden triples, and of
    * same-cluster links vs planted alias clusters — the BASELINE.json
    * headline metric, computed as a one-row DataFrame.
    */
  def kgEval(s: SparkSession, cfg: CorpusSynth.Config): DataFrame = {
    import s.implicits._
    val st = kgStages(s, cfg)

    val emitted = st.read("resolved_triples")
      .where(col("pred") =!= GraphAssembly.CoOccurrencePred)
      .select(col("subj"), col("pred"), col("obj")).distinct()
    val golden = CorpusSynth.goldenTriples(s, cfg)
      .select(col("subj_canonical").as("subj"), col("pred"), col("obj_canonical").as("obj"))
      .distinct()
    val tp = emitted.intersect(golden).count().toDouble
    val nEmit = emitted.count().toDouble
    val nGold = golden.count().toDouble

    val res = st.read("resolves_to")
    val links = res
      .as("a").join(res.as("b"), col("a.canonical_id") === col("b.canonical_id"))
      .where(col("a.entity_id") < col("b.entity_id"))
      .select(col("a.entity_id").as("entity_id_a"), col("b.entity_id").as("entity_id_b"))
      .distinct()
    val goldLinks = CorpusSynth.goldenLinks(s, cfg).toDF().distinct()
    // restrict golden links to aliases that actually occur in the corpus
    val present = st.read("entities").select(col("entity_id")).distinct()
    val goldPresent = goldLinks
      .join(present.withColumnRenamed("entity_id", "entity_id_a"), "entity_id_a")
      .join(present.withColumnRenamed("entity_id", "entity_id_b"), "entity_id_b")
      // USING joins move the key column first — restore positional order
      // before the positional intersect below
      .select(col("entity_id_a"), col("entity_id_b"))
    val ltp = links.intersect(goldPresent).count().toDouble
    val nLinks = links.count().toDouble
    val nGoldL = goldPresent.count().toDouble

    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    Seq((
      r6(if (nEmit > 0) tp / nEmit else 0.0), r6(if (nGold > 0) tp / nGold else 0.0),
      r6(if (nLinks > 0) ltp / nLinks else 0.0), r6(if (nGoldL > 0) ltp / nGoldL else 0.0),
      nEmit.toLong, nGold.toLong, nLinks.toLong, nGoldL.toLong))
      .toDF("triple_precision", "triple_recall", "link_precision", "link_recall",
        "n_emitted_triples", "n_golden_triples", "n_emitted_links", "n_golden_links")
  }

  // ----------------------------------------------------------- oracle SQL

  /** Shared CTE chain for the URL oracles: build the byte-identical planted
    * URL (same string arithmetic as [[plantedUrlCol]]), then replicate
    * [[operators.WebCuration.normalizeUrlCol]] operator-for-operator —
    * fragment drop, host lower + www-strip, trailing-slash strip, tracking-
    * param filter, param sort, https forcing.
    */
  private val UrlCtes: String =
    """WITH u AS (
          SELECT doc_id, text,
            (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
            (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END) ||
            (CASE WHEN doc_id % 7 = 0
              THEN upper((CASE WHEN doc_id % 2 = 0 THEN 'news.site' ELSE 'blog.site' END)
                         || CAST(doc_id % 8 AS VARCHAR) || '.org')
              ELSE (CASE WHEN doc_id % 2 = 0 THEN 'news.site' ELSE 'blog.site' END)
                   || CAST(doc_id % 8 AS VARCHAR) || '.org' END) ||
            '/' || source || '/page' || CAST(doc_id % 12 AS VARCHAR) ||
            (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
            (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&ref=' || CAST(doc_id % 5 AS VARCHAR)
                  WHEN doc_id % 6 = 1 THEN '?ref=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_campaign=x'
                  WHEN doc_id % 6 = 2 THEN '?ref=' || CAST(doc_id % 5 AS VARCHAR)
                  ELSE '' END) ||
            (CASE WHEN doc_id % 9 = 0 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END) AS url
          FROM documents),
        parts AS (
          SELECT doc_id, text, url,
            regexp_replace(lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
              '^www\.', '') AS host,
            regexp_replace(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
              '/+$', '') AS pth,
            regexp_extract(nofrag, '\?(.*)$', 1) AS qry
          FROM (SELECT *, regexp_replace(url, '#.*$', '') AS nofrag FROM u)),
        norm AS (
          SELECT doc_id, text, url, host,
            'https://' || host || pth ||
              (CASE WHEN qn <> '' THEN '?' || qn ELSE '' END) AS url_norm
          FROM (SELECT *, array_to_string(list_sort(list_filter(str_split(qry, '&'),
              p -> p <> '' AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'fbclid=')
                   AND NOT starts_with(p, 'gclid='))), '&') AS qn
            FROM parts))"""

  def oracleSql: Map[String, String] = ListMap(
    // scaled-integer sums mirror the Spark side exactly: round(x*100)::BIGINT
    // is the exact 2dp integer, sum is exact, /100.0 is the same IEEE divide
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
          CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price,
          round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 100.0
            / count(*), 6) AS avg_disc,
          count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q_multi_join_revenue" ->
      """SELECT r_name, n_name,
          round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
               AS BIGINT) / 10000.0, 2) AS revenue,
          count(*) AS cnt
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name""",

    "q_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q_window_rank" ->
      """SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
          SELECT c_mktsegment, c_custkey, c_acctbal,
            row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM customer) WHERE rn <= 3""",

    "q_anti_join" ->
      """SELECT DISTINCT user_id FROM events e WHERE event_type = 'click'
        AND NOT EXISTS (SELECT 1 FROM events p
                        WHERE p.event_type = 'purchase' AND p.value > 90
                          AND p.user_id = e.user_id)""",

    "q_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_suppkey = s_suppkey AND l_quantity > 45)""",

    "q_set_ops" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",

    "q_distinct_count" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
          count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority""",

    "q_date_agg" ->
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
          count(*) AS cnt,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
        FROM orders GROUP BY yr, mo""",

    "q_event_windows" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
          count(*) AS cnt,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
        FROM events GROUP BY hour_start, event_type""",

    "q_sessionize" ->
      """WITH marked AS (
          SELECT user_id, event_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
                 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, ts, value,
            sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_idx
          FROM marked)
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
          min(ts) AS session_start, max(ts) AS session_end,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
        FROM sess GROUP BY user_id, session_idx""",

    "q_hopping_windows" ->
      """SELECT make_timestamp(((epoch_us(ts) // 900000000) - k) * 900000000)
            AS win_start,
          event_type, count(*) AS cnt,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
        FROM events, unnest([0, 1, 2, 3]) AS t(k)
        GROUP BY win_start, event_type""",

    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts, c.ts AS asof_ts, c.value AS asof_value
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND c.ts <= p.ts
        QUALIFY row_number() OVER (PARTITION BY p.event_id
          ORDER BY c.ts DESC NULLS LAST, c.event_id DESC) = 1""",

    "q_range_join" ->
      """SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
          max(c.ts) AS last_click_ts
        FROM events p JOIN events c
          ON p.user_id = c.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
        GROUP BY 1""",

    "q_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          coalesce(o_orderpriority, 'ALL') AS priority,
          count(*) AS cnt,
          CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",

    "q_json_extract" ->
      """SELECT event_type,
          round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
          max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type""",

    "q_process_id" ->
      // exact SQL replica of Normalize.processId
      // (/root/reference/ecc/app/graphrag/util.py:171-181)
      """SELECT p_partkey,
          CASE WHEN s2 IN ('''''', '""') THEN ''
               ELSE replace(replace(s2, '(', ''), ')', '') END AS norm_id
        FROM (
          SELECT p_partkey,
            CASE WHEN contains(s1, '(')
                 THEN regexp_extract(s1, '(.*)\(', 1)
                 ELSE s1 END AS s2
          FROM (
            SELECT p_partkey,
              lower(replace(replace(replace(p_name, ' ', '_'), '/', ''),
                    '%', 'percent')) AS s1
            FROM part))""",

    "q_chunk_character" ->
      // CharacterChunker(100, 20): windows at k*80, break when
      // next_i + overlap >= len taken after the step
      """SELECT doc_id, k AS idx, substr(text, k * 80 + 1, 100) AS chunk
        FROM (SELECT doc_id, text, length(text) AS len FROM documents),
             generate_series(0, 1000) t(k)
        WHERE k * 80 < len AND (k = 0 OR k * 80 + 20 < len)""",

    "q_keyword_search" ->
      """SELECT doc_id, hits FROM (
          SELECT doc_id,
            (CASE WHEN contains(text, 'spark table') THEN 1 ELSE 0 END
           + CASE WHEN contains(text, 'merge') THEN 1 ELSE 0 END
           + CASE WHEN contains(text, 'vector') THEN 1 ELSE 0 END)::BIGINT AS hits
          FROM documents)
        WHERE hits > 0 ORDER BY hits DESC, doc_id LIMIT 20""",

    // exact BM25 replica (Lucene idf form, k1=1.2 b=0.75): same tokenizer
    // as q_token_count, same 1e-9 score rounding before the rank order
    "q_bm25" ->
      """WITH q(query_id, term) AS (VALUES
            ('q1','customer'), ('q1','join'),
            ('q2','vector'), ('q2','stream'), ('q2','window'),
            ('q3','spark')),
        dl AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
            (CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::DOUBLE AS dl
          FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
        toks AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
            unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                   x -> x <> '')) AS term
          FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
          WHERE term IN (SELECT DISTINCT term FROM q)
          GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
        scored AS (
          SELECT q.query_id, tf.doc_id,
            sum( ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)) ) AS score
          FROM tf
          JOIN dfreq d USING (term)
          JOIN q USING (term)
          JOIN dl USING (doc_id)
          CROSS JOIN stats s
          GROUP BY q.query_id, tf.doc_id),
        ranked AS (
          SELECT query_id, doc_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY round(score, 9) DESC, doc_id ASC) AS rank
          FROM scored)
        SELECT query_id, rank::INTEGER AS rank, doc_id
        FROM ranked WHERE rank <= 10""",

    // RRF replica: the q_bm25 pipeline verbatim, the q_ann_bruteforce
    // cosine verbatim (numeric neighbor tie-break, matching
    // bruteForceTopK), fused by sum(1/(60+rank)) with the same 1e-9
    // rounding before the final rank order
    "q_rrf_fusion" ->
      """WITH q(query_id, term) AS (VALUES
            ('q1','customer'), ('q1','join'),
            ('q2','vector'), ('q2','stream'), ('q2','window'),
            ('q3','spark')),
        dl AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
            (CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::DOUBLE AS dl
          FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
        toks AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
            unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                   x -> x <> '')) AS term
          FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
          WHERE term IN (SELECT DISTINCT term FROM q)
          GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
        bscored AS (
          SELECT q.query_id, tf.doc_id,
            sum( ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)) ) AS score
          FROM tf
          JOIN dfreq d USING (term)
          JOIN q USING (term)
          JOIN dl USING (doc_id)
          CROSS JOIN stats s
          GROUP BY q.query_id, tf.doc_id),
        lex AS (
          SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY round(score, 9) DESC, doc_id ASC) AS rank
            FROM bscored) WHERE rank <= 10),
        vscored AS (
          SELECT 'q' || CAST(qe.vec_id + 1 AS VARCHAR) AS query_id,
            ce.vec_id AS neighbor_id,
            list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(ce.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])))) AS cos
          FROM embeddings qe, embeddings ce WHERE qe.vec_id < 3),
        vec AS (
          SELECT query_id, CAST(neighbor_id AS VARCHAR) AS doc_id, rank FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rank
            FROM vscored) WHERE rank <= 10),
        unioned AS (
          SELECT query_id, doc_id, rank FROM lex
          UNION ALL SELECT query_id, doc_id, rank FROM vec),
        fused AS (
          SELECT query_id, doc_id, sum(1.0 / (60.0 + rank)) AS rrf
          FROM unioned GROUP BY query_id, doc_id)
        SELECT query_id, rank::INTEGER AS rank, doc_id FROM (
          SELECT query_id, doc_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY round(rrf, 9) DESC, doc_id ASC) AS rank
          FROM fused) WHERE rank <= 10""",

    "q_token_count" ->
      """SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n_tokens
        FROM documents""",

    "q_quality" ->
      """WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk,
                 length(trim(text)) AS tlen
          FROM documents),
        flat AS (
          SELECT doc_id, unnest(tk) AS x FROM toks),
        topc AS (
          SELECT doc_id, max(c) AS mx FROM (
            SELECT doc_id, x, count(*) AS c FROM flat GROUP BY doc_id, x)
          GROUP BY doc_id),
        m AS (
          SELECT t.doc_id,
            len(tk)::BIGINT AS n_tokens,
            round(len(list_filter(tk, x -> list_contains(
              ['a','an','the','is','are','was','of','to','in','and','or',
               'for','on','with','at','by','it','this','that'], lower(x))))::DOUBLE
              / len(tk), 6) AS stop_ratio,
            round((tlen - (len(tk) - 1))::DOUBLE / len(tk), 6) AS mean_tok_len,
            round(topc.mx::DOUBLE / len(tk), 6) AS top_token_share
          FROM toks t JOIN topc ON t.doc_id = topc.doc_id)
        SELECT doc_id, n_tokens, stop_ratio, mean_tok_len, top_token_share,
          (n_tokens BETWEEN 10 AND 100000
            AND stop_ratio >= 0.01
            AND top_token_share <= 0.2) AS quality_ok
        FROM m""",

    // Gopher repetition gates: exact SQL recompute of the dup-line and
    // dup-bigram fractions (both are small-integer divisions — bit-exact on
    // both engines before the shared round(…, 6))
    // vocabulary heavy hitters: the same tokenization, the same total-order
    // tie-break, same k — the LIMIT picks identical rows in both engines
    "q_vocab_topk" ->
      """WITH tok AS (
          SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS token
          FROM documents)
        SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM tok GROUP BY token
        ORDER BY tf DESC, token LIMIT 100""",

    "q_mg_topk_gate" ->
      """WITH tok AS (
          SELECT unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS token
          FROM documents)
        SELECT count(*)::BIGINT AS n_tokens,
          count(DISTINCT token)::BIGINT AS n_distinct,
          0::BIGINT AS n_overestimates,
          0::BIGINT AS n_outside_bound,
          0::BIGINT AS n_heavy_missed,
          true AS err_within_bound
        FROM tok""",

    "q_kmv_distinct" ->
      """WITH norm AS (
          SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT array_to_string(tk[i:i+4], chr(1)) AS g
          FROM norm, unnest(range(1, greatest(len(tk) - 4, 0) + 1)) AS u(i)),
        fp AS (
          SELECT DISTINCT list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(g) + 1),
                j -> unicode(substr(g, j, 1))::HUGEINT)),
            (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) AS h
          FROM sh),
        mins AS (SELECT h FROM fp ORDER BY h LIMIT 1024),
        agg AS (SELECT count(*) AS nh, max(h) AS kth FROM mins),
        ex AS (SELECT count(*) AS exact_distinct FROM fp)
        SELECT nh::BIGINT AS n_hashes,
          CAST(kth - CASE WHEN kth >= 9223372036854775808::HUGEINT
                          THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
               AS BIGINT) AS kth_hash,
          round(CASE WHEN nh < 1024 THEN nh::DOUBLE
                ELSE (1023.0 * 18446744073709551616.0) / CAST(kth AS DOUBLE) END, 3)
            AS est_distinct,
          exact_distinct::BIGINT AS exact_distinct,
          abs((CASE WHEN nh < 1024 THEN nh::DOUBLE
               ELSE (1023.0 * 18446744073709551616.0) / CAST(kth AS DOUBLE) END)
              - exact_distinct) <= 0.15 * exact_distinct AS est_ok
        FROM agg, ex""",

    "q_kmv_overlap" ->
      """WITH norm AS (
          SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id % 2 AS side, array_to_string(tk[i:i+4], chr(1)) AS g
          FROM norm, unnest(range(1, greatest(len(tk) - 4, 0) + 1)) AS u(i)),
        fp AS (
          SELECT DISTINCT side, list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(g) + 1),
                j -> unicode(substr(g, j, 1))::HUGEINT)),
            (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) AS h
          FROM sh),
        ka AS (SELECT h FROM fp WHERE side = 0 ORDER BY h LIMIT 1024),
        kb AS (SELECT h FROM fp WHERE side = 1 ORDER BY h LIMIT 1024),
        un AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
               ORDER BY h LIMIT 1024),
        est AS (
          SELECT count(*) FILTER (WHERE h IN (SELECT h FROM ka)
                                  AND h IN (SELECT h FROM kb))::DOUBLE
                 / count(*) AS est_j
          FROM un),
        ex AS (
          SELECT sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) AS exact_j
          FROM (SELECT h, bool_or(side = 0) AS in_a, bool_or(side = 1) AS in_b
                FROM fp GROUP BY h))
        SELECT round(est_j, 3) AS est_jaccard,
          round(exact_j, 6) AS exact_jaccard,
          abs(est_j - exact_j) <= 0.1 AS est_ok
        FROM est, ex""",

    "q_repetition" ->
      """WITH base AS (
          SELECT doc_id,
            list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                        l -> l <> '') AS lines,
            regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents)
        SELECT doc_id,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CASE WHEN len(lines) > 0
            THEN round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines), 6)
            ELSE 0.0 END AS dup_line_frac,
          CAST(GREATEST(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
          CASE WHEN len(toks) >= 2
            THEN round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1), 6)
            ELSE 0.0 END AS dup_bigram_frac,
          ((CASE WHEN len(lines) > 0
             THEN round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines), 6)
             ELSE 0.0 END) <= 0.30
           AND (CASE WHEN len(toks) >= 2
             THEN round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1), 6)
             ELSE 0.0 END) <= 0.20) AS repetition_ok
        FROM base""",

    // decontamination: exact 8-gram recompute — same lowercase/whitespace
    // tokenization, same distinct-grams-per-doc counting
    "q_decontaminate" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
          FROM documents),
        grams AS (
          SELECT doc_id,
            CASE WHEN len(tk) < 8 THEN []::VARCHAR[]
                 ELSE list_distinct(list_transform(range(1, len(tk) - 6),
                        i -> array_to_string(tk[i:i+7], ' '))) END AS g
          FROM toks),
        bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 20 = 0)
        SELECT t.doc_id, count(DISTINCT gram) AS n_hits
        FROM (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 20 <> 0) t
        JOIN bench USING (gram)
        GROUP BY t.doc_id""",

    // stratified sample: the FNV-1a bucket is recomputed with the same
    // HUGEINT fold as q_fingerprint, then signed-mod-normalized to match
    // Spark's pmod
    "q_sample_stratified" ->
      """WITH fp AS (
          SELECT doc_id, lang, list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(CAST(doc_id AS VARCHAR)) + 1),
                i -> unicode(substr(CAST(doc_id AS VARCHAR), i, 1))::HUGEINT)),
            (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) AS h
          FROM documents),
        b AS (
          SELECT doc_id, lang,
            ((CAST(h - CASE WHEN h >= 9223372036854775808::HUGEINT
                   THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)
              % 100) + 100) % 100 AS bucket
          FROM fp)
        SELECT doc_id, lang, bucket FROM b
        WHERE bucket < CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 25 ELSE 50 END""",

    // C4 cleaning: identical planted multi-line input (chr(10) joins), the
    // same per-line rules via list_filter, same doc verdict
    "q_c4_clean" ->
      """WITH planted AS (
          SELECT doc_id,
            text || '.' || chr(10) ||
            (CASE WHEN doc_id % 2 = 0 THEN 'This line has five proper words.'
                  ELSE 'too short' END) || chr(10) ||
            (CASE WHEN doc_id % 3 = 0 THEN 'Please enable JavaScript to view the comments.'
                  ELSE 'Another complete sentence sits right here.' END) || chr(10) ||
            (CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet paragraph text.'
                  ELSE 'Final sentence line with many words too.' END) ||
            (CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'var x = { a: 1 };' ELSE '' END) AS t
          FROM documents),
        k AS (
          SELECT doc_id, t, str_split(t, chr(10)) AS lines,
            list_filter(str_split(t, chr(10)), l ->
              (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
               OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
              AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
              AND NOT contains(lower(trim(l)), 'javascript')) AS kept
          FROM planted)
        SELECT doc_id,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(kept) AS BIGINT) AS n_kept,
          (len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
           AND NOT contains(t, '{')) AS keep_doc,
          array_to_string(kept, chr(10)) AS text_clean
        FROM k""",

    // containment: exact ordered-pair recompute over the same string
    // shingles (corpus is under the DF cap, so the cap drops nothing)
    "q_containment" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                 WHEN len(tk) < 3 THEN [array_to_string(tk, chr(1))]
                 ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || chr(1) || tk[i+1] || chr(1) || tk[i+2])) END AS s
          FROM toks)
        SELECT src, dst, containment FROM (
          SELECT CAST(x.doc_id AS VARCHAR) AS src, CAST(y.doc_id AS VARCHAR) AS dst,
            round(len(list_intersect(x.s, y.s))::DOUBLE / len(x.s), 6) AS containment
          FROM sh x JOIN sh y ON x.doc_id <> y.doc_id
          WHERE len(x.s) > 0 AND len(list_intersect(x.s, y.s)) > 0)
        WHERE containment >= 0.6""",

    // exact quantiles: the oracle computes the same ks from count(*) and
    // reads the kth value off a full sort — same floor(×100) cents
    "q_exact_quantiles" ->
      """WITH v AS (
          SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
          FROM lineitem WHERE l_extendedprice IS NOT NULL),
        nn AS (SELECT count(*) AS n FROM v),
        ks AS (
          SELECT unnest([1, (n + 1) // 2, n]) AS k FROM nn),
        s AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v)
        SELECT k, (SELECT c FROM s WHERE rn = k) AS value FROM ks""",

    // ppjoin: the oracle is the EXACT all-pairs threshold join over the
    // same string shingles — no prefix-filter modeling, because the filter
    // is lossless by theorem; a hash mismatch would mean it dropped a pair
    "q_ppjoin" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                 WHEN len(tk) < 3 THEN [array_to_string(tk, chr(1))]
                 ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || chr(1) || tk[i+1] || chr(1) || tk[i+2])) END AS s
          FROM toks)
        SELECT a, b, jaccard FROM (
          SELECT CAST(x.doc_id AS VARCHAR) AS a, CAST(y.doc_id AS VARCHAR) AS b,
            round(len(list_intersect(x.s, y.s))::DOUBLE
                  / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
          FROM sh x JOIN sh y ON CAST(x.doc_id AS VARCHAR) < CAST(y.doc_id AS VARCHAR)
          WHERE len(x.s) > 0 AND len(y.s) > 0)
        WHERE jaccard >= 0.4""",

    // z-order: same integral grid cells (floor div of non-negative longs),
    // same bit interleave via a fold of shift/mask/or terms
    "q_zorder" ->
      """WITH bounds AS (
          SELECT min(doc_id) AS amn, max(doc_id) AS amx,
                 min(n_chars) AS bmn, max(n_chars) AS bmx
          FROM documents),
        cells AS (
          SELECT doc_id,
            CASE WHEN amx > amn
              THEN ((doc_id - amn) * 1023) // (amx - amn) ELSE 0 END AS ca,
            CASE WHEN bmx > bmn
              THEN ((n_chars - bmn) * 1023) // (bmx - bmn) ELSE 0 END AS cb
          FROM documents CROSS JOIN bounds)
        SELECT doc_id,
          list_reduce(list_prepend(0::BIGINT,
            list_transform(range(0, 10), i ->
              (((ca >> i) & 1) << (2 * i)) | (((cb >> i) & 1) << (2 * i + 1)))),
            (x, y) -> x | y) AS z
        FROM cells""",

    // A-ES weighted sample: same FNV ppb bucket, same −ln(u)/w race key,
    // same 1e-9 rounding and (key, id) selection order
    "q_weighted_sample" ->
      """WITH fp AS (
          SELECT doc_id, n_chars, list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(CAST(doc_id AS VARCHAR)) + 1),
                i -> unicode(substr(CAST(doc_id AS VARCHAR), i, 1))::HUGEINT)),
            (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) AS h
          FROM documents WHERE n_chars > 0),
        k AS (
          SELECT doc_id,
            round(-ln(((((CAST(h - CASE WHEN h >= 9223372036854775808::HUGEINT
                     THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)
                   % 1000000000) + 1000000000) % 1000000000)::DOUBLE + 0.5) / 1e9)
              / n_chars::DOUBLE, 9) AS es_key
          FROM fp)
        SELECT doc_id, es_key FROM k ORDER BY es_key, doc_id LIMIT 100""",

    // blocklist: same token split, same dictionary membership, same
    // first-offender pick (document order) and keep verdict
    "q_blocklist" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                        x -> x <> '') AS tk
          FROM documents),
        f AS (
          SELECT doc_id, tk,
            list_filter(tk, x -> list_contains(['merge','slow','stream'], x)) AS fl
          FROM toks)
        SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_tokens,
          CAST(len(fl) AS BIGINT) AS n_flagged,
          CASE WHEN len(fl) > 0 THEN fl[1] ELSE '' END AS first_flagged,
          len(fl) = 0 AS keep_doc
        FROM f""",

    // LM perplexity buckets: full model replica — same tokenization, same
    // bigram/head/vocab counts over the doc_id%5 train slice, same add-k
    // formula, same 1e-9 score rounding, same per-language ntile. Integer
    // counts and correctly-rounded +,×,/ are engine-identical; ln and the
    // per-doc sum are not, which is exactly what the shared round(…, 9)
    // before the bucket boundary absorbs.
    "q_lm_ppl_buckets" ->
      """WITH toks AS (
          SELECT doc_id, lang,
            list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
          FROM documents),
        tgrams AS (
          SELECT lang, unnest(list_transform(range(1, len(tk)),
            i -> tk[i] || ' ' || tk[i+1])) AS gram
          FROM toks WHERE doc_id % 5 = 0 AND len(tk) >= 2),
        c2 AS (SELECT lang, gram, count(*)::DOUBLE AS c2 FROM tgrams GROUP BY lang, gram),
        c1 AS (SELECT lang, split_part(gram, ' ', 1) AS w1, sum(c2) AS c1
               FROM c2 GROUP BY lang, split_part(gram, ' ', 1)),
        v AS (SELECT lang, (count(DISTINCT w) + 1)::DOUBLE AS v
              FROM (SELECT lang, unnest(tk) AS w FROM toks WHERE doc_id % 5 = 0)
              GROUP BY lang),
        eg AS (
          SELECT doc_id, lang, unnest(list_transform(range(1, len(tk)),
            i -> tk[i] || ' ' || tk[i+1])) AS gram
          FROM toks WHERE len(tk) >= 2),
        scored AS (
          SELECT eg.doc_id, eg.lang,
            count(*) AS n_bigrams,
            round(-sum(ln((coalesce(c2.c2, 0.0) + 0.5) /
                          (coalesce(c1.c1, 0.0) + 0.5 * v.v))) / count(*), 9) AS rscore
          FROM eg
          LEFT JOIN c2 ON eg.lang = c2.lang AND eg.gram = c2.gram
          LEFT JOIN c1 ON eg.lang = c1.lang AND split_part(eg.gram, ' ', 1) = c1.w1
          JOIN v ON eg.lang = v.lang
          GROUP BY eg.doc_id, eg.lang)
        SELECT doc_id, lang, n_bigrams,
          CAST(ntile(3) OVER (PARTITION BY lang ORDER BY rscore, doc_id) AS BIGINT)
            AS ppl_bucket
        FROM scored""",

    // DSIR: same tokenization, same md5-prefix bucket (the 15-hex-char
    // value folds exactly like conv(...,16,10)), same add-1 log-ratio
    // model over the lang='en' target slice, same round-9-then-rank cut.
    // Buckets present only in the target never join a raw feature, so the
    // LEFT JOIN here is row-identical to the engine's full_outer model.
    "q_dsir_select" ->
      """WITH toks AS (
          SELECT doc_id, lang,
            list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
          FROM documents),
        f0 AS (
          SELECT doc_id, lang,
            unnest(tk || list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS feat
          FROM toks WHERE len(tk) >= 1),
        f AS (
          SELECT doc_id, lang,
            list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 16),
                i -> CAST(strpos('0123456789abcdef', substr(md5(feat), i, 1)) - 1 AS BIGINT))),
              (a, x) -> a * 16 + x) % 8192 AS bucket
          FROM f0),
        tcnt AS (SELECT bucket, count(*)::DOUBLE AS ct FROM f WHERE lang = 'en' GROUP BY bucket),
        rcnt AS (SELECT bucket, count(*)::DOUBLE AS cr FROM f GROUP BY bucket),
        tot AS (SELECT (SELECT sum(ct) FROM tcnt) AS tott,
                       (SELECT sum(cr) FROM rcnt) AS totr),
        model AS (
          SELECT bucket,
            ln((coalesce(ct, 0.0) + 1.0) / (tott + 8192)) -
            ln((cr + 1.0) / (totr + 8192)) AS lr
          FROM rcnt LEFT JOIN tcnt USING (bucket), tot),
        scored AS (
          SELECT f.doc_id, count(*) AS n_feats, round(sum(m.lr), 9) AS rlogw
          FROM f JOIN model m USING (bucket) GROUP BY f.doc_id),
        ranked AS (
          SELECT doc_id, n_feats,
            row_number() OVER (ORDER BY rlogw DESC, doc_id) AS rk
          FROM scored)
        SELECT doc_id, n_feats,
          CASE WHEN rk <= 200 THEN CAST(rk AS BIGINT) END AS rank,
          rk <= 200 AS selected
        FROM ranked""",

    // temperature rates: Σ√n folded in sorted-lang order (list_reduce over
    // an ORDER BY list) to match the engine's deterministic driver fold;
    // everything else is IEEE double arithmetic in the identical order
    "q_temperature_rates" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        w AS (SELECT list_reduce(
            list_prepend(0.0::DOUBLE, list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang)),
            (a, x) -> a + x) AS sumw FROM c)
        SELECT lang, n_docs,
          least(1000000, CAST(floor(1000000.0 * 300.0 * sqrt(CAST(n_docs AS DOUBLE))
            / (SELECT sumw FROM w) / n_docs) AS BIGINT)) AS rate_ppm
        FROM c""",

    // the sample that rate table induces under the ppm FNV bucket
    "q_temperature_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        w AS (SELECT list_reduce(
            list_prepend(0.0::DOUBLE, list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang)),
            (a, x) -> a + x) AS sumw FROM c),
        r AS (SELECT lang,
          least(1000000, CAST(floor(1000000.0 * 300.0 * sqrt(CAST(n_docs AS DOUBLE))
            / (SELECT sumw FROM w) / n_docs) AS BIGINT)) AS rate_ppm
          FROM c),
        fp AS (
          SELECT doc_id, lang, list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(CAST(doc_id AS VARCHAR)) + 1),
                i -> unicode(substr(CAST(doc_id AS VARCHAR), i, 1))::HUGEINT)),
            (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) AS h
          FROM documents),
        b AS (
          SELECT doc_id, lang,
            ((CAST(h - CASE WHEN h >= 9223372036854775808::HUGEINT
                   THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)
              % 1000000) + 1000000) % 1000000 AS bucket
          FROM fp)
        SELECT doc_id, b.lang AS lang FROM b JOIN r ON b.lang = r.lang
        WHERE bucket < rate_ppm""",

    "q_quantile_bins" ->
      """WITH binned AS (
          SELECT lang, n_chars,
            ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
          FROM documents)
        SELECT lang, CAST(bin AS BIGINT) AS bin, count(*) AS cnt,
          min(n_chars) AS lo, max(n_chars) AS hi
        FROM binned GROUP BY lang, bin""",

    "q_pack" ->
      """WITH tok AS (
          SELECT source, doc_id,
            -- exact TextStats.tokenCountCol replica (same as q_token_count):
            -- NO empty-token filter, so a leading tab/newline after the
            -- space-only trim counts identically in both engines
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n_tokens
          FROM documents),
        c AS (
          SELECT source, doc_id, n_tokens,
            sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM tok)
        SELECT source, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
          count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM c GROUP BY source, pack_id""",

    // shard shuffle: exact FNV-1a(doc_id ':s0') fold replica (HUGEINT
    // wrap-mul, signed reinterpret), positive mod 8, within-shard
    // (hash, id) row_number — the full per-doc assignment is hash-compared
    "q_shard_assign" ->
      """WITH h AS (
          SELECT doc_id,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n_tokens,
            list_reduce(
              list_prepend(14695981039346656037::HUGEINT,
                list_transform(range(1, length(doc_id || ':s0') + 1),
                  i -> unicode(substr(doc_id || ':s0', i, 1))::HUGEINT)),
              (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                          % 18446744073709551616::HUGEINT) AS hu
          FROM documents),
        s AS (
          SELECT doc_id, n_tokens,
            CAST(hu - CASE WHEN hu >= 9223372036854775808::HUGEINT
                 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS h64
          FROM h)
        SELECT doc_id,
          CAST(((h64 % 8) + 8) % 8 AS BIGINT) AS shard_id,
          CAST(row_number() OVER (PARTITION BY ((h64 % 8) + 8) % 8
                                  ORDER BY h64, doc_id) AS BIGINT) AS pos,
          n_tokens
        FROM s""",

    // manifest: same assignment CTE folded per shard; the digest is
    // bit_xor over FNV-1a(pos ':' doc_id) — order-sensitive via pos
    "q_shard_manifest" ->
      """WITH h AS (
          SELECT doc_id,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n_tokens,
            list_reduce(
              list_prepend(14695981039346656037::HUGEINT,
                list_transform(range(1, length(doc_id || ':s0') + 1),
                  i -> unicode(substr(doc_id || ':s0', i, 1))::HUGEINT)),
              (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                          % 18446744073709551616::HUGEINT) AS hu
          FROM documents),
        s AS (
          SELECT doc_id, n_tokens,
            CAST(hu - CASE WHEN hu >= 9223372036854775808::HUGEINT
                 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS h64
          FROM h),
        a AS (
          SELECT doc_id, n_tokens,
            CAST(((h64 % 8) + 8) % 8 AS BIGINT) AS shard_id,
            CAST(row_number() OVER (PARTITION BY ((h64 % 8) + 8) % 8
                                    ORDER BY h64, doc_id) AS BIGINT) AS pos
          FROM s),
        t AS (
          SELECT shard_id, n_tokens,
            list_reduce(
              list_prepend(14695981039346656037::HUGEINT,
                list_transform(range(1, length(pos || ':' || doc_id) + 1),
                  i -> unicode(substr(pos || ':' || doc_id, i, 1))::HUGEINT)),
              (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                          % 18446744073709551616::HUGEINT) AS tu
          FROM a)
        SELECT shard_id, count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
          bit_xor(CAST(tu - CASE WHEN tu >= 9223372036854775808::HUGEINT
               THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)) AS digest
        FROM t GROUP BY shard_id""",

    // BPE trainer gate: the 30-merge table learned on the sf0.01 corpus,
    // pinned verbatim (exact long word counts + total-order tie-breaks make
    // the table partitioning- and engine-independent — the merges surface
    // real corpus structure: join, hash, batch, scan, column, customer)
    "q_bpe_merges" ->
      """SELECT * FROM (VALUES
          (0::BIGINT, 'e', 'r'), (1::BIGINT, 'i', 'n'), (2::BIGINT, 'o', 'w'),
          (3::BIGINT, 'o', 'r'), (4::BIGINT, 's', 't'), (5::BIGINT, 'm', 'er'),
          (6::BIGINT, 'a', 't'), (7::BIGINT, 'l', 'u'), (8::BIGINT, 'a', 'r'),
          (9::BIGINT, 'p', 'ar'), (10::BIGINT, 'j', 'o'), (11::BIGINT, 'jo', 'in'),
          (12::BIGINT, 'a', 's'), (13::BIGINT, 'as', 'h'), (14::BIGINT, 'h', 'ash'),
          (15::BIGINT, 'r', 'ow'), (16::BIGINT, 'at', 'c'), (17::BIGINT, 'atc', 'h'),
          (18::BIGINT, 'b', 'atch'), (19::BIGINT, 'a', 'n'), (20::BIGINT, 'c', 'an'),
          (21::BIGINT, 's', 'can'), (22::BIGINT, 'c', 'o'), (23::BIGINT, 'c', 'u'),
          (24::BIGINT, 'co', 'lu'), (25::BIGINT, 'colu', 'm'), (26::BIGINT, 'colum', 'n'),
          (27::BIGINT, 'cu', 'st'), (28::BIGINT, 'cust', 'o'), (29::BIGINT, 'custo', 'mer')
        ) t(rank, lhs, rhs)""",

    // BPE encode gate: corpus-total word/piece counts under the trained
    // table (pinned — encoder or trainer drift flips the sums)
    "q_bpe_encode_gate" ->
      """SELECT 500::BIGINT AS n_docs, 27165::BIGINT AS total_words,
          79215::BIGINT AS total_pieces""",

    // PII scrub: byte-identical planted input (pure string arithmetic on
    // doc_id) + the same RE2∩Java regexes, counts on the original text,
    // replaces applied in the same fixed order with the 'g' flag (Spark
    // regexp_replace is global)
    "q_pii" ->
      """WITH planted AS (
          SELECT doc_id,
            text ||
            (CASE WHEN doc_id % 3 = 0 THEN ' Contact user' || CAST(doc_id AS VARCHAR)
               || '@mail.example.com for details.' ELSE '' END) ||
            (CASE WHEN doc_id % 5 = 0 THEN ' Call +1 555-'
               || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199 today.' ELSE '' END) ||
            (CASE WHEN doc_id % 7 = 0 THEN ' Origin 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' logged.' ELSE '' END) AS t
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(t, '\+\d{1,2}[ -]\d{3}[ -]\d{3}[ -]\d{4}')) AS BIGINT) AS n_phones,
          CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
          regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+\d{1,2}[ -]\d{3}[ -]\d{3}[ -]\d{4}', '<PHONE>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text_redacted
        FROM planted""",

    // CCNet normalization: byte-identical planted input (chr(769) is the
    // combining acute — the decomposed form the NFC pass must fold), then
    // strip_accents(nfc_normalize(..)) + lower + digit/whitespace regexes —
    // the probe-verified engine-identical replica of the Java
    // NFD-strip-marks path
    "q_ccnet_normalize" ->
      """WITH planted AS (
          SELECT doc_id,
            text || ' Café NÚMERO ' || CAST(doc_id AS VARCHAR) ||
            ' RÉSUMÉS naïve façade Über 42, e' || chr(769) || 'clair.' ||
            chr(9) || 'End  line' AS t
          FROM documents)
        SELECT doc_id,
          trim(regexp_replace(regexp_replace(
            lower(strip_accents(nfc_normalize(t))),
            '[0-9]', '0', 'g'), '\s+', ' ', 'g')) AS text_norm
        FROM planted""",

    "q_url_normalize" ->
      raw"""$UrlCtes
        SELECT doc_id, url, url_norm,
          CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) <> ''
               THEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) ELSE host END AS domain
        FROM norm""",

    "q_url_dedup" ->
      raw"""$UrlCtes
        SELECT url_norm, count(*) AS cnt, min(doc_id) AS keep_id
        FROM norm GROUP BY url_norm HAVING count(*) > 1""",

    "q_domain_stats" ->
      raw"""$UrlCtes
        SELECT
          CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) <> ''
               THEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) ELSE host END AS domain,
          count(*) AS n_docs, count(DISTINCT host) AS n_hosts,
          CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens
        FROM norm GROUP BY 1""",

    // domain quota: same registered-domain extraction, same exact integer
    // window order (n_chars DESC, doc_id) — row_number is engine-identical
    // on a total order
    "q_domain_quota" ->
      raw"""$UrlCtes,
        ranked AS (
          SELECT
            CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) <> ''
                 THEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) ELSE host END AS domain,
            norm.doc_id,
            row_number() OVER (
              PARTITION BY CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) <> ''
                   THEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) ELSE host END
              ORDER BY d.n_chars DESC, norm.doc_id) AS rank
          FROM norm JOIN documents d ON norm.doc_id = d.doc_id)
        SELECT domain, CAST(rank AS BIGINT) AS rank, doc_id
        FROM ranked WHERE rank <= 10""",

    "q_dedup_exact" ->
      """SELECT md5(text) AS fingerprint, count(*) AS cnt, min(doc_id) AS keep_id
        FROM documents GROUP BY md5(text)""",

    // Exact 60-bit SimHash recomputation: the token hash is DEFINED as
    // little-endian(first 8 md5 bytes) >> 4 precisely so DuckDB's
    // md5_number_upper reproduces it bit-for-bit; the O(N²) pair scan is the
    // exact answer the blocked Spark plan must match (pigeonhole blocking is
    // lossless below the bucket cap).
    "q_dedup_simhash" ->
      """WITH toks AS (
          SELECT doc_id,
            unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                   x -> x <> '')) AS tok
          FROM documents),
        th AS (SELECT doc_id, CAST(md5_number_upper(tok) >> 4 AS BIGINT) AS h FROM toks),
        bits AS (
          SELECT doc_id, b,
            sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS c
          FROM th, generate_series(0, 59) t(b)
          GROUP BY doc_id, b),
        sigs AS (
          SELECT doc_id,
            CAST(sum(CASE WHEN c > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS sig
          FROM bits GROUP BY doc_id)
        SELECT CAST(x.doc_id AS VARCHAR) AS a, CAST(y.doc_id AS VARCHAR) AS b,
          CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
        FROM sigs x JOIN sigs y ON CAST(x.doc_id AS VARCHAR) < CAST(y.doc_id AS VARCHAR)
        WHERE bit_count(xor(x.sig, y.sig)) <= 3""",

    // Exact word-3-shingle Jaccard over all pairs — the answer MinHash+LSH
    // banding must reproduce at this threshold (its exact-verify stage
    // guarantees precision; this oracle additionally pins recall).
    "q_dedup_minhash" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                 WHEN len(tk) < 3 THEN [array_to_string(tk, chr(1))]
                 ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || chr(1) || tk[i+1] || chr(1) || tk[i+2])) END AS s
          FROM toks)
        SELECT a, b, jaccard FROM (
          SELECT CAST(x.doc_id AS VARCHAR) AS a, CAST(y.doc_id AS VARCHAR) AS b,
            round(len(list_intersect(x.s, y.s))::DOUBLE
                  / len(list_distinct(x.s || y.s)), 6) AS jaccard
          FROM sh x JOIN sh y ON CAST(x.doc_id AS VARCHAR) < CAST(y.doc_id AS VARCHAR)
          WHERE len(x.s) > 0 AND len(y.s) > 0)
        WHERE jaccard >= 0.3""",

    "q_dedup_ngram" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                 WHEN len(tk) < 3 THEN [array_to_string(tk, chr(1))]
                 ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || chr(1) || tk[i+1] || chr(1) || tk[i+2])) END AS s
          FROM toks)
        SELECT a, b, jaccard FROM (
          SELECT CAST(x.doc_id AS VARCHAR) AS a, CAST(y.doc_id AS VARCHAR) AS b,
            round(len(list_intersect(x.s, y.s))::DOUBLE
                  / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
          FROM sh x JOIN sh y ON CAST(x.doc_id AS VARCHAR) < CAST(y.doc_id AS VARCHAR)
          WHERE len(x.s) > 0 AND len(y.s) > 0)
        WHERE jaccard >= 0.3""",

    // dedup clusters: transitive closure of the exact-jaccard pair graph
    // via recursive CTE; cluster id = lexicographic min of the component
    // (both engines compare the string ids bytewise)
    "q_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                 WHEN len(tk) < 3 THEN [array_to_string(tk, chr(1))]
                 ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || chr(1) || tk[i+1] || chr(1) || tk[i+2])) END AS s
          FROM toks),
        pairs AS (
          SELECT a, b FROM (
            SELECT CAST(x.doc_id AS VARCHAR) AS a, CAST(y.doc_id AS VARCHAR) AS b,
              round(len(list_intersect(x.s, y.s))::DOUBLE
                / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
            FROM sh x JOIN sh y ON CAST(x.doc_id AS VARCHAR) < CAST(y.doc_id AS VARCHAR)
            WHERE len(x.s) > 0 AND len(y.s) > 0)
          WHERE jaccard >= 0.3),
        edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS doc_id, least(min(dst), src) AS cluster_id
        FROM reach GROUP BY src""",

    // survivor pick: same recursive closure as q_dedup_clusters, then a
    // per-cluster window argmax on the exact token count (q_token_count
    // form), ties to the bytewise-smallest id; loners kept with NULL cluster
    "q_dedup_canonical" ->
      """WITH RECURSIVE toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                 WHEN len(tk) < 3 THEN [array_to_string(tk, chr(1))]
                 ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || chr(1) || tk[i+1] || chr(1) || tk[i+2])) END AS s
          FROM toks),
        pairs AS (
          SELECT a, b FROM (
            SELECT CAST(x.doc_id AS VARCHAR) AS a, CAST(y.doc_id AS VARCHAR) AS b,
              round(len(list_intersect(x.s, y.s))::DOUBLE
                / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
            FROM sh x JOIN sh y ON CAST(x.doc_id AS VARCHAR) < CAST(y.doc_id AS VARCHAR)
            WHERE len(x.s) > 0 AND len(y.s) > 0)
          WHERE jaccard >= 0.3),
        edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        clusters AS (
          SELECT src AS doc_id, least(min(dst), src) AS cluster_id
          FROM reach GROUP BY src),
        quality AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
            (CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS q
          FROM documents),
        decided AS (
          SELECT c.doc_id, c.cluster_id,
            (row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.q DESC, c.doc_id ASC)) = 1 AS kept
          FROM clusters c JOIN quality q USING (doc_id)),
        loners AS (
          SELECT q.doc_id, NULL::VARCHAR AS cluster_id, true AS kept
          FROM quality q WHERE q.doc_id NOT IN (SELECT doc_id FROM clusters))
        SELECT doc_id, cluster_id, kept FROM decided
        UNION ALL SELECT doc_id, cluster_id, kept FROM loners""",

    // FNV-1a 64-bit over the case/whitespace-normalized char stream,
    // recomputed exactly in DuckDB via a HUGEINT fold mod 2^64.
    "q_fingerprint" ->
      """WITH norm AS (
          SELECT doc_id,
            array_to_string(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
              x -> x <> ''), ' ') AS s
          FROM documents),
        fp AS (
          SELECT doc_id, list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(s) + 1),
                i -> unicode(substr(s, i, 1))::HUGEINT)),
            (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) AS h
          FROM norm)
        SELECT doc_id,
          CAST(h - CASE WHEN h >= 9223372036854775808::HUGEINT
                        THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
               AS BIGINT) AS fp64
        FROM fp""",

    "q_lang_id" ->
      """WITH toks AS (
          SELECT doc_id, lang,
            list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
              x -> x <> '')) AS tk
          FROM documents),
        scored AS (
          SELECT doc_id, lang, list_max([
            {'hits': len(list_intersect(tk, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])), 'lang': 'de'},
            {'hits': len(list_intersect(tk, ['the','and','of','to','is','in','that','it','was','for'])), 'lang': 'en'},
            {'hits': len(list_intersect(tk, ['el','la','los','las','es','en','que','por','una','para'])), 'lang': 'es'},
            {'hits': len(list_intersect(tk, ['le','la','les','est','et','dans','que','pour','une','sur'])), 'lang': 'fr'}
          ]) AS best
          FROM toks)
        SELECT doc_id, lang,
          CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
        FROM scored""",

    // gate rows: the invariant is pinned as a constant — the Spark side
    // computes the recall/digest and the hash compare fails the moment the
    // computed row deviates (see the matching queries for rationale)
    "q_ann_ivf_recall" ->
      """SELECT 10::BIGINT AS n_queries, true AS recall_ok""",

    "q_ann_ivf_indexed" ->
      """SELECT 50::BIGINT AS n_rows, true AS paths_identical""",

    "q_pq_recall" ->
      """SELECT 10::BIGINT AS n_queries, true AS recall_ok""",

    "q_ivfadc_recall" ->
      """SELECT 10::BIGINT AS n_queries, true AS recall_ok""",

    // SQ8: full-strength oracle — recompute the per-dimension min/max and
    // every affine code exactly (identical IEEE double expression order),
    // then the same integer digests
    "q_sq8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        d AS (SELECT vec_id, unnest(range(1, len(v)+1)) AS i, unnest(v) AS x FROM e),
        st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM d GROUP BY i),
        q AS (SELECT vec_id, d.i AS i,
                CASE WHEN mx > mn THEN least(255, greatest(0,
                  CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT)))
                ELSE 0 END AS c
              FROM d JOIN st ON d.i = st.i)
        SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
          CAST(sum(c) AS BIGINT) AS code_sum,
          CAST(sum(i * c) AS BIGINT) AS code_wsum
        FROM q GROUP BY vec_id""",

    "q_sketch_gate" ->
      """SELECT true AS cd_supp_ok, true AS cd_order_ok, true AS median_ok""",

    "q_media_gate" ->
      """SELECT * FROM (VALUES
          ('audio', 100::BIGINT, 212273::BIGINT, -70.581::DOUBLE),
          ('image', 100::BIGINT, 211082::BIGINT, 174.35::DOUBLE),
          ('video', 100::BIGINT, 212335::BIGINT, 167.115::DOUBLE))
        t(modality, cnt, total_bytes, sum_features)""",

    // the KG pipeline's headline P/R row and per-stage cardinalities over
    // the PINNED deterministic corpus — golden values, hash-compared; any
    // semantic drift in chunking/extraction/resolution/Louvain flips them
    "kg_eval" ->
      """SELECT 0.974784::DOUBLE AS triple_precision, 0.987749::DOUBLE AS triple_recall,
          1.0::DOUBLE AS link_precision, 0.995::DOUBLE AS link_recall,
          2895::BIGINT AS n_emitted_triples, 2857::BIGINT AS n_golden_triples,
          199::BIGINT AS n_emitted_links, 200::BIGINT AS n_golden_links""",

    "kg_modularity" ->
      """SELECT * FROM (VALUES (1::BIGINT, 0.0892::DOUBLE), (2::BIGINT, 0.0892::DOUBLE))
        t(iteration, modularity)""",

    "kg_line_dedup" ->
      """SELECT 1500::BIGINT AS n_docs, 23762::BIGINT AS total_lines,
          7700::BIGINT AS total_kept, 0::BIGINT AS n_fully_boilerplate""",

    "q_supplier_triangles" ->
      """WITH hi AS (
          SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 49),
        pairs AS (
          SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS s,
            greatest(a.l_suppkey, b.l_suppkey) AS t
          FROM hi a JOIN hi b
            ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
        tri AS (
          SELECT count(*) AS n_triangles
          FROM pairs e1 JOIN pairs e2 ON e1.t = e2.s
          JOIN pairs e3 ON e3.s = e1.s AND e3.t = e2.t)
        SELECT (SELECT count(*) FROM pairs)::BIGINT AS n_edges,
          n_triangles::BIGINT AS n_triangles FROM tri""",

    // LPA planted-community recovery: doc_ids are contiguous from 0, so the
    // plant is exactly n/5 cliques of 5 — the oracle states the full
    // recovery certificate (one histogram row: every clique intact)
    "q_lpa" ->
      """SELECT 5::BIGINT AS community_size,
          (count(*) // 5)::BIGINT AS n_communities FROM documents""",

    // clustering profile: same pair graph as q_supplier_triangles plus the
    // exact degree-wedge sum (integral // so no float rounding)
    "q_clustering" ->
      """WITH hi AS (
          SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 49),
        pairs AS (
          SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS s,
            greatest(a.l_suppkey, b.l_suppkey) AS t
          FROM hi a JOIN hi b
            ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
        deg AS (
          SELECT id, count(*) AS deg FROM (
            SELECT s AS id FROM pairs UNION ALL SELECT t AS id FROM pairs)
          GROUP BY id),
        tri AS (
          SELECT count(*) AS n_triangles
          FROM pairs e1 JOIN pairs e2 ON e1.t = e2.s
          JOIN pairs e3 ON e3.s = e1.s AND e3.t = e2.t)
        SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
          (SELECT count(*) FROM pairs)::BIGINT AS n_edges,
          (SELECT sum(deg * (deg - 1)) // 2 FROM deg)::BIGINT AS n_wedges,
          (SELECT n_triangles * 3 FROM tri)::BIGINT AS n_closed_wedges""",

    // graph-analytics gates over the pinned corpus / planted graph: decimal
    // PageRank is bit-deterministic, so the rounded ranks are constants —
    // any arithmetic-order nondeterminism or formula drift flips the hash
    "q_pagerank_gate" ->
      """SELECT * FROM (VALUES
          (0::BIGINT, 0.035219197::DOUBLE), (3::BIGINT, 0.017847752::DOUBLE),
          (1::BIGINT, 0.0174181::DOUBLE), (22::BIGINT, 0.010406315::DOUBLE),
          (42::BIGINT, 0.010406315::DOUBLE)) t(id, pr)""",

    "kg_graph_stats" ->
      """SELECT 61::BIGINT AS n_nodes, 1016::BIGINT AS n_edges,
          22::BIGINT AS max_out_deg, 24::BIGINT AS max_in_deg""",

    "kg_pagerank_top" ->
      """SELECT * FROM (VALUES
          ('city_of_kunubeville', 0.023323874::DOUBLE),
          ('vizube_corporation', 0.022371888::DOUBLE),
          ('vigube_zigube', 0.01998285::DOUBLE),
          ('virabe_zirabe', 0.019795917::DOUBLE),
          ('kugube_corporation', 0.019769143::DOUBLE),
          ('city_of_kulubeville', 0.019563628::DOUBLE),
          ('pokube_corporation', 0.019353802::DOUBLE),
          ('posube_rosube', 0.018897962::DOUBLE),
          ('city_of_fisubeville', 0.018793737::DOUBLE),
          ('kurabe_corporation', 0.018733231::DOUBLE)) t(id, pr)""",

    // neighborhood function: exact reachable-pair counts (61 < k ⇒ KMV is
    // exact) — N(1) = 61 + 1016 cross-checks kg_graph_stats' edge count,
    // N(3) = 61² shows the entity graph is strongly connected at diameter 3
    "kg_neighborhood" ->
      """SELECT * FROM (VALUES
          (0::BIGINT, 61::BIGINT), (1::BIGINT, 1077::BIGINT),
          (2::BIGINT, 3705::BIGINT), (3::BIGINT, 3721::BIGINT)) t(t, n_pairs)""",

    // harmonic centrality: exact inverse-distance sums (61 < k), pinned
    "kg_harmonic_top" ->
      """SELECT * FROM (VALUES
          ('kunabe_lunabe', 41.0::DOUBLE),
          ('city_of_vidubeville', 40.5::DOUBLE),
          ('city_of_vinabeville', 40.5::DOUBLE),
          ('barabe_corporation', 40.0::DOUBLE),
          ('city_of_kunubeville', 40.0::DOUBLE),
          ('city_of_kuzubeville', 40.0::DOUBLE),
          ('city_of_sasabeville', 40.0::DOUBLE),
          ('vinube_corporation', 39.833333::DOUBLE),
          ('kutube_corporation', 39.5::DOUBLE),
          ('menube_nenube', 39.5::DOUBLE)) t(id, hc)""",

    // k-core ladder: exact peel fixpoints — 61 nodes hold to k=16, partial
    // sheds at 18/20 (cascade working), total collapse at 22 (degeneracy
    // shoulder of the pinned entity graph)
    "kg_kcore" ->
      """SELECT * FROM (VALUES
          (2::BIGINT, 61::BIGINT, 1582::BIGINT),
          (16::BIGINT, 61::BIGINT, 1582::BIGINT),
          (18::BIGINT, 60::BIGINT, 1550::BIGINT),
          (20::BIGINT, 56::BIGINT, 1402::BIGINT),
          (22::BIGINT, 0::BIGINT, 0::BIGINT)) t(k, n_core_nodes, sum_core_degree)""",

    // personalized PageRank around the hub: decimal arithmetic is
    // bit-deterministic (GraphAlgosSpec pins PPR(all-seeds) ≡ PageRank
    // bit-for-bit), so the rounded neighborhood ranking is a constant
    "kg_ppr_top" ->
      """SELECT * FROM (VALUES
          ('virabe_zirabe', 0.021189923::DOUBLE),
          ('city_of_kulubeville', 0.020759137::DOUBLE),
          ('vigube_zigube', 0.020555809::DOUBLE),
          ('batube_corporation', 0.019781288::DOUBLE),
          ('menabe_corporation', 0.019234705::DOUBLE),
          ('city_of_pobubeville', 0.019085364::DOUBLE),
          ('banabe_danabe', 0.018816597::DOUBLE),
          ('vinube_corporation', 0.018605846::DOUBLE),
          ('city_of_vinabeville', 0.018516554::DOUBLE),
          ('city_of_metubeville', 0.018382459::DOUBLE)) t(id, ppr)""",

    "kg_bfs_hops" ->
      """SELECT * FROM (VALUES
          (0::BIGINT, 1::BIGINT), (1::BIGINT, 22::BIGINT),
          (2::BIGINT, 38::BIGINT)) t(dist, cnt)""",

    "kg_gate" ->
      """SELECT 23762::BIGINT AS n_chunks, 180::BIGINT AS n_entities,
          11762::BIGINT AS n_mentions, 5879::BIGINT AS n_triples_raw,
          180::BIGINT AS n_resolves_to, 2895::BIGINT AS n_resolved_triples,
          6::BIGINT AS n_l1_communities, 2::BIGINT AS n_levels""",

    // Q7 retriever drivers — five (driver, mode) flows pinned end-to-end
    // (constant oracle; response = hash of the fully assembled answer
    // prompt, so these witness expansion/keywords/HyDE -> start set ->
    // search -> context -> prompt cell-for-cell). Captured from independent
    // runs with identical rows.
    // real-codec decode rates + integer-stable feature aggregates, captured
    // from two identical independent runs
    "q_media_codec" ->
      """SELECT * FROM (VALUES
          ('bmp', 60::BIGINT, 60::BIGINT, 74960::BIGINT, 643653::BIGINT),
          ('gif', 60::BIGINT, 60::BIGINT, 73128::BIGINT, 730589::BIGINT),
          ('mp4', 60::BIGINT, 0::BIGINT, 106045::BIGINT, 29::BIGINT),
          ('png', 60::BIGINT, 60::BIGINT, 79061::BIGINT, 672299::BIGINT),
          ('wav', 60::BIGINT, 60::BIGINT, 143392::BIGINT, 1560::BIGINT)
        ) t(format, n, n_decoded, sum_bytes, f0_sum) ORDER BY format""",

    // r4: real ImageIO decode (png/gif) joined the codec path — features and
    // frame samples are digest-gated like the kg_* family; every png/gif/bmp/
    // wav row must show decoded=true inside the hashed cells, mp4 false
    "q_media_features" ->
      """SELECT 'q_media_features' AS table_name,
          'decoded,f0_x1000,format,fsum_x1000,media_id,modality,n_bytes' AS cols,
          300::BIGINT AS n_rows, '142416007970059937363' AS digest""",

    "q_media_frames" ->
      """SELECT 'q_media_frames' AS table_name,
          'frame_bytes,frame_idx,frame_ts_ms,media_id' AS cols,
          315::BIGINT AS n_rows, '224024158354266198280' AS digest""",

    // sf0.01 capture (two independent JVMs identical); float rank scores
    // excluded, (query_id, rank, neighbor_id) cells all hashed
    "q_ann_ivf" ->
      """SELECT 'q_ann_ivf' AS table_name, 'neighbor_id,query_id,rank' AS cols,
          50::BIGINT AS n_rows, '-36420282907922725537' AS digest""",

    // Q8 concept curation over the pinned corpus: concepts + grown AND
    // level + co-occurrence counts + full bottom-up covers, all digested
    // (two independent JVMs identical)
    "kg_concepts" ->
      """SELECT * FROM (VALUES
          ('concepts', 'concept_id,concept_type', 144::BIGINT,
           '-47832370903753586009'),
          ('cooccurrence', 'a,b,concept_type,cooccurrence', 120::BIGINT,
           '-81358305935863817167'),
          ('cover', 'concept_id,member_id', 28109::BIGINT,
           '1076768060839465705870'),
          ('is_child_of', 'child_id,parent_id', 240::BIGINT,
           '-32965336768476406411')
        ) t(table_name, cols, n_rows, digest) ORDER BY table_name""",

    "kg_retriever_driver" ->
      """SELECT * FROM (VALUES
          ('community', 'scored', 2::BIGINT, 26::BIGINT, 'ANSWER:6f1ef068'),
          ('entity_rel', 'extract', 5::BIGINT, 157::BIGINT, 'ANSWER:ef9b8def'),
          ('hybrid', 'keywords', 3::BIGINT, 3468::BIGINT, 'ANSWER:f63691eb'),
          ('hybrid', 'vector', 3::BIGINT, 31810::BIGINT, 'ANSWER:7483901b'),
          ('sibling', 'vector', 2::BIGINT, 853::BIGINT, 'ANSWER:687401bd'),
          ('similarity', 'expand', 3::BIGINT, 110::BIGINT, 'ANSWER:f2e31392'),
          ('similarity', 'hyde', 3::BIGINT, 106::BIGINT, 'ANSWER:35b9502e'),
          ('similarity', 'plain', 3::BIGINT, 110::BIGINT, 'ANSWER:f2e31392')
        ) t(driver, mode, n_sources, source_chars, response)
        ORDER BY driver, mode""",

    // per-table full-content digests over the pinned 1500-page corpus
    // (order-independent xxhash64 sums, floats excluded) — captured from two
    // independent runs (identical), so this constant row set IS the content
    // of every stage table; any cell drift anywhere in the chain flips one.
    "kg_content_gate" ->
      """SELECT * FROM (VALUES
          ('chunks', 'chunk_id,doc_id,idx,text', 23762::BIGINT,
           '-449841807844719745933'),
          ('community_descriptions', 'community_id,description,iteration',
           12::BIGINT, '1499816272989353191'),
          ('entities', 'descriptions,entity_id,entity_type', 180::BIGINT,
           '24537888728201030590'),
          ('louvain_l1_membership', 'child_id,community_id', 61::BIGINT,
           '44027144755596368941'),
          ('louvain_l2_membership', 'child_id,community_id', 6::BIGINT,
           '-15102757332275871262'),
          ('mentions', 'chunk_id,entity_id', 11762::BIGINT,
           '226299699436355727950'),
          ('pages', 'html,lang,text,url,warc_ts', 1500::BIGINT,
           '-150820746009200669459'),
          ('resolved_triples', 'obj,pred,subj', 2895::BIGINT,
           '102233526355990428963'),
          ('resolves_to', 'canonical_id,entity_id', 180::BIGINT,
           '162008905017323492000'),
          ('triples_raw', 'chunk_id,obj,pred,subj', 5879::BIGINT,
           '109968386043217273634'),
          ('type_relationships', 'dst_type,frequency,relation_type,src_type',
           72::BIGINT, '-22662055010314101663')
        ) t(table_name, cols, n_rows, digest) ORDER BY table_name""",

    // r4: the formerly rows-only kg_* family, digest-gated — each query now
    // emits one (table_name, cols, n_rows, digest) row over the pinned
    // 1500-page corpus (order-independent xxhash64 content sum, floats
    // excluded; see contentDigest). Constants captured from two independent
    // JVMs with identical results.
    "kg_chunks" ->
      """SELECT 'kg_chunks' AS table_name, 'chunk_id,doc_id,idx,text' AS cols,
          23762::BIGINT AS n_rows, '-449841807844719745933' AS digest""",

    "kg_communities" ->
      """SELECT 'kg_communities' AS table_name, 'community_id,description,iteration' AS cols,
          12::BIGINT AS n_rows, '1499816272989353191' AS digest""",

    "kg_community_search" ->
      """SELECT 'kg_community_search' AS table_name, 'chunk_id,description,seed_community_id,text' AS cols,
          5865::BIGINT AS n_rows, '111556261825311843546' AS digest""",

    "kg_community_vector_search" ->
      """SELECT 'kg_community_vector_search' AS table_name, 'chunk_id,description,seed_community_id,text' AS cols,
          4620::BIGINT AS n_rows, '36383171343985064514' AS digest""",

    "kg_content_fetch" ->
      """SELECT 'kg_content_fetch' AS table_name, 'content,id,vtype' AS cols,
          7::BIGINT AS n_rows, '-1002065379638087343' AS digest""",

    "kg_content_vector_search" ->
      """SELECT 'kg_content_vector_search' AS table_name, 'content,id' AS cols,
          15::BIGINT AS n_rows, '35214712276886608646' AS digest""",

    "kg_entities" ->
      """SELECT 'kg_entities' AS table_name, 'descriptions,entity_id,entity_type' AS cols,
          180::BIGINT AS n_rows, '24537888728201030590' AS digest""",

    "kg_entity_retrieval" ->
      """SELECT 'kg_entity_retrieval' AS table_name, 'chunk_id,text,touch_count' AS cols,
          10::BIGINT AS n_rows, '2017245945116820436' AS digest""",

    "kg_hybrid_context" ->
      """SELECT 'kg_hybrid_context' AS table_name, 'context,num_times_seen,seed_id,vertex_id,vtype' AS cols,
          1366::BIGINT AS n_rows, '-41822337398609095491' AS digest""",

    "kg_hybrid_expand" ->
      """SELECT 'kg_hybrid_expand' AS table_name, 'num_times_seen,seed_id,vertex_id,vtype' AS cols,
          1366::BIGINT AS n_rows, '-12416768275077721169' AS digest""",

    "kg_hybrid_vector_search" ->
      """SELECT 'kg_hybrid_vector_search' AS table_name, 'num_times_seen,seed_id,vertex_id,vtype' AS cols,
          4360::BIGINT AS n_rows, '651115604415424590995' AS digest""",

    "kg_keyword_search" ->
      """SELECT 'kg_keyword_search' AS table_name, 'chunk_id,num_times_seen,text' AS cols,
          25::BIGINT AS n_rows, '-2435621025942531012' AS digest""",

    "kg_mentions" ->
      """SELECT 'kg_mentions' AS table_name, 'chunk_id,entity_id' AS cols,
          11762::BIGINT AS n_rows, '226299699436355727950' AS digest""",

    "kg_pages" ->
      """SELECT 'kg_pages' AS table_name, 'lang,text_byte_identical,url' AS cols,
          1500::BIGINT AS n_rows, '36427390940342620708' AS digest""",

    "kg_resolved_triples" ->
      """SELECT 'kg_resolved_triples' AS table_name, 'obj,pred,subj' AS cols,
          2895::BIGINT AS n_rows, '102233526355990428963' AS digest""",

    "kg_resolves_to" ->
      """SELECT 'kg_resolves_to' AS table_name, 'canonical_id,entity_id' AS cols,
          180::BIGINT AS n_rows, '162008905017323492000' AS digest""",

    "kg_sibling_search" ->
      """SELECT 'kg_sibling_search' AS table_name, 'chunk_id,distance,seed_chunk_id,text' AS cols,
          22::BIGINT AS n_rows, '-48843872410157171419' AS digest""",

    "kg_sibling_vector_search" ->
      """SELECT 'kg_sibling_vector_search' AS table_name, 'chunk_id,distance,seed_chunk_id,text' AS cols,
          20::BIGINT AS n_rows, '-40974639017345107118' AS digest""",

    "kg_triples_raw" ->
      """SELECT 'kg_triples_raw' AS table_name, 'chunk_id,obj,pred,subj' AS cols,
          5879::BIGINT AS n_rows, '109968386043217273634' AS digest""",

    "kg_type_relationships" ->
      """SELECT 'kg_type_relationships' AS table_name, 'dst_type,frequency,relation_type,src_type' AS cols,
          72::BIGINT AS n_rows, '-22662055010314101663' AS digest""",


    "q_dedup_prefix" ->
      """SELECT md5(substr(text, 1, 50)) AS fingerprint, count(*) AS cnt,
          min(doc_id) AS keep_id
        FROM documents GROUP BY 1 HAVING count(*) > 1""",

    // Bloom dedup invariants (constant oracle): the no-false-negative
    // guarantee and the fp bound hold at every corpus size
    "q_bloom_dedup" ->
      "SELECT CAST(0 AS BIGINT) AS n_false_neg, true AS fp_ok, true AS has_new",

    // the pruned bucket-layout point read must equal the plain point SELECT
    "q_pk_lookup" ->
      "SELECT doc_id, text FROM documents WHERE doc_id IN (3, 57, 101)",

    // embedding centroids: same sorted-id left fold (list_reduce's no-init
    // form uses the first element as the accumulator, exactly the engine's
    // element_at(1) + fold-over-rest), double casts, same norm fold
    "q_embed_centroids" ->
      """WITH g AS (
          SELECT label, count(*) AS n_vecs,
            list(list_transform(embedding, x -> CAST(x AS DOUBLE)) ORDER BY vec_id) AS vecs
          FROM embeddings GROUP BY label),
        c AS (
          SELECT label, n_vecs,
            list_transform(
              list_reduce(vecs, (a, v) -> list_transform(range(1, len(a) + 1), i -> a[i] + v[i])),
              x -> x / n_vecs) AS centroid
          FROM g)
        SELECT label, n_vecs, len(centroid) AS dim,
          sqrt(list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(centroid, x -> x * x)), (a, b) -> a + b)) AS norm,
          centroid[1] AS c0
        FROM c""",

    // JL random projection: recompute the FNV sign table from the same
    // "j:i" strings — sign = popcount parity of the 64-bit hash (bit_count
    // over the signed reinterpretation counts the identical bit pattern) —
    // then the dot-product fold in the same ascending-i left-assoc order:
    // every double bit-identical
    "q_rp" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        h0 AS (
          SELECT j.range AS j, i.range AS i,
            list_reduce(
              list_prepend(14695981039346656037::HUGEINT,
                list_transform(
                  range(1, length(CAST(j.range AS VARCHAR) || ':' || CAST(i.range AS VARCHAR)) + 1),
                  p -> unicode(substr(CAST(j.range AS VARCHAR) || ':' || CAST(i.range AS VARCHAR), p, 1))::HUGEINT)),
              (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                          % 18446744073709551616::HUGEINT) AS h
          FROM range(16) j CROSS JOIN range(64) i),
        sgn AS (
          SELECT j, i,
            CASE WHEN bit_count(CAST(h - CASE WHEN h >= 9223372036854775808::HUGEINT
                 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT))
                 % 2 = 0
            THEN 1.0 ELSE -1.0 END AS s
          FROM h0),
        sl AS (SELECT j, list(s ORDER BY i) AS ss FROM sgn GROUP BY j)
        SELECT e.vec_id, sl.j,
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(range(1, 65), i -> v[i] * ss[i])),
            (a, b) -> a + b) / sqrt(16) AS y
        FROM e CROSS JOIN sl""",

    // repeated-substring coverage: same tokenization as q_token_count
    // (minus empties), 8-token windows, cross-doc distinct-count >= 2,
    // gaps-and-islands interval union over sorted window starts
    "q_substring_dup" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
          FROM documents),
        win0 AS (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
            i -> {'pos': i, 'gram': array_to_string(tk[i:i+7], ' ')})) AS w
          FROM toks),
        win AS (SELECT doc_id, w.pos AS pos, w.gram AS gram FROM win0),
        dg AS (SELECT gram FROM win GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        dw AS (SELECT doc_id, pos FROM win JOIN dg USING (gram)),
        cov AS (
          SELECT doc_id, pos,
            max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM dw),
        c2 AS (
          SELECT doc_id, count(*) AS n_dup_windows,
            CAST(sum(greatest(0, (pos + 8) - greatest(coalesce(prev_end, pos), pos))) AS BIGINT) AS covered
          FROM cov GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
          coalesce(c2.n_dup_windows, 0) AS n_dup_windows,
          coalesce(c2.covered, 0) AS covered_tokens,
          CASE WHEN len(t.tk) > 0
               THEN coalesce(c2.covered, 0) / len(t.tk) ELSE 0.0 END AS dup_frac
        FROM toks t LEFT JOIN c2 USING (doc_id)""",

    // winnowing oracles: recompute the selection exactly — FNV-1a HUGEINT
    // fold per 4-token shingle (same fold as q_fingerprint), then a
    // windowed-min over key = hu·2^20 + (2^20−1−pos), whose minimum is the
    // (unsigned-smallest hash, rightmost position) shingle of each 5-window;
    // docs with fewer shingles than the window are one whole-doc window
    // (rn >= least(5, g) keeps exactly the full windows / the last row)
    "q_winnow" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
          FROM documents),
        g0 AS (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - 2),
            i -> {'pos': i, 'gram': array_to_string(tk[i:i+3], ' ')})) AS wrow
          FROM toks WHERE len(tk) >= 4),
        fps AS (
          SELECT doc_id, wrow.pos AS pos, list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(wrow.gram) + 1),
                i -> unicode(substr(wrow.gram, i, 1))::HUGEINT)),
            (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) AS hu
          FROM g0),
        keyed AS (
          SELECT doc_id, pos, hu,
            hu * 1048576::HUGEINT + (1048575 - pos)::HUGEINT AS key
          FROM fps),
        wins AS (
          SELECT doc_id,
            min(key) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS mn,
            row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
            count(*) OVER (PARTITION BY doc_id) AS g
          FROM keyed),
        sel AS (SELECT DISTINCT doc_id, mn FROM wins WHERE rn >= least(5, g)),
        hs AS (
          SELECT doc_id, mn // 1048576::HUGEINT AS hu FROM sel),
        st AS (
          SELECT doc_id, count(*) AS n_selected,
            sum(CAST(hu - CASE WHEN hu >= 9223372036854775808::HUGEINT
                               THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
                     AS HUGEINT)) AS digest
          FROM hs GROUP BY doc_id)
        SELECT t.doc_id,
          CAST(greatest(len(t.tk) - 3, 0) AS BIGINT) AS n_grams,
          coalesce(st.n_selected, 0)::BIGINT AS n_selected,
          CAST(coalesce(st.digest, 0::HUGEINT) AS VARCHAR) AS digest,
          round(CASE WHEN len(t.tk) - 3 > 0
                THEN coalesce(st.n_selected, 0) / (len(t.tk) - 3)
                ELSE 0.0 END, 6) AS density
        FROM toks t LEFT JOIN st USING (doc_id)""",

    "q_winnow_pairs" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
          FROM documents),
        g0 AS (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - 2),
            i -> {'pos': i, 'gram': array_to_string(tk[i:i+3], ' ')})) AS wrow
          FROM toks WHERE len(tk) >= 4),
        fps AS (
          SELECT doc_id, wrow.pos AS pos, list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(wrow.gram) + 1),
                i -> unicode(substr(wrow.gram, i, 1))::HUGEINT)),
            (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) AS hu
          FROM g0),
        keyed AS (
          SELECT doc_id, pos, hu,
            hu * 1048576::HUGEINT + (1048575 - pos)::HUGEINT AS key
          FROM fps),
        wins AS (
          SELECT doc_id,
            min(key) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS mn,
            row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
            count(*) OVER (PARTITION BY doc_id) AS g
          FROM keyed),
        sel AS (
          SELECT DISTINCT CAST(doc_id AS VARCHAR) AS id,
            mn // 1048576::HUGEINT AS hu
          FROM wins WHERE rn >= least(5, g)),
        kept AS (
          SELECT id, hu FROM sel
          WHERE hu IN (SELECT hu FROM sel GROUP BY hu
                       HAVING count(*) <= 100)),
        pr AS (
          SELECT x.id AS a, y.id AS b, count(*) AS shared
          FROM kept x JOIN kept y ON x.hu = y.hu AND x.id < y.id
          GROUP BY 1, 2)
        SELECT a, b, shared FROM pr WHERE shared >= 2""",

    // skip-gram co-occurrence: exact integer replica — ordered windows
    // (i, i+d], d in [1,3], same-token pairs skipped, unordered pair key via
    // least/greatest (binary collation both engines), deterministic
    // total-ordered head (count desc, pair asc)
    "q_cooc_pairs" ->
      """WITH toks AS (
          SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
          FROM documents),
        p0 AS (
          SELECT unnest(list_filter(
            flatten(list_transform(range(1, len(tk) + 1), i ->
              list_transform(range(1, 4), d ->
                CASE WHEN i + d <= len(tk) AND tk[i] <> tk[i + d]
                     THEN {'ta': least(tk[i], tk[i + d]),
                           'tb': greatest(tk[i], tk[i + d])}
                     ELSE NULL END))),
            p -> p IS NOT NULL)) AS p
          FROM toks),
        pairs AS (
          SELECT p.ta AS token_a, p.tb AS token_b, count(*) AS pair_count
          FROM p0 GROUP BY 1, 2 HAVING count(*) >= 2),
        uni AS (
          SELECT tok, count(*) AS cnt
          FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok)
        SELECT token_a, token_b, pair_count,
          ua.cnt AS count_a, ub.cnt AS count_b
        FROM pairs
        JOIN uni ua ON ua.tok = token_a
        JOIN uni ub ON ub.tok = token_b
        ORDER BY pair_count DESC, token_a, token_b LIMIT 200""",

    // Count-Min cells: the sketch is linear, so DuckDB recomputes the whole
    // 4×64 grid exactly — row hash = FNV-1a("r:" || token) mod 64 unsigned,
    // cell = sum of exact counts of tokens hashing there, zero-filled grid
    "q_cm_cells" ->
      """WITH toks AS (
          SELECT unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS tok
          FROM documents),
        tc AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        hashed AS (
          SELECT r.range AS r, cnt, list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(CAST(r.range AS VARCHAR) || ':' || tok) + 1),
                i -> unicode(substr(CAST(r.range AS VARCHAR) || ':' || tok, i, 1))::HUGEINT)),
            (acc, x) -> ((xor(acc, x)) * 1099511628211::HUGEINT)
                        % 18446744073709551616::HUGEINT) % 64::HUGEINT AS c
          FROM tc CROSS JOIN range(4) r),
        cells AS (
          SELECT r, CAST(c AS BIGINT) AS c, sum(cnt) AS cell_count
          FROM hashed GROUP BY 1, 2)
        SELECT g.r, g.c, coalesce(cells.cell_count, 0)::BIGINT AS cell_count
        FROM (SELECT rr.range AS r, cc.range AS c
              FROM range(4) rr CROSS JOIN range(64) cc) g
        LEFT JOIN cells ON g.r = cells.r AND g.c = cells.c""",

    "q_embed_neardup" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
          round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.45""",

    // SemDeDup: same centroid fold as q_embed_centroids, same dot-product
    // fold as q_embed_neardup; keep/drop comparisons run on UNROUNDED
    // doubles in both engines (IEEE-exact ops only), rounding applies to
    // the emitted centroid_cos column alone
    "q_semdedup" ->
      """WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        g AS (
          SELECT label, count(*) AS n_vecs, list(emb ORDER BY vec_id) AS vecs
          FROM e GROUP BY label),
        c AS (
          SELECT label,
            list_transform(
              list_reduce(vecs, (a, v) -> list_transform(range(1, len(a) + 1), i -> a[i] + v[i])),
              x -> x / n_vecs) AS centroid
          FROM g),
        s AS (
          SELECT vec_id, e.label, emb,
            list_dot_product(emb, centroid)
              / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(centroid, centroid))) AS ccos
          FROM e JOIN c USING (label)),
        p AS (
          SELECT a.vec_id AS xa, b.vec_id AS xb, a.ccos AS ca, b.ccos AS cb
          FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.3),
        losers AS (
          SELECT DISTINCT CASE WHEN ca <= cb THEN xb ELSE xa END AS vec_id FROM p)
        SELECT s.vec_id, CAST(s.label AS BIGINT) AS cluster,
          round(s.ccos, 6) AS centroid_cos,
          s.vec_id NOT IN (SELECT vec_id FROM losers) AS is_kept
        FROM s""",

    "q_sibling_search" ->
      """WITH chunks AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, k AS idx,
            CAST(doc_id AS VARCHAR) || '_chunk_' || CAST(k AS VARCHAR) AS chunk_id,
            substr(text, k * 80 + 1, 100) AS text
          FROM (SELECT doc_id, text, length(text) AS len FROM documents),
               generate_series(0, 1000) t(k)
          WHERE k * 80 < len AND (k = 0 OR k * 80 + 20 < len)),
        seeds AS (
          SELECT chunk_id AS seed_chunk_id, doc_id AS seed_doc, idx AS seed_idx
          FROM chunks
          WHERE idx = 1 AND doc_id IN ('0','1','2','3','4'))
        SELECT seed_chunk_id, chunk_id,
          CAST(idx - seed_idx AS BIGINT) AS distance, text
        FROM chunks JOIN seeds
          ON doc_id = seed_doc AND idx BETWEEN seed_idx - 1 AND seed_idx + 2""",

    "q_ann_bruteforce" ->
      """WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cos
          FROM embeddings q, embeddings c WHERE q.vec_id < 10)
        SELECT query_id, rank, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 5"""
  )
}
