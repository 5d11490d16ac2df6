package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.corpus.CorpusSynth
import graft.operators.{Curation, Dedup, TextStats, WebCuration}
import graft.resolve.Resolution

/** Training-data curation pipeline — the web-corpus counterpart of
  * [[Pipeline]]: raw crawl pages in, a packed, deduplicated,
  * decontaminated, mixture-balanced corpus out, with the same
  * fingerprint-chained per-stage lineage, `--resume`, and per-partition
  * file metrics. Every stage is one of the already-oracle-checked
  * operators; this driver contributes ordering, the funnel lineage, and
  * the standing tables.
  *
  * Funnel (the RefinedWeb stage order; each stage reads the previous
  * stage's table):
  *   raw pages (+ synthesized recrawl/mirror/cache duplicates and a
  *   boilerplate line — the dirt each stage exists to remove) → docs
  *   (id=lower(url)) → URL dedup (canonicalized URL, min-id survivor;
  *   collapses the tracking-param recrawls) → PII redaction → exact
  *   content dedup (collapses the mirrors) → cross-doc line dedup
  *   (strips the boilerplate chrome) → quality gate → MinHash near-dup
  *   clusters + per-cluster survivor pick (collapses the perturbed cache
  *   copies) → eval-set decontamination → temperature mixture sampling
  *   (per-lang) → contiguous packs.
  *
  * Scale shape: the corpus-sized stages are narrow maps or single
  * bounded-key shuffles (url_norm, line content, content digest, LSH band
  * buckets, lang); the decision tables that drive filters (URL groups,
  * dup clusters, rate table) are the SMALL side and broadcast. Nothing
  * collects the corpus to the driver.
  */
object Curate {

  final case class Config(
      corpus: CorpusSynth.Config = CorpusSynth.Config(),
      outDir: String = "/tmp/graft-curate",
      runId: String = "curate-0",
      resume: Boolean = false,
      /** quality gate: minimum whitespace tokens after line dedup. */
      minTokens: Long = 10,
      /** near-dup exact-Jaccard verify threshold (MinHash banding above). */
      jaccard: Double = 0.5,
      /** synthesize web dirt: ~5% tracking-param recrawls, ~5% exact
        * mirrors, ~5% perturbed cache copies, boilerplate lines — so the
        * funnel's dedup stages have real prey in a test corpus. Off for
        * real (pre-dirtied) inputs.
        */
      injectDups: Boolean = true,
      /** line-dedup tolerance: lines shared by MORE than this many docs are
        * boilerplate chrome. 2 tolerates pairwise original/cache overlap
        * ahead of the fuzzy-dedup stage that collapses those pairs.
        */
      lineDedupMaxDocs: Int = 2,
      /** eval slice: docs whose FNV bucket (of `evalMod`) is 0 form the
        * held-out benchmark; n-gram hits against it are dropped from train.
        */
      evalMod: Int = 97,
      decontamN: Int = 8,
      /** mixture target as parts-per-hundred of the post-decontam corpus. */
      targetPct: Int = 60,
      packBudgetTokens: Long = 2048,
      /** loader shards the final mixture is permuted into. */
      nShards: Int = 8,
      shufflePartitions: Option[Int] = None) {
    def fingerprintBase: String =
      s"curate|$corpus|$minTokens|$jaccard|$injectDups|$lineDedupMaxDocs|" +
        s"$evalMod|$decontamN|$targetPct|$packBudgetTokens|$nShards"
  }

  final case class Result(catalog: Catalog, stages: Seq[StageResult]) {
    def finalDocs: DataFrame = catalog.read("cur_final")
  }

  def run(spark: SparkSession, cfg: Config): Result = {
    val cat = new Catalog(cfg.outDir, spark)
    val stage = new Catalog.StageRunner(cat, cfg.runId, cfg.resume, cfg.fingerprintBase)

    stage("cur_docs") { c =>
      val base = CorpusSynth.pages(spark, cfg.corpus).toDF()
        .select(col("url"), col("lang"), col("text"))
      val all = if (!cfg.injectDups) base else {
        // deterministic web dirt, keyed on the url hash so re-runs and
        // partitionings agree; the boilerplate line lands on >2 docs so
        // the line-dedup threshold classifies it as chrome
        val bucket = Curation.hashBucketCol(col("url"), 20)
        val chrome = lit("\nsubscribe to our newsletter for updates and offers")
        val recrawls = base.where(bucket === 0).select(
          concat(col("url"), lit("?utm_source=feed")).as("url"),
          col("lang"), col("text"))
        val mirrors = base.where(bucket === 1).select(
          regexp_replace(col("url"), "://", "://mirror.").as("url"),
          col("lang"), col("text"))
        val caches = base.where(bucket === 2).select(
          regexp_replace(col("url"), "://", "://cache.").as("url"),
          col("lang"),
          concat(col("text"), lit(" archived snapshot"), chrome).as("text"))
        val chromed = base.where(bucket === 3).select(
          col("url"), col("lang"), concat(col("text"), chrome).as("text"))
        base.where(bucket =!= 3).unionByName(chromed)
          .unionByName(recrawls).unionByName(mirrors).unionByName(caches)
      }
      c.writeCounted("cur_docs",
        all.select(lower(col("url")).as("doc_id"), col("url"), col("lang"), col("text")),
        cfg.shufflePartitions)
    }

    // one survivor per canonicalized URL (tracking params / fragments /
    // scheme-case collapse), min doc_id — recrawls and utm-variants go here
    stage("cur_url_dedup") { c =>
      val docs = c.read("cur_docs")
        .withColumn("url_norm", WebCuration.normalizeUrlCol(col("url")))
      val w = Window.partitionBy(col("url_norm")).orderBy(col("doc_id"))
      c.writeCounted("cur_url_dedup",
        docs.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("doc_id"), col("url_norm"), col("lang"), col("text")))
    }

    stage("cur_pii") { c =>
      val docs = c.read("cur_url_dedup")
      c.writeCounted("cur_pii",
        WebCuration.redactPii(docs)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("n_emails"), col("n_phones"),
            col("n_ips"), col("text_redacted").as("text")))
    }

    // exact content dedup BEFORE line dedup: byte-identical mirrors must
    // collapse to one copy before shared lines could read as boilerplate
    stage("cur_exact_dedup") { c =>
      c.writeCounted("cur_exact_dedup",
        Dedup.exactDedup(c.read("cur_pii"))
          .select(col("doc_id"), col("lang"), col("text")))
    }

    // cross-document line dedup (boilerplate chrome); fully-boilerplate
    // docs drop out at the empty-text filter
    stage("cur_line_dedup") { c =>
      val docs = c.read("cur_exact_dedup")
      c.writeCounted("cur_line_dedup",
        Curation.dedupLines(docs, maxDupDocs = cfg.lineDedupMaxDocs)
          .where(col("n_lines_kept") > 0)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("text_clean").as("text")))
    }

    stage("cur_quality") { c =>
      c.writeCounted("cur_quality",
        TextStats.qualityMetrics(c.read("cur_line_dedup"), minTokens = cfg.minTokens)
          .where(col("quality_ok"))
          .select(col("doc_id"), col("lang"), col("text")))
    }

    // MinHash banding → exact-Jaccard verify → connected components →
    // per-cluster survivor (argmax tokens, ties to min id)
    stage("cur_near_dedup") { c =>
      val docs = c.read("cur_quality")
      val pairs = Dedup.minhashPairs(docs,
        Dedup.MinHashParams(jaccardThreshold = cfg.jaccard)).localCheckpoint(true)
      val ids = pairs.select(col("a").as("entity_id"))
        .unionByName(pairs.select(col("b").as("entity_id"))).distinct()
      val clusters = Resolution.connectedComponents(ids,
          pairs.select(col("a").as("src"), col("b").as("dst")))
        .select(col("entity_id").as("doc_id"), col("component_id").as("cluster_id"))
      val decision = Dedup.canonicalDocs(docs, clusters,
        TextStats.tokenCountCol(col("text")))
      val kept = docs.join(decision.where(col("kept")).select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("lang"), col("text")).localCheckpoint(true)
      // persisted blocking index of the SURVIVORS — incremental ingests sign
      // only their batch and probe these band rows (runIncremental)
      c.writeCounted("cur_lsh_sigs", Dedup.minhashBandRows(kept,
        Dedup.MinHashParams(jaccardThreshold = cfg.jaccard)))
      c.writeCounted("cur_near_dedup", kept)
    }

    // the held-out eval slice leaves the corpus entirely; any surviving
    // train doc sharing an n-gram with it is contamination and drops too
    stage("cur_decontam") { c =>
      val docs = c.read("cur_near_dedup")
      val isEval = Curation.hashBucketCol(col("doc_id"), cfg.evalMod) === 0
      val train = docs.where(!isEval)
      val bench = docs.where(isEval)
      // the standing held-out corpus — incremental batches append their
      // eval slice here and decontaminate their train slice against ALL of it
      c.writeCounted("cur_bench", bench)
      val hits = Curation.decontaminate(train, bench, n = cfg.decontamN)
      c.writeCounted("cur_decontam",
        train.join(hits.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("text")))
    }

    stage("cur_mixture")(c => buildMixture(c, cfg))
    stage("cur_packs")(c => buildPacks(c, cfg))
    stage("cur_shards")(c => buildShards(c, cfg))
    stage("cur_final")(c => c.writeCounted("cur_final", c.read("cur_mixture")))

    Result(cat, stage.results)
  }

  private def buildMixture(c: Catalog, cfg: Config): Long = {
    val docs = c.read("cur_decontam")
    val target = docs.count() * cfg.targetPct / 100
    val rates = Curation.temperatureRates(docs, "lang", target)
    c.writeCounted("cur_rates", rates)
    c.writeCounted("cur_mixture",
      Curation.temperatureSample(docs, rates, "lang", "doc_id")
        .select(col("doc_id"), col("lang"), col("text")))
  }

  private def buildPacks(c: Catalog, cfg: Config): Long =
    c.writeCounted("cur_packs",
      Curation.packContiguous(c.read("cur_mixture"), "lang", "doc_id", "text",
        cfg.packBudgetTokens))

  /** Loader-shard materialization: the mixture permuted into `nShards`
    * deterministic shards plus the per-shard manifests a loader checks
    * before trusting a shard (Curation.shuffleShards / shardManifest).
    * Regenerated with the mixture — a derived artifact, not dedup state.
    */
  private def buildShards(c: Catalog, cfg: Config): Long = {
    val n = c.writeCounted("cur_shards",
      Curation.shuffleShards(c.read("cur_mixture"), "doc_id", "text", cfg.nShards))
    c.writeCounted("cur_shard_manifest",
      Curation.shardManifest(c.read("cur_shards"), "doc_id"))
    n
  }

  /** Incremental curation ingest — the standing-corpus operating mode: a
    * new crawl batch lands, is deduplicated against the WHOLE history
    * without rescanning it, and the survivors append to the standing
    * tables. The expensive gates are all O(batch):
    *
    *   - url / doc_id dirty gate: anti-join on the standing url_norm/id
    *     columns (at warehouse scale: a persisted Bloom over url_norm —
    *     same one-sided-error trade [[graft.operators.Dedup.bloomNewDocs]]
    *     documents);
    *   - exact content dedup vs history: `bloomNewDocs` — one filter built
    *     per ingest from the standing table, map-only probe of the batch;
    *   - near-dup vs history: the batch is SIGNED and its band rows join
    *     the persisted `cur_lsh_sigs` blocking index (bounded buckets);
    *     exact-Jaccard verify touches only the candidates' history texts
    *     (semi-join), never the corpus;
    *   - decontamination: the batch's eval slice appends to the standing
    *     `cur_bench`; the batch's train slice checks against ALL standing
    *     bench grams (bench grams broadcast).
    *
    * Survivor policy is HISTORY-WINS: an already-admitted document is never
    * retracted by a later batch (a shipped training corpus is append-only),
    * so a new duplicate always drops even when the full-run tiebreak would
    * have preferred it. Two documented eventual-consistency gaps, both
    * closed by a periodic full re-run exactly like the reference's re-scan
    * loop: cross-EPOCH boilerplate lines (line dedup sees one batch at a
    * time) and contamination of OLD train docs by NEW eval docs. The
    * mixture/packs tail is regenerated globally each ingest — those are
    * cheap derived artifacts (one narrow resample + one pack pass), not
    * dedup state.
    */
  def runIncremental(spark: SparkSession, cfg: Config, newPages: DataFrame): Result = {
    val cat = new Catalog(cfg.outDir, spark)
    require(cat.exists("cur_docs"), "runIncremental needs a prior full run")
    val stage = new Catalog.StageRunner(cat, cfg.runId, cfg.resume,
      s"${cfg.fingerprintBase}|incremental|${cfg.runId}")

    val p = Dedup.MinHashParams(jaccardThreshold = cfg.jaccard)

    stage("incr_cur_docs") { c =>
      val batch = newPages
        .select(lower(col("url")).as("doc_id"), col("url"), col("lang"), col("text"))
      // dirty gate: a re-crawl of an already-ingested id is a no-op
      val fresh = batch.join(c.read("cur_docs").select(col("doc_id")),
        Seq("doc_id"), "left_anti").localCheckpoint(true)
      c.write("incr_batch", fresh)
      c.appendCounted("cur_docs", fresh)
    }

    stage("incr_cur_url_dedup") { c =>
      val batch = c.read("incr_batch")
        .withColumn("url_norm", WebCuration.normalizeUrlCol(col("url")))
      // history-wins vs the standing url index, then min-id within batch
      val noHist = batch.join(
        c.read("cur_url_dedup").select(col("url_norm")), Seq("url_norm"), "left_anti")
      val w = Window.partitionBy(col("url_norm")).orderBy(col("doc_id"))
      c.appendCounted("cur_url_dedup",
        noHist.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("doc_id"), col("url_norm"), col("lang"), col("text")))
    }

    stage("incr_cur_pii") { c =>
      val delta = c.read("cur_url_dedup")
        .join(c.read("incr_batch").select(col("doc_id")), Seq("doc_id"), "left_semi")
      c.appendCounted("cur_pii",
        WebCuration.redactPii(delta)
          .join(delta.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("n_emails"), col("n_phones"),
            col("n_ips"), col("text_redacted").as("text")))
    }

    stage("incr_cur_exact_dedup") { c =>
      val delta = c.read("cur_pii")
        .join(c.read("incr_batch").select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("text"))
      // map-only Bloom probe against the unbounded history, then exact
      // within-batch dedup
      val noHist = Dedup.bloomNewDocs(c.read("cur_exact_dedup"), delta)
        .select(col("doc_id"), col("lang"), col("text"))
      c.appendCounted("cur_exact_dedup", Dedup.exactDedup(noHist)
        .select(col("doc_id"), col("lang"), col("text")))
    }

    stage("incr_cur_line_dedup") { c =>
      val delta = c.read("cur_exact_dedup")
        .join(c.read("incr_batch").select(col("doc_id")), Seq("doc_id"), "left_semi")
      c.appendCounted("cur_line_dedup",
        Curation.dedupLines(delta, maxDupDocs = cfg.lineDedupMaxDocs)
          .where(col("n_lines_kept") > 0)
          .join(delta.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("text_clean").as("text")))
    }

    stage("incr_cur_quality") { c =>
      val delta = c.read("cur_line_dedup")
        .join(c.read("incr_batch").select(col("doc_id")), Seq("doc_id"), "left_semi")
      c.appendCounted("cur_quality",
        TextStats.qualityMetrics(delta, minTokens = cfg.minTokens)
          .where(col("quality_ok"))
          .select(col("doc_id"), col("lang"), col("text")))
    }

    stage("incr_cur_near_dedup") { c =>
      val delta = c.read("cur_quality")
        .join(c.read("incr_batch").select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("text")).localCheckpoint(true)
      val batchBands = Dedup.minhashBandRows(delta, p).localCheckpoint(true)
      // cross candidates: batch band rows probe the persisted index
      val histBands = c.read("cur_lsh_sigs")
      // flood guard that stays O(batch): at most maxBucket history partners
      // per batch doc (a boilerplate band_sig shared by the whole history
      // must not turn one ingest row into a history-sized verify)
      val wCand = Window.partitionBy(col("a")).orderBy(col("b"))
      val crossCands = batchBands
        .join(histBands.withColumnRenamed("id", "b"), Seq("band", "band_sig"))
        .select(col("id").as("a"), col("b")).dropDuplicates("a", "b")
        .withColumn("rn", row_number().over(wCand)).where(col("rn") <= p.maxBucket)
        .drop("rn")
      // verify needs texts for (batch ∪ matched-history) ids only
      val histDocs = c.read("cur_near_dedup")
        .join(crossCands.select(col("b").as("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("text"))
      val crossDups = Dedup.verifyJaccard(crossCands,
          delta.unionByName(histDocs), p)
        .select(col("a").as("doc_id")).distinct() // history wins: batch copy drops
      val noHist = delta.join(crossDups, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      // within-batch near-dup: the full pair->CC->survivor pass on the rest
      val pairs = Dedup.minhashPairs(noHist, p).localCheckpoint(true)
      val ids = pairs.select(col("a").as("entity_id"))
        .unionByName(pairs.select(col("b").as("entity_id"))).distinct()
      val clusters = Resolution.connectedComponents(ids,
          pairs.select(col("a").as("src"), col("b").as("dst")))
        .select(col("entity_id").as("doc_id"), col("component_id").as("cluster_id"))
      val decision = Dedup.canonicalDocs(noHist, clusters,
        TextStats.tokenCountCol(col("text")))
      val kept = noHist
        .join(decision.where(col("kept")).select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("lang"), col("text")).localCheckpoint(true)
      // survivors enter the blocking index for the NEXT ingest
      c.appendCounted("cur_lsh_sigs", Dedup.minhashBandRows(kept, p))
      c.appendCounted("cur_near_dedup", kept)
    }

    stage("incr_cur_decontam") { c =>
      val delta = c.read("cur_near_dedup")
        .join(c.read("incr_batch").select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("text"))
      val isEval = Curation.hashBucketCol(col("doc_id"), cfg.evalMod) === 0
      c.appendCounted("cur_bench", delta.where(isEval))
      val train = delta.where(!isEval).localCheckpoint(true)
      val hits = Curation.decontaminate(train, c.read("cur_bench"), n = cfg.decontamN)
      c.appendCounted("cur_decontam",
        train.join(hits.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("text")))
    }

    // derived tail regenerated over the updated standing corpus
    stage("incr_cur_mixture")(c => buildMixture(c, cfg))
    stage("incr_cur_packs")(c => buildPacks(c, cfg))
    stage("incr_cur_shards")(c => buildShards(c, cfg))
    stage("incr_cur_final")(c => c.writeCounted("cur_final", c.read("cur_mixture")))

    Result(cat, stage.results)
  }
}
