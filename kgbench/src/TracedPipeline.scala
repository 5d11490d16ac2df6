package kgbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.community.{Louvain, Summarize}
import graft.corpus.CorpusSynth
import graft.extract.{Embeddings, RuleExtractor}
import graft.model._
import graft.operators.{GraphAssembly, Lift}
import graft.pipeline.{Catalog, Pipeline, StageResult}
import graft.resolve.Resolution

/** The traced run. For a full build it re-wires `Pipeline.run`'s stage list
  * from the layers' public functions, materializing each layer's output
  * inside its own span before the catalog write, so a span's wall is that
  * layer's work. The extra materialization is the trace overhead; output
  * digests must equal the untraced run's (checked by the caller), which
  * pins this stage list to `Pipeline.run`.
  *
  * `runIncremental` composes private helpers, so its traced form spans the
  * public call and places each returned stage in its lineage window, and
  * each stage's lineage appends in the window of their SQL executions.
  */
object TracedPipeline {

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(12).map("%02x".format(_)).mkString

  def run(spark: SparkSession, cfg: Pipeline.Config, tr: Tracer): Pipeline.Result = {
    import spark.implicits._
    require(!cfg.incrementalLayout && !cfg.resume, "traced builds use the flat layout")
    val extractor = new RuleExtractor
    tr.span("run") {
      val cat = new Catalog(cfg.outDir, spark)
      val results = Vector.newBuilder[StageResult]
      val held = scala.collection.mutable.Buffer.empty[Dataset[_]]
      var upstream = sha(cfg.fingerprintBase)

      def stage(name: String)(build: Catalog => Long): Unit = {
        upstream = sha(s"$upstream/$name")
        results += tr.span("pipeline.write") {
          val r = Catalog.stage(cat, cfg.runId, name, upstream, resume = false)(build(cat))
          held.foreach(_.unpersist(true))
          held.clear()
          r
        }
      }
      def layer[T](span: String)(ds: => Dataset[T]): Dataset[T] = tr.span(span) {
        val d = ds.persist(StorageLevel.MEMORY_AND_DISK)
        d.count()
        held += d
        d
      }

      stage("pages") { c =>
        c.writeCounted("pages", layer("corpus.pages")(CorpusSynth.pages(spark, cfg.corpus)).toDF(),
          cfg.shufflePartitions)
      }
      stage("chunks") { c =>
        val pages = c.read("pages")
        require(!pages.columns.contains("ctype"), "synthesized pages carry no ctype")
        c.writeCounted("chunks", layer("chunk.chunks")(
          GraphAssembly.chunks(GraphAssembly.docs(pages.as[Page]), Pipeline.chunkerFor(cfg))).toDF())
      }
      stage("extracted") { c =>
        val ex = layer("extract.extract_all")(
          GraphAssembly.extractAll(c.read("chunks").as[Chunk], extractor))
        c.writeCounted("extracted", ex.toDF(), None,
          expr("count(CASE WHEN size(nodes) > 0 or size(rels) > 0 THEN 1 END)"))
      }
      def extracted(c: Catalog) = c.read("extracted").as[ExtractedGraphDoc]
      stage("entities") { c =>
        c.writeCounted("entities", layer("operators.assembly")(GraphAssembly.entities(extracted(c))).toDF())
      }
      stage("entity_types") { c =>
        c.writeCounted("entity_types", layer("operators.assembly")(GraphAssembly.entityTypes(extracted(c))))
      }
      stage("mentions") { c =>
        c.writeCounted("mentions", layer("operators.assembly")(GraphAssembly.mentions(extracted(c))).toDF())
      }
      stage("triples") { c =>
        c.writeCounted("triples", layer("operators.assembly")(GraphAssembly.triples(extracted(c))).toDF(),
          cfg.shufflePartitions)
      }
      stage("embeddings") { c =>
        c.writeCounted("embeddings", layer("resolve.embed")(
          Resolution.embedEntities(c.read("entities").as[Entity], cfg.er)))
      }
      stage("chunk_embeddings") { c =>
        c.writeCounted("chunk_embeddings", layer("extract.embed_text")(
          Embeddings.embedText(c.read("chunks"), "chunk_id", "text", cfg.er.dim)),
          cfg.shufflePartitions)
      }
      stage("candidate_pairs") { c =>
        c.writeCounted("candidate_pairs", layer("resolve.pairs") {
          val emb = c.read("embeddings")
          Resolution.candidatePairs(emb, Resolution.scaledParams(cfg.er, emb.count()))
        })
      }
      stage("resolves_to") { c =>
        c.writeCounted("resolves_to", layer("resolve.components")(
          Resolution.resolvesTo(c.read("entities").as[Entity], c.read("candidate_pairs"))).toDF())
      }
      stage("resolved_triples") { c =>
        c.writeCounted("resolved_triples", layer("operators.lift")(
          Lift.resolvedTriples(c.read("triples").as[Triple], c.read("resolves_to").as[ResolvesTo])).toDF(),
          cfg.shufflePartitions)
      }
      stage("type_relationships") { c =>
        c.writeCounted("type_relationships", layer("operators.lift")(
          Lift.typeRelationships(c.read("triples").as[Triple], c.read("entity_types"))).toDF())
      }
      stage("communities") { c =>
        val rt = c.read("resolved_triples")
        val res = c.read("resolves_to")
        val louv = tr.span("community.louvain") {
          Louvain.run(rt, allEntities = Some(res.select(col("canonical_id")).distinct()))
        }
        val comms = layer("community.summarize") {
          val descs = Summarize.describeAll(louv.levels, c.read("entities"), res.as[ResolvesTo].toDF())
          louv.levels.map(_.communities).reduce(_ unionByName _)
            .join(descs, Seq("community_id", "iteration"), "left")
        }
        val nComms = c.writeCounted("communities", comms)
        c.write("in_community", louv.levels.head.membership.toDF("canonical_id", "community_id"))
        if (louv.levels.size > 1)
          c.write("has_parent", louv.levels.tail.map(_.membership).reduce(_ unionByName _)
            .toDF("community_id", "parent_id"))
        else
          c.write("has_parent", spark.emptyDataFrame
            .withColumn("community_id", lit("")).withColumn("parent_id", lit("")).limit(0))
        c.write("links_to", louv.levels.map(_.linksTo).reduce(_ unionByName _))
        c.write("modularity", louv.modularities.zipWithIndex
          .map { case (q, i) => (i + 1, q) }.toDF("iteration", "modularity"))
        c.writeSidecar("communities", "_graft_community_inputs", Seq(communityInputsDigest(c)))
        nComms
      }
      stage("community_embeddings") { c =>
        val comms = c.read("communities").na.fill("", Seq("description"))
        c.writeCounted("community_embeddings", layer("extract.embed_text")(
          Embeddings.embedText(comms, "community_id", "description", cfg.er.dim)))
      }
      Pipeline.Result(cat, results.result())
    }
  }

  /** The fingerprint `Pipeline.run` records beside `communities`, so a
    * traced catalog stays usable as an incremental base.
    */
  private def communityInputsDigest(c: Catalog): String = {
    def dig(df: DataFrame): String = {
      val canon = df.columns.map(n => coalesce(col(n).cast("string"), lit("\u0000NULL")))
      df.select(xxhash64(canon.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
        .agg(coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")).cast("string"))
        .collect()(0).getString(0)
    }
    val rt = dig(c.read("resolved_triples").select("subj", "pred", "obj").distinct())
    val res = dig(c.read("resolves_to").select("entity_id", "canonical_id"))
    val ent = dig(c.read("entities")
      .select(col("entity_id"), to_json(col("descriptions")).as("d")))
    s"$rt|$res|$ent"
  }

  /** Layer of each `runIncremental` stage. */
  val IncrementalLayer: Map[String, String] = Map(
    "incr_pages" -> "pipeline.merge",
    "incr_chunks" -> "chunk.chunks",
    "incr_extracted" -> "extract.extract_all",
    "incr_entities" -> "pipeline.merge",
    "incr_entity_types" -> "pipeline.merge",
    "incr_mentions" -> "operators.assembly",
    "incr_triples" -> "operators.assembly",
    "incr_embeddings" -> "resolve.embed",
    "incr_chunk_embeddings" -> "extract.embed_text",
    "incr_candidate_pairs" -> "resolve.pairs",
    "incr_resolves_to" -> "resolve.components",
    "incr_resolved_triples" -> "operators.lift",
    "incr_type_relationships" -> "operators.lift",
    "incr_communities" -> "community.louvain",
    "incr_community_embeddings" -> "extract.embed_text")

  /** The `Catalog.stage` steps that run after a stage's build returns. */
  val LineageAppends = Seq("graft.pipeline.Catalog.appendLineage",
    "graft.pipeline.Catalog.appendFileMetrics")

  /** Spans the public call; each stage's lineage row (commit time, wall)
    * gives its window. After each window, `Catalog.stage` appends the
    * lineage and file-metrics rows: the listener's SQL executions with those
    * call sites bound that step, which is attributed to `pipeline.write`.
    * Any other time between windows stays outside every layer span, so it
    * lowers the coverage the caller gates on.
    */
  def incremental(spark: SparkSession, cfg: Pipeline.Config, newPages: Dataset[Page],
      tr: Tracer, listener: JobMetricsListener): Pipeline.Result = {
    var t0 = 0L
    var t1 = 0L
    val r = tr.span("run") {
      t0 = Clock.nowUs()
      val res = Pipeline.runIncremental(spark, cfg, newPages)
      t1 = Clock.nowUs()
      res
    }
    listener.drain()
    val appends = listener.executionsFrom(LineageAppends)
    val rows = r.catalog.lineage().where(col("run_id") === cfg.runId)
      .select("stage", "wall_ms", "finished_at").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getTimestamp(2).getTime * 1000L))
      .sortBy(_._3)
    val windows = rows.map { case (stage, wallMs, endUs) => (stage, endUs - wallMs * 1000L, endUs) }
    var cursor = t0
    for (((stage, start, end), i) <- windows.zipWithIndex) {
      val startUs = math.max(cursor, start)
      val endUs = math.max(startUs, end)
      tr.record(IncrementalLayer.getOrElse(stage, sys.error(s"unmapped stage $stage")), 0,
        startUs, endUs)
      val next = if (i + 1 < windows.length) math.max(endUs, windows(i + 1)._2) else t1
      val appendEnd = appends.collect { case (s, e) if s >= endUs && s < next => math.min(e, next) }
      if (appendEnd.nonEmpty) tr.record("pipeline.write", 0, endUs, appendEnd.max)
      cursor = endUs
    }
    r
  }
}
