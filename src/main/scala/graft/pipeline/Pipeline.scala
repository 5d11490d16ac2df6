package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.chunk.{Chunkers, Chunker}
import graft.corpus.CorpusSynth
import graft.extract.{Extractor, RuleExtractor}
import graft.model._
import graft.operators.{GraphAssembly, Lift}
import graft.resolve.Resolution

/** The KG-construction pipeline driver — reference `graphrag.run()`
  * (`ecc/app/graphrag/graph_rag.py:478-609`) re-expressed as sequenced Spark
  * jobs over checkpointed tables:
  *
  *   pages → docs → chunks → extracted → {entities, entity_types, mentions,
  *   triples} → embeddings → candidate pairs → resolves_to →
  *   resolved_triples → type_relationships → communities →
  *   community_embeddings
  *
  * The reference's asyncio channels collapse into partition parallelism; its
  * polling barriers (`vertices_have_embedding`, `entities_have_resolution`)
  * collapse into job ordering. Every stage writes its table + a lineage row;
  * `resume = true` skips stages whose table committed under the same input
  * fingerprint — the Spark analogue of the ECC's epoch-lifecycle re-scan
  * (SURVEY.md §1.4, §2.2). The stage list is declared once ([[stages]]);
  * [[run]] commits it to the catalog and [[inMemory]] checkpoints it.
  */
object Pipeline {

  final case class Config(
      corpus: CorpusSynth.Config = CorpusSynth.Config(),
      chunkerType: String = "regex", // reference default pattern \r?\n (ecc_util.py:25-28)
      characterChunkSize: Int = 1024,
      characterOverlap: Int = 0,
      er: Resolution.Params = Resolution.Params(),
      outDir: String = "/tmp/graft-pipeline",
      runId: String = "run-0",
      resume: Boolean = false,
      /** write partitions for the big tables; tune to cluster size. */
      shufflePartitions: Option[Int] = None,
      /** Bucketed (_bucket=N) layout for the MERGE-target tables (entities,
        * entity_types, embeddings, candidate_pairs) plus a persisted lsh_sigs
        * blocking index — makes [[runIncremental]] commits O(delta): only
        * buckets containing updated keys are rewritten. Off by default (flat
        * tables; incremental still works, merges just rewrite whole tables).
        */
      incrementalLayout: Boolean = false,
      /** bucket count for the incremental layout; fixed per table lifetime. */
      erBuckets: Int = 64) {
    def fingerprintBase: String =
      s"$corpus|$chunkerType|$characterChunkSize|$characterOverlap|$er"
  }

  /** Effective ER params over the standing embeddings table (r4, adaptive
    * blocking): a persisted blocking index pins its own (bands, bits) via
    * the `_graft_er_params` sidecar — an incremental run over a GROWN
    * corpus must keep signing with the standing index's geometry, not
    * re-derive a larger one. With no index on disk, derive from the entity
    * count ([[Resolution.scaledParams]]; identity below the 65536 floor,
    * so every existing catalog/spec is unchanged).
    */
  private def erParamsFor(c: Tables, base: Resolution.Params): Resolution.Params =
    c.readSidecar("lsh_sigs", "_graft_er_params") match {
      case Some(Seq(bands, bits, seed, dim)) =>
        require(seed.toInt == base.seed && dim.toInt == base.dim,
          s"lsh_sigs index was built with (seed=$seed, dim=$dim) but cfg.er has " +
            s"(seed=${base.seed}, dim=${base.dim}) — rebuild the index or fix the config")
        base.copy(bands = bands.toInt, bits = bits.toInt)
      case Some(other) => sys.error(s"malformed _graft_er_params sidecar: $other")
      case None => Resolution.scaledParams(base, c.read("embeddings").count())
    }

  /** A standing lsh_sigs index is trustworthy for incremental patching ONLY
    * when its geometry sidecar exists (ADVICE r4): a sidecar-less index
    * (pre-r4 catalog, or a crash between the lsh_sigs table commit and
    * writeSidecar) has UNKNOWN (bands, bits) — signing the delta with
    * re-derived params and unioning into it would mix geometries and
    * silently corrupt candidate recall. Such an index is rebuilt from
    * scratch via the bootstrap branch instead.
    */
  private def erIndexUsable(c: Catalog): Boolean =
    c.exists("lsh_sigs") && c.readSidecar("lsh_sigs", "_graft_er_params").isDefined

  private def writeErParams(c: Tables, p: Resolution.Params): Unit =
    c.writeSidecar("lsh_sigs", "_graft_er_params",
      Seq(p.bands.toString, p.bits.toString, p.seed.toString, p.dim.toString))

  final case class Result(catalog: Catalog, stages: Seq[StageResult]) {
    def resolvedTriples: Dataset[ResolvedTriple] = {
      val spark = catalog.spark
      import spark.implicits._
      catalog.read("resolved_triples").as[ResolvedTriple]
    }
  }

  def chunkerFor(cfg: Config): Chunker =
    Chunkers.forType(cfg.chunkerType, cfg.characterChunkSize, cfg.characterOverlap)

  /** Full build on the parquet catalog: [[stages]] in order, each committed
    * with its lineage row, and skipped on `resume` when its fingerprint
    * committed already.
    */
  def run(spark: SparkSession, cfg: Config, extractor: Extractor = new RuleExtractor): Result = {
    val cat = new Catalog(cfg.outDir, spark)
    val stage = new Catalog.StageRunner(cat, cfg.runId, cfg.resume, cfg.fingerprintBase)
    stages(spark, cfg, extractor).foreach(s => stage(s.name)(s.build))
    Result(cat, stage.results)
  }

  /** The full build held in memory over `corpus` with the default config —
    * the same stage list as [[run]], no table writes.
    */
  def inMemory(spark: SparkSession, corpus: CorpusSynth.Config,
      onStage: (String, () => Unit) => Unit = InMemoryStages.runStage): InMemoryStages =
    new InMemoryStages(spark, stages(spark, Config(corpus = corpus)), onStage)

  /** The full-build stage list, in run order: pages through
    * community_embeddings, plus the lsh_sigs blocking index under
    * `incrementalLayout`.
    */
  def stages(spark: SparkSession, cfg: Config,
      extractor: Extractor = new RuleExtractor): Seq[Stage] = {
    import spark.implicits._
    def extracted(t: Tables) = t.read("extracted").as[ExtractedGraphDoc]
    // MERGE targets of runIncremental take the bucketed layout when asked
    def keyed(t: Tables, table: String, df: DataFrame, key: String*): Long =
      if (cfg.incrementalLayout) t.writeKeyedCounted(table, df, key, cfg.erBuckets)
      else t.writeCounted(table, df)

    Seq(
      Stage("pages", Nil) { t =>
        t.writeCounted("pages", CorpusSynth.pages(spark, cfg.corpus).toDF(), cfg.shufflePartitions)
      },
      Stage("chunks", Seq("pages")) { t =>
        t.writeCounted("chunks", chunkStage(t, cfg, spark, None).toDF())
      },
      Stage("extracted", Seq("chunks")) { t =>
        val extracted = GraphAssembly.extractAll(t.read("chunks").as[Chunk], extractor)
        // lineage counts DROPS, not just rows: parse failures are empty docs —
        // observed during the write, no second scan
        t.writeCounted("extracted", extracted.toDF(), None,
          org.apache.spark.sql.functions.expr(
            "count(CASE WHEN size(nodes) > 0 or size(rels) > 0 THEN 1 END)"))
      },
      Stage("entities", Seq("extracted")) { t =>
        keyed(t, "entities", GraphAssembly.entities(extracted(t)).toDF(), "entity_id")
      },
      Stage("entity_types", Seq("extracted")) { t =>
        keyed(t, "entity_types", GraphAssembly.entityTypes(extracted(t)), "entity_id", "type_id")
      },
      Stage("mentions", Seq("extracted")) { t =>
        t.writeCounted("mentions", GraphAssembly.mentions(extracted(t)).toDF())
      },
      Stage("triples", Seq("extracted")) { t =>
        t.writeCounted("triples", GraphAssembly.triples(extracted(t)).toDF(), cfg.shufflePartitions)
      },
      Stage("embeddings", Seq("entities")) { t =>
        keyed(t, "embeddings", Resolution.embedEntities(t.read("entities").as[Entity], cfg.er),
          "entity_id")
      }) ++
    // persisted sign-RP blocking index — incremental runs re-sign only
    // changed entities and join the delta against this table
    (if (!cfg.incrementalLayout) Nil else Seq(Stage("lsh_sigs", Seq("embeddings")) { t =>
      // full index rebuild: derive the blocking geometry fresh from the
      // current corpus size and pin it beside the index for later readers
      val pEff = Resolution.scaledParams(cfg.er, t.read("embeddings").count())
      val n = t.writeKeyedCounted("lsh_sigs",
        Resolution.signatures(t.read("embeddings"), pEff),
        Seq("entity_id", "band"), cfg.erBuckets)
      writeErParams(t, pEff)
      n
    })) ++ Seq(
      // every DocumentChunk is embedded (`ecc/app/graphrag/workers.py:115-117`,
      // embed worker :175-206) — these vectors feed Q2/Q3/Q5 vector retrieval
      Stage("chunk_embeddings", Seq("chunks")) { t =>
        t.writeCounted("chunk_embeddings",
          graft.extract.Embeddings.embedText(t.read("chunks"), "chunk_id", "text", cfg.er.dim),
          cfg.shufflePartitions)
      },
      Stage("candidate_pairs", Seq("embeddings")) { t =>
        keyed(t, "candidate_pairs",
          Resolution.candidatePairs(t.read("embeddings"), erParamsFor(t, cfg.er)), "src")
      },
      Stage("resolves_to", Seq("entities", "candidate_pairs")) { t =>
        t.writeCounted("resolves_to", Resolution.resolvesTo(t.read("entities").as[Entity],
          t.read("candidate_pairs")).toDF())
      },
      Stage("resolved_triples", Seq("triples", "resolves_to")) { t =>
        t.writeCounted("resolved_triples", Lift.resolvedTriples(t.read("triples").as[Triple],
          t.read("resolves_to").as[ResolvesTo]).toDF(), cfg.shufflePartitions)
      },
      Stage("type_relationships", Seq("triples", "entity_types")) { t =>
        t.writeCounted("type_relationships",
          Lift.typeRelationships(t.read("triples").as[Triple], t.read("entity_types")).toDF())
      },
      Stage("communities", Seq("resolved_triples", "resolves_to", "entities"),
        Seq("in_community", "has_parent", "links_to", "modularity"))(t => buildCommunities(t, spark)),
      // community summaries are embedded like the reference's embed pass over
      // community descriptions (`workers.py:530-560`) — Q4 vector seeding
      Stage("community_embeddings", Seq("communities"))(t => buildCommunityEmbeddings(t, cfg)))
  }

  /** Delta-keyed fetch of standing rows: when the table's recorded bucket
    * layout matches `key`, [[Catalog.lookup]] prunes the read to the buckets
    * the delta keys hash into (O(delta) I/O); flat / differently-keyed
    * tables fall back to the full-scan semi-join.
    */
  private def fetchByKey(c: Catalog, table: String,
      keys: org.apache.spark.sql.DataFrame,
      key: Seq[String]): org.apache.spark.sql.DataFrame =
    if (c.bucketLayout(table).exists(_._1 == key)) c.lookup(table, keys)
    else c.read(table).join(keys, key, "left_semi")

  /** Chunking over the pages table — shared by [[stages]] and
    * [[runIncremental]]. When the input table carries a `ctype` column the
    * chunker is dispatched PER DOCUMENT (reference `workers.py:89-96`:
    * the Content vertex's ctype attribute selects the chunker, falling back
    * to the config default) — a mixed html/markdown corpus chunks
    * faithfully. Without the column, one global chunker applies as before.
    */
  private def chunkStage(c: Tables, cfg: Config, spark: SparkSession,
      deltaDocIds: Option[org.apache.spark.sql.DataFrame]): Dataset[graft.model.Chunk] = {
    import spark.implicits._
    val pagesDf = c.read("pages")
    if (pagesDf.columns.contains("ctype")) {
      val docs0 = pagesDf.select($"url", $"text", $"ctype").as[(String, String, String)]
        .map { case (u, t, ct) => (graft.functions.Normalize.docId(u), t, ct) }
        .toDF("doc_id", "text", "ctype")
      val docs = deltaDocIds.map(d => docs0.join(d, Seq("doc_id"), "left_semi")).getOrElse(docs0)
      GraphAssembly.chunksByCtype(docs, cfg.chunkerType,
        cfg.characterChunkSize, cfg.characterOverlap)
    } else {
      val docs0 = GraphAssembly.docs(pagesDf.as[Page])
      val docs = deltaDocIds
        .map(d => docs0.toDF().join(d, Seq("doc_id"), "left_semi").as[Doc]).getOrElse(docs0)
      GraphAssembly.chunks(docs, chunkerFor(cfg))
    }
  }

  /** Order-independent fingerprint of EVERY input the community stages
    * derive from: the resolved edge set + canonical-entity set (Louvain's
    * inputs) and the entity descriptions + resolves_to mapping (the
    * summaries' inputs). Same overflow-safe decimal(38,0) xxhash64-sum the
    * driver-contract digests use.
    */
  private def communityInputsDigest(c: Tables): String = {
    import org.apache.spark.sql.functions._
    def dig(df: org.apache.spark.sql.DataFrame): String = {
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

  /** Louvain levels + summaries + membership/hierarchy tables — shared by
    * [[run]] and [[runIncremental]].
    *
    * Incremental audit (r4 VERDICT #6): an exact dirty-component-only
    * Louvain is UNSOUND — the ΔQ forms depend on the global m and the
    * per-community Σtot (`graphrag_louvain_communities.gsql:94-102`), so
    * edges added anywhere shift move decisions everywhere; the reference
    * itself re-runs Louvain globally every ECC pass (`graph_rag.py:573-598`).
    * What IS sound: when no community input changed at all (re-submitted
    * batch, or a delta that only touched non-KG tables), the standing
    * tables are already exact — [[runIncremental]] proves that with
    * [[communityInputsDigest]] and skips the stage in O(scan) instead of
    * O(Louvain + summaries). The digest is written as a sidecar after every
    * rebuild so the next pass can compare.
    */
  private def buildCommunities(c: Tables, spark: SparkSession,
      inputsDigest: Option[String] = None): Long = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val rt = c.read("resolved_triples")
    val res = c.read("resolves_to")
    val louv = graft.community.Louvain.run(rt,
      allEntities = Some(res.select(col("canonical_id")).distinct()))
    val descs = graft.community.Summarize.describeAll(
      louv.levels, c.read("entities"), res.as[ResolvesTo].toDF())
    val comms = louv.levels.map(_.communities).reduce(_ unionByName _)
      .join(descs, Seq("community_id", "iteration"), "left")
    val nComms = c.writeCounted("communities", comms)
    c.write("in_community", louv.levels.head.membership
      .toDF("canonical_id", "community_id"))
    if (louv.levels.size > 1)
      c.write("has_parent", louv.levels.tail.map(_.membership).reduce(_ unionByName _)
        .toDF("community_id", "parent_id"))
    else
      c.write("has_parent", spark.emptyDataFrame
        .withColumn("community_id", lit("")).withColumn("parent_id", lit("")).limit(0))
    c.write("links_to", louv.levels.map(_.linksTo).reduce(_ unionByName _))
    c.write("modularity",
      louv.modularities.zipWithIndex
        .map { case (q, i) => (i + 1, q) }.toDF("iteration", "modularity"))
    c.writeSidecar("communities", "_graft_community_inputs",
      Seq(inputsDigest.getOrElse(communityInputsDigest(c))))
    nComms
  }

  private def buildCommunityEmbeddings(c: Tables, cfg: Config): Long = {
    val comms = c.read("communities").na.fill("", Seq("description"))
    c.writeCounted("community_embeddings",
      graft.extract.Embeddings.embedText(comms, "community_id", "description", cfg.er.dim))
  }

  /** INCREMENTAL run — the reference's actual operating mode: the eventual-
    * consistency loop re-scans for dirty documents, processes ONLY those,
    * and upserts into the standing tables
    * (`ecc/app/eventual_consistency_checker.py:304-318`,
    * `ecc/app/graphrag/graph_rag.py:145-207`). Spark re-expression:
    *
    *   O(delta) stages — dirty pages (C6 anti-join) → delta chunks →
    *   delta extraction → MERGE entities (SET-union descriptions, min-type) /
    *   entity_types / append mentions+triples+chunk_embeddings → re-embed
    *   ONLY entities whose rows changed (the row-level V2 reuse guard:
    *   unchanged entities keep their stored vectors) → re-sign only changed
    *   entities against the persisted lsh_sigs index → recompute candidate
    *   pairs ONLY for affected sources (changed ∪ old-pair partners ∪ new
    *   co-bucket partners ∪ members of flood-cap-flipped buckets — the exact
    *   set whose top-k could differ) and patch them in via replaceByKey.
    *
    *   Global recomputes (same as every reference ECC pass) — connected
    *   components over the (bounded) candidate-pair graph, canonical pick,
    *   triple lifting, type frequencies, Louvain. Their inputs are the edge/
    *   mapping tables, not the corpus; at 10^12 docs the corpus-proportional
    *   work above is the cost that matters.
    *
    * Output tables are IDENTICAL to a full run over old ∪ new pages
    * (PipelineSpec asserts hash equality) while extraction touches only the
    * delta. Re-runs of the same batch are no-ops at the pages gate (dirty
    * set goes empty); use a fresh runId per batch so lineage rows stay
    * distinguishable.
    */
  def runIncremental(spark: SparkSession, cfg: Config, newPages: Dataset[Page],
      extractor: Extractor = new RuleExtractor): Result = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cat = new Catalog(cfg.outDir, spark)
    require(cat.exists("pages"), "runIncremental needs a prior full run (pages table missing)")
    val stage = new Catalog.StageRunner(cat, cfg.runId, cfg.resume,
      s"${cfg.fingerprintBase}|incremental|${cfg.runId}")

    /** extraction rows of this run's delta chunks */
    def deltaExtracted(c: Catalog): Dataset[ExtractedGraphDoc] = {
      val deltaChunkIds = c.read("chunks")
        .join(c.read("delta_docs"), Seq("doc_id"), "left_semi")
        .select(col("chunk_id"))
      c.read("extracted").join(deltaChunkIds, Seq("chunk_id"), "left_semi")
        .as[ExtractedGraphDoc]
    }

    stage("incr_pages") { c =>
      // C6 Check_Nonexistent_Vertices: the dirty set = pages whose doc_id is
      // not yet ingested (the absence-from-table form of epoch_processed=0)
      val existingIds = GraphAssembly.docs(c.read("pages").as[Page]).select($"doc_id")
      val dirtyIds = GraphAssembly.docs(newPages).select($"doc_id").distinct()
        .join(existingIds, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      c.write("delta_docs", dirtyIds)
      val dirtyPages = newPages.toDF()
        .join(dirtyIds.withColumnRenamed("doc_id", "__did"),
          lower($"url") === $"__did", "left_semi")
      c.appendCounted("pages", dirtyPages)
    }

    stage("incr_chunks") { c =>
      c.appendCounted("chunks",
        chunkStage(c, cfg, spark, Some(c.read("delta_docs"))).toDF())
    }

    stage("incr_extracted") { c =>
      val deltaChunks = c.read("chunks")
        .join(c.read("delta_docs"), Seq("doc_id"), "left_semi").as[Chunk]
      c.appendCounted("extracted",
        GraphAssembly.extractAll(deltaChunks, extractor).toDF())
    }

    stage("incr_entities") { c =>
      val de = GraphAssembly.entities(deltaExtracted(c)).toDF().localCheckpoint(true)
      c.write("delta_entities", de.select($"entity_id"))
      // merge semantics = the full-run aggregate, associatively split:
      // descriptions: sorted distinct union == sort(collect_set(all));
      // entity_type: min over non-empty observed types, "" if none
      val typeMerge: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
          org.apache.spark.sql.Column =
        (o, n) => when(o === "", n).when(n === "", o).otherwise(least(o, n))
      c.mergeAuto("entities", de, Seq("entity_id"),
        setUnionCols = Seq("descriptions"),
        mergeExprs = Map("entity_type" -> typeMerge), nBuckets = cfg.erBuckets)
      de.count()
    }

    stage("incr_entity_types") { c =>
      val dt = GraphAssembly.entityTypes(deltaExtracted(c)).localCheckpoint(true)
      c.mergeAuto("entity_types", dt, Seq("entity_id", "type_id"), nBuckets = cfg.erBuckets)
      dt.count()
    }

    stage("incr_mentions") { c =>
      c.appendCounted("mentions", GraphAssembly.mentions(deltaExtracted(c)).toDF())
    }

    stage("incr_triples") { c =>
      c.appendCounted("triples", GraphAssembly.triples(deltaExtracted(c)).toDF())
    }

    // row-level embedding reuse (V2, `graph_rag.py:226-228`): only entities
    // whose merged row changed this batch are re-embedded — their description
    // set may have grown, which can change the embedding input (the sorted
    // first description). Everyone else keeps their stored vector.
    stage("incr_embeddings") { c =>
      val changed = c.read("delta_entities")
      val rows = fetchByKey(c, "entities", changed, Seq("entity_id")).as[Entity]
      c.mergeAuto("embeddings", Resolution.embedEntities(rows, cfg.er),
        Seq("entity_id"), nBuckets = cfg.erBuckets)
      changed.count()
    }

    stage("incr_chunk_embeddings") { c =>
      val deltaChunks = c.read("chunks")
        .join(c.read("delta_docs"), Seq("doc_id"), "left_semi")
      c.appendCounted("chunk_embeddings",
        graft.extract.Embeddings.embedText(deltaChunks, "chunk_id", "text", cfg.er.dim))
    }

    stage("incr_candidate_pairs") { c =>
      val p = erParamsFor(c, cfg.er)
      val changed = c.read("delta_entities").localCheckpoint(true)
      val embAll = c.read("embeddings")
      if (changed.isEmpty && erIndexUsable(c)) {
        // no-op delta: no entity row changed, so the standing sigs index and
        // pair table are already exact — skip the O(index) bucket-count
        // comparison entirely (a re-submitted batch costs nothing here)
        0L
      } else if (!erIndexUsable(c)) {
        // bootstrap: the prior full run kept no blocking index (or left one
        // with no geometry sidecar — untrusted, see [[erIndexUsable]]) —
        // sign the corpus once, recompute pairs fully, persist index+sidecar
        c.writeKeyedCounted("lsh_sigs", Resolution.signatures(embAll, p),
          Seq("entity_id", "band"), cfg.erBuckets)
        writeErParams(c, p)
        val pairs = Resolution.candidatePairs(embAll, p)
        if (c.isBucketed("candidate_pairs"))
          c.writeKeyedCounted("candidate_pairs", pairs, Seq("src"), cfg.erBuckets)
        else c.writeCounted("candidate_pairs", pairs)
      } else {
        // everything derived from the OLD index is planned (and the delta
        // materialized) BEFORE any table is rewritten
        val oldSigs = c.read("lsh_sigs")
        val changedEmb = fetchByKey(c, "embeddings", changed, Seq("entity_id"))
        val newSigsChanged = Resolution.signatures(changedEmb, p).localCheckpoint(true)
        val sigsUpdated = oldSigs.join(changed, Seq("entity_id"), "left_anti")
          .unionByName(newSigsChanged)

        // affected sources = every src whose candidate top-k could differ:
        //   (a) changed entities themselves;
        //   (b) srcs holding an old pair to a changed dst (score/rank moved);
        //   (c) entities co-bucketed with a changed entity under NEW sigs
        //       (a pair may appear);
        //   (d) members (old or new) of buckets whose flood-cap status
        //       flipped (their whole bucket joins/leaves the blocking).
        val oldPairSrcs = c.read("candidate_pairs")
          .join(changed.withColumnRenamed("entity_id", "dst"), Seq("dst"), "left_semi")
          .select($"src".as("entity_id"))
        val partners = sigsUpdated
          .join(broadcast(newSigsChanged.select($"band", $"sig").distinct()),
            Seq("band", "sig"), "left_semi")
          .select($"entity_id")
        val oldCounts = oldSigs.groupBy($"band", $"sig").agg(count(lit(1)).as("n_old"))
        val newCounts = sigsUpdated.groupBy($"band", $"sig").agg(count(lit(1)).as("n_new"))
        val flipped = oldCounts.join(newCounts, Seq("band", "sig"), "full_outer")
          .where((coalesce($"n_old", lit(0L)) <= p.maxBucket) =!=
            (coalesce($"n_new", lit(0L)) <= p.maxBucket))
          .select($"band", $"sig")
        val flippedMembers = sigsUpdated.join(flipped, Seq("band", "sig"), "left_semi")
          .select($"entity_id")
          .unionByName(oldSigs.join(flipped, Seq("band", "sig"), "left_semi")
            .select($"entity_id"))
        val affected = changed.unionByName(oldPairSrcs).unionByName(partners)
          .unionByName(flippedMembers).distinct().localCheckpoint(true)

        val pairsAff = Resolution.candidatePairsFor(affected, sigsUpdated, embAll, p)
          .localCheckpoint(true)

        // commit: patch the index, then replace affected srcs' pair row-sets
        c.mergeAuto("lsh_sigs", newSigsChanged, Seq("entity_id", "band"),
          nBuckets = cfg.erBuckets)
        c.replaceByKey("candidate_pairs", "src",
          affected.withColumnRenamed("entity_id", "src"), pairsAff, cfg.erBuckets)
        pairsAff.count()
      }
    }

    // global graph stages: recomputed per pass like the reference's ECC loop;
    // inputs are the pair/mapping/edge tables, not the corpus
    stage("incr_resolves_to") { c =>
      c.writeCounted("resolves_to",
        Resolution.resolvesTo(c.read("entities").as[Entity],
          c.read("candidate_pairs")).toDF())
    }

    stage("incr_resolved_triples") { c =>
      c.writeCounted("resolved_triples",
        Lift.resolvedTriples(c.read("triples").as[Triple],
          c.read("resolves_to").as[ResolvesTo]).toDF(), cfg.shufflePartitions)
    }

    stage("incr_type_relationships") { c =>
      c.writeCounted("type_relationships",
        Lift.typeRelationships(c.read("triples").as[Triple],
          c.read("entity_types")).toDF())
    }

    // communities: global recompute like every reference ECC pass — UNLESS
    // the input fingerprint proves nothing community-relevant changed (the
    // exact-dirty-subset alternative is unsound; see [[buildCommunities]])
    var communitiesSkipped = false
    stage("incr_communities") { c =>
      val digest = communityInputsDigest(c)
      if (c.exists("communities") && c.exists("community_embeddings") &&
          c.readSidecar("communities", "_graft_community_inputs")
            .contains(Seq(digest))) {
        communitiesSkipped = true
        c.read("communities").count()
      } else buildCommunities(c, spark, Some(digest))
    }
    stage("incr_community_embeddings") { c =>
      if (communitiesSkipped) c.read("community_embeddings").count()
      else buildCommunityEmbeddings(c, cfg)
    }

    Result(cat, stage.results)
  }
}
