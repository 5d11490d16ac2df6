package graft.model

import java.sql.Timestamp

/** Core row types of the KG-construction pipeline (SURVEY.md §1).
  *
  * Schema-first typed Datasets mirror the reference's fixed property-graph
  * schema (`common/gsql/supportai/SupportAI_Schema.gsql:17-52`); schema
  * inference is never used.
  */
/** Input row — Common-Crawl-style web page (BASELINE.json input_hint).
  * `text` is the byte-identity oracle for the deterministic HTML→text stage.
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Document = normalized page (doc_id = lower(url), cf. gsql_lower at load,
  * `SupportAI_InitialLoadJSON.gsql:3-6`).
  */
final case class Doc(doc_id: String, text: String, lang: String, warc_ts: Timestamp)

/** One chunk of a document. chunk_id = s"${doc_id}_chunk_$idx"
  * (`ecc/app/graphrag/workers.py:104`); IS_AFTER edge is derivable from
  * (doc_id, idx-1) so it is kept as columns, not a table.
  */
final case class Chunk(doc_id: String, idx: Int, chunk_id: String, text: String)

/** In-flight extraction node (reference `Node{id, node_type, definition}`,
  * `common/py_schemas/tool_io_schemas.py:63-73`).
  */
final case class ExtractedNode(id: String, node_type: String, description: String)

/** In-flight extraction relationship (reference `Relationship{source, target,
  * relation_type, definition}`, `tool_io_schemas.py:75-85`).
  */
final case class ExtractedRel(source: String, target: String, relation_type: String, description: String)

/** Extraction output per chunk (reference GraphDocument). A parse failure
  * yields empty nodes+rels (`LLMEntityRelationshipExtractor.py:47-48,142-143`)
  * — never an error row.
  */
final case class ExtractedGraphDoc(
    chunk_id: String,
    nodes: Seq[ExtractedNode],
    rels: Seq[ExtractedRel])

/** Entity vertex after assembly. descriptions has set semantics
  * (`SupportAI_Schema.gsql:21` SET<STRING>; merge per
  * `ecc/app/graphrag/workers.py:209-217`). entity_type is empty for
  * relationship-endpoint-only entities (reference emits ENTITY_HAS_TYPE only
  * for extracted nodes, `workers.py:337-366`).
  */
final case class Entity(entity_id: String, descriptions: Seq[String], entity_type: String)

/** CONTAINS_ENTITY provenance (`SupportAI_Schema.gsql:32`). */
final case class Mention(chunk_id: String, entity_id: String)

/** Raw triple = RELATIONSHIP edge (`SupportAI_Schema.gsql:45`) with chunk
  * provenance. Includes pairwise co-occurrence edges
  * (pred = "DOC_CHUNK_COOCCURRENCE", `workers.py:325-344`).
  */
final case class Triple(subj: String, pred: String, obj: String, chunk_id: String)

/** RESOLVES_TO output of entity resolution (`SupportAI_Schema.gsql:46`). */
final case class ResolvesTo(entity_id: String, canonical_id: String)

/** RESOLVED_RELATIONSHIP edge (`SupportAI_Schema.gsql:47`), produced by
  * edge lifting (`common/gsql/graphrag/ResolveRelationships.gsql:13-16`).
  */
final case class ResolvedTriple(subj: String, pred: String, obj: String)

/** RELATIONSHIP_TYPE schema-graph edge with frequency
  * (`SupportAI_Schema.gsql:39`,
  * `common/gsql/supportai/create_entity_type_relationships.gsql`).
  */
final case class TypeRelationship(src_type: String, relation_type: String, dst_type: String, frequency: Long)

/** Community vertex (`SupportAI_Schema.gsql:42`): id = s"${seed_vid}_$iteration",
  * iteration = Louvain level (`graphrag_louvain_init.gsql:171-176`).
  */
final case class Community(community_id: String, iteration: Int, description: String)

/** IN_COMMUNITY membership (`SupportAI_Schema.gsql:49`). */
final case class InCommunity(canonical_id: String, community_id: String)

/** Per-stage lineage row — enables checkpoint resume and makes
  * silently-dropped rows countable (SURVEY.md §4 table last row). It is the
  * stage's commit record, appended after the stage's file-metrics rows;
  * `wall_ms` spans the build plus the per-file audit, and `finished_at` is
  * shared with those [[FileMetricsRow]]s.
  */
final case class LineageRow(
    run_id: String,
    stage: String,
    input_fingerprint: String,
    rows_out: Long,
    wall_ms: Long,
    finished_at: Timestamp)

/** Per-output-file (= per final write partition) metrics row for one stage
  * commit — the north rule's "per-partition lineage + metrics". Row count and
  * byte size per file make output skew visible (one hot entity bucket shows
  * up as one fat file) and let a resumed run audit exactly which partitions a
  * stage committed. Collected from the FS listing and parquet footers on the
  * driver, no Spark job. Rows whose `finished_at` matches no [[LineageRow]]
  * of the same run and stage belong to an attempt that crashed before its
  * commit.
  */
final case class FileMetricsRow(
    run_id: String,
    stage: String,
    file: String,
    rows: Long,
    bytes: Long,
    finished_at: Timestamp)
