package graft.pipeline

import java.security.MessageDigest
import java.sql.Timestamp
import java.util.UUID

import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.model.{FileMetricsRow, LineageRow}

/** Thin Iceberg-style table catalog over a Parquet directory layout
  * (SURVEY.md §7.1: no iceberg-spark-runtime jar ships in /opt/spark/jars and
  * the environment is offline, so v1 provides the properties the pipeline
  * relies on — atomic stage commits via Spark's _SUCCESS marker + idempotent
  * overwrite, schema-on-write, one path per table — behind a surface narrow
  * enough to swap for `writeTo(...).createOrReplace` / MERGE INTO when a real
  * Iceberg runtime is present).
  */
final class Catalog(val root: String, val spark: SparkSession) extends Tables {

  def path(table: String): String = s"$root/$table"

  def write(table: String, df: DataFrame, partitions: Option[Int]): Unit = {
    val out = partitions.map(n => df.repartition(n)).getOrElse(df)
    out.write.mode(SaveMode.Overwrite).parquet(path(table))
  }

  /** Write + row count in ONE job via the Observation API — r1's
    * write→re-read→count pattern spent a full extra scan per stage, pure
    * fixed latency across the 15-stage chain (the dominant term in the
    * measured Amdahl decomposition, BENCH/BASELINE.md). `metric` defaults
    * to a plain row count; stages that count a predicate (e.g. non-empty
    * extractions) pass their own aggregate.
    */
  def writeCounted(table: String, df: DataFrame, partitions: Option[Int],
      metric: Column): Long = {
    val obs = org.apache.spark.sql.Observation()
    val out = partitions.map(n => df.repartition(n)).getOrElse(df)
      .observe(obs, metric.cast("long").as("rows"))
    out.write.mode(SaveMode.Overwrite).parquet(path(table))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Append rows to a table (delta stages: new chunks/mentions/triples have
    * disjoint natural keys, so append IS the merge). Row count observed
    * during the write — no re-scan.
    */
  def appendCounted(table: String, df: DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).cast("long").as("rows"))
      .write.mode(SaveMode.Append).parquet(path(table))
    obs.get("rows").asInstanceOf[Long]
  }

  def read(table: String): DataFrame = {
    if (!exists(table)) recover(table) // crashed mid-swap? roll forward/back
    val df = spark.read.parquet(path(table))
    // bucketed tables carry their layout column; consumers see logical rows
    if (df.columns.contains("_bucket")) df.drop("_bucket") else df
  }

  /** Crash recovery for the stage-then-swap protocol: a crash between the
    * two renames in [[promoteStaging]] leaves the live dir missing while the
    * data sits COMPLETE in `<table>._staging` (the write finished — it has
    * `_SUCCESS`) and/or `<table>._old`. Roll FORWARD to the staged table
    * when it is complete (the swap had committed logically), otherwise roll
    * BACK to the old table. Idempotent; no-op when the live dir exists.
    * Returns true if a recovery action was taken.
    */
  def recover(table: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path(table))
    val staging = new org.apache.hadoop.fs.Path(path(s"$table._staging"))
    val aside = new org.apache.hadoop.fs.Path(path(s"$table._old"))
    def complete(p: org.apache.hadoop.fs.Path) =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    if (complete(dst)) {
      // swap finished; at most the aside cleanup was lost
      if (fs.exists(aside)) fs.delete(aside, true)
      false
    } else if (complete(staging)) {
      require(fs.rename(staging, dst), s"recover($table): failed to promote staging")
      fs.delete(aside, true)
      true
    } else if (complete(aside)) {
      require(fs.rename(aside, dst), s"recover($table): failed to restore old table")
      fs.delete(staging, true)
      true
    } else false
  }

  /** S5 — batched MERGE-by-PK upsert, the row-level analogue of the
    * reference's TigerGraph vertex upsert (`util.upsert_vertex`,
    * `ecc/app/graphrag/workers.py:209-217`): rows with a new PK are
    * inserted, rows with an existing PK are updated, and columns listed in
    * `setUnionCols` merge with SET semantics (sorted distinct union — the
    * TigerGraph SET<STRING> attribute accumulate on Entity.description,
    * `SupportAI_Schema.gsql:21`). Swap-in is atomic at the directory level
    * (write to a staging path, then rename over the table), the same
    * commit granularity Iceberg's replace gives; with a real Iceberg
    * runtime this maps 1:1 onto MERGE INTO.
    *
    * This is what makes true INCREMENTAL runs possible: the epoch re-scan
    * model (`graph_rag.py:145-207`) re-extracts only new documents and
    * merges their entities/edges into the standing tables instead of
    * recomputing every stage.
    */
  def merge(table: String, updates: DataFrame, pk: Seq[String],
      setUnionCols: Seq[String] = Nil,
      mergeExprs: Map[String, (Column, Column) => Column] = Map.empty): Unit = {
    require(pk.nonEmpty, "merge needs at least one PK column")
    if (!exists(table)) { write(table, assertUniquePk(updates, pk)); return }
    if (updates.isEmpty) return // empty delta: nothing to merge, skip the rewrite
    // crash-safe swap: move the live table ASIDE first, then promote the
    // staging dir, then drop the old copy — a failure between any two steps
    // leaves either the old table live or recoverable at `<table>._old`
    // (delete-then-rename lost the whole table on a crash in between, and
    // ignored rename's boolean result)
    overwriteAtomic(table, mergedFrame(read(table), updates, pk, setUnionCols, mergeExprs))
  }

  /** Full-outer MERGE of `updates` into `cur` with schema reconciliation:
    * columns in both sides merge per-column (custom `mergeExprs`, SET-union
    * for `setUnionCols`, else last-write-wins); columns only in the current
    * table carry their old values (they are NOT silently dropped); columns
    * only in `updates` join the table with nulls for old rows. Duplicate PKs
    * in `updates` would fan out rows through the join — asserted away.
    */
  private def mergedFrame(cur: DataFrame, updates0: DataFrame, pk: Seq[String],
      setUnionCols: Seq[String], mergeExprs: Map[String, (Column, Column) => Column]): DataFrame = {
    val updates = assertUniquePk(updates0, pk)
    val updCols = updates.columns.toSet
    val curCols = cur.columns.toSet
    require(pk.forall(updCols.contains), s"updates frame is missing PK columns ${pk.filterNot(updCols.contains)}")
    val dataCols = (updates.columns ++ cur.columns.filterNot(updCols.contains))
      .filterNot(pk.contains)
    cur.as("o").join(updates.as("n"), pk, "full_outer")
      .select(
        pk.map(col) ++
          dataCols.map { c =>
            def o = col(s"o.$c")
            def n = col(s"n.$c")
            if (!curCols.contains(c)) n.as(c)
            else if (!updCols.contains(c)) o.as(c)
            else if (setUnionCols.contains(c))
              when(o.isNull, n).when(n.isNull, o)
                .otherwise(array_sort(array_distinct(concat(o, n)))).as(c)
            else mergeExprs.get(c) match {
              case Some(f) => when(o.isNull, n).when(n.isNull, o).otherwise(f(o, n)).as(c)
              case None    => coalesce(n, o).as(c)
            }
          }: _*)
  }

  private def assertUniquePk(updates: DataFrame, pk: Seq[String]): DataFrame = {
    val dup = updates.groupBy(pk.map(col): _*).count()
      .where(col("count") > 1).limit(1).count()
    require(dup == 0, s"updates frame has duplicate PKs on (${pk.mkString(", ")}) — " +
      "a merge would fan out rows through the full_outer join")
    updates
  }

  // -------------------------------------------- bucketed layout (O(delta))

  /** PK-hash bucket id — the table's partition column in the bucketed
    * layout. Stable in (pk values, nBuckets) only: a table must keep one
    * bucket count for its lifetime.
    */
  def bucketCol(pk: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(pk.map(col): _*), lit(nBuckets)).cast("int")

  /** The layout marker (`_graft_layout`) pins a bucketed table's (key
    * columns, bucket count) AT WRITE TIME. Both are load-bearing for every
    * later O(delta) operation: a merge that recomputes `bucketCol` with a
    * different `nBuckets` (or key order) files an updated row into a
    * different `_bucket=` dir than the standing row, silently duplicating
    * the PK. With the marker, merges/lookups read the recorded layout and
    * the caller's `nBuckets` is only a first-write default.
    */
  private def layoutMarkerPath(table: String) =
    new org.apache.hadoop.fs.Path(path(table), "_graft_layout")

  private def writeLayoutMarker(table: String, key: Seq[String], nBuckets: Int): Unit = {
    val p = layoutMarkerPath(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((nBuckets.toString +: key).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Generic sidecar metadata file inside a table dir — build parameters
    * later readers MUST reuse (e.g. the ER blocking index's derived
    * (bands, bits): re-deriving them from a corpus that has since grown
    * would silently disagree with the standing index). Written after the
    * table commit it describes, same as the layout marker; an underscore
    * name keeps parquet readers from touching it.
    */
  def writeSidecar(table: String, name: String, lines: => Seq[String]): Unit = {
    require(name.startsWith("_"), s"sidecar name must start with '_': $name")
    val p = new org.apache.hadoop.fs.Path(path(table), name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Lines of a table's sidecar file; None when absent. */
  def readSidecar(table: String, name: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(path(table), name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
      Some(new String(bytes, "UTF-8").split("\n").toSeq)
    }
  }

  /** Recorded (key columns, bucket count) of a bucketed table; None for flat
    * tables and pre-marker layouts (callers then fall back to their args).
    */
  def bucketLayout(table: String): Option[(Seq[String], Int)] = {
    val p = layoutMarkerPath(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
      val lines = new String(bytes, "UTF-8").split("\n").toSeq
      Some((lines.tail, lines.head.toInt))
    }
  }

  /** Recorded layout when present, else the caller's args; rejects a caller
    * key-set that contradicts the marker (an nBuckets mismatch is fine — the
    * marker wins — but merging by different key columns is a logic error).
    */
  private def effectiveLayout(table: String, key: Seq[String], nBuckets: Int): (Seq[String], Int) =
    bucketLayout(table) match {
      case Some((recKey, recN)) =>
        require(recKey == key,
          s"$table is bucketed by ${recKey.mkString(",")} but caller asked for ${key.mkString(",")}")
        (recKey, recN)
      case None => (key, nBuckets)
    }

  /** Write `df` hash-bucketed by PK into `_bucket=N/` partition dirs. Rows
    * are sorted by (bucket, pk) within write tasks so each parquet file's
    * row groups carry tight PK min/max stats — [[lookup]]'s point reads then
    * skip row groups inside the selected bucket, not just other buckets.
    */
  def writeBucketed(table: String, df: DataFrame, pk: Seq[String], nBuckets: Int): Unit = {
    assertUniquePk(df, pk).withColumn("_bucket", bucketCol(pk, nBuckets))
      .sortWithinPartitions(("_bucket" +: pk).map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(path(table))
    writeLayoutMarker(table, pk, nBuckets)
  }

  /** O(delta) MERGE: only the buckets containing updated PKs are read
    * (partition-pruned scan) and rewritten (dynamic partition overwrite) —
    * every other bucket's files are untouched bytes. This is what keeps an
    * incremental pipeline commit proportional to the delta instead of the
    * table: at 10^12 documents a flat merge rewrites the world for a
    * 1000-page delta; this rewrites ≤ min(|delta|, nBuckets) partitions.
    * Schema must match the standing table (adding columns would leave
    * untouched buckets schema-inconsistent — use the flat merge for that).
    */
  def mergeBucketed(table: String, updates: DataFrame, pk: Seq[String],
      setUnionCols: Seq[String] = Nil,
      mergeExprs: Map[String, (Column, Column) => Column] = Map.empty,
      nBuckets: Int = 64): Unit = {
    require(pk.nonEmpty, "merge needs at least one PK column")
    if (!exists(table)) { writeBucketed(table, updates, pk, nBuckets); return }
    val (key, nB) = effectiveLayout(table, pk, nBuckets)
    val curAll = spark.read.parquet(path(table))
    require(curAll.columns.toSet - "_bucket" == updates.columns.toSet,
      s"mergeBucketed($table): updates schema must equal the table schema " +
        s"(table ${curAll.columns.toSet - "_bucket"} vs updates ${updates.columns.toSet})")
    val withB = updates.withColumn("_bucket", bucketCol(key, nB))
    val touched = withB.select("_bucket").distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return // empty delta: nothing to merge
    val cur = curAll.where(col("_bucket").isin(touched.map(Integer.valueOf): _*))
      .drop("_bucket")
    val merged = mergedFrame(cur, updates, pk, setUnionCols, mergeExprs)
    merged.withColumn("_bucket", bucketCol(key, nB))
      .sortWithinPartitions(("_bucket" +: key).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_bucket").parquet(path(table))
  }

  /** Bucketed write WITHOUT a PK-uniqueness requirement (multi-row keys like
    * candidate_pairs.src), row count observed during the write.
    */
  def writeKeyedCounted(table: String, df: DataFrame, keyCols: Seq[String], nBuckets: Int): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.withColumn("_bucket", bucketCol(keyCols, nBuckets))
      .sortWithinPartitions(("_bucket" +: keyCols).map(col): _*)
      .observe(obs, count(lit(1)).cast("long").as("rows"))
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(path(table))
    writeLayoutMarker(table, keyCols, nBuckets)
    obs.get("rows").asInstanceOf[Long]
  }

  /** PK point-lookup over a bucketed table in O(buckets hit) I/O, not
    * O(table): the requested keys' bucket ids select the `_bucket=N/` dirs
    * to read (explicit path selection — derived-column filters cannot
    * partition-prune), and inside each selected bucket the key equi-join
    * pushes down so sorted row groups ([[writeBucketed]]) are skipped via
    * parquet min/max stats. This is the reference's `StreamDocContent`
    * point-fetch (`common/gsql/supportai/Scan_For_Updates.gsql` reads one
    * vertex's content by PK through TigerGraph's hash index) re-expressed
    * on a columnar layout: at 10^12 rows × 4096 buckets a k-key lookup
    * touches ≤ k×(1/4096) of the table's bytes.
    *
    * `keys` must carry exactly the table's recorded key columns; extra
    * columns are ignored. Keys are deduplicated. Multi-row-per-key tables
    * ([[writeKeyedCounted]]) return every row of each key.
    */
  def lookup(table: String, keys: DataFrame, maxLiteralKeys: Int = 10000): DataFrame = {
    val (key, nB) = bucketLayout(table).getOrElse(
      throw new IllegalArgumentException(
        s"lookup($table): no recorded bucket layout — write with writeBucketed/writeKeyedCounted first"))
    val missing = key.filterNot(keys.columns.contains)
    require(missing.isEmpty, s"keys frame is missing key columns $missing")
    val keyRows = keys.select(key.map(col): _*).distinct()
    // a lookup's key set is small by contract (point reads): collect it,
    // derive the touched buckets driver-side, and filter with LITERAL
    // predicates — a semi-join would prune buckets but not row groups
    // (runtime filters don't reach parquet stats; In/EqualTo literals do)
    val sample = keyRows.limit(maxLiteralKeys + 1).collect()
    val literal = sample.length <= maxLiteralKeys
    val buckets =
      if (literal) // bucket ids via one tiny local-relation job over the collected keys
        spark.createDataFrame(java.util.Arrays.asList(sample: _*), keyRows.schema)
          .select(bucketCol(key, nB).as("_bucket")).distinct()
          .collect().map(_.getInt(0)).sorted
      else keyRows.withColumn("_bucket", bucketCol(key, nB))
        .select("_bucket").distinct().collect().map(_.getInt(0)).sorted
    val base = new org.apache.hadoop.fs.Path(path(table))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = buckets.map(b => new org.apache.hadoop.fs.Path(base, s"_bucket=$b"))
      .filter(fs.exists(_)).map(_.toString)
    if (dirs.isEmpty) return read(table).limit(0)
    val scan = spark.read.option("basePath", path(table)).parquet(dirs: _*)
    val out =
      if (literal && key.size == 1)
        scan.where(col(key.head).isin(sample.toSeq.map(_.get(0)): _*))
      else if (literal)
        scan.where(sample.toSeq.map(r =>
          key.indices.map(i => col(key(i)) === lit(r.get(i))).reduce(_ && _)).reduce(_ || _))
      else scan.join(broadcast(keyRows), key, "left_semi")
    out.drop("_bucket")
  }

  /** True when the table directory uses the `_bucket=N/` partition layout. */
  def isBucketed(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("_bucket="))
  }

  /** MERGE that follows the table's existing layout: bucketed tables get the
    * O(delta) partition-pruned merge, flat tables the atomic full rewrite.
    * Same logical result either way.
    */
  def mergeAuto(table: String, updates: DataFrame, pk: Seq[String],
      setUnionCols: Seq[String] = Nil,
      mergeExprs: Map[String, (Column, Column) => Column] = Map.empty,
      nBuckets: Int = 64): Unit =
    if (isBucketed(table)) mergeBucketed(table, updates, pk, setUnionCols, mergeExprs, nBuckets)
    else merge(table, updates, pk, setUnionCols, mergeExprs)

  /** Replace the FULL row-set of every key in (`removeKeys` ∪ keys of
    * `newRows`) with `newRows` — for tables with multiple rows per key
    * (candidate_pairs keyed by src), where a key's new row-set can be
    * smaller than its old one so a PK merge cannot express the deletion.
    * Bucketed layout: only buckets containing replaced keys are read and
    * rewritten. Flat layout: atomic full rewrite.
    */
  def replaceByKey(table: String, keyCol: String, removeKeys: DataFrame,
      newRows: DataFrame, nBuckets: Int = 64): Unit = {
    val replacedKeys = removeKeys.select(col(keyCol))
      .unionByName(newRows.select(col(keyCol))).distinct()
    if (!exists(table)) {
      newRows.withColumn("_bucket", bucketCol(Seq(keyCol), nBuckets))
        .sortWithinPartitions(col("_bucket"), col(keyCol))
        .write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(path(table))
      writeLayoutMarker(table, Seq(keyCol), nBuckets)
      return
    }
    if (isBucketed(table)) {
      val (key, nB) = effectiveLayout(table, Seq(keyCol), nBuckets)
      val touched = replacedKeys.withColumn("_bucket", bucketCol(key, nB))
        .select("_bucket").distinct().collect().map(_.getInt(0)).sorted
      if (touched.isEmpty) return // empty delta: nothing to replace
      val cur = spark.read.parquet(path(table))
        .where(col("_bucket").isin(touched.map(Integer.valueOf): _*)).drop("_bucket")
      val out = cur.join(replacedKeys, Seq(keyCol), "left_anti").unionByName(newRows)
      out.withColumn("_bucket", bucketCol(key, nB))
        .sortWithinPartitions(col("_bucket"), col(keyCol))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_bucket").parquet(path(table))
    } else {
      if (replacedKeys.isEmpty) return // empty delta: nothing to replace
      val out = read(table).join(replacedKeys, Seq(keyCol), "left_anti").unionByName(newRows)
      overwriteAtomic(table, out)
    }
  }

  /** Stage-then-swap overwrite for frames derived FROM the live table (a
    * plain Overwrite would truncate its own input mid-plan).
    */
  def overwriteAtomic(table: String, df: DataFrame): Unit = {
    val staging = path(s"$table._staging")
    df.write.mode(SaveMode.Overwrite).parquet(staging)
    promoteStaging(table, staging)
  }

  private def promoteStaging(table: String, staging: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path(table))
    val aside = new org.apache.hadoop.fs.Path(path(s"$table._old"))
    fs.delete(aside, true)
    if (fs.exists(dst))
      require(fs.rename(dst, aside), s"swap($table): failed to move live table aside")
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), dst),
      s"swap($table): failed to promote staging dir (old data at $aside)")
    fs.delete(aside, true)
  }

  def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table), "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // ------------------------------------------------------------- lineage

  private def lineagePath = s"$root/_lineage"

  /** Append one stage-level row. Written on the driver ([[appendRows]]):
    * no Spark job, so a stage's bookkeeping adds no scheduling latency.
    */
  def appendLineage(row: LineageRow): Unit = appendRows(lineagePath, Seq(row))

  def lineage(): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(lineagePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(lineagePath)
    else spark.emptyDataset[LineageRow](org.apache.spark.sql.Encoders.product[LineageRow]).toDF()
  }

  private def fileMetricsPath = s"$root/_lineage_files"

  /** (file, rows, bytes) of every data file of a committed table (north
    * rule: "per-partition lineage + metrics"), without a Spark job: the
    * recursive FS listing gives each file's byte size and its parquet footer
    * the row count. `file` is the path relative to the table dir — the bare
    * file name for flat tables, `_bucket=N/<name>` for bucketed ones, whose
    * buckets each hold a file of the same name per write task. The files
    * are the ones a scan of the table reads — path components hidden by
    * Spark's file index (`_`/`.` prefix, except `key=value` partition dirs)
    * are skipped — and, as a group-by over the scan would, 0-row files are
    * left out. Cost is one footer read per file: O(partitions), the same
    * cardinality Iceberg's manifest metadata carries, never O(rows).
    */
  def fileStats(table: String): Seq[(String, Long, Long)] = {
    val base = new org.apache.hadoop.fs.Path(path(table))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = base.getFileSystem(conf)
    val basePrefix = fs.makeQualified(base).toUri.getPath.stripSuffix("/") + "/"
    def hidden(c: String) = c.startsWith(".") || (c.startsWith("_") && !c.contains("="))
    val out = Seq.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(basePrefix)
      if (!rel.split('/').exists(hidden)) {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        val rows = try reader.getRecordCount finally reader.close()
        if (rows > 0) out += ((rel, rows, st.getLen))
      }
    }
    out.result()
  }

  /** Append per-file metrics rows (see [[fileStats]]), on the driver like
    * [[appendLineage]]. An empty batch writes nothing.
    */
  def appendFileMetrics(rows: Seq[FileMetricsRow]): Unit =
    if (rows.nonEmpty) appendRows(fileMetricsPath, rows)

  /** Append `rows` to a parquet table directory as ONE new file, written on
    * the driver through Spark's own parquet writer factory — the same
    * schema, footer metadata and codec a `write.mode(Append)` of the same
    * rows would produce, without scheduling a job. The file is written under
    * a hidden in-progress name (readers skip it) and renamed into place, so
    * a reader never sees a partial file.
    */
  private def appendRows[T <: Product: TypeTag](dir: String, rows: Seq[T]): Unit = {
    val enc = ExpressionEncoder[T]()
    val schema = enc.schema
    val sqlConf = SQLConf.get
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration) // copies the conf
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val attempt = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, attempt)
    val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.inprogress")
    val writer = factory.newInstance(tmp.toString, schema, ctx)
    try {
      val toRow = enc.createSerializer()
      rows.foreach(r => writer.write(toRow(r)))
    } finally writer.close()
    val fs = tmp.getFileSystem(job.getConfiguration)
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, name)),
      s"append to $dir: failed to rename $tmp into place")
  }

  def fileMetrics(): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(fileMetricsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(fileMetricsPath)
    else spark.emptyDataset[FileMetricsRow](org.apache.spark.sql.Encoders.product[FileMetricsRow]).toDF()
  }

  /** A stage is resumable-skippable iff its table committed (_SUCCESS) AND a
    * lineage row recorded the SAME input fingerprint — a changed config or
    * upstream output invalidates the stage (SURVEY.md §3.2 Spark lifecycle).
    */
  def isComplete(stage: String, fingerprint: String): Boolean =
    exists(stage) && {
      import spark.implicits._
      lineage()
        .where(col("stage") === stage && col("input_fingerprint") === fingerprint)
        .limit(1).count() > 0
    }
}

object Catalog {
  /** Run one stage with lineage + resume. `build` must WRITE table
    * `tableName` (defaults to the stage name; incremental stages pass the
    * standing table they merged into) via the catalog before returning.
    *
    * Bookkeeping runs no Spark job. After `build`, the committed table's
    * per-file stats are read ([[Catalog.fileStats]]), then ONE `finished_at`
    * is stamped for both lineage tables — `wall_ms` covers the build plus
    * that per-file audit. The file rows are appended first and the lineage
    * row LAST: the lineage row is the stage's commit record. A crash
    * between the two appends leaves file rows whose `finished_at` matches
    * no lineage row (and no resume skip), so the retry's rows are the ones
    * that join to the lineage.
    */
  def stage(cat: Catalog, runId: String, stageName: String, fingerprint: String, resume: Boolean,
      tableName: String = null)(
      build: => Long): StageResult = {
    if (resume && cat.isComplete(stageName, fingerprint)) {
      StageResult(stageName, skipped = true, rows = -1L, wallMs = 0L)
    } else {
      val t0 = System.nanoTime()
      val rows = build
      val table = Option(tableName).getOrElse(stageName)
      val files = if (cat.exists(table)) cat.fileStats(table) else Nil
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val finishedAt = new Timestamp(System.currentTimeMillis())
      cat.appendFileMetrics(files.map { case (file, n, bytes) =>
        FileMetricsRow(runId, stageName, file, n, bytes, finishedAt)
      })
      cat.appendLineage(LineageRow(runId, stageName, fingerprint, rows, wallMs, finishedAt))
      StageResult(stageName, skipped = false, rows = rows, wallMs = wallMs)
    }
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(12).map("%02x".format(_)).mkString

  /** Runs a build's stages in order through [[stage]], chaining fingerprints:
    * the first stage's input fingerprint is `sha(sha(base)/name)`, each
    * later one `sha(previous/name)` — a changed config or stage order
    * invalidates every stage after it. An `incr_x` stage merges into the
    * standing table `x`, so its file metrics are recorded against `x`.
    */
  final class StageRunner(cat: Catalog, runId: String, resume: Boolean, base: String) {
    private var upstream = sha(base)
    private val done = Vector.newBuilder[StageResult]

    def apply(name: String)(build: Catalog => Long): Unit = {
      upstream = sha(s"$upstream/$name")
      done += stage(cat, runId, name, upstream, resume,
        tableName = name.stripPrefix("incr_"))(build(cat))
    }

    def results: Vector[StageResult] = done.result()
  }
}

final case class StageResult(stage: String, skipped: Boolean, rows: Long, wallMs: Long)
