package kgbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CorpusSynth
import graft.operators.GraphAssembly
import graft.pipeline.{Catalog, Pipeline}
import graft.resolve.Resolution

/** KG-construction benchmark driver: one JVM, one `local[nproc]` session,
  * closed loop of `Pipeline.run` / `Pipeline.runIncremental` calls, each
  * starting after the previous one returned. Writes one raw JSON file
  * (per-iteration samples, spans, listener metrics); `run.py` reduces it to
  * medians and checks correctness.
  *
  * Iteration kinds: `plain` (the public call, untraced) and `traced` (the
  * same stage list with spans around each layer call and the job listener
  * attached).
  */
object KgBench {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      pages: Int, clusters: Int, delta: Int, warmup: Int, work: String, out: String,
      record: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("pages").toInt, get("clusters").toInt, get("delta").toInt, get("warmup").toInt,
      get("work"), get("out"), m.get("record").contains("1"))
  }

  // ------------------------------------------------------------ heap peak

  /** Largest heap in use right after any GC since the last [[resetHeapPeak]]. */
  @volatile private var heapPeak = 0L
  private def resetHeapPeak(): Unit = heapPeak = 0L
  private def installHeapPeak(): Unit = {
    val l: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        if (used > heapPeak) heapPeak = used
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ => ()
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  // ------------------------------------------------------ catalog listing

  /** path → (size, mtime) of every file under `root`. */
  private def listing(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        p.relativize(f).toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally s.close()
    }
  }

  /** Files created or rewritten between two listings: (files, bytes,
    * bytes under tables that existed before excluding `pages`, bytes under
    * `pages`).
    */
  private def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)])
      : (Long, Long, Long, Long) = {
    def table(p: String) = p.takeWhile(_ != File.separatorChar)
    val standing = before.keySet.map(table)
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    val rewrite = changed.filter { case (p, _) => standing(table(p)) && table(p) != "pages" }
    val pages = changed.filter { case (p, _) => table(p) == "pages" }
    (changed.size.toLong, changed.values.map(_._1).sum,
      rewrite.values.map(_._1).sum, pages.values.map(_._1).sum)
  }

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
    finally s.close()
  }

  // ----------------------------------------------------------- correctness

  /** Order-independent content digest (row count, xxhash64 sum), with the
    * same column canonicalization as the driver-contract digests: floating
    * columns are left out. With `floats`, they are kept, in millionths, so
    * a sum whose order varies between runs still digests the same.
    */
  def digest(df: DataFrame, floats: Boolean = false): String = {
    import org.apache.spark.sql.types._
    def floating(dt: DataType): Boolean = dt match {
      case FloatType | DoubleType => true
      case ArrayType(et, _) => floating(et)
      case _ => false
    }
    def micros(c: org.apache.spark.sql.Column) = (c.cast("double") * 1e6).cast("long")
    val canon = df.schema.fields.filter(f => floats || !floating(f.dataType)).sortBy(_.name).map { f =>
      val c = col(f.name)
      val v = f.dataType match {
        case FloatType | DoubleType => micros(c).cast("string")
        case ArrayType(FloatType | DoubleType, _) => concat_ws(",", transform(c, x => micros(x).cast("string")))
        case BinaryType => base64(c)
        case TimestampType => unix_micros(c).cast("string")
        case _: ArrayType => to_json(c)
        case _ => c.cast("string")
      }
      coalesce(v, lit("\u0000NULL"))
    }
    val r = df.select(xxhash64(canon.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")).cast("string"))
      .collect()(0)
    s"${r.getLong(0)}:${r.getString(1)}"
  }

  val DigestTables = Seq("resolved_triples", "resolves_to", "communities")

  def digests(cat: Catalog): Map[String, String] =
    DigestTables.map(t => t -> digest(cat.read(t))).toMap

  /** Digest of every committed table in the catalog (floating columns
    * included) and of every `_graft*` sidecar file beside them. The lineage
    * tables hold times and are left out. A traced call must match the plain
    * call on all of these, not only on the gate tables.
    */
  def catalogDigests(cat: Catalog): Map[String, String] = {
    val root = Paths.get(cat.root)
    val s = Files.list(root)
    val tables = try s.iterator().asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filter(t => !t.startsWith("_") && cat.exists(t)).toVector.sorted
    finally s.close()
    // the tables are small, so each digest is mostly job latency: run a few at once
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val tableDigests = Future.traverse(tables)(t => Future(t -> digest(cat.read(t), floats = true)))
      val sidecarDigests = tables.flatMap { t =>
        val side = Files.list(root.resolve(t))
        val names = try side.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_graft")).toVector.sorted
        finally side.close()
        names.map(n => s"$t/$n" ->
          java.util.Arrays.hashCode(Files.readAllBytes(root.resolve(t).resolve(n))).toString)
      }
      (Await.result(tableDigests, Duration.Inf) ++ sidecarDigests).toMap
    } finally pool.shutdown()
  }

  /** Triple and link precision/recall against the planted golden sets. */
  def precisionRecall(spark: SparkSession, cat: Catalog, corpus: CorpusSynth.Config)
      : Map[String, Double] = {
    val emitted = cat.read("resolved_triples")
      .where(col("pred") =!= GraphAssembly.CoOccurrencePred)
      .select("subj", "pred", "obj").distinct()
    val golden = CorpusSynth.goldenTriples(spark, corpus)
      .select(col("subj_canonical").as("subj"), col("pred"), col("obj_canonical").as("obj"))
      .distinct()
    val tp = emitted.intersect(golden).count().toDouble
    val res = cat.read("resolves_to")
    val links = res.as("a").join(res.as("b"), col("a.canonical_id") === col("b.canonical_id"))
      .where(col("a.entity_id") < col("b.entity_id"))
      .select(col("a.entity_id").as("entity_id_a"), col("b.entity_id").as("entity_id_b"))
      .distinct()
    val present = cat.read("entities").select("entity_id").distinct()
    val goldLinks = CorpusSynth.goldenLinks(spark, corpus).toDF().distinct()
      .join(present.withColumnRenamed("entity_id", "entity_id_a"), "entity_id_a")
      .join(present.withColumnRenamed("entity_id", "entity_id_b"), "entity_id_b")
      .select("entity_id_a", "entity_id_b")
    val ltp = links.intersect(goldLinks).count().toDouble
    Map("triple_precision" -> tp / emitted.count(), "triple_recall" -> tp / golden.count(),
      "link_precision" -> ltp / links.count(), "link_recall" -> ltp / goldLinks.count())
  }

  /** ER blocking and Louvain counts read back from a finished catalog. */
  def layerCounts(cat: Catalog, er: Resolution.Params): Map[String, Double] = {
    val emb = cat.read("embeddings")
    val p = cat.readSidecar("lsh_sigs", "_graft_er_params") match {
      case Some(Seq(bands, bits, _, _)) => er.copy(bands = bands.toInt, bits = bits.toInt)
      case _ => Resolution.scaledParams(er, emb.count())
    }
    val buckets = Resolution.signatures(emb, p).groupBy("band", "sig").count()
    val r = buckets.agg(
      sum(when(col("count") <= p.maxBucket, col("count") * (col("count") - 1) / 2)).cast("long"),
      sum(when(col("count") > p.maxBucket, 1).otherwise(0)).cast("long")).collect()(0)
    val mods = cat.read("modularity").orderBy("iteration").collect().map(_.getDouble(1))
    Map("resolve.pairs_scored" -> (if (r.isNullAt(0)) 0L else r.getLong(0)).toDouble,
      "resolve.pairs_kept" -> cat.read("candidate_pairs").count().toDouble,
      "resolve.flood_buckets" -> r.getLong(1).toDouble,
      "community.levels" -> mods.length.toDouble,
      "community.modularity" -> mods.lastOption.getOrElse(0.0))
  }

  // ----------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"kgbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "5000000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    installHeapPeak()
    try {
      val out = new Workload(spark, a).run()
      Files.write(Paths.get(a.out),
        Json.render(out ++ Map("session_s" -> sessionS, "cores" -> cores,
          "jdk" -> System.getProperty("java.version"), "spark" -> spark.version))
          .getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** One workload in one session. */
  final class Workload(spark: SparkSession, a: Args) {
    private val incremental = a.delta > 0
    private val corpus = CorpusSynth.Config(seed = a.seed, nPages = a.pages, nClusters = a.clusters)
    private val union = corpus.copy(nPages = a.pages + a.delta)
    // the bucket count is a per-cluster-size tuning (Pipeline.Config): the
    // 64 default puts a handful of rows in each bucket file at these sizes
    private val cfg = Pipeline.Config(corpus = corpus, runId = "run-0",
      incrementalLayout = incremental, erBuckets = 4 * spark.sparkContext.defaultParallelism)
    private val baseDir = s"${a.work}/base"
    private lazy val newPages = CorpusSynth.pagesRange(spark, union, a.pages, a.pages + a.delta)
    private val listener = new JobMetricsListener
    private var n = 0

    private def nowS() = System.nanoTime() / 1e9

    /** Fresh catalog for the next call; returns (dir, seconds taken). */
    private def prepare(): (String, Double) = {
      n += 1
      val dir = s"${a.work}/it-$n"
      val t0 = nowS()
      deleteTree(dir)
      if (incremental) copyTree(baseDir, dir)
      (dir, nowS() - t0)
    }

    private def call(dir: String, traced: Option[Tracer]): Pipeline.Result = traced match {
      case None if incremental =>
        Pipeline.runIncremental(spark, cfg.copy(outDir = dir, runId = "delta"), newPages)
      case None => Pipeline.run(spark, cfg.copy(outDir = dir))
      case Some(tr) if incremental => TracedPipeline.incremental(spark,
        cfg.copy(outDir = dir, runId = "delta"), newPages, tr, listener)
      case Some(tr) => TracedPipeline.run(spark, cfg.copy(outDir = dir), tr)
    }

    /** One timed call plus its off-the-clock measurements. A traced run
      * digests the whole catalog of every sampled call, for parity.
      */
    private def iteration(kind: String, extra: Catalog => Map[String, Any] = _ => Map.empty,
        sampled: Boolean = true): Map[String, Any] = {
      val (dir, prepS) = prepare()
      val tracer = if (kind == "traced") Some(new Tracer) else None
      // let async cleanup of the previous call (context cleaner, JIT queue)
      // finish off the clock
      System.gc()
      Thread.sleep(500)
      val before = listing(dir)
      if (tracer.isDefined) { listener.reset(); spark.sparkContext.addSparkListener(listener) }
      resetHeapPeak()
      val gc0 = gcMs()
      val t0 = nowS()
      val res = try Right(call(dir, tracer)) catch { case NonFatal(e) => Left(e) }
      val wall = nowS() - t0
      val gcS = (gcMs() - gc0) / 1000.0
      val heapMb = heapPeak / 1e6
      if (tracer.isDefined) { listener.drain(); spark.sparkContext.removeSparkListener(listener) }
      val d0 = nowS()
      val sample = res match {
        case Left(e) =>
          Map[String, Any]("kind" -> kind, "error" -> e.toString)
        case Right(r) =>
          val (files, bytes, rewrite, pagesBytes) = written(before, listing(dir))
          Map[String, Any]("kind" -> kind, "wall_s" -> wall, "prep_s" -> prepS,
            "gc_s" -> gcS, "heap_peak_mb" -> heapMb,
            "files_written" -> files, "bytes_written" -> bytes,
            "rewrite_bytes" -> rewrite, "delta_pages_bytes" -> pagesBytes,
            "digests" -> digests(r.catalog),
            "catalog_digests" -> (if (a.trace && sampled) catalogDigests(r.catalog) else Map.empty),
            "digest_s" -> (nowS() - d0),
            "stages" -> r.stages.map(s => Map("name" -> s.stage, "wall_ms" -> s.wallMs)),
            "spans" -> tracer.map(_.toJson).getOrElse(Nil),
            "listener" -> (if (tracer.isDefined) listener.toJson else Map.empty)) ++
            extra(r.catalog)
      }
      deleteTree(dir)
      println(f"kgbench: $kind call ${wall}%.2f s, ${nowS() - d0}%.2f s off the clock")
      sample
    }

    /** Builds the standing catalog of the incremental workload. */
    private def standUp(): Unit =
      if (incremental) {
        deleteTree(baseDir)
        Pipeline.run(spark, cfg.copy(outDir = baseDir, runId = "base"))
      }

    def run(): Map[String, Any] = {
      val t0 = nowS()
      standUp()
      val baseS = nowS() - t0
      if (a.record) return record()
      // untimed calls, so JIT and codegen are done before timing
      val t1 = nowS()
      val warm = Seq.fill(a.warmup)(iteration("plain", sampled = false))
      val warmupS = nowS() - t1

      val golden = if (incremental) union else corpus

      // A traced run makes pairs of calls, one of each kind. The kind that
      // goes first alternates from pair to pair, starting by the seed's
      // parity, so over seeds trace.overhead_s does not read call order.
      val kinds = if (a.trace) Iterator.from(0).flatMap(k =>
          if ((a.seed + k) % 2 == 0) Seq("plain", "traced") else Seq("traced", "plain"))
        else Iterator.continually("plain")
      val minIters = if (a.trace) 2 else 1
      val samples = Vector.newBuilder[Map[String, Any]]
      var quality: Map[String, Double] = Map.empty
      var counts: Map[String, Double] = Map.empty
      val loop0 = nowS()
      var i = 0
      while (i < minIters || nowS() - loop0 < a.seconds || (a.trace && i % 2 == 1)) {
        val kind = kinds.next()
        // the first call may be either kind, so each measurement is taken
        // on the first call that qualifies for it
        samples += iteration(kind, { cat =>
          if (i == 0) quality = precisionRecall(spark, cat, golden)
          if (kind == "traced" && counts.isEmpty) counts = layerCounts(cat, cfg.er)
          Map.empty
        })
        i += 1
      }
      Map("workload" -> a.workload, "seed" -> a.seed, "base_s" -> baseS,
        "warmup_s" -> warmupS, "warmup" -> warm, "loop_s" -> (nowS() - loop0),
        "quality" -> quality, "counts" -> counts, "samples" -> samples.result())
    }

    /** Reference digests for the recorded seed: a full build (for the
      * incremental workload, over the union corpus) and the workload's own
      * call, which must agree.
      */
    private def record(): Map[String, Any] = {
      val full = s"${a.work}/record-full"
      deleteTree(full)
      val cat = Pipeline.run(spark, cfg.copy(corpus = if (incremental) union else corpus,
        outDir = full, incrementalLayout = false)).catalog
      val ref = digests(cat)
      val quality = precisionRecall(spark, cat, if (incremental) union else corpus)
      deleteTree(full)
      val own = iteration("plain")
      Map("workload" -> a.workload, "seed" -> a.seed, "record" -> ref,
        "quality" -> quality, "own" -> own.getOrElse("digests", Map.empty))
    }
  }
}
