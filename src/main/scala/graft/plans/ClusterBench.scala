package graft.plans

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusSynth
import graft.pipeline.Pipeline

/** True multi-executor KG-construction benchmark — the literal form of the
  * north rule's "run via spark-submit at N and 4N executors": unlike
  * `graft.Bench` (thread-count proxy inside one JVM, the sandbox default),
  * this main inherits its master from spark-submit, so under
  * `--master local-cluster[N,C,M]` the chain runs on N REAL executor JVMs —
  * separate heaps, separate GC, the real serialized shuffle path between
  * processes — the same execution surfaces a standalone/YARN/K8s cluster
  * exercises. Submit twice (N and 4N executors) and compare:
  *
  *   /opt/spark/bin/spark-submit --class graft.plans.ClusterBench \
  *     --master 'local-cluster[2,4,6144]' --driver-memory 6g \
  *     target/scala-2.13/graphragspark_2.13-0.1.0.jar 150000 2
  *   ... --master 'local-cluster[8,4,6144]' ... 150000 2
  *
  * (scripts/cluster_bench.sh wires the pair and archives one JSON.)
  * Prints one JSON line: executors, total cores, per-sample walls + host
  * steal, resolved-triple count and throughput.
  */
object ClusterBench {

  private def stealTicks(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Throwable => 0L }

  def main(args: Array[String]): Unit = {
    val pages = args.headOption.map(_.toInt).getOrElse(150000)
    val samples = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder() // master comes from spark-submit
      .appName("graft-cluster-bench")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "5000000")
      // 4-core executors carry >= 6 GB heaps in every script configuration;
      // a ~0.5 GB per-executor scoring map (600k pages) is the cheap side
      // of the trade against the shuffle path's array-carrying exchange
      .config("spark.graft.er.maxBroadcastBytes", (1L << 30).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    // one executor-side round trip so every executor is registered before
    // we read the roster or start timing
    sc.parallelize(1 to 1000, 64).map(_ * 2).sum()
    val execs = sc.statusTracker.getExecutorInfos.map(_.host()).length - 1 // minus driver row
    val cores = sc.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)

    val cfg = CorpusSynth.Config(nPages = pages, nClusters = math.max(12, pages / 25))
    // warmup (JIT + codegen caches): with N separate executor JVMs each one
    // must JIT the whole chain independently — a toy warmup leaves the first
    // measured sample 3-8x slow. One-tenth of the real corpus exercises the
    // same codegen + AQE paths at material task sizes (every table of the
    // stage list — the full-pipeline wall below measures them all).
    Pipeline.inMemory(spark, cfg.copy(nPages = math.max(2000, pages / 10))).buildAll()

    // each sample times the chain AND the full pipeline (every table of the
    // stage list) in one pass — the rest-of-list increment is the wall
    // delta on the same stage graph
    var triples = 0L
    val runs = (1 to samples).map { _ =>
      val s0 = stealTicks(); val t0 = System.nanoTime()
      val st = Pipeline.inMemory(spark, cfg)
      triples = st.read("resolved_triples").count()
      val tChain = (System.nanoTime() - t0) / 1e9
      st.buildAll()
      val tFull = (System.nanoTime() - t0) / 1e9
      (tChain, tFull, (stealTicks() - s0) / 100.0)
    }
    val wall = runs.map(_._1).min
    val wallFull = runs.map(_._2).min
    // Locale.ROOT keeps the JSON artifact parseable on comma-decimal locales
    def f(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    println(
      s"""{"master":"${sc.master}","executors":$execs,"total_cores":$cores,""" +
        s""""pages":$pages,"resolved_triples":$triples,"wall_sec":${f(wall)},""" +
        s""""triples_per_sec":${f(triples / wall)},""" +
        s""""wall_full_sec":${f(wallFull)},""" +
        s""""triples_per_sec_full":${f(triples / wallFull)},""" +
        s""""samples_sec":${runs.map(r => f(r._1)).mkString("[", ",", "]")},""" +
        s""""samples_full_sec":${runs.map(r => f(r._2)).mkString("[", ",", "]")},""" +
        s""""steal_sec":${runs.map(r => f(r._3)).mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
