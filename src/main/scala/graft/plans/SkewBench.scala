package graft.plans

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusSynth

/** Adversarial hot-key skew bench (r4 — the 100 TB claim's least-tested
  * axis): runs the full KG chain on a web-Zipf corpus where cluster 0 is
  * the "united_states" entity (subject of `hotClusterFrac` of all facts ⇒
  * present in ~20% of chunks at the default 0.2) and one domain carries
  * `hotDomainFrac` of the crawl — then MEASURES the per-task time
  * distribution of every stage via a SparkListener and asserts the skew
  * guard: no qualifying stage's slowest task exceeds `maxRatio` × its
  * median task time.
  *
  * This is the runtime check that the salted description merge
  * (GraphAssembly.entities), the bucketed/broadcast ER scoring and the
  * AQE skew-join splits actually absorb a planted hot key — BASELINE.md
  * asserted "no single-task dominance" from plan shape alone; this makes
  * it a measured, archivable number.
  *
  * Qualifying stage: ≥ `minTasks` tasks AND max task ≥ `minMaxMs` (tiny
  * stages are all scheduler noise; a 30 ms max against a 5 ms median is
  * not skew). The guard threshold is deliberately generous (4×) because
  * this VM shows real steal-time spikes — a hot KEY produces 10-100×
  * dominance, not 4×.
  *
  * Usage: sbt -batch "runMain graft.plans.SkewBench [pages] [cores]"
  * (exit 1 if the guard trips). Also embedded in graft.Bench as the
  * `skew` artifact group (data only — the bench must not die on a steal
  * spike; this main is the hard guard).
  */
object SkewBench {

  /** Per-stage task durations, collected concurrently-safely. */
  final class TaskTimeListener extends SparkListener {
    val durations: TrieMap[Int, ArrayBuffer[Long]] = TrieMap.empty
    val names: TrieMap[Int, String] = TrieMap.empty
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      names.put(s.stageInfo.stageId, s.stageInfo.name.takeWhile(_ != '\n').take(80))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val buf = durations.getOrElseUpdate(t.stageId, ArrayBuffer.empty[Long])
      buf.synchronized { buf += t.taskInfo.duration }
    }
  }

  final case class StageSkew(stageId: Int, name: String, nTasks: Int,
      medianMs: Long, maxMs: Long) {
    def ratio: Double = maxMs.toDouble / math.max(1L, medianMs)
  }

  /** Run the KG chain on the Zipf-hot corpus; return (wallSec, resolved
    * triples, qualifying per-stage skew rows sorted worst-first).
    */
  def run(spark: SparkSession, cfg: CorpusSynth.Config,
      minTasks: Int = 16, minMaxMs: Long = 1000L): (Double, Long, Vector[StageSkew]) = {
    val listener = new TaskTimeListener
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = graft.pipeline.Pipeline.inMemory(spark, cfg).read("resolved_triples").count()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    val rows = listener.durations.toVector.flatMap { case (sid, buf) =>
      val ds = buf.synchronized { buf.toVector }.sorted
      if (ds.size < minTasks || ds.last < minMaxMs) None
      else Some(StageSkew(sid, listener.names.getOrElse(sid, "?"), ds.size,
        ds(ds.size / 2), ds.last))
    }.sortBy(-_.ratio)
    (wall, n, rows)
  }

  def main(args: Array[String]): Unit = {
    val pages = args.headOption.map(_.toInt).getOrElse(60000)
    val cores = args.lift(1).map(_.toInt).getOrElse(32)
    val maxRatio = sys.env.getOrElse("SPARK_GRAFT_SKEW_MAX_RATIO", "4.0").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-skew-bench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = CorpusSynth.Config(nPages = pages,
      nClusters = math.max(12, pages / 25),
      hotClusterFrac = 0.2, hotDomainFrac = 0.3)
    val (wall, triples, rows) = run(spark, cfg)
    println(f"[skew] pages=$pages hot_cluster=0.2 hot_domain=0.3 " +
      f"wall=$wall%.1fs resolved_triples=$triples")
    rows.foreach { r =>
      println(f"[skew] stage=${r.stageId}%-4d tasks=${r.nTasks}%-4d " +
        f"median=${r.medianMs}%-6d max=${r.maxMs}%-6d ratio=${r.ratio}%.2f  ${r.name}")
    }
    val worst = rows.headOption.map(_.ratio).getOrElse(1.0)
    println(f"[skew] worst_ratio=$worst%.2f guard=$maxRatio%.1f " +
      (if (worst <= maxRatio) "PASS" else "FAIL"))
    spark.stop()
    if (worst > maxRatio) sys.exit(1)
  }
}
