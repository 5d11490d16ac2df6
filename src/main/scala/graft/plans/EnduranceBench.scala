package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusSynth

/** sf1 endurance probe (r4, VERDICT item 8): one KG run at ~10× the bench
  * operating point with per-stage SPILL and peak-memory metrics in the
  * artifact — the point is to find the next memory cliff before a user
  * does, and to leave numbers (not impressions) about where the chain
  * stands against it.
  *
  * What's recorded per Spark stage: tasks, wall of the slowest task, total
  * shuffle read/write bytes, memory+disk spill bytes, and the max
  * single-task peak execution memory. A stage that spills is not a bug —
  * Tungsten spilling IS the designed behavior past memory — but the spill
  * bytes curve vs corpus size is the early-warning signal the r3 verdict
  * asked to archive.
  *
  * Usage: sbt -batch "runMain graft.plans.EnduranceBench [pages] [cores]"
  * Archives BENCH/runs/endurance_<utc>-<sha>.json.
  */
object EnduranceBench {

  final case class StageAgg(
      var name: String = "",
      var logical: String = "", // pipeline stage active when first task landed
      var tasks: Int = 0,
      var maxTaskMs: Long = 0L,
      var shuffleReadB: Long = 0L,
      var shuffleWriteB: Long = 0L,
      var memSpillB: Long = 0L,
      var diskSpillB: Long = 0L,
      var maxPeakMemB: Long = 0L)

  final class SpillListener extends SparkListener {
    val stages: TrieMap[Int, StageAgg] = TrieMap.empty
    /** Set by the stage hook before each logical stage — an anonymous
      * AQE-lambda Spark stage name attributes to the pipeline stage that
      * launched it (each stage's checkpointed outputs keep windows honest).
      */
    @volatile var currentLogical: String = "setup"
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        val agg = stages.getOrElseUpdate(t.stageId, StageAgg())
        agg.synchronized {
          if (agg.logical.isEmpty) agg.logical = currentLogical
          agg.tasks += 1
          agg.maxTaskMs = math.max(agg.maxTaskMs, t.taskInfo.duration)
          agg.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          agg.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          agg.memSpillB += m.memoryBytesSpilled
          agg.diskSpillB += m.diskBytesSpilled
          agg.maxPeakMemB = math.max(agg.maxPeakMemB, m.peakExecutionMemory)
        }
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.getOrElseUpdate(s.stageInfo.stageId, StageAgg()).name =
        s.stageInfo.name.takeWhile(_ != '\n').take(60)
  }

  def main(args: Array[String]): Unit = {
    val pages = args.headOption.map(_.toInt).getOrElse(3000000)
    val cores = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-endurance")
      .config("spark.sql.shuffle.partitions", cores * 4) // larger corpus ⇒ more, smaller partitions
      // Config parity with graft.Bench/ClusterBench: Spark's 128-key default
      // flips ObjectHashAggregate (the collect_list merges) to SORT-based
      // aggregation on any realistic key count — at 3M pages that sorted the
      // full occurrence stream (measured: 3.8 TB mem-spill in one stage).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "5000000")
      // one shared local[N] JVM holds ONE copy of the ER scoring map, so a
      // multi-GB bound is safe here and map-side scoring avoids the shuffle
      // path's array-carrying exchange (Resolution.candidatePairs docs)
      .config("spark.graft.er.maxBroadcastBytes", (4L << 30).toString)
      // same fat-driver rationale for the Louvain local-finish bound: this
      // JVM has a 24 GB heap, so mid-size hierarchy levels (3-8M edges; the
      // 3.47M-row level-2 graph at 3M pages measured 201 s in the
      // distributed hop loop vs seconds driver-side) take the spec-asserted
      // bit-equal local route; the 2M default stays right for small
      // spark-submit drivers
      .config("spark.graft.louvain.localFinishEdges", "8000000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new SpillListener
    spark.sparkContext.addSparkListener(listener)
    val cfg = CorpusSynth.Config(nPages = pages, nClusters = math.max(12, pages / 25))
    val rssBefore = rssMb()
    val t0 = System.nanoTime()
    // the pipeline's stage list in memory, every table built: its stage
    // hook names the logical stage for spill attribution and times it
    // (attribution tool, not the headline number — graft.Bench owns that)
    val walls = Vector.newBuilder[(String, Double)]
    val kg = graft.pipeline.Pipeline.inMemory(spark, cfg, (name, build) => {
      listener.currentLogical = name
      val ts = System.nanoTime()
      build()
      walls += name -> (System.nanoTime() - ts) / 1e9
    })
    kg.buildAll()
    val n = kg.read("resolved_triples").count()
    val stageWalls = walls.result()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    val rssAfter = rssMb()

    val rows = listener.stages.toVector
      .filter { case (_, a) => a.tasks > 0 }
      .sortBy { case (_, a) => -(a.memSpillB + a.diskSpillB) }
    def mb(b: Long) = b / (1024 * 1024)
    val totalMemSpill = rows.map(_._2.memSpillB).sum
    val totalDiskSpill = rows.map(_._2.diskSpillB).sum
    println(f"[endurance] pages=$pages wall=$wall%.1fs resolved_triples=$n " +
      f"triples_per_sec=${n / wall}%.0f mem_spill_mb=${mb(totalMemSpill)} " +
      f"disk_spill_mb=${mb(totalDiskSpill)} rss_mb=$rssBefore->$rssAfter")
    stageWalls.foreach { case (name, s) => println(f"[endurance] wall $name%-20s $s%8.2f s") }
    rows.take(12).foreach { case (sid, a) =>
      println(f"[endurance] stage=$sid%-4d tasks=${a.tasks}%-5d maxTask=${a.maxTaskMs}%-7d " +
        f"shufR=${mb(a.shuffleReadB)}%-6d shufW=${mb(a.shuffleWriteB)}%-6d " +
        f"spillMem=${mb(a.memSpillB)}%-7d spillDisk=${mb(a.diskSpillB)}%-6d " +
        f"peakMem=${mb(a.maxPeakMemB)}%-6d  ${a.logical}%-16s ${a.name}")
    }
    // archive
    val sha = try new String(java.lang.Runtime.getRuntime
      .exec(Array("git", "rev-parse", "--short", "HEAD")).getInputStream.readAllBytes()).trim
      catch { case _: Throwable => "unknown" }
    val utc = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    val stagesJson = rows.take(20).map { case (sid, a) =>
      s"""{"stage":$sid,"logical":"${a.logical}","tasks":${a.tasks},"max_task_ms":${a.maxTaskMs},""" +
        s""""shuffle_read_mb":${mb(a.shuffleReadB)},"shuffle_write_mb":${mb(a.shuffleWriteB)},""" +
        s""""spill_mem_mb":${mb(a.memSpillB)},"spill_disk_mb":${mb(a.diskSpillB)},""" +
        s""""peak_task_mem_mb":${mb(a.maxPeakMemB)},"name":"${a.name.replace("\"", "'")}"}"""
    }.mkString("[", ",", "]")
    // Locale.ROOT keeps the JSON artifact parseable on comma-decimal locales
    def fmt(p: String, v: Double) = String.format(java.util.Locale.ROOT, p, Double.box(v))
    val wallsJson = stageWalls.map { case (k, v) =>
      s""""$k":${fmt("%.2f", v)}""" }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"endurance","pages":$pages,"cores":$cores,""" +
        s""""wall_sec":${fmt("%.3f", wall)},"resolved_triples":$n,""" +
        s""""triples_per_sec":${fmt("%.1f", n / wall)},""" +
        s""""mem_spill_mb":${mb(totalMemSpill)},"disk_spill_mb":${mb(totalDiskSpill)},""" +
        s""""rss_mb_end":$rssAfter,"stage_walls_sec":$wallsJson,"stages":$stagesJson,""" +
        s""""git_sha":"$sha","utc":"$utc"}"""
    try {
      val hist = java.nio.file.Paths.get("BENCH/runs")
      java.nio.file.Files.createDirectories(hist)
      java.nio.file.Files.writeString(hist.resolve(s"endurance_$utc-$sha.json"), json + "\n")
    } catch { case e: Throwable => System.err.println(s"[endurance] write failed: $e") }
    println(json)
    spark.stop()
  }

  private def rssMb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmRSS"))
        .map(_.split("\\s+")(1).toLong / 1024).getOrElse(0L)
    } catch { case _: Throwable => 0L }
}
