package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.chunk.Chunkers
import graft.corpus.CorpusSynth
import graft.extract.RuleExtractor
import graft.operators.GraphAssembly
import graft.resolve.Resolution

/** Sub-stage decomposition of the ER candidate_pairs stage (the dominant
  * term in the r3 bench profile: 14.1s of a 31.7s KG wall at 150k pages).
  *   sbt -batch "runMain graft.plans.ErProfile [pages] [cores]"
  */
object ErProfile {
  def main(args: Array[String]): Unit = {
    val pages = args.headOption.map(_.toInt).getOrElse(150000)
    val cores = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "5000000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"  $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val cfg = CorpusSynth.Config(nPages = pages, nClusters = math.max(12, pages / 25))
    val p = Resolution.Params()
    val chunks = GraphAssembly.chunks(
      GraphAssembly.docs(CorpusSynth.pages(spark, cfg)), Chunkers.forType("regex"))
      .localCheckpoint(true)
    val extracted = GraphAssembly.extractAll(chunks, new RuleExtractor).localCheckpoint(true)
    val entities = GraphAssembly.entities(extracted).localCheckpoint(true)
    println(s"  entities: ${entities.count()}")
    val emb = Resolution.embedEntities(entities, p).localCheckpoint(true)

    val sigs = time("sign (240 dots x 1536)") {
      Resolution.signatures(emb, p).localCheckpoint(true)
    }
    println(s"  sig rows: ${sigs.count()}")
    val bucketed = time("bucket window cap") {
      sigs.withColumn("bucket_n", count(lit(1)).over(Window.partitionBy($"band", $"sig")))
        .where($"bucket_n" <= p.maxBucket).drop("bucket_n").localCheckpoint(true)
    }
    val cand = time("bucket self-join + dedup") {
      val l = bucketed.select($"band", $"sig", $"entity_id".as("src"))
      val r = bucketed.select($"band", $"sig", $"entity_id".as("dst"))
      l.join(r, Seq("band", "sig")).where($"src" < $"dst")
        .select("src", "dst").dropDuplicates("src", "dst").localCheckpoint(true)
    }
    println(s"  candidate pairs: ${cand.count()}")
    val scored = time("emb joins + cosine") {
      cand
        .join(emb.select($"entity_id".as("src"), $"embedding".as("emb_a")), "src")
        .join(emb.select($"entity_id".as("dst"), $"embedding".as("emb_b")), "dst")
        .withColumn("cos", graft.operators.Similarity.cosineFast($"emb_a", $"emb_b"))
        .where($"cos" >= lit(p.cosineThreshold - 1e-6))
        .select($"src", $"dst", $"cos").localCheckpoint(true)
    }
    println(s"  scored pairs: ${scored.count()}")
    time("sym + topk window") {
      val sym = scored.unionByName(scored.select($"dst".as("src"), $"src".as("dst"), $"cos"))
      val w = Window.partitionBy($"src").orderBy($"cos".desc, $"dst")
      sym.withColumn("rank", row_number().over(w))
        .where($"rank" <= p.topK - 1).drop("rank").localCheckpoint(true)
    }
    spark.stop()
  }
}
