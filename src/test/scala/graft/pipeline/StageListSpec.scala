package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.CorpusSynth

/** The full-build stage list through its two materializers: the parquet
  * catalog of [[Pipeline.run]] and the in-memory [[InMemoryStages]] must
  * hold the same tables, and the catalog's fingerprint chain stays pinned so
  * `--resume` keeps skipping stages of catalogs written before.
  */
class StageListSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val corpus = CorpusSynth.Config(nPages = 120, nClusters = 16)

  private lazy val catalog: Catalog = Pipeline.run(spark, Pipeline.Config(corpus = corpus,
    outDir = Files.createTempDirectory("graft-stages").toString, runId = "s1")).catalog

  /** (rows, order-independent digest over every column, floats included). */
  private def digest(df: DataFrame): (Long, String) = {
    val canon = df.schema.fields.sortBy(_.name).map { f =>
      val c = f.dataType match {
        case _: ArrayType => to_json(col(f.name))
        case _ => col(f.name).cast("string")
      }
      coalesce(c, lit("\u0000NULL"))
    }
    val r = df.select(xxhash64(canon.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")).cast("string"))
      .collect()(0)
    (r.getLong(0), r.getString(1))
  }

  test("every in-memory table equals the Pipeline.run catalog table of the same name") {
    val names = Vector.newBuilder[String]
    val mem = Pipeline.inMemory(spark, corpus, (name, build) => { names += name; build() })
    mem.buildAll()
    val stageNames = Pipeline.stages(spark, Pipeline.Config(corpus = corpus)).map(_.name)
    assert(names.result() == stageNames, "each stage built once, in list order")
    assert(mem.tables.size == 19)
    for (t <- mem.tables) {
      val (memRows, memDigest) = digest(mem.read(t))
      val (catRows, catDigest) = digest(catalog.read(t))
      assert(memRows == catRows, s"$t row count")
      assert(memDigest == catDigest, s"$t content digest")
    }
  }

  test("the catalog's fingerprint chain is pinned") {
    import spark.implicits._
    val fp = catalog.lineage().select($"stage", $"input_fingerprint").as[(String, String)]
      .collect().toMap
    assert(fp.size == 15)
    assert(fp("pages") == "6ffc957813d301348c310461")
    assert(fp("community_embeddings") == "2b8f6dc51d7e95a4bac5c132")
  }

  test("a stage that reads a table outside its declared inputs fails") {
    import spark.implicits._
    val stages = Seq(
      Stage("a", Nil)(t => { t.write("a", Seq(1).toDF("x")); 1L }),
      Stage("b", Nil)(t => { t.write("b", t.read("a")); 1L }))
    val err = intercept[RuntimeException](new InMemoryStages(spark, stages).read("b"))
    assert(err.getMessage.contains("stage b reads a"))
  }
}
