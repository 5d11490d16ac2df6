package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** What a stage build sees of the tables it reads and writes. [[Catalog]]
  * backs it with parquet directories and [[InMemoryStages]] with local
  * checkpoints, so one stage list serves both materializers.
  */
trait Tables {
  def spark: SparkSession
  def read(table: String): DataFrame
  def write(table: String, df: DataFrame, partitions: Option[Int] = None): Unit
  /** Writes `df` and returns `metric` (default: its row count). */
  def writeCounted(table: String, df: DataFrame, partitions: Option[Int] = None,
      metric: Column = count(lit(1))): Long
  /** Writes `df` hash-bucketed by `keyCols` and returns its row count. */
  def writeKeyedCounted(table: String, df: DataFrame, keyCols: Seq[String], nBuckets: Int): Long
  def writeSidecar(table: String, name: String, lines: => Seq[String]): Unit
  def readSidecar(table: String, name: String): Option[Seq[String]]
}

/** One stage of a build: it reads `inputs` and writes the table named after
  * it (the one its lineage row describes) plus `sideTables`.
  */
final case class Stage(name: String, inputs: Seq[String], sideTables: Seq[String] = Nil)(
    val build: Tables => Long) {
  def outputs: Seq[String] = name +: sideTables
}

/** In-memory materializer of a stage list: a table is built on its first
  * read — its stage's inputs first, then the stage, whose outputs are
  * eagerly local-checkpointed so each is computed once. Sidecars are
  * dropped unevaluated and keyed layouts are ignored.
  *
  * `onStage(name, build)` wraps each stage's build after its inputs exist,
  * so nothing upstream runs inside it: hooks time stages or tag their Spark
  * jobs. A stage may read only its declared inputs and the tables it has
  * already written; any other read fails, which keeps the declared inputs
  * honest.
  */
final class InMemoryStages(val spark: SparkSession, stages: Seq[Stage],
    onStage: (String, () => Unit) => Unit = InMemoryStages.runStage) extends Tables {

  private val producer: Map[String, Stage] =
    stages.flatMap(s => s.outputs.map(_ -> s)).toMap
  private val built = mutable.Map.empty[String, DataFrame]
  private var running: Option[Stage] = None

  /** Every table of the stage list, in stage order. */
  def tables: Seq[String] = stages.flatMap(_.outputs)

  /** Builds every table of the stage list. */
  def buildAll(): Unit = tables.foreach(read)

  def read(table: String): DataFrame = synchronized {
    built.getOrElse(table, {
      // a running stage's inputs are all built already
      for (s <- running) sys.error(s"stage ${s.name} reads $table, which is not among its inputs")
      val s = producer.getOrElse(table, sys.error(s"no stage writes $table"))
      s.inputs.foreach(read)
      running = Some(s)
      try onStage(s.name, () => s.build(this))
      finally running = None
      built.getOrElse(table, sys.error(s"stage ${s.name} did not write $table"))
    })
  }

  def write(table: String, df: DataFrame, partitions: Option[Int]): Unit =
    built(table) = graft.Ckpt.local(df)

  /** Not counted in memory: returns -1. */
  def writeCounted(table: String, df: DataFrame, partitions: Option[Int], metric: Column): Long = {
    write(table, df, partitions)
    -1L
  }

  def writeKeyedCounted(table: String, df: DataFrame, keyCols: Seq[String], nBuckets: Int): Long =
    writeCounted(table, df)

  def writeSidecar(table: String, name: String, lines: => Seq[String]): Unit = ()

  def readSidecar(table: String, name: String): Option[Seq[String]] = None
}

object InMemoryStages {
  /** The default stage hook: just runs the build. */
  val runStage: (String, () => Unit) => Unit = (_, build) => build()
}
