package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.{FileMetricsRow, LineageRow}

/** `Catalog.stage`'s bookkeeping: no Spark job, per-file rows equal to a
  * group-by over the scan, driver-written lineage files indistinguishable
  * from Spark-written ones, and the lineage row as the commit record.
  */
class CatalogLineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(tag: String) = Files.createTempDirectory(s"graft-$tag").toString

  private def rows(n: Int): DataFrame =
    spark.range(0, n).select(concat(lit("k"), col("id")).as("k"), (col("id") * 3).as("v"))

  /** The group-by-`input_file_name` scan the footer stats replace:
    * (file relative to the table dir, rows, bytes from the FS listing).
    */
  private def scanStats(cat: Catalog, table: String): Set[(String, Long, Long)] = {
    val p = new Path(cat.path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rel(path: String) = path.substring(path.indexOf(s"/$table/") + table.length + 2)
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      sizes(rel(st.getPath.toUri.getPath)) = st.getLen
    }
    spark.read.parquet(cat.path(table))
      .groupBy(input_file_name().as("file")).agg(count(lit(1)).as("rows"))
      .collect()
      .map { r =>
        val file = rel(r.getString(0))
        (file, r.getLong(1), sizes(file))
      }.toSet
  }

  private def storedStats(cat: Catalog, stage: String): Set[(String, Long, Long)] =
    cat.fileMetrics().where(col("stage") === stage).as[FileMetricsRow].collect()
      .map(r => (r.file, r.rows, r.bytes)).toSet

  test("stage bookkeeping starts no Spark job") {
    val cat = new Catalog(tmpDir("cat-jobs"), spark)
    val sc = spark.sparkContext
    val phaseKey = "graft.spec.phase"
    val phases = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        phases.add(Option(e.properties).flatMap(p => Option(p.getProperty(phaseKey))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      def stage(name: String)(write: => Long): Unit = {
        sc.setLocalProperty(phaseKey, "build")
        Catalog.stage(cat, "r1", name, s"fp-$name", resume = false) {
          val n = write
          sc.setLocalProperty(phaseKey, "bookkeeping")
          n
        }
      }
      stage("flat")(cat.writeCounted("flat", rows(500), Some(3)))
      stage("bucketed") { cat.writeBucketed("bucketed", rows(500), Seq("k"), 4); 500L }
      // the listener bus is asynchronous and ordered: once the barrier job's
      // start is seen, every earlier job start has been delivered
      sc.setLocalProperty(phaseKey, "barrier")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!phases.contains("barrier") && System.nanoTime() < deadline) Thread.sleep(10)
    } finally {
      sc.setLocalProperty(phaseKey, null)
      sc.removeSparkListener(listener)
    }
    val seen = phases.asScala.toSeq
    assert(seen.contains("barrier"), "listener never saw the barrier job")
    assert(seen.contains("build"), "listener saw none of the build's jobs")
    assert(seen.count(_ == "bookkeeping") == 0, s"bookkeeping started jobs: $seen")
    assert(cat.lineage().count() == 2)
    assert(storedStats(cat, "flat").toSeq.map(_._2).sum == 500L)
    assert(storedStats(cat, "bucketed").toSeq.map(_._2).sum == 500L)
  }

  test("footer-derived file rows equal the group-by-input_file_name scan") {
    val cat = new Catalog(tmpDir("cat-files"), spark)
    def stage(name: String)(write: => Long) =
      Catalog.stage(cat, "r1", name, s"fp-$name", resume = false)(write)
    stage("flat")(cat.writeCounted("flat", rows(1000), Some(5)))
    // `_bucket=N/` partition dirs count; the `_graft_layout` sidecar and
    // `_SUCCESS` beside them do not
    stage("bucketed") { cat.writeBucketed("bucketed", rows(1000), Seq("k"), 8); 1000L }
    // an empty result commits one 0-row file, which a scan never groups
    stage("empty")(cat.writeCounted("empty", rows(100).where(col("v") < 0)))
    for (t <- Seq("flat", "bucketed", "empty")) {
      val expected = scanStats(cat, t)
      assert(cat.fileStats(t).toSet == expected, s"$t: footer stats differ from the scan")
      assert(storedStats(cat, t) == expected, s"$t: stored file rows differ from the scan")
    }
    assert(scanStats(cat, "flat").size == 5)
    assert(scanStats(cat, "bucketed").map(_._1.takeWhile(_ != '/')).size == 8)
    assert(scanStats(cat, "empty").isEmpty)
  }

  test("driver-written lineage files match Spark-written ones") {
    val root = tmpDir("cat-format")
    val cat = new Catalog(root, spark)
    val ts = new Timestamp(1700000000123L)
    val lin = Seq(LineageRow("spark", "s", "fp1", 7L, 11L, ts), LineageRow("driver", "s", "fp2", 8L, 12L, ts))
    val fm = Seq(FileMetricsRow("spark", "s", "a.parquet", 3L, 100L, ts),
      FileMetricsRow("driver", "s", "b.parquet", 4L, 200L, ts))
    // the job-based appends Catalog used to run, beside the driver-side ones
    Seq(lin.head).toDS().toDF().coalesce(1).write.mode(SaveMode.Append).parquet(s"$root/_lineage")
    Seq(fm.head).toDS().toDF().coalesce(1).write.mode(SaveMode.Append).parquet(s"$root/_lineage_files")
    cat.appendLineage(lin(1))
    cat.appendFileMetrics(fm.tail)

    val conf = spark.sparkContext.hadoopConfiguration
    for (dir <- Seq("_lineage", "_lineage_files")) {
      val files = Files.list(Paths.get(root, dir)).iterator().asScala
        .map(_.getFileName.toString).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .toSeq
      assert(files.size == 2, s"$dir: $files")
      val footers = files.map { n =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(s"$root/$dir/$n"), conf))
        try r.getFileMetaData finally r.close()
      }
      val Seq(a, b) = footers
      assert(a.getSchema == b.getSchema, s"$dir parquet schema:\n${a.getSchema}\n${b.getSchema}")
      assert(a.getKeyValueMetaData.keySet == b.getKeyValueMetaData.keySet, s"$dir metadata keys")
      val sparkSchema = "org.apache.spark.sql.parquet.row.metadata"
      assert(a.getKeyValueMetaData.get(sparkSchema) != null)
      assert(a.getKeyValueMetaData.get(sparkSchema) == b.getKeyValueMetaData.get(sparkSchema),
        s"$dir Spark schema")
    }
    assert(cat.lineage().as[LineageRow].collect().toSet == lin.toSet)
    assert(cat.fileMetrics().as[FileMetricsRow].collect().toSet == fm.toSet)
  }

  test("a crashed attempt's file rows share no finished_at with any lineage row") {
    val root = tmpDir("cat-crash")
    val cat = new Catalog(root, spark)
    def run(): StageResult = Catalog.stage(cat, "r1", "t", "fp", resume = false)(
      cat.writeCounted("t", rows(300), Some(2)))
    // a regular file where the lineage directory belongs: the file rows
    // append, then the lineage append (the commit record) fails
    val blocker = Paths.get(root, "_lineage")
    Files.write(blocker, Array[Byte](1))
    intercept[Exception](run())
    Files.delete(blocker)
    run()

    val files = cat.fileMetrics().as[FileMetricsRow].collect().toSeq
    val lineage = cat.lineage().as[LineageRow].collect().toSeq
    assert(lineage.size == 1)
    val attempts = files.groupBy(_.finished_at)
    assert(attempts.size == 2, s"expected the crashed and the retried attempt: ${attempts.keys}")
    val committed = lineage.map(_.finished_at).toSet
    val (live, orphaned) = attempts.partition { case (ts, _) => committed(ts) }
    assert(live.size == 1 && orphaned.size == 1)
    assert(live.values.head.map(_.rows).sum == 300L)
    assert(lineage.head.rows_out == 300L)
  }
}
