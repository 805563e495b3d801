package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{CdcPipeline, EnrichConfig}
import graft.sources.CdcSinkFiles

/** The enrich pipeline as the workloads drive it: `CdcPipeline.startV2`
  * with per-table fan-out, plus the checks run after the timed window.
  */
object Streams {
  /** Stand-in for the per-batch processing time, which the check masks. */
  val Mask = "MASKED"

  final case class Dirs(root: Path) {
    val in: Path = root.resolve("in")
    val out: Path = root.resolve("out")
    val ck: Path = root.resolve("ck")
    val staged: Path = root.resolve("staged")
  }

  def start(spark: SparkSession, d: Dirs, maxFiles: Int): StreamingQuery = {
    Files.createDirectories(d.in)
    CdcPipeline.startV2(spark, d.in.toString, d.out.toString, d.ck.toString,
      availableNow = false, fanOutByTable = true,
      maxFilesPerTrigger = Some(maxFiles))
  }

  /** Committed output lines with the table directory they sit under and
    * the name of their file (`e<epoch>-p<partition>.jsonl`).
    */
  def output(spark: SparkSession, out: Path): DataFrame = {
    // one read over the table directories (a handful of paths, listed on
    // the driver; hidden in-flight names are skipped by the listing)
    val tables = CdcSinkFiles.committed(out.toString)
      .filter(p => Files.isDirectory(Paths.get(p.toUri))).map(_.toString)
    if (tables.isEmpty) spark.sql("SELECT '' AS table, '' AS value, '' AS file WHERE false")
    else spark.read.text(tables: _*).select(
      regexp_extract(col("_metadata.file_path"), "/([^/]+)/[^/]+$", 1).as("table"),
      col("value"), col("_metadata.file_name").as("file"))
  }

  private def masked(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "\"processing_time_iso\":\"[^\"]*\"",
      "\"processing_time_iso\":\"" + Mask + "\"")

  private type Digest = (Long, BigDecimal, BigDecimal)

  /** Order-independent digest of each `k`'s (table, value) multiset: row
    * count and two independent hash sums.
    */
  private def digests(df: DataFrame): Map[Int, Digest] =
    df.groupBy("k").agg(count(lit(1)),
      sum(xxhash64(col("table"), col("value")).cast("decimal(38,0)")),
      sum(hash(col("value"), col("table")).cast("decimal(38,0)")))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3)))))
      .toMap

  /** Checks stream outputs against the expected output of the input in
    * `refIn`: the batch twin `routedValues` over the same lines with the
    * processing time fixed. Outputs are compared as (table, value)
    * multisets, with the per-batch processing time masked.
    */
  final class Check(spark: SparkSession, refIn: Path) {
    private def expected: DataFrame =
      CdcPipeline.routedValues(spark.read.text(refIn.toString),
        EnrichConfig(processingTimeIso = Some(Mask)))
        .select(col("source_table").as("table"), col("value"))
    /** Digest of the expected output, computed on first use. */
    lazy val expectedDigest: Option[Digest] =
      digests(expected.withColumn("k", lit(0))).get(0)

    /** Records missing, duplicated, altered or misrouted over all `outs`
      * (each as read by [[output]])
      * — a record counts once for each side it differs on; one job when
      * every output matches.
      */
    def misses(outs: Seq[DataFrame]): Long = {
      val got = outs.zipWithIndex.map { case (o, i) =>
        o.select(lit(i).as("k"), col("table"),
          masked(col("value")).as("value"))
      }.reduce(_ unionByName _)
      val found = digests(got)
      outs.indices.map { i =>
        if (found.get(i) == expectedDigest) 0L
        else {
          val g = got.filter(col("k") === i).drop("k")
          g.exceptAll(expected).count() + expected.exceptAll(g).count()
        }
      }.sum
    }
  }

  /** Files and bytes under `root`. */
  def footprint(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  def delete(root: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit
}
