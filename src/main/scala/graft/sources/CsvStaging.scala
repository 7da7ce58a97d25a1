package graft.sources

import scala.util.{Failure, Success}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Raw-preserving CSV staging reader — the extract phase of the
  * reference (src/extract.py:82-516) re-expressed for a distributed
  * engine.
  *
  * Reference semantics kept:
  *  - every column lands as a raw STRING (no type coercion at staging);
  *  - each file's header must carry exactly the declared columns, in
  *    any order (extract.py:380,438 column-mismatch guard), and each
  *    file is read by its OWN header, as pandas does per file — Spark
  *    would take the column names of the first file for all of them;
  *  - rows with null/empty primary key are dropped (extract.py:387);
  *  - duplicate primary keys keep the LAST occurrence in file order
  *    (extract.py:389 drop_duplicates keep='last'); across files the
  *    later file name wins (`loans_d2.csv` after `loans.csv`);
  *  - the numeric-digits sort key (extract.py:272) is derived as a
  *    COLUMN — the reference's global pre-insert sort is replaced by
  *    an orderable key, because a total order is a single-writer
  *    bottleneck at 100 TB.
  *
  * One scan, no eager job: headers are read on the driver with a plain
  * filesystem open (no header-inference job), the files are read with
  * an explicit all-string schema, and the staging counts are observed
  * metrics (`Dataset.observe`) of whatever action consumes `data` —
  * no count job of their own.
  *
  * Scale notes: "keep last per key" is a window over the key — one
  * shuffle, no driver state. Row order within a file comes from the
  * csv reader's partition-local order (monotonically_increasing_id is
  * monotone within and across a file's splits in read order).
  */
object CsvStaging {

  /** A staged batch. The counts are observed metrics of `data`: they
    * exist once the first action over ALL of `data` (a write, a count,
    * a join that consumes it) has completed, and reading one earlier
    * throws IllegalStateException rather than waiting.
    *
    * `perFileRows`: raw row count per source FILE (the tracker's
    * record_count must be per file, not the batch total). Small by
    * construction: O(#files); a file with no data rows has no entry.
    */
  final class StagingResult private[CsvStaging] (
      val data: DataFrame, scanned: Observation, kept: Observation) {
    def totalRows: Long = metric(scanned).getAs[Long]("total")
    def invalidKeyRows: Long = totalRows - metric(scanned).getAs[Long]("valid")
    def dedupedRows: Long =
      metric(scanned).getAs[Long]("valid") - metric(kept).getAs[Long]("kept")
    def perFileRows: Map[String, Long] =
      metric(scanned).getAs[scala.collection.Map[String, Long]]("per_file")
        .map { case (f, n) => decodeName(f) -> n }.toMap

    private def metric(o: Observation): Row = {
      // observations complete on the async listener bus after the
      // action returns: drain it once, then decide without blocking
      if (!o.future.isCompleted)
        org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(data.sparkSession)
      o.future.value match {
        case Some(Success(r)) if r.length > 0 => r
        case Some(Failure(e)) => throw e
        case _ => throw new IllegalStateException(
          "staging counts are observed metrics of `data`: run an action " +
            "that consumes all of it (write, count) before reading them")
      }
    }
  }

  /** The scan names files percent-encoded (`a%20b.csv`); the tracker
    * keys them by the plain name.
    */
  private def decodeName(f: String): String =
    java.net.URLDecoder.decode(f.replace("+", "%2B"), "UTF-8")

  def schemaFor(columns: Seq[String]): StructType =
    StructType(columns.map(c => StructField(c, StringType, nullable = true)))

  /** Stage every CSV matching `path` (a file or a glob): expands the
    * glob and hands the concrete files to [[readFiles]].
    */
  def read(spark: SparkSession, path: String, columns: Seq[String],
           primaryKey: String): StagingResult = {
    // expand a glob up front: a raw glob string goes through
    // FileStreamSink.hasMetadata, which probes the literal glob as a
    // file and warn-logs a FileNotFoundException trace per read
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val expanded = Option(fs.globStatus(hp))
      .filter(_.nonEmpty)
      .map(_.map(_.getPath.toString).toIndexedSeq)
      .getOrElse(Seq(path)) // no match: keep the original error path
    readFiles(spark, expanded, columns, primaryKey)
  }

  /** Stage exactly `files` into raw-string staging form. Fails fast if
    * a file's header doesn't carry exactly `columns` (any order).
    */
  def readFiles(spark: SparkSession, files: Seq[String], columns: Seq[String],
                primaryKey: String): StagingResult = {
    require(files.nonEmpty, "CsvStaging.readFiles: no files")
    val conf = spark.sparkContext.hadoopConfiguration
    val byHeader = files.sorted.groupBy { f =>
      val h = header(new Path(f), conf)
      require(h.length == columns.length && h.toSet == columns.toSet,
        s"column mismatch in $f: csv has ${h.sorted}, expected ${columns.sorted}")
      h
    }
    // one scan per distinct column order (usually one), each with the
    // files' own header as its schema, aligned by name
    val raw = byHeader.toSeq.sortBy(_._2.head).map { case (h, fs) =>
      spark.read.schema(schemaFor(h))
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .csv(fs: _*)
        .select(columns.map(col) :+ col("_metadata.file_name").as("__file"): _*)
    }.reduce(_ union _)

    val validKey = col(primaryKey).isNotNull && trim(col(primaryKey)) =!= ""
    val scanned = Observation()
    val keyed = raw
      .observe(scanned, count(lit(1)).as("total"), count_if(validKey).as("valid"),
        fileCounts(col("__file")).as("per_file"))
      .withColumn("__row", monotonically_increasing_id())
      .filter(validKey)

    // keep-last per key, by file order (reference keep='last')
    val w = Window.partitionBy(col(primaryKey))
      .orderBy(col("__file").desc, col("__row").desc)
    val kept = Observation()
    val deduped = keyed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__row", "__file")
      .withColumn("numeric_sort_key", numericSortKey(col(primaryKey)))
      .observe(kept, count(lit(1)).as("kept"))
    new StagingResult(deduped, scanned, kept)
  }

  /** A file's header fields, parsed with the csv reader's defaults. */
  private def header(p: Path, conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
      .getCodec(p)).map(_.createInputStream(raw)).getOrElse(raw)
    val line = try {
      new java.io.BufferedReader(new java.io.InputStreamReader(in,
        java.nio.charset.StandardCharsets.UTF_8)).readLine()
    } finally in.close()
    if (line == null) Nil
    else {
      val s = new com.univocity.parsers.csv.CsvParserSettings()
      s.setIgnoreLeadingWhitespaces(false)
      s.setIgnoreTrailingWhitespaces(false)
      new com.univocity.parsers.csv.CsvParser(s).parseLine(line).toSeq
        .map(Option(_).getOrElse(""))
    }
  }

  /** Rows per file name, as one aggregate: O(#files) state. */
  private object FileCounts extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], f: String): Map[String, Long] =
      b.updated(f, b.getOrElse(f, 0L) + 1L)
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.foldLeft(a) { case (m, (f, n)) => m.updated(f, m.getOrElse(f, 0L) + n) }
    def finish(b: Map[String, Long]): Map[String, Long] = b
    def bufferEncoder = ExpressionEncoder[Map[String, Long]]()
    def outputEncoder = ExpressionEncoder[Map[String, Long]]()
  }
  private val fileCounts = udaf(FileCounts, Encoders.STRING)

  /** The reference's `_extract_numeric_id`: all digits of the id glued
    * together, 0 when none. Null-safe, overflow-guarded to 18 digits.
    */
  def numericSortKey(c: org.apache.spark.sql.Column) =
    coalesce(substring(regexp_replace(c, "[^0-9]", ""), 0, 18).cast("long"),
      lit(0L))
}
