package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Processed-file tracking — the reference's `etl_file_tracker` table
  * (src/extract.py:115-270): a file is skipped when its (name, content
  * hash) was already processed; a changed file (same name, new hash)
  * is re-processed.
  *
  * Scale design: hashes are computed DISTRIBUTED via the `binaryFile`
  * source (`md5(content)` per file on executors), not by streaming
  * bytes through the driver as the reference does (extract.py:210).
  * Each [[newFiles]] call is ONE hashing job; the pending files come
  * back to the driver as (name, hash, path) rows — O(#files) — and
  * [[markProcessed]] records exactly those hashes, never re-listing or
  * re-hashing. A file rewritten after it was listed therefore keeps
  * its old hash in the state and surfaces again on the next run,
  * instead of being marked with content that was never read.
  *
  * The state itself is a small parquet table (O(#files)), read once
  * per tracker with its fixed schema (no inference job) and merged on
  * the driver; each [[markProcessed]] rewrites it through ParquetIo's
  * rename swap.
  */
class FileTracker(spark: SparkSession, statePath: String) {
  import FileTracker._

  private val stateSchema = StructType.fromDDL("file_name STRING, " +
    "file_hash STRING, record_count LONG, processed_at TIMESTAMP")

  private var rows: Seq[Row] = null

  /** Absent state (first run) → empty; a read FAILURE on existing
    * state propagates — swallowing it would make every processed file
    * look new and re-ingest the world.
    */
  private def stateRows: Seq[Row] = {
    if (rows == null)
      rows = ParquetIo.readIfExists(spark, statePath, Some(stateSchema))
        .map(_.collect().toSeq).getOrElse(Nil)
    rows
  }

  def state(): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(stateRows: _*), stateSchema)

  /** Files under `glob` not yet processed with their current content,
    * in path order. A glob matching nothing yields none (the reference
    * logs-and-continues on missing entity files, extract.py:530-532).
    */
  def newFiles(glob: String): Seq[Pending] = {
    // expand the glob up front and hand binaryFile CONCRETE paths: a
    // raw glob goes through FileStreamSink.hasMetadata, which probes
    // the literal glob string as a file and warn-logs a
    // FileNotFoundException stack trace on every normal run
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = Option(fs.globStatus(p)).getOrElse(
      Array.empty[org.apache.hadoop.fs.FileStatus])
    if (matches.isEmpty) Nil
    else {
      val done = stateRows.map(r => (r.getString(0), r.getString(1))).toSet
      spark.read.format("binaryFile")
        .load(matches.map(_.getPath.toString).toIndexedSeq: _*)
        .select(element_at(split(col("path"), "/"), -1), md5(col("content")),
          col("path"))
        .collect()
        .map(r => Pending(r.getString(0), r.getString(1), r.getString(2)))
        .filterNot(f => done((f.fileName, f.fileHash)))
        .sortBy(_.path).toSeq
    }
  }

  /** Record `files` as processed with the hashes they were listed
    * with (upsert by file_name: latest wins). `counts` are raw rows
    * per file name; a file without an entry had none.
    */
  def markProcessed(files: Seq[Pending], counts: Map[String, Long]): Unit = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val names = files.map(_.fileName).toSet
    val merged = stateRows.filterNot(r => names(r.getString(0))) ++
      files.map(f => Row(f.fileName, f.fileHash,
        counts.getOrElse(f.fileName, 0L), now))
    // single-file rewrite through ParquetIo's rename swap — crash-safe,
    // self-healing
    ParquetIo.replace(
      spark.createDataFrame(java.util.Arrays.asList(merged: _*), stateSchema),
      statePath, coalesceTo = 1)
    rows = merged
  }
}

object FileTracker {

  /** A file whose current content is not yet processed: its name (the
    * tracker key), the md5 of the content that was listed, and its path.
    */
  final case class Pending(fileName: String, fileHash: String, path: String)
}
