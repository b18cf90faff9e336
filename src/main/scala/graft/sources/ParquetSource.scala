package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Parquet source with resumable file-level progress (reference:
  * readers/Parquet.scala:40-170 + readers/ParquetSavepointsManager).
  *
  * Design choice per SURVEY.md §7.4: instead of introspecting
  * `FileSourceScanExec.inputRDD` partitions to infer file completion from
  * a SparkListener, resume is driven explicitly — list files, subtract
  * the skip-set, process in deterministic batches, record each completed
  * batch. File completion becomes a first-class loop, no internal APIs.
  */
object ParquetSource {

  /** Recursive listing of .parquet files under a root, sorted for
    * determinism (reference: readers/Parquet.scala:148-170).
    */
  def listParquetFiles(root: String, conf: Configuration): Seq[String] =
    listParquetStatuses(root, conf).map(_.getPath.toString)

  /** [[listParquetFiles]] with each file's status as the listing
    * returned it — lengths and footers need no second stat per file.
    */
  def listParquetStatuses(root: String, conf: Configuration): Seq[FileStatus] = {
    val path = new Path(root)
    val fs = path.getFileSystem(conf)
    // metadata conventions shared with Spark's own FileIndex: _- and
    // .-prefixed paths (e.g. the _stats index, _SUCCESS markers,
    // .hidden temp files) are never data — explicit file lists bypass
    // Spark's hidden-path filter, so the listing must apply it itself
    def hidden(p: Path): Boolean =
      p.getName.startsWith("_") || p.getName.startsWith(".")
    def walk(status: FileStatus, isRoot: Boolean): Seq[FileStatus] = {
      val p = status.getPath
      if (!isRoot && hidden(p)) Seq.empty
      else if (status.isDirectory)
        fs.listStatus(p).toIndexedSeq.flatMap(walk(_, isRoot = false))
      else if (p.getName.endsWith(".parquet")) Seq(status)
      else Seq.empty
    }
    walk(fs.getFileStatus(path), isRoot = true).sortBy(_.getPath.toString)
  }

  /** What one parquet footer says about its file: the row count (the
    * metadata a parquet `count(*)` reads), the Spark schema every
    * Spark writer embeds (`org.apache.spark.sql.parquet.row.metadata`)
    * — None for files Spark did not write — and the parquet schema and
    * key-value metadata [[Compaction]] compares before splicing files.
    */
  final case class Footer(rows: Long, schema: Option[StructType],
                          messageType: MessageType, keyValue: Map[String, String])

  /** Read one footer on the driver: no Spark job. */
  def footer(conf: Configuration, file: FileStatus): Footer = {
    val meta = footerMeta(conf, file)
    val kv = meta.getFileMetaData.getKeyValueMetaData.asScala.toMap
    Footer(meta.getBlocks.asScala.map(_.getRowCount).sum,
      kv.get(SparkSchemaKey).map(j => DataType.fromJson(j).asInstanceOf[StructType]),
      meta.getFileMetaData.getSchema, kv)
  }

  /** One file's full footer (row groups, chunk statistics), read with
    * the caller's Hadoop conf: `ParquetFileReader.open(inputFile)` alone
    * builds its read options over a fresh `Configuration`, which re-parses
    * the Hadoop XML resources on every footer.
    */
  def footerMeta(conf: Configuration, file: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).build())
    try r.getFooter finally r.close()
  }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema Spark infers for a schema-less, non-merging read of
    * `files`: the first file's embedded schema (Spark's own choice),
    * found from one footer. None when that file was not written by
    * Spark — the caller then lets Spark infer.
    */
  def firstFileSchema(conf: Configuration, files: Seq[FileStatus]): Option[StructType] =
    files.headOption.flatMap { f =>
      try footer(conf, f).schema
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Result of a driver-side small-parquet read ([[localRows]]). */
  sealed trait LocalRead
  object LocalRead {
    /** Decoded rows, one per record, columns in request order. */
    final case class Rows(rows: Array[org.apache.spark.sql.Row]) extends LocalRead
    /** The files exist but lack one of the requested columns. */
    case object ColumnsMissing extends LocalRead
    /** Unsupported type / IO trouble — caller should fall back to a
      * Spark read.
      */
    case object Unsupported extends LocalRead
  }

  /** Decode a SMALL parquet directory's rows on the DRIVER — zero Spark
    * jobs, where even a cached-schema `read.parquet(...).collect()`
    * pays a collect job (and an inference job without the schema). For
    * driver-resident metadata artifacts (the `_stats` index: one row
    * per data file) the artifact is driver-sized by construction — the
    * same scaling argument as any FileIndex — so a local decode is
    * strictly cheaper than a cluster round trip at any admissible size.
    *
    * Only flat primitive columns decode: INT64/INT32/DOUBLE/FLOAT/
    * BOOLEAN with no logical annotation, and UTF8-annotated BINARY as
    * String — exactly the shapes the stats artifact writes for the
    * orderable key types. Anything else (decimal, timestamp, nested)
    * returns [[LocalRead.Unsupported]] so the caller keeps Spark's
    * decoding semantics.
    */
  def localRows(conf: Configuration, dir: String,
                columns: Seq[String]): LocalRead = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    try {
      val files = listParquetFiles(dir, conf)
      if (files.isEmpty) return LocalRead.Rows(Array.empty)
      val out = Array.newBuilder[org.apache.spark.sql.Row]
      var missing = false
      files.foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            new Path(f))
          .withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null && !missing) {
            val schema = g.getType
            val vals = columns.map { c =>
              if (!schema.containsField(c)) { missing = true; null }
              else {
                val idx = schema.getFieldIndex(c)
                val ft = schema.getType(idx)
                if (!ft.isPrimitive)
                  throw new UnsupportedOperationException(s"nested $c")
                if (g.getFieldRepetitionCount(idx) == 0) null
                else {
                  val pt = ft.asPrimitiveType()
                  val ann = pt.getLogicalTypeAnnotation
                  def intAnn(width: Int) = ann match {
                    case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                      i.isSigned && i.getBitWidth == width
                    case _ => false
                  }
                  pt.getPrimitiveTypeName match {
                    case INT64 if ann == null || intAnn(64) => g.getLong(idx, 0)
                    case INT32 if ann == null || intAnn(32) => g.getInteger(idx, 0)
                    case DOUBLE if ann == null => g.getDouble(idx, 0)
                    case FLOAT if ann == null => g.getFloat(idx, 0)
                    case BOOLEAN if ann == null => g.getBoolean(idx, 0)
                    case BINARY if ann != null &&
                        ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                      g.getString(idx, 0)
                    case other =>
                      throw new UnsupportedOperationException(s"$c: $other/$ann")
                  }
                }
              }
            }
            if (!missing) out += org.apache.spark.sql.Row(vals: _*)
            g = reader.read()
          }
        } finally reader.close()
        if (missing) return LocalRead.ColumnsMissing
      }
      LocalRead.Rows(out.result())
    } catch {
      case scala.util.control.NonFatal(_) => LocalRead.Unsupported
    }
  }

  /** Read all files except the skip-set (resume semantics: a file in the
    * skip-set was fully written to the target in a previous run).
    */
  def readSkipping(spark: SparkSession, root: String, skipFiles: Set[String]): DataFrame = {
    val files = listParquetFiles(root, spark.sparkContext.hadoopConfiguration)
      .filterNot(skipFiles.contains)
    require(files.nonEmpty, s"no parquet files left to read under $root")
    spark.read.parquet(files: _*)
  }

  /** Resumable batched processing: files are processed `batchSize` at a
    * time; `process` handles one batch end-to-end (read→write); completed
    * files are reported through `onBatchDone` so the caller can persist a
    * savepoint between batches.
    */
  def processInBatches(spark: SparkSession, root: String, skipFiles: Set[String],
                       batchSize: Int, mergeSchema: Boolean = false)(
      process: DataFrame => Unit)(onBatchDone: Seq[String] => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val all = listParquetStatuses(root, conf)
    val remaining = all.filterNot(st => skipFiles.contains(st.getPath.toString))
    // Schema-evolved tables: union the per-file schemas ONCE across EVERY
    // listed file — including already-skipped ones (footer reads only —
    // no data scan) — then pin that schema on each batch read. Without
    // the pin, each batch would carry only its own files' columns and the
    // appended target would silently drop evolved columns batch by batch.
    // The union must cover skipped files too: on a savepoint resume where
    // an evolved column lives only in already-completed files, a
    // remaining-only union would append a NARROWER schema than the
    // pre-crash batches did, leaving the target mixed-schema (a plain
    // read of it then nondeterministically drops the evolved column).
    val pinned: Option[StructType] =
      if (mergeSchema && all.nonEmpty)
        Some(spark.read.option("mergeSchema", "true")
          .parquet(all.map(_.getPath.toString): _*).schema)
      else None
    remaining.grouped(batchSize).foreach { batch =>
      // without merging, pin what Spark would infer anyway — the first
      // file's embedded schema — and skip its footer-inference job
      val reader = pinned.orElse(firstFileSchema(conf, batch))
        .fold(spark.read)(s => spark.read.schema(s))
      val files = batch.map(_.getPath.toString)
      process(reader.parquet(files: _*))
      onBatchDone(files)
    }
  }
}
