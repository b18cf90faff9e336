package graft.sources.v2

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Streaming DataSourceV2: a change-log directory consumed as a custom
  * `MicroBatchStream` — the portable, service-free analog of the
  * reference's Kinesis/DynamoDB-Streams ingestion module
  * (spark-kinesis-dynamodb/.../KinesisDynamoDBInputDStream.scala:18-60,
  * KinesisDynamoDBCheckpointer.scala:41-149).
  *
  * The mapping of the reference's model onto files:
  *  - a *shard* is the directory; *records* are lines of its files;
  *  - a Kinesis *sequence number* ("monotonically increasing strings,
  *    therefore we can safely do the string comparison" — the
  *    checkpointer's exact contract) is the FILE NAME: producers write
  *    files with lexicographically increasing names (`00000017.jsonl`,
  *    epoch-millis prefixes, ULIDs — anything monotone);
  *  - the KCL lease-table *checkpoint* is the offset Spark persists in
  *    the streaming checkpoint WAL: this stream's Offset is simply the
  *    highest consumed file name, so restart resumes strictly after it;
  *  - *initial position*: `trim_horizon` (default — consume the whole
  *    retained log from the start) or `latest` (only files that arrive
  *    after the stream starts), mirroring KinesisInitialPosition;
  *  - *admission control* (the receiver's rate limiting): option
  *    `maxFilesPerTrigger` bounds each micro-batch via Spark's
  *    SupportsAdmissionControl, so a backlogged log drains in bounded
  *    batches instead of one giant catch-up batch.
  *
  * Delivery is at-least-once end-to-end: offsets commit to the WAL
  * after a batch is durably planned, a crashed batch replays, and the
  * downstream apply (CdcApply.applyBatch — idempotent last-writer-wins
  * upsert) absorbs the replay, exactly as the reference pairs its KCL
  * checkpointing with idempotent PutItem/DeleteItem application.
  *
  * Output schema: (seq string, line_no long, value string) — the file
  * key and line ordinal ride along so downstream operators can order
  * and deduplicate replayed records without re-parsing payloads.
  *
  * Scale: one directory listing per trigger (at admission), one small
  * manifest write/read per batch, one input partition per admitted
  * file, payload decode inside the per-task PartitionReader. Files
  * whose names sort at or below the committed offset are never listed
  * into a task, so a long-retained log costs the listing, not a scan.
  */
class ChangeLogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeLogSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // Spark option names are conventionally case-insensitive; reading the
    // raw map would silently ignore e.g. .option("maxfilespertrigger", …)
    val opts = new CaseInsensitiveStringMap(properties)
    new ChangeLogTable(opts.get("path"),
      Option(opts.get("initialPosition")).getOrElse("trim_horizon"),
      Option(opts.get("maxFilesPerTrigger")).map(_.toInt))
  }
  override def supportsExternalMetadata(): Boolean = false
}

object ChangeLogSource {
  val Schema: StructType = StructType(Seq(
    StructField("seq", StringType, nullable = false),
    StructField("line_no", LongType, nullable = false),
    StructField("value", StringType, nullable = true)))
  val Name = "graft.sources.v2.ChangeLogSource"

  /** Data files of the log directory, name-sorted ascending. Hidden and
    * in-flight files (`.`/`_` prefixes, `.tmp` suffix — the same
    * conventions Spark's own file sources skip) are not part of the log.
    */
  private[v2] def listLog(root: String,
                          conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator
      .filter(_.isFile)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_") || n.endsWith(".tmp"))
      .toSeq.sorted
  }
}

/** Offset = highest consumed file name ("" = nothing consumed yet).
  * File names are the log's sequence numbers, so ordering is plain
  * string comparison — the same contract the reference's checkpointer
  * relies on for Kinesis sequence numbers.
  */
private[v2] case class ChangeLogOffset(last: String) extends Offset {
  override def json(): String =
    s"""{"last":"${last.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
}

private[v2] object ChangeLogOffset {
  private val Pattern = """\{"last":"(.*)"\}""".r
  def fromJson(json: String): ChangeLogOffset = json match {
    case Pattern(escaped) =>
      ChangeLogOffset(escaped.replace("\\\"", "\"").replace("\\\\", "\\"))
    case other =>
      throw new IllegalArgumentException(s"malformed change-log offset: $other")
  }
}

private[v2] class ChangeLogTable(root: String, initialPosition: String,
                                 maxFilesPerTrigger: Option[Int])
    extends Table with SupportsRead {
  require(root != null, "path option required")
  require(Set("trim_horizon", "latest").contains(initialPosition),
    s"initialPosition must be trim_horizon or latest, got $initialPosition")
  maxFilesPerTrigger.foreach(n =>
    require(n > 0, s"maxFilesPerTrigger must be positive, got $n"))
  override def name(): String = s"change_log(`$root`)"
  override def schema(): StructType = ChangeLogSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new ChangeLogScan(root, initialPosition, maxFilesPerTrigger)
}

private[v2] class ChangeLogScan(root: String, initialPosition: String,
                                maxFilesPerTrigger: Option[Int]) extends Scan {
  override def readSchema(): StructType = ChangeLogSource.Schema
  override def description(): String =
    s"ChangeLogScan(root=$root, initialPosition=$initialPosition)"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangeLogMicroBatchStream(root, initialPosition, maxFilesPerTrigger,
      checkpointLocation)
}

private[v2] class ChangeLogMicroBatchStream(root: String, initialPosition: String,
                                            maxFilesPerTrigger: Option[Int],
                                            checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration
  private def list(): Seq[String] = ChangeLogSource.listLog(root, hadoopConf)

  /** Per-batch admitted-file manifests (a FileStreamSource-style metadata
    * log): `latestOffset` records exactly which files it admitted into
    * the batch ending at `hi`, and `planInputPartitions` plans from that
    * record instead of re-listing the directory. Without it, a file in
    * (lo, hi] that vanished between admission and a crash-replay
    * (retention cleanup racing recovery) would silently fall out of the
    * re-listing — data loss the WAL claims was delivered. With it, the
    * missing file is still planned and its reader fails loudly on open.
    * Durability order is safe: the manifest is written (atomic
    * tmp+rename) inside `latestOffset`, which Spark calls BEFORE it
    * commits the offset to the WAL, so any batch the WAL can replay has
    * its manifest on disk.
    */
  private def manifestDir = new Path(checkpointLocation, "graft-file-manifests")
  private def manifestPath(hi: String): Path =
    new Path(manifestDir, java.net.URLEncoder.encode(hi, "UTF-8"))

  private def writeManifest(hi: String, admitted: Seq[String]): Unit =
    graft.sources.StoreTables.writeSmall(hadoopConf, manifestPath(hi),
      admitted.mkString("", "\n", "\n"))

  private def readManifest(hi: String): Option[Seq[String]] = {
    val fs = manifestDir.getFileSystem(hadoopConf)
    val p = manifestPath(hi)
    if (!fs.exists(p)) None
    else {
      val in = new BufferedReader(new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
      try Some(Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).toList)
      finally in.close()
    }
  }

  /** TrimHorizon = start before every file; Latest = start after
    * whatever exists when the stream first asks (only called on a fresh
    * checkpoint — a restart resumes from the WAL's offset instead).
    */
  override def initialOffset(): Offset = initialPosition match {
    case "latest" => ChangeLogOffset(list().lastOption.getOrElse(""))
    case _ => ChangeLogOffset("")
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  /** Admit files strictly beyond `start`, bounded by the read limit.
    * One directory listing per trigger.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val last = start.asInstanceOf[ChangeLogOffset].last
    val pending = list().filter(_ > last)
    val admitted = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        pending.take(m.maxFiles())
      case _ => pending
    }
    if (admitted.nonEmpty) writeManifest(admitted.max, admitted)
    ChangeLogOffset(if (admitted.isEmpty) last else admitted.max)
  }

  /** Absolute newest sequence in the log (progress reporting: lets the
    * UI show backlog when admission control trails the producers).
    */
  override def reportLatestOffset(): Offset =
    ChangeLogOffset(list().lastOption.getOrElse(""))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[ChangeLogOffset].last
    val hi = end.asInstanceOf[ChangeLogOffset].last
    if (hi == lo) return Array.empty
    // Plan from the admitted-file manifest, never from a fresh listing:
    // a file in (lo, hi] that vanished since admission must still be
    // planned so its reader fails loudly on open instead of the batch
    // silently shrinking.
    //
    // Missing manifest: distinguish two cases. If the manifest DIR
    // exists, this batch was admitted by a manifest-writing source and
    // its file was corrupted/pruned — refuse to guess. If the dir does
    // not exist at all, the checkpoint predates manifests (a WAL'd but
    // uncommitted batch from an older build): fall back to a range
    // listing ONCE, loudly, so the upgrade doesn't brick the stream —
    // new batches always get manifests.
    val names = readManifest(hi).getOrElse {
      val fs = manifestDir.getFileSystem(hadoopConf)
      if (fs.exists(manifestDir))
        throw new IllegalStateException(
          s"change-log manifest for batch end offset '$hi' missing under " +
            s"$manifestDir — cannot replay the batch without its admitted file " +
            "list (checkpoint corrupted or manually pruned)")
      System.err.println(
        s"[changelog] WARNING: no manifest dir for replayed batch (lo='$lo', hi='$hi'): " +
        "checkpoint predates admitted-file manifests; planning from a range " +
        "listing this once — files deleted since admission cannot be detected " +
        "for THIS batch")
      list().filter(n => n > lo && n <= hi)
    }
    names.map(n => ChangeLogPartition(root, n): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeLogReaderFactory(new SerializableConfiguration(hadoopConf))

  override def deserializeOffset(json: String): Offset = ChangeLogOffset.fromJson(json)

  /** The WAL already made the offset durable; the log is the producers'
    * to retain/expire (the reference likewise leaves shard retention to
    * Kinesis). Committed batches can never replay, so their manifests
    * are pruned here — the manifest dir holds only in-flight batches.
    */
  override def commit(end: Offset): Unit = {
    val hi = end.asInstanceOf[ChangeLogOffset].last
    val fs = manifestDir.getFileSystem(hadoopConf)
    if (fs.exists(manifestDir)) fs.listStatus(manifestDir).foreach { st =>
      val name = st.getPath.getName
      // URL-encoding does not preserve lexicographic order — compare decoded
      if (st.isFile && !name.endsWith(".tmp") &&
          java.net.URLDecoder.decode(name, "UTF-8") <= hi)
        fs.delete(st.getPath, false)
    }
  }
  override def stop(): Unit = ()
}

private[v2] case class ChangeLogPartition(root: String, name: String) extends InputPartition

private[v2] class ChangeLogReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangeLogPartition]
    new PartitionReader[InternalRow] {
      private val path = new Path(p.root, p.name)
      private val in = {
        val raw = path.getFileSystem(conf.value).open(path)
        val stream = if (p.name.endsWith(".gz")) new GZIPInputStream(raw) else raw
        new BufferedReader(new InputStreamReader(stream, StandardCharsets.UTF_8))
      }
      private val seq = UTF8String.fromString(p.name)
      private var lineNo = -1L
      private var line: String = _
      override def next(): Boolean = {
        line = in.readLine()
        while (line != null && line.isEmpty) line = in.readLine()
        if (line != null) lineNo += 1
        line != null
      }
      override def get(): InternalRow =
        InternalRow(seq, lineNo, UTF8String.fromString(line))
      override def close(): Unit = in.close()
    }
  }
}
