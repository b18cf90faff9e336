package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.rewrite.{ParquetRewriter, RewriteOptions}
import scala.jdk.CollectionConverters._

/** Small-file compaction (the OPTIMIZE maintenance op): streaming
  * sinks and per-batch appends (CdcApply targets, SketchMaintenance
  * stores, savepointed batch copies) accrete files far below the scan
  * sweet spot; at 100 TB a million 1 MB files turns every scan into a
  * listing + open storm. Compaction bin-packs the SMALL files into
  * target-sized replacements and leaves the already-right-sized files
  * untouched — the rewrite cost is proportional to the small-file
  * bytes, never the table.
  *
  * Crash safety without a table format: a write-ahead marker per group
  * (`_compaction/<group>.json` lists originals + replacement) commits
  * the swap. Order of operations: write replacement to a staging path
  * → write marker → move replacement in → delete originals → delete
  * marker. A crash anywhere leaves either (a) no marker — staging
  * debris only, data intact; or (b) a marker — [[recover]] (run
  * automatically at the start of every [[compact]]) completes the
  * deletion iff the replacement is fully in place, else rolls the
  * group back. Data is never lost; the only transient anomaly is
  * duplicate rows between move-in and original-deletion, so run
  * without concurrent READERS (concurrent writers are out of contract,
  * as for any in-place maintenance op).
  *
  * Row-count verified: each group's replacement footer is counted
  * against the originals' footers before anything is deleted.
  *
  * Splice versus rewrite: each group's footers are read once on the
  * driver. A group whose files share one parquet schema and the same
  * key-value metadata (the embedded Spark schema and the calendar-rebase
  * keys among it; only the writer's version may differ, within the same
  * side of 3.0) is SPLICED: parquet-mr's `ParquetRewriter` appends the
  * originals' row groups in name order, copying column chunks byte for
  * byte with their statistics, page indexes and codec — no row is
  * decoded or encoded, and every spliced group is staged in ONE job,
  * one task per group. The trade-off: a spliced file keeps its
  * originals' row groups, so it still carries many small row groups (a
  * reader's unit of work and of min/max skipping); Spark still reads
  * it in as many tasks as it has splits, not row groups (see
  * `Tables.scanLayout`). Any other group — mixed schemas, foreign or
  * differing metadata — is REWRITTEN through a Spark read (one job per
  * group): one shared schema is pinned, differing ones are merged (a
  * type conflict aborts before the swap).
  */
object Compaction {

  /** Files by their listing status: groups to merge, files left alone. */
  final case class Plan(groups: Seq[Seq[FileStatus]], untouched: Seq[FileStatus])
  final case class Result(groupsCompacted: Int, filesRemoved: Int,
                          filesCreated: Int, rowsMoved: Long)

  /** Bin-pack files smaller than `smallBytes` into groups of at most
    * `targetBytes`, in NAME order (sorted layouts keep their
    * clustering: adjacent files merge with adjacent key ranges).
    * Single-file groups stay untouched — nothing to gain. Lengths come
    * from the listing itself, with no second stat per file.
    */
  def plan(spark: SparkSession, dir: String, targetBytes: Long,
           smallBytes: Long): Plan = {
    require(targetBytes > 0 && smallBytes > 0 && smallBytes <= targetBytes)
    val (small, big) = ParquetSource
      .listParquetStatuses(dir, spark.sparkContext.hadoopConfiguration)
      .partition(_.getLen < smallBytes)
    val groups = scala.collection.mutable.ListBuffer[Seq[FileStatus]]()
    var cur = scala.collection.mutable.ListBuffer[FileStatus]()
    var curBytes = 0L
    small.foreach { f =>
      if (cur.nonEmpty && curBytes + f.getLen > targetBytes) {
        groups += cur.toSeq; cur = scala.collection.mutable.ListBuffer[FileStatus]()
        curBytes = 0L
      }
      cur += f; curBytes += f.getLen
    }
    if (cur.nonEmpty) groups += cur.toSeq
    val (real, lone) = groups.toSeq.partition(_.size >= 2)
    Plan(real, big ++ lone.flatten)
  }

  /** Complete or roll back any interrupted group swaps (see object
    * doc). Returns the number of markers resolved.
    */
  def recover(spark: SparkSession, dir: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val markers = new Path(dir, "_compaction")
    val fs = markers.getFileSystem(conf)
    if (!fs.exists(markers)) return 0
    val resolved = fs.listStatus(markers).filter(_.isFile).map { st =>
      val body = new String(readAll(fs, st.getPath), "UTF-8")
      val lines = body.split("\n").filter(_.nonEmpty)
      // line 0: replacement path; rest: originals. A zero-byte or
      // partially-flushed marker (< 2 lines) means the move never
      // started (it strictly follows the marker close): originals are
      // authoritative — drop the debris instead of crashing recovery
      if (lines.length >= 2) {
        val replacement = new Path(lines.head)
        if (fs.exists(replacement))
          lines.tail.foreach(o => fs.delete(new Path(o), false))
        // replacement missing: the move never happened — originals are
        // the only copy, keep them (staging debris is harmless)
      }
      fs.delete(st.getPath, false)
      1
    }.sum
    if (fs.listStatus(markers).isEmpty) fs.delete(markers, true)
    resolved
  }

  private def readAll(fs: org.apache.hadoop.fs.FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private val SparkVersionKey = "org.apache.spark.version"

  /** A group splices when its files would decode identically from one
    * footer: the same parquet schema and the same key-value metadata —
    * the embedded Spark schema and the calendar-rebase keys
    * (`legacyDateTime`, `legacyINT96`) among it — except the writer's
    * Spark version, which decoding reads only as "before 3.0" or not.
    */
  private def spliceable(footers: Seq[ParquetSource.Footer]): Boolean = {
    def decoding(kv: Map[String, String]) =
      (kv - SparkVersionKey, kv.get(SparkVersionKey).map(_ < "3.0.0"))
    footers.map(_.messageType).distinct.size == 1 &&
      footers.map(f => decoding(f.keyValue)).distinct.size == 1
  }

  /** Stage every spliceable group in ONE job, one task per group: the
    * rewriter appends each original's row groups in the listed (name)
    * order, column chunks copied byte for byte with their statistics,
    * column/offset indexes and bloom filters — no row is decoded.
    */
  private def splice(spark: SparkSession, jobs: Seq[(Seq[String], String)]): Unit =
    if (jobs.nonEmpty) {
      val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
      spark.sparkContext.parallelize(jobs, jobs.size).foreach { case (inputs, stage) =>
        val out = new Path(stage)
        out.getFileSystem(conf.value).delete(out, true)
        val rewriter = new ParquetRewriter(new RewriteOptions.Builder(conf.value,
          inputs.map(new Path(_)).asJava, new Path(out, "part-00000-spliced.parquet")).build())
        try rewriter.processBlocks() finally rewriter.close()
      }
    }

  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              smallBytes: Long = 0L): Result = {
    val small = if (smallBytes > 0) smallBytes else targetBytes / 2
    recover(spark, dir)
    val groups = plan(spark, dir, targetBytes, small).groups
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    // the footers give the row counts, the schemas and the splice test
    // with no job
    val footers = groups.map(_.map(ParquetSource.footer(conf, _)))
    val staging = groups.indices.map(i => new Path(dir, s"_compact_staging_$i"))
    val spliced = groups.indices.filter(i => spliceable(footers(i)))
    splice(spark, spliced.map(i => (groups(i).map(_.getPath.toString), staging(i).toString)))
    var removed = 0
    var rows = 0L
    groups.zipWithIndex.foreach { case (statuses, i) =>
      val group = statuses.map(_.getPath.toString)
      val expected = footers(i).map(_.rows).sum
      if (!spliced.contains(i)) {
        val reader = footers(i).map(_.schema).distinct match {
          case Seq(Some(s)) => spark.read.schema(s)
          // differing (or foreign) schemas: merge them — a schema-less
          // read would take the FIRST file's schema and silently drop the
          // columns only later files carry; a type conflict fails here,
          // before anything is swapped
          case _ => spark.read.option("mergeSchema", "true")
        }
        // one replacement file per group, staged then sworn in
        reader.parquet(group: _*).coalesce(1)
          .write.mode("overwrite").parquet(staging(i).toString)
      }
      val part = fs.listStatus(staging(i))
        .find(_.getPath.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no parquet written under ${staging(i)}"))
      val got = ParquetSource.footer(conf, part).rows
      require(got == expected,
        s"compaction group $i row mismatch: $got != $expected — aborting, originals kept")
      val target = new Path(dir, s"part-compacted-$i-${java.util.UUID.randomUUID()}.parquet")
      // marker commits the swap
      val markers = new Path(dir, "_compaction")
      require(fs.mkdirs(markers) || fs.exists(markers),
        s"could not create marker dir $markers — aborting before the swap")
      val marker = new Path(markers, s"group_$i.json")
      val body = (target.toString +: group).mkString("\n")
      val out = fs.create(marker, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      // rename is the commit point: Hadoop FileSystems report failure by
      // returning false, and deleting the originals after a failed move
      // would destroy the only copy — abort with originals intact (the
      // next recover() drops the marker since the target never appeared)
      require(fs.rename(part.getPath, target),
        s"rename ${part.getPath} -> $target failed — aborting swap, originals kept")
      group.foreach(o => fs.delete(new Path(o), false))
      fs.delete(marker, false)
      fs.delete(staging(i), true)
      removed += group.size
      rows += expected
    }
    val markers = new Path(dir, "_compaction")
    if (fs.exists(markers) && fs.listStatus(markers).isEmpty)
      fs.delete(markers, true)
    // the swap replaced files wholesale: evict this session's listing
    // cache (never expires by default) so subsequent reads of `dir`
    // can't serve the pre-compaction file list — see SwapStore
    if (groups.nonEmpty) spark.catalog.refreshByPath(dir)
    Result(groups.size, removed, groups.size, rows)
  }
}
