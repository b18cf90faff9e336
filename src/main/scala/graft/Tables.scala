package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * Every operator in this library takes its inputs as DataFrames loaded
  * here, so Catalyst sees a declarative parquet scan and can push filters
  * / prune columns into the file source (check `PushedFilters` /
  * `ReadSchema` in `.explain("formatted")`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // the fixture schema comes from KeyedReads.schemaFor (cached per
    // file signature): a schema-less read would run a footer-inference
    // job per call, and a bench sweep loads each table hundreds of times
    val path = s"$sfDir/$name.parquet"
    val schema = graft.sources.KeyedReads.schemaFor(spark, path)
    val df = spark.read.schema(schema).parquet(path)
    // Spark has no nanosecond TimestampType: the session reads
    // TIMESTAMP(NANOS) parquet columns as Long (nanosAsLong, set in
    // [[session]]); truncate to microseconds with integer `div`, not
    // floating division — epoch nanos exceed double's 2^53 exact range
    df.schema.fields.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) => df.withColumn("ts",
        // NTZ to match how Spark infers the other parquet timestamp
        // columns (naive), keeping written output engine-neutral
        org.apache.spark.sql.functions.expr(
          "cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case None => df
    }
  }

  /** Splittable scan units a table's files offer — the ceiling on
    * scan-side parallelism: Spark assigns a parquet row group to exactly
    * one task, so a table with fewer row groups than the session has
    * cores can never parallelize scan-side compute no matter how
    * `maxPartitionBytes` splits the byte ranges. A file counts its row
    * groups, capped at the splits Spark cuts it into
    * (`FilePartition.maxSplitBytes`): a compacted file that kept many
    * small row groups is still read by as many tasks as it has splits,
    * not row groups. Driver-side footer reads, cached per (path, file
    * signature). Bounded like [[graft.sources.KeyedReads]]' caches:
    * cleared wholesale past 256 entries, since a long-lived session
    * keeps meeting new paths (store epochs, per-run scratch tables).
    */
  private val unitsCache = scala.collection.concurrent.TrieMap[String, (String, Int)]()

  private[graft] def unitsCached: Int = unitsCache.size

  def scanUnits(spark: SparkSession, path: String): Int =
    scanLayout(spark, path)._1

  /** (splittable units, total bytes) of a parquet file/dir — the pair
    * the fan-out decisions read (units bound parallelism; bytes gate
    * out query-batch-sized inputs where an exchange buys nothing).
    */
  def scanLayout(spark: SparkSession, path: String): (Int, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files = (if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
                 else Seq(fs.getFileStatus(p)))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    // the split size follows the session's width and file-size confs,
    // so it is part of the cache signature
    val split = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(org.apache.spark.sql.catalyst.InternalRow.empty, files.toArray)))
    val sig = files.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|") + s"@$split"
    val bytes = files.map(_.getLen).sum
    unitsCache.get(path) match {
      case Some((s, n)) if s == sig => (n, bytes)
      case _ =>
        val n = files.map { st =>
          val groups = graft.sources.ParquetSource.footerMeta(conf, st).getBlocks.size
          math.min(groups.toLong, math.max(1L, (st.getLen + split - 1) / split)).toInt
        }.sum
        if (unitsCache.size > 256) unitsCache.clear()
        unitsCache(path) = (sig, n)
        (n, bytes)
    }
  }

  /** [[load]] with compute fan-out for scan-bound operators (guide §2:
    * derive partitioning from the INPUT, never a constant): when the
    * file layout offers fewer splittable units than the session's
    * cores, hash-repartition to full width so per-row compute above the
    * scan (tokenize + hash signatures, distance arithmetic) runs at
    * core width instead of row-group width. At warehouse scale inputs
    * carry thousands of row groups and this is a no-op — the shuffle
    * only ever pays off (and only ever happens) when the layout would
    * otherwise idle the machine. Hash keys keep the exchange
    * deterministic (no round-robin local sort) and AQE never coalesces
    * an explicit-width repartition back down.
    */
  def loadFanOut(spark: SparkSession, sfDir: String, name: String,
                 by: Seq[String]): DataFrame = {
    val df = load(spark, sfDir, name)
    val p = spark.sparkContext.defaultParallelism
    if (scanUnits(spark, s"$sfDir/$name.parquet") >= p) df
    else df.repartition(p, by.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Convenience: standard local session shaped for this container
    * (local[32], 128 GiB, 32 shuffle partitions — see the builder notes).
    * On a real cluster only the master/shuffle settings change.
    */
  def session(appName: String, cores: Int = 32): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // keyed point reads push sorted 512-key IN chunks into parquet;
      // exact OR-of-eq row-group pruning (vs the min/max collapse past
      // the default threshold of 10) is what keeps probe bytes batch-
      // proportional — see KeyedReads. Set here, once, for the whole
      // session: a LAZY pruned frame plans after the read call returns,
      // so no per-read scope could cover it.
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        graft.sources.KeyedReads.PruneChunk.toString)
      // pruned point reads pass explicit leaf-file lists; stat-ing a
      // batch-bounded list serially on the driver beats launching a
      // listing JOB per read (Spark's default threshold is 32 paths).
      // Session-wide for the same reason as the IN threshold.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        graft.sources.KeyedReads.ListSerialThreshold.toString)
      // first take/limit attempt covers one full wave of the session's
      // cores instead of Spark's 1-partition default: a bounded
      // key-collect (`distinct.limit(cap).collect`) otherwise pays an
      // executeTake ramp of up to 4 Spark JOBS (1 → 4 → 16 → all
      // partitions) per collect — pure scheduling cost, since the
      // distinct's exchange already materialized the full input. Scales
      // with the session width, not a local constant.
      .config("spark.sql.limit.initialNumPartitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4 refuses TIMESTAMP(NANOS) parquet (the events fixture's
      // ts); read it as Long and let [[load]] rebuild the column
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
