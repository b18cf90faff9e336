package e2ebench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.config.PipelineConfig
import graft.sources.{DdbJson, DdbTables, DdbValue, ParquetSource}
import graft.validation.{Diff, HashRefinement}

/** One iteration of a workload on its own hard-linked copy of the inputs. */
abstract class Iteration {
  /** The timed part: calls into the program only. */
  def run(spans: Spans): Unit
  /** Damage the iteration's output, so the self-test can show the check
    * counts it as an error.
    */
  def corrupt(): Unit
  /** Untimed output check; one message per failed assertion, each
    * prefixed with the name of the workload part that made it
    * (`"<part>: <message>"`).
    */
  def check(): Seq[String]
  /** Per-layer values read from the iteration's files and outcome
    * (untimed, traced iterations only), by full metric name.
    */
  def census(spans: Map[String, Double], work: IterWork): Map[String, Double]
}

trait Workload {
  def name: String
  /** Names of the parts whose checks tag their messages (see
    * [[Iteration.check]]); a workload of one part is its own part.
    */
  def parts: Seq[String] = Seq(name)
  /** Source rows one iteration processes: the numerator of rows_per_cpu_s. */
  def sourceRows: Long
  /** Write the inputs under `inputs` and keep the truths the checks need. */
  def generate(spark: SparkSession, inputs: Path, seed: Long): Unit
  /** The config the set-up parses; its source is the one it discovers. */
  def setupConfig(dir: Path): String
  def iteration(spark: SparkSession, dir: Path): Iteration
}

object Workloads {
  val all: Seq[Workload] = Seq(CopyResume,
    new Sequence("validate_export", ValidateDiff, ExportRoundtrip))
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def parse(text: String): PipelineConfig =
    PipelineConfig.parse(text).fold(e => throw new IllegalArgumentException(e), identity)

  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
}

/** Several workloads run one after the other in each iteration, on one
  * inputs directory (their file names do not overlap). The set-up
  * discovers the first one's source.
  */
final class Sequence(val name: String, members: Workload*) extends Workload {
  override val parts: Seq[String] = members.map(_.name)
  val sourceRows: Long = members.map(_.sourceRows).sum

  def generate(spark: SparkSession, inputs: Path, seed: Long): Unit =
    members.foreach(_.generate(spark, inputs, seed))

  def setupConfig(dir: Path): String = members.head.setupConfig(dir)

  def iteration(spark: SparkSession, dir: Path): Iteration = new Iteration {
    private val its = members.map(_.iteration(spark, dir))
    def run(spans: Spans): Unit = its.foreach(_.run(spans))
    def corrupt(): Unit = its.foreach(_.corrupt())
    /** Each part is checked on its own: a check that throws is that
      * part's error and does not hide the other parts' findings.
      */
    def check(): Seq[String] = parts.zip(its).flatMap { case (part, it) =>
      Try(it.check()).fold(e => Seq(s"$part: check threw $e"), identity)
    }
    def census(spans: Map[String, Double], work: IterWork): Map[String, Double] =
      its.map(_.census(spans, work)).foldLeft(Map.empty[String, Double]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
      }
  }
}

/** The Migrator with its restart contract: a parquet-to-parquet copy with
  * renames, a `where`, a column list, savepoints, compaction and a stats
  * index, over many small files. Each iteration kills the run after
  * batch 2 of 3 and resumes it.
  */
object CopyResume extends Workload {
  val name = "copy_resume"
  private val SourceFiles = 192
  private val RowsPerFile = 400
  /** `Pipeline.run`'s default file batch, which the benchmark keeps. */
  private val BatchFiles = 64
  private val KillAfterBatch = 2
  val sourceRows: Long = SourceFiles.toLong * RowsPerFile
  private val Where = "col2 % 10 <> 7"
  private val Kept = Seq("id", "col1", "col2", "col3", "dec")
  private val Renamed = Map("col1" -> "name", "col3" -> "amount")

  private var expectedRows = 0L
  private var sums = Map.empty[String, BigDecimal]
  private var spots = Map.empty[String, String]

  def setupConfig(dir: Path): String =
    s"""source.type: parquet
       |source.path: ${dir.resolve("src")}
       |source.where: $Where
       |source.columns: ${Kept.mkString(", ")}
       |renames: ${Renamed.map { case (a, b) => s"$a->$b" }.mkString(", ")}
       |target.type: parquet
       |target.path: ${dir.resolve("out")}
       |target.mode: append
       |target.compactTargetBytes: 16777216
       |target.statsIndex: col2
       |savepoints.dir: ${dir.resolve("sp")}
       |""".stripMargin

  private val TargetSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id string, name string, col2 int, amount bigint, dec decimal(18,4)")

  def generate(spark: SparkSession, inputs: Path, seed: Long): Unit = {
    // four writer tasks that each roll a file every RowsPerFile rows:
    // the small files cost a few tasks to write, not one task each
    val gen = Inputs.rows(spark, seed, sourceRows, 4)
    gen.write.option("maxRecordsPerFile", RowsPerFile.toLong).parquet(inputs.resolve("src").toString)
    // truths come from the generator itself, not from reading files back;
    // the spot rows are the reference's, at {0, N/4, N/2, N-1} of the
    // rows the `where` keeps (col2 is the row number)
    val keptRows = (0 until sourceRows.toInt).filter(_ % 10 != 7)
    val n = keptRows.size
    val at = Seq(0, n / 4, n / 2, n - 1).map(keptRows(_))
    val kept = gen.filter(expr(Where)).select(Kept.map(col): _*)
    val spot = when(col("col2").isin(at: _*),
      concat_ws("|", Kept.map(c => col(c).cast("string")): _*))
    val r = kept.agg(count(lit(1)), collect_list(spot) +: Kept.map(Inputs.checksum): _*).head()
    expectedRows = r.getLong(0)
    require(expectedRows == n, s"where kept $expectedRows rows, want $n")
    spots = r.getSeq[String](1).map(line => line.takeWhile(_ != '|') -> line).toMap
    sums = Kept.zipWithIndex.map { case (c, i) =>
      Renamed.getOrElse(c, c) -> BigDecimal(r.getDecimal(i + 2)) }.toMap
  }

  private final class Killed extends RuntimeException(s"killed after batch $KillAfterBatch")

  def iteration(spark: SparkSession, dir: Path): Iteration = new Iteration {
    private val cfg = Workloads.parse(setupConfig(dir))
    private val out = dir.resolve("out")
    private val sp = dir.resolve("sp")
    private var result: Pipeline.Result = _
    private var loaded = -1

    def run(spans: Spans): Unit = {
      val sc = spark.sparkContext
      spans(sc, "pipeline.run") {
        try {
          Pipeline.run(spark, cfg,
            afterBatch = b => if (b == KillAfterBatch) throw new Killed)
          throw new IllegalStateException("the run finished although it was killed")
        } catch { case _: Killed => () }
      }
      val t0 = System.nanoTime()
      result = spans(sc, "pipeline.resume") {
        Pipeline.resume(spark, cfg, onSkipSetLoaded = n => {
          loaded = n
          spans.add("savepoints.load", System.nanoTime() - t0)
        })
      }
    }

    def corrupt(): Unit =
      Inputs.filesIn(out, Inputs.isDataFile).headOption.foreach(Files.delete)

    def check(): Seq[String] = {
      val errs = ArrayBuffer[String]()
      // one job: count, distinct keys, checksums and the spot rows
      val t = spark.read.schema(TargetSchema).parquet(out.toString)
      val cols = sums.keys.toSeq.sorted
      val spot = when(col("id").isin(spots.keys.toSeq: _*),
        concat_ws("|", TargetSchema.fieldNames.map(c => col(c).cast("string")).toIndexedSeq: _*))
      val r = t.agg(count(lit(1)), countDistinct(col("id")) +: collect_list(spot) +:
        cols.map(Inputs.checksum): _*).head()
      if (r.getLong(0) != expectedRows) errs += s"target has ${r.getLong(0)} rows, want $expectedRows"
      if (r.getLong(1) != r.getLong(0)) errs += s"${r.getLong(0) - r.getLong(1)} duplicate keys after resume"
      cols.zipWithIndex.foreach { case (c, i) =>
        if (r.isNullAt(i + 3) || BigDecimal(r.getDecimal(i + 3)) != sums(c))
          errs += s"checksum of $c differs"
      }
      val got = r.getSeq[String](2).map(line => line.takeWhile(_ != '|') -> line).toMap
      if (got != spots) errs += s"spot rows differ: $got"
      val listed = ParquetSource.listParquetFiles(dir.resolve("src").toString,
        spark.sparkContext.hadoopConfiguration)
      val killed = listed.take(KillAfterBatch * BatchFiles)
      if (loaded != killed.size)
        errs += s"resume loaded a skip-set of $loaded files, the killed run completed ${killed.size}"
      if (result.filesCompleted != listed.drop(killed.size).toSet)
        errs += "resume did not copy exactly the files after the killed batches"
      val indexed = ParquetSource.localRows(spark.sparkContext.hadoopConfiguration,
        out.resolve("_stats").toString, Seq("n_rows")) match {
        case ParquetSource.LocalRead.Rows(rows) => rows.map(_.getLong(0)).sum
        case _ => -1L
      }
      if (indexed != expectedRows) errs += s"stats index covers $indexed rows, want $expectedRows"
      errs.toSeq.map(e => s"$name: $e")
    }

    def census(spans: Map[String, Double], work: IterWork): Map[String, Double] = {
      val dumps = Inputs.filesIn(sp, n => n.startsWith("savepoint_") && n.endsWith(".txt"))
      val write = work.layers.get("pipeline.write")
      val compaction = work.layers.get("sources.compaction")
      Map(
        "savepoints.dumps" -> dumps.size.toDouble,
        "savepoints.bytes" -> dumps.map(Files.size(_)).sum.toDouble,
        "savepoints.load_s" -> spans.getOrElse("savepoints.load", 0.0),
        "pipeline.read.files_listed" ->
          Inputs.filesIn(dir.resolve("src"), Inputs.isDataFile).size.toDouble,
        "pipeline.write.files_out" -> Inputs.filesIn(out, Inputs.isDataFile).size.toDouble,
        // rows written by the killed run and the resume, per row kept:
        // 1.0 means the resume recopied nothing
        "pipeline.write.rows_recopied_ratio" ->
          Workloads.ratio(write.map(_.outRecords).getOrElse(0L).toDouble, expectedRows.toDouble),
        "sources.compaction.rewrite_ratio" -> Workloads.ratio(
          compaction.map(_.outBytes).getOrElse(0L).toDouble,
          write.map(_.outBytes).getOrElse(0L).toDouble))
    }
  }
}

/** The Validator: `Validate.main`'s sequence over a few large files with
  * seeded missing, extra, field, type-family, TTL and writetime defects,
  * plus the sampled tier.
  */
object ValidateDiff extends Workload {
  val name = "validate_diff"
  private val SourceFiles = 3
  val sourceRows: Long = 40000L
  private val Compare = Seq("col1", "col2", "col3", "dec", "col1_ttl", "col1_writetime")
  private val (nMissing, nExtra, nField, nType, nTtl, nWritetime) = (37, 23, 41, 19, 29, 31)
  private val SampleNum = 1
  private val SampleDenom = 8
  private val ValueCategories = Seq("differing_field_values", "differing_ttls",
    "differing_writetimes", "numeric_type_mismatch")

  private var breakdownTruth = Map.empty[String, Long]
  private var attributedTruth = Set.empty[(String, String)]
  private var sampledTruth = Map.empty[String, Long]

  def setupConfig(dir: Path): String =
    s"""source.type: parquet
       |source.path: ${dir.resolve("src")}
       |target.type: parquet
       |target.path: ${dir.resolve("tgt")}
       |validation.primaryKey: id
       |validation.compareColumns: ${Compare.mkString(", ")}
       |validation.failuresToFetch: 1000
       |""".stripMargin

  def generate(spark: SparkSession, inputs: Path, seed: Long): Unit = {
    val src = Inputs.rows(spark, seed, sourceRows, SourceFiles)
    src.write.parquet(inputs.resolve("src").toString)
    val picked = Inputs.pick(seed, sourceRows.toInt,
      nMissing + nField + nType + nTtl + nWritetime)
    val Seq(missing, field, typ, ttl, wt) =
      Seq(nMissing, nField, nType, nTtl, nWritetime).scanLeft(0)(_ + _)
        .sliding(2).map { case Seq(a, b) => picked.slice(a, b) }.toSeq
    def in(ix: Seq[Int]) = col("col2").isin(ix: _*)
    // the target stores col3 as a string: a different type family, so
    // the validator compares it through a cast and files it separately
    val changed = src.filter(!in(missing))
      .withColumn("col1", when(in(field), concat(col("col1"), lit("-changed")))
        .otherwise(col("col1")))
      .withColumn("col3", when(in(typ), col("col3") + lit(1L)).otherwise(col("col3"))
        .cast("string"))
      .withColumn("col1_ttl", when(in(ttl), col("col1_ttl") + lit(1)).otherwise(col("col1_ttl")))
      .withColumn("col1_writetime", when(in(wt), col("col1_writetime") + lit(1L))
        .otherwise(col("col1_writetime")))
    val extras = Inputs.rows(spark, ~seed, nExtra, 1)
      .withColumn("id", concat(lit("extra-"), col("id")))
      .withColumn("col2", col("col2") + lit(sourceRows.toInt))
      .withColumn("col3", col("col3").cast("string"))
    changed.unionByName(extras).coalesce(SourceFiles)
      .write.parquet(inputs.resolve("tgt").toString)

    def ids(ix: Seq[Int]) = ix.map(i => s"id-$i").toSet
    val valueDefects = ids(field ++ typ ++ ttl ++ wt)
    breakdownTruth = Map(
      "missing_target" -> nMissing.toLong, "extra_target" -> nExtra.toLong,
      "differing_field_values" -> nField.toLong, "numeric_type_mismatch" -> nType.toLong,
      "differing_ttls" -> nTtl.toLong, "differing_writetimes" -> nWritetime.toLong,
      "match" -> (sourceRows - nMissing - valueDefects.size))
    attributedTruth = ids(field).map(_ -> "col1") ++ ids(typ).map(_ -> "col3") ++
      ids(ttl).map(_ -> "col1_ttl") ++ ids(wt).map(_ -> "col1_writetime")
    // which keys the sampled tier keeps is the program's own hash of the
    // key; the truth is the full-diff truth restricted to those keys
    val inSample = graft.operators.Sampling.bucketOf(col("id"), SampleDenom) < SampleNum
    val sampledSrc = src.filter(inSample).select("id").collect().map(_.getString(0)).toSet
    val sampledExtra = extras.filter(inSample).count()
    val sampledMissing = ids(missing).count(sampledSrc)
    val sampledMismatch = valueDefects.count(sampledSrc)
    sampledTruth = Map(
      "missing_target" -> sampledMissing.toLong, "extra_target" -> sampledExtra,
      "mismatch" -> sampledMismatch.toLong,
      "match" -> (sampledSrc.size - sampledMissing - sampledMismatch).toLong)
      .filter(_._2 > 0)
  }

  def iteration(spark: SparkSession, dir: Path): Iteration = new Iteration {
    private val cfg = Workloads.parse(setupConfig(dir))
    private val v = cfg.validation.get
    private var breakdown = Map.empty[String, Long]
    private var failures = Seq.empty[Row]
    private var sampled = Map.empty[String, Long]

    def run(spans: Spans): Unit = {
      val sc = spark.sparkContext
      val src = spans(sc, "pipeline.read") {
        Pipeline.transform(Pipeline.read(spark, cfg), cfg)
      }
      val tgt = spans(sc, "validation.diff") {
        val tgt = spark.read.parquet(dir.resolve("tgt").toString)
        breakdown = Diff.categoryBreakdown(
          Diff.categorizedDiff(src, tgt, v.primaryKey, v.compareColumns))
        tgt
      }
      failures = spans(sc, "validation.refine") {
        if (ValueCategories.map(breakdown.getOrElse(_, 0L)).sum == 0) Seq.empty
        else Diff.sampleFailures(
          HashRefinement.refine(src, tgt, v.primaryKey, v.compareColumns), v.failuresToFetch)
      }
      sampled = spans(sc, "validation.sampled") {
        Diff.sampledDiff(src, tgt, v.primaryKey, v.compareColumns, SampleNum, SampleDenom)
          .groupBy("diff_kind").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    }

    def corrupt(): Unit = {
      breakdown = breakdown.updated("missing_target", breakdown.getOrElse("missing_target", 0L) + 1)
      failures = failures.drop(1)
    }

    def check(): Seq[String] = {
      val errs = ArrayBuffer[String]()
      if (breakdown != breakdownTruth) errs += s"breakdown $breakdown, want $breakdownTruth"
      val attributed = failures.map(r => r.getString(0) -> r.getString(1))
      if (attributed.size != attributedTruth.size || attributed.toSet != attributedTruth)
        errs += s"${attributed.size} attributed rows differ from the ${attributedTruth.size} injected"
      if (sampled != sampledTruth) errs += s"sampled tier $sampled, want $sampledTruth"
      errs.toSeq.map(e => s"$name: $e")
    }

    def census(spans: Map[String, Double], work: IterWork): Map[String, Double] = Map(
      "pipeline.read.files_listed" ->
        Inputs.filesIn(dir.resolve("src"), Inputs.isDataFile).size.toDouble,
      // rows the sampled tier's scans read per key pair it compared
      "validation.sampled.rows_read_per_compared" -> Workloads.ratio(
        work.layers.get("validation.sampled").map(_.inRecords).getOrElse(0L).toDouble,
        sampled.values.sum.toDouble))
  }
}

/** Pipelines 6 and 7 plus the Alternator validator: parquet item lines
  * exported to the DynamoDB S3-export layout, read back through the
  * `dynamo-s3-export` source and compared item by item with a seeded
  * mutated copy.
  */
object ExportRoundtrip extends Workload {
  val name = "export_roundtrip"
  private val SourceFiles = 4
  val sourceRows: Long = 8000L
  private val (nMismatch, nMissing, nExtra) = (37, 23, 11)
  private val Key = Seq("pk", "sk")

  private var missingKeys = Set.empty[(String, String)]
  private var mismatchKeys = Set.empty[(String, String)]
  private var extraKeys = Set.empty[(String, String)]

  def setupConfig(dir: Path): String =
    s"""source.type: parquet
       |source.path: ${dir.resolve("items")}
       |target.type: dynamo-s3-export
       |target.path: ${dir.resolve("export")}
       |""".stripMargin

  private def readConfig(source: String, path: Path, dir: Path): String =
    s"""source.type: $source
       |source.path: $path
       |target.type: parquet
       |target.path: ${dir.resolve("unused")}
       |""".stripMargin

  /** One item with every DynamoDB attribute type. Rendered by the
    * benchmark, not the program's codec, so a codec defect shows up as
    * an unexpected mismatch.
    */
  private final case class Item(pk: String, sk: Int, name: String, cents: Long,
                                active: Boolean, tags: Seq[String], nums: Seq[Int],
                                blobs: Seq[String], payload: String, metaA: Int) {
    def key: (String, String) = (pk, sk.toString)
    def json: String = {
      def q(s: String) = "\"" + s + "\""
      def arr(xs: Seq[String]) = xs.map(q).mkString("[", ",", "]")
      val score = f"${cents / 100}.${cents % 100}%02d"
      s"""{"Item":{"pk":{"S":${q(pk)}},"sk":{"N":${q(sk.toString)}},""" +
        s""""name":{"S":${q(name)}},"score":{"N":${q(score)}},"active":{"BOOL":$active},""" +
        s""""tags":{"SS":${arr(tags)}},"nums":{"NS":${arr(nums.map(_.toString))}},""" +
        s""""blobs":{"BS":${arr(blobs)}},"payload":{"B":${q(payload)}},""" +
        s""""list":{"L":[{"S":${q(name.take(4))}},{"N":"$sk"},{"BOOL":${!active}},{"NULL":true}]},""" +
        s""""meta":{"M":{"a":{"N":"$metaA"},"b":{"S":${q(pk)}}}},"nothing":{"NULL":true}}}"""
    }
  }

  private def item(rnd: scala.util.Random, pk: String, sk: Int): Item = {
    val b64 = java.util.Base64.getEncoder
    def bytes(n: Int) = { val a = new Array[Byte](n); rnd.nextBytes(a); b64.encodeToString(a) }
    Item(pk, sk, rnd.alphanumeric.take(12).mkString, rnd.nextInt(10000000).toLong,
      rnd.nextBoolean(), Seq.fill(3)(rnd.alphanumeric.take(6).mkString).distinct,
      Seq.fill(3)(rnd.nextInt(100000)).distinct, Seq.fill(2)(bytes(8)).distinct,
      bytes(24), rnd.nextInt(1000))
  }

  /** Four kinds of value change: a number, a string, a set, a nested map. */
  private def mutate(it: Item, kind: Int): Item = kind % 4 match {
    case 0 => it.copy(cents = it.cents + 1)
    case 1 => it.copy(name = it.name + "x")
    case 2 => it.copy(tags = it.tags :+ "added")
    case _ => it.copy(metaA = it.metaA + 1)
  }

  def generate(spark: SparkSession, inputs: Path, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val items = (0 until sourceRows.toInt).map(i => item(rnd, f"p-${i / 8}%05d", i % 8))
    val picked = Inputs.pick(seed + 1, items.size, nMismatch + nMissing)
    val mismatch = picked.take(nMismatch).zipWithIndex.toMap
    val missing = picked.drop(nMismatch).toSet
    val extras = (0 until nExtra).map(j => item(rnd, f"x-$j%05d", 0))
    val mutated = items.indices.filterNot(missing).map(i =>
      mismatch.get(i).fold(items(i))(k => mutate(items(i), k))) ++ extras
    val s = spark
    import s.implicits._
    def write(lines: Seq[String], to: String): Unit =
      spark.sparkContext.parallelize(lines, SourceFiles).toDF("item_json").write.parquet(to)
    write(items.map(_.json), inputs.resolve("items").toString)
    write(mutated.map(_.json), inputs.resolve("mutated").toString)
    missingKeys = missing.map(items(_).key)
    mismatchKeys = mismatch.keySet.map(items(_).key)
    extraKeys = extras.map(_.key).toSet
  }

  def iteration(spark: SparkSession, dir: Path): Iteration = new Iteration {
    private val exportCfg = Workloads.parse(setupConfig(dir))
    private val exported = dir.resolve("export")
    private val importCfg = Workloads.parse(readConfig("dynamo-s3-export", exported, dir))
    private val mutatedCfg = Workloads.parse(readConfig("parquet", dir.resolve("mutated"), dir))
    private var copied = -1L
    private var readBack = -1L
    private var diffs = Seq.empty[((String, String), String)]

    def run(spans: Spans): Unit = {
      val sc = spark.sparkContext
      copied = spans(sc, "pipeline.run") { Pipeline.run(spark, exportCfg).rowsCopied }
      val back = spans(sc, "sources.ddb_export.read") {
        val df = Pipeline.read(spark, importCfg)
        readBack = df.count()
        df
      }
      diffs = spans(sc, "validation.items") {
        DdbTables.validateItems(back, Pipeline.read(spark, mutatedCfg), Key).collect().toSeq
          .map(r => keyOf(r.getString(0)) -> r.getString(1))
      }
    }

    private def keyOf(keyJson: String): (String, String) = {
      val item = DdbJson.decodeItemLine(keyJson)
      def text(a: String) = item.get(a) match {
        case Some(DdbValue.S(x)) => x
        case Some(DdbValue.N(x)) => x
        case other => String.valueOf(other)
      }
      (text("pk"), text("sk"))
    }

    def corrupt(): Unit = {
      val data = exported.resolve("data")
      Inputs.filesIn(data, _.endsWith(".json.gz")).headOption.foreach(Files.delete)
    }

    def check(): Seq[String] = {
      val errs = ArrayBuffer[String]()
      if (copied != sourceRows) errs += s"export wrote $copied items, want $sourceRows"
      if (readBack != sourceRows) errs += s"read back $readBack items, want $sourceRows"
      def keys(kind: String) = diffs.filter(_._2 == kind).map(_._1)
      Seq("missing_target" -> missingKeys, "mismatch" -> mismatchKeys,
          "extra_target" -> extraKeys).foreach { case (kind, want) =>
        val got = keys(kind)
        if (got.size != want.size || got.toSet != want)
          errs += s"$kind: ${got.size} items differ from the ${want.size} injected"
      }
      if (diffs.size != missingKeys.size + mismatchKeys.size + extraKeys.size)
        errs += s"${diffs.size} differences, want exactly the injected ones"
      val conf = spark.sparkContext.hadoopConfiguration
      val manifest = DdbTables.listDataFiles(exported.toString, conf).map(_._2).sum
      if (manifest != sourceRows) errs += s"manifest counts $manifest items"
      val onDisk = DdbTables.readS3Export(spark, exported.toString).count()
      if (onDisk != sourceRows) errs += s"export files hold $onDisk items"
      errs.toSeq.map(e => s"$name: $e")
    }

    def census(spans: Map[String, Double], work: IterWork): Map[String, Double] = Map(
      "pipeline.read.files_listed" ->
        Inputs.filesIn(dir.resolve("items"), Inputs.isDataFile).size.toDouble)
  }
}
