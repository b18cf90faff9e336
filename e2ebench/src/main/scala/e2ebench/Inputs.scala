package e2ebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation and the truths the output checks compare
  * against. Everything here runs outside the timed region; the program
  * only ever sees the files written under the inputs directory.
  */
object Inputs {

  /** The reference benchmark's row shape `(id, col1, col2, col3)`
    * (`id-$i`, `value-$i`, `i`, a long) plus a decimal and the
    * `_ttl`/`_writetime` sidecars of the validator's taxonomy. Values are
    * hashes of (seed, row, column), so a seed fixes every byte. `col3`
    * stays below 2^53 so it survives the validator's cast to double.
    */
  def rows(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    def h(salt: Int): Column = xxhash64(lit(seed), col("id"), lit(salt))
    spark.range(0, n, 1, partitions).select(
      concat(lit("id-"), col("id")).as("id"),
      concat(lit("value-"), col("id"), lit("-"), hex(h(1))).as("col1"),
      col("id").cast("int").as("col2"),
      pmod(h(2), lit(1000000000000L)).as("col3"),
      (pmod(h(3), lit(1000000000L)).cast("decimal(18,0)") / lit(10000))
        .cast("decimal(18,4)").as("dec"),
      (lit(3600L) + pmod(h(4), lit(86400L))).cast("int").as("col1_ttl"),
      (lit(1700000000000000L) + pmod(h(5), lit(1000000000000L))).as("col1_writetime"))
  }

  /** Order-independent checksum of one column: exact decimal sum of the
    * 64-bit hashes (a long sum would overflow under ANSI mode).
    */
  def checksum(c: String): Column = sum(xxhash64(col(c)).cast("decimal(38,0)"))

  /** Mirror `from` into `to` with hard links: a fresh path per iteration,
    * so path-keyed program caches miss as they do in a fresh process,
    * without copying a byte.
    */
  def link(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.createLink(dst, p)
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally walk.close()
    }

  /** Regular files directly under `dir` whose names pass `keep`. */
  def filesIn(dir: Path, keep: String => Boolean): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(p => Files.isRegularFile(p) && keep(p.getFileName.toString)).sortBy(_.toString)
      finally s.close()
    }

  def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** Distinct indices drawn from [0, n) with a seeded generator. */
  def pick(seed: Long, n: Int, count: Int): IndexedSeq[Int] = {
    val rnd = new scala.util.Random(seed)
    val out = scala.collection.mutable.LinkedHashSet[Int]()
    while (out.size < count) out += rnd.nextInt(n)
    out.toIndexedSeq
  }
}
