package graft.functions

import java.math.BigDecimal
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.Sampling

/** The fused digest kernels against the builtin formulas they replace:
  * every digest and bucket must be bit-identical, on the whole-stage
  * codegen path, the plain codegen path and the interpreted path.
  */
class DigestExpressionsSpec extends AnyFunSuite {

  // ---- the builtin formulas, kept here as the reference ----

  private def refColumnHash(df: DataFrame, name: String): Column = {
    val c = col("`" + name + "`")
    val stringified = df.schema(name).dataType match {
      case BinaryType => base64(c)
      case StringType => c
      case _          => c.cast(StringType)
    }
    when(c.isNull, sha2(lit("1|"), 256))
      .otherwise(sha2(concat(lit("0|"), stringified), 256))
  }

  private def refRowHash(df: DataFrame, columns: Seq[String]): Column = {
    val ordered = columns.sortBy(_.toLowerCase(java.util.Locale.ROOT))
    sha2(concat_ws("|", ordered.map(refColumnHash(df, _)): _*), 256)
  }

  private def refPrefix(key: Column): Column =
    conv(substring(md5(coalesce(key.cast("string"), lit(""))), 1, 15), 16, 10).cast("long")

  private def refBucket(key: Column, buckets: Int): Column =
    pmod(refPrefix(key), lit(buckets.toLong))

  // ---- sessions: each evaluation path, and a non-UTC timezone ----

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Nil,
    "expression codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "codegen, America/Los_Angeles" -> Seq(
      "spark.sql.session.timeZone" -> "America/Los_Angeles"))

  private def session(confs: Seq[(String, String)]): SparkSession = {
    val s = TestSpark.spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("i", IntegerType),
    StructField("L", LongType), StructField("dec", DecimalType(20, 4)),
    StructField("D", DoubleType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("b", BooleanType),
    StructField("bin", BinaryType), StructField("Zeta", StringType),
    StructField("alpha", StringType)))

  private val special = Seq(
    Row("", 0, 0L, new BigDecimal("0.0000"), -0.0, Date.valueOf("1970-01-01"),
      Timestamp.valueOf("1970-01-01 00:00:00"), false, Array.emptyByteArray, "", ""),
    Row("héllo ✓ 日本 😀", Int.MinValue, Long.MaxValue,
      new BigDecimal("-1234567890123456.7890"), Double.NaN, Date.valueOf("2024-02-29"),
      Timestamp.valueOf("2024-03-10 02:30:00.123456"), true,
      Array[Byte](0, -1, 127, -128), "a|b", "|"),
    Row("a|b||c", Int.MaxValue, Long.MinValue, new BigDecimal("1E-4"),
      Double.PositiveInfinity, Date.valueOf("0001-01-01"),
      Timestamp.valueOf("2262-04-11 23:47:16.854775"), null, null, null, "0|x"),
    Row(null, null, null, null, null, null, null, null, null, null, null),
    Row("x", 5, 1L, new BigDecimal("3.1400"), 1e300, Date.valueOf("2000-12-31"),
      Timestamp.valueOf("1999-12-31 23:59:59.999999"), false,
      "bytes".getBytes("UTF-8"), "Z", "A"))

  private def rows(n: Int): Seq[Row] = {
    val r = new scala.util.Random(7)
    def maybe[T](v: => T): Any = if (r.nextInt(5) == 0) null else v
    special ++ (0 until n).map { _ =>
      Row(maybe(r.alphanumeric.take(r.nextInt(12)).mkString + "|" + r.nextPrintableChar()),
        maybe(r.nextInt()), maybe(r.nextLong()),
        maybe(BigDecimal.valueOf(r.nextLong() % 100000000L, 4)),
        maybe(r.nextGaussian() * 1e6), maybe(Date.valueOf(s"20${10 + r.nextInt(20)}-0${1 + r.nextInt(9)}-1${r.nextInt(10)}")),
        maybe(new Timestamp(r.nextLong() % 4000000000000L)), maybe(r.nextBoolean()),
        maybe { val b = new Array[Byte](r.nextInt(9)); r.nextBytes(b); b },
        maybe(r.nextString(3)), maybe(r.nextInt(3).toString))
    }
  }

  private def frame(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows(300), 3), schema)

  /** Each (what, kernel, reference) pair agrees on every row of `df`:
    * one query for all pairs.
    */
  private def assertSame(df: DataFrame, pairs: Seq[(String, Column, Column)]): Unit = {
    val got = df.select(pairs.zipWithIndex.flatMap { case ((_, k, r), i) =>
      Seq(k.as(s"k$i"), r.as(s"r$i")) }: _*).collect()
    assert(got.nonEmpty)
    pairs.zipWithIndex.foreach { case ((what, _, _), i) =>
      val bad = got.filter(r => r.get(2 * i) != r.get(2 * i + 1))
      assert(bad.isEmpty, s"$what: ${bad.length} mismatches, first ${bad.headOption}")
    }
  }

  test("rowHash equals the builtin sha2/concat_ws chain on every type and path") {
    for ((mode, confs) <- modes) {
      val df = frame(session(confs))
      val all = df.columns.toSeq
      // 0, 1 and many columns; mixed-case names exercise the ordering
      assertSame(df, for (cols <- Seq(Nil, Seq("s"), Seq("bin"), Seq("D"), Seq("ts", "dt"),
                                      Seq("Zeta", "alpha", "L"), all, all.reverse))
        yield (s"$mode, columns ${cols.mkString(",")}",
          ContentHash.rowHash(df, cols), refRowHash(df, cols)))
    }
  }

  test("rowHash over a wide row splits its generated code and stays identical") {
    for ((mode, confs) <- modes.take(3)) {
      val base = frame(session(confs))
      val wide = base.select(base.columns.toSeq.map(col) ++ (0 until 150).map(i =>
        col(schema(i % schema.size).name).as(s"c$i")): _*)
      val cols = wide.columns.toSeq
      assertSame(wide, Seq((s"$mode, ${cols.size} columns",
        ContentHash.rowHash(wide, cols), refRowHash(wide, cols))))
    }
  }

  test("case-insensitive ordering: projection order and name case do not matter") {
    val s = session(Nil)
    import s.implicits._
    val a = Seq(("x", "y", 1)).toDF("B", "a", "C")
    val b = Seq((1, "y", "x")).toDF("C", "a", "B")
    val h = (df: DataFrame) => df.select(ContentHash.rowHash(df, df.columns.toSeq))
      .as[String].head()
    assert(h(a) === h(b))
    assertSame(a, Seq(("mixed case",
      ContentHash.rowHash(a, Seq("C", "a", "B")), refRowHash(a, Seq("B", "a", "C")))))
  }

  test("bucketOf equals the builtin md5/substring/conv/pmod chain") {
    for ((mode, confs) <- modes) {
      val df = frame(session(confs))
      // sampledDiff's composite key: NULL components coalesce to ""
      val composite = concat_ws("\u0000",
        Seq("s", "i", "ts").map(c => coalesce(col(c).cast("string"), lit(""))): _*)
      val prefix = GraftColumnBridge.column(Md5Prefix60(GraftColumnBridge.expression(
        coalesce(col("s").cast("string"), lit("")))))
      // lambda-variable input: the builder inside a higher-order function
      val strings = array(col("s"), col("Zeta"), col("alpha"), lit(null).cast("string"))
      assertSame(df, (for (key <- Seq(col("s"), col("i"), col("L"), col("dec"), col("D"),
                                     col("ts"), col("bin"), lit(null).cast("string"), composite);
                           buckets <- Seq(1, 2, 8, 1000, Int.MaxValue))
        yield (s"$mode, key $key, $buckets buckets",
          Sampling.bucketOf(key, buckets), refBucket(key, buckets))) :+
        ((s"$mode, raw 60-bit prefix", prefix, refPrefix(col("s")))) :+
        ((s"$mode, md5Prefix60 over transform's lambda variable",
          transform(strings, x => md5Prefix60(x)),
          transform(strings, x => conv(substring(md5(x), 1, 15), 16, 10).cast("long")))))
    }
  }

  test("NULL into the md5 prefix is NULL out; never negative") {
    val s = session(Nil)
    val prefix = (c: Column) =>
      GraftColumnBridge.column(Md5Prefix60(GraftColumnBridge.expression(c)))
    val df = s.range(2000).select(col("id").cast("string").as("k"))
    assert(df.select(prefix(lit(null).cast("string"))).head().isNullAt(0))
    assert(df.filter(prefix(col("k")) < 0 || prefix(col("k")) >= (1L << 60)).count() === 0L)
  }
}
