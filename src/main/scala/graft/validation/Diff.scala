package graft.validation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The four join shapes at the heart of the reference's validators
  * (SURVEY.md §2.5), re-expressed as declarative DataFrame joins so
  * Catalyst picks the physical strategy (broadcast when one side is
  * small, sort-merge otherwise, AQE skew-split at runtime):
  *
  *  - missingInTarget:   source rows whose PK has no target row (left_anti)
  *    (reference: scylla/MySQLToScyllaValidator.scala:956-962)
  *  - extraInTarget:     target rows whose PK has no source row (left_anti)
  *    (reference: validation/core/ExtraRowDetector.scala:8-31)
  *  - targetPrefetch:    target rows whose PK appears in source (left_semi)
  *    (reference: validation/core/KeyDrivenLookup.scala:32-63 — there a
  *    key-driven point-lookup; with both sides as DataFrames a left_semi
  *    join is the plan Catalyst can optimize)
  *  - fullDiff:          full_outer comparison with per-row classification
  *    (reference: scylla/MySQLToScyllaValidator.scala:804-811,1016-1097)
  *
  * Scale notes: the diff join shuffles both sides on the PK. Callers
  * should hash wide payloads first (graft.functions.ContentHash) so only
  * (pk, digest) shuffles; that is the reference's own shuffle-volume
  * rewrite and it survives a 100× scale-up where shipping full rows does
  * not.
  */
object Diff {

  private def pkCondition(src: DataFrame, tgt: DataFrame, pk: Seq[String]): Column =
    pk.map(k => src(k) <=> tgt(k)).reduce(_ && _)

  /** Source rows with no matching target PK. */
  def missingInTarget(source: DataFrame, target: DataFrame, pk: Seq[String]): DataFrame =
    source.join(target.select(pk.map(col): _*), pk, "left_anti")

  /** Target rows with no matching source PK. */
  def extraInTarget(source: DataFrame, target: DataFrame, pk: Seq[String]): DataFrame =
    target.join(source.select(pk.map(col): _*), pk, "left_anti")

  /** Target rows restricted to PKs present in source (key-driven
    * prefetch: avoids comparing target rows nobody asked about).
    */
  def targetPrefetch(source: DataFrame, target: DataFrame, pk: Seq[String]): DataFrame =
    target.join(source.select(pk.map(col): _*), pk, "left_semi")

  /** Full-outer diff with row classification. Output: pk columns ++
    * `diff_kind` in {missing_target, extra_target, mismatch, match}.
    * `compareCols` are compared with null-safe equality.
    */
  def fullDiff(source: DataFrame, target: DataFrame, pk: Seq[String],
               compareCols: Seq[String]): DataFrame =
    outerDiff(source, target, pk, compareCols) { _ =>
      val allEqual =
        if (compareCols.isEmpty) lit(true)
        else compareCols.map(c => col(s"s.$c") <=> col(s"t.$c")).reduce(_ && _)
      ((allEqual, "match"), Nil)
    }

  /** The join both full-outer diffs share: `pk ++ compareCols` of each
    * side with a presence marker, null-safe full-outer joined on `pk`
    * (sides aliased `s` and `t`), then pk (coalesced across sides) ++
    * `diff_kind` ++ the caller's columns. `classify` gets the
    * both-sides-present test and returns the last rung of the
    * `diff_kind` ladder — a test and the kind it selects, the other of
    * match/mismatch being its else — plus the extra output columns.
    */
  private def outerDiff(source: DataFrame, target: DataFrame, pk: Seq[String],
                        compareCols: Seq[String])(
      classify: Column => ((Column, String), Seq[Column])): DataFrame = {
    // explicit presence markers: deriving presence from PK nullness
    // would misclassify rows that legitimately matched on a NULL key
    // component (the whole reason the join is null-safe)
    val s = source.select((pk ++ compareCols).map(col) :+ lit(true).as("__s_present"): _*)
    val t = target.select((pk ++ compareCols).map(col) :+ lit(true).as("__t_present"): _*)
    val joined = s.as("s").join(t.as("t"),
      pk.map(k => col(s"s.$k") <=> col(s"t.$k")).reduce(_ && _), "full_outer")
    val srcPresent = col("s.__s_present").isNotNull
    val tgtPresent = col("t.__t_present").isNotNull
    val ((test, kindIf), extra) = classify(srcPresent && tgtPresent)
    val kind = when(!tgtPresent, lit("missing_target"))
      .when(!srcPresent, lit("extra_target"))
      .when(test, lit(kindIf))
      .otherwise(lit(if (kindIf == "match") "mismatch" else "match"))
    val pkOut = pk.map(k => coalesce(col(s"s.$k"), col(s"t.$k")).as(k))
    joined.select(pkOut ++ (kind.as("diff_kind") +: extra): _*)
  }

  /** Sampled validation tier — the first-pass check for tables too
    * large to full-diff (at 100 TB the full join is a day; a 1/100
    * sample is minutes and catches any systematic defect). BOTH sides
    * restrict to the SAME deterministic md5(pk)-bucket sample before
    * the join, so every key pair is entirely in or entirely out: the
    * result is EXACTLY [[fullDiff]] restricted to the sampled keys —
    * sampling can never fabricate missing/extra rows. The predicate
    * pushes into both scans (`bucketOf` is a scan-side expression),
    * and being pk-derived it is identical across engines/retries.
    *
    * Detection: a defect touching k random keys escapes a num/denom
    * sample with probability (1 − num/denom)^k — 1 % catches a
    * 1000-key defect w.p. ≈ 0.99996. Escalate to [[fullDiff]] (or
    * HashRefinement) only when the sample reports clean.
    */
  def sampledDiff(source: DataFrame, target: DataFrame, pk: Seq[String],
                  compareCols: Seq[String], rateNum: Int, rateDenom: Int): DataFrame = {
    require(rateNum > 0 && rateNum <= rateDenom,
      s"sample rate must satisfy 0 < num <= denom, got $rateNum/$rateDenom")
    // composite keys fold to one string ("\\u0000" separator: outside
    // any data alphabet); NULL components coalesce explicitly because
    // concat_ws SKIPS nulls, which would shift later components'
    // positions. A collision only perturbs WHICH bucket a key lands in
    // - both sides compute the identical key, so sample membership
    // stays pairwise-consistent regardless
    val sampleKey =
      if (pk.size == 1) col(pk.head)
      else concat_ws("\u0000",
        pk.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
    def keep(df: DataFrame): DataFrame = df.filter(
      graft.operators.Sampling.bucketOf(sampleKey, rateDenom) < rateNum)
    fullDiff(keep(source), keep(target), pk, compareCols)
  }

  /** Full-outer diff with the reference's per-category failure taxonomy
    * (Validator.scala:69-104), computed in one distributed pass. Output:
    * pk ++ diff_kind ++ four boolean category flags per matched row —
    *
    *  - `field_diff`:     a plain compare column differs
    *  - `ttl_diff`:       a `*_ttl` sidecar differs (explosion contract)
    *  - `writetime_diff`: a `*_writetime` sidecar differs
    *  - `type_diff`:      a column whose source/target SCHEMA types sit
    *    in different numeric-vs-non-numeric families differs on value
    *
    * In a columnar engine runtime types cannot vary per row, so the
    * reference's per-value NumericTypeMismatch becomes a schema-level
    * classification: such columns are compared through `try_cast` to
    * double (never raising under ANSI), and any value difference counts
    * in the `type_diff` category. A row can flag several categories at
    * once, exactly like a reference failure carrying several Items.
    */
  def categorizedDiff(source: DataFrame, target: DataFrame, pk: Seq[String],
                      compareCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val srcTypes = source.schema.map(f => f.name -> f.dataType).toMap
    val tgtTypes = target.schema.map(f => f.name -> f.dataType).toMap
    def numeric(c: String, m: Map[String, org.apache.spark.sql.types.DataType]) =
      m.get(c).exists(_.isInstanceOf[NumericType])
    val (typeMismatch, sameFamily) = compareCols.partition(c =>
      numeric(c, srcTypes) != numeric(c, tgtTypes))
    val (ttls, rest) = sameFamily.partition(_.toLowerCase.endsWith("_ttl"))
    val (writetimes, plain) = rest.partition(_.toLowerCase.endsWith("_writetime"))

    def anyDiff(cols: Seq[String], cast: Boolean): Column =
      if (cols.isEmpty) lit(false)
      else cols.map { c =>
        if (cast) !(expr(s"try_cast(s.$c AS double)") <=> expr(s"try_cast(t.$c AS double)"))
        else !(col(s"s.$c") <=> col(s"t.$c"))
      }.reduce(_ || _)
    outerDiff(source, target, pk, compareCols) { matched =>
      val fieldDiff = matched && anyDiff(plain, cast = false)
      val ttlDiff = matched && anyDiff(ttls, cast = false)
      val wtDiff = matched && anyDiff(writetimes, cast = false)
      val typeDiff = matched && anyDiff(typeMismatch, cast = true)
      ((fieldDiff || ttlDiff || wtDiff || typeDiff, "mismatch"),
        Seq(fieldDiff.as("field_diff"), ttlDiff.as("ttl_diff"),
          wtDiff.as("writetime_diff"), typeDiff.as("type_diff")))
    }
  }

  /** One-row category breakdown over a `categorizedDiff` frame — the
    * counts behind the reference's "N missing target row(s), M differing
    * ttl(s), …" log line, as a single aggregation job.
    */
  def categoryBreakdown(diff: DataFrame): Map[String, Long] = {
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    val r = diff.agg(
      n(col("diff_kind") === "missing_target").as("missing_target"),
      n(col("diff_kind") === "extra_target").as("extra_target"),
      n(col("field_diff")).as("differing_field_values"),
      n(col("ttl_diff")).as("differing_ttls"),
      n(col("writetime_diff")).as("differing_writetimes"),
      n(col("type_diff")).as("numeric_type_mismatch"),
      n(col("diff_kind") === "match").as("match")).head()
    r.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      f -> (if (r.isNullAt(i)) 0L else r.getLong(i))
    }.toMap
  }

  /** Bounded failure drain (reference:
    * scylla/MySQLToScyllaValidator.scala:150-212): `toLocalIterator`
    * pulls partitions incrementally, so collecting the first N failures
    * never materializes the full failure set on the driver — a
    * validation of a badly-diverged 100 TB table produces billions of
    * failures, and the driver only ever sees N of them.
    */
  def sampleFailures(failures: DataFrame, n: Int): Seq[org.apache.spark.sql.Row] = {
    val it = failures.toLocalIterator()
    val buf = Vector.newBuilder[org.apache.spark.sql.Row]
    var taken = 0
    while (it.hasNext && taken < n) { buf += it.next(); taken += 1 }
    buf.result()
  }

  /** One-row validation summary: source/target/missing/extra counts.
    * The counts are computed as aggregations over anti joins — each is a
    * single distributed job, no driver-side iteration.
    */
  def summary(source: DataFrame, target: DataFrame, pk: Seq[String]): DataFrame = {
    val srcRows = source.select(count(lit(1)).as("src_rows"))
    val tgtRows = target.select(count(lit(1)).as("tgt_rows"))
    val missing = missingInTarget(source, target, pk).select(count(lit(1)).as("missing_rows"))
    val extra = extraInTarget(source, target, pk).select(count(lit(1)).as("extra_rows"))
    srcRows.crossJoin(tgtRows).crossJoin(missing).crossJoin(extra)
  }
}
