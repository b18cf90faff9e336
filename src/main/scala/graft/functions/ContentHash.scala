package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import java.util.Locale

/** Row content hashing for validation joins.
  *
  * Semantics follow the reference's content-hash join helper
  * (validation/core/ContentHashJoiner.scala:16-65):
  *  - per column: NULL hashes as sha256("1|"); non-NULL as
  *    sha256("0|" ++ stringified value); binary values are base64'd first
  *  - hashed columns are ordered case-insensitively by name so the digest
  *    is insensitive to projection order
  *  - the row digest is sha256 over the per-column digests joined by "|"
  *
  * The digests run in one fused, codegen'd kernel ([[RowSha256Hex]]:
  * one SHA-256 engine and one reused buffer per partition).
  * Stringification stays in Catalyst (`base64` for binary, a `Cast` to
  * string otherwise), so ANSI, timezone and NULL semantics are Spark's
  * own. Contract: the output is bit-identical to the builtin
  * `sha2`/`concat_ws` form of the recipe and to [[duckdbRowHashSql]],
  * the oracle's form of it. The operational win (same as the reference):
  * replacing a wide payload with one 64-char digest before a
  * validation join shrinks the shuffle by the payload width, which is
  * the dominant cost at 100 TB.
  */
object ContentHash {

  /** The string a column is hashed through. */
  private def stringified(df: DataFrame, name: String): Column = {
    val c = col("`" + name.replace("`", "``") + "`")
    df.schema(name).dataType match {
      case BinaryType => base64(c)
      case StringType => c
      case _          => c.cast(StringType)
    }
  }

  /** Row digest over the given columns (sorted case-insensitively). */
  def rowHash(df: DataFrame, columns: Seq[String]): Column = {
    val ordered = columns.sortBy(_.toLowerCase(Locale.ROOT))
    GraftColumnBridge.column(RowSha256Hex(
      ordered.map(c => GraftColumnBridge.expression(stringified(df, c)))))
  }

  /** Append a `_content_hash` column over `hashColumns` and drop the
    * hashed payload columns (keeping `keep`): the shuffle-volume
    * reduction rewrite from the reference.
    */
  def withContentHash(df: DataFrame, hashColumns: Seq[String], keep: Seq[String],
                      hashColumnName: String = "_content_hash"): DataFrame =
    df.withColumn(hashColumnName, rowHash(df, hashColumns))
      .drop(hashColumns.filterNot(keep.contains).toIndexedSeq: _*)

  /** DuckDB-equivalent SQL expression for `rowHash`, used to build the
    * oracle strings in SparkEntry (kept next to the Spark definition so
    * the two can't drift).
    */
  def duckdbRowHashSql(ordered: Seq[(String, String)]): String = {
    // ordered: (name, duckdbStringExpr) pairs already sorted + stringified
    val per = ordered.map { case (name, expr) =>
      s"CASE WHEN $name IS NULL THEN sha256('1|') ELSE sha256('0|' || $expr) END"
    }
    s"sha256(concat_ws('|', ${per.mkString(", ")}))"
  }
}
