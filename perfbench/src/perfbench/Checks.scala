package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output checks, run outside the timed ops. */
object Checks {

  /** SCD invariants of a dimension with schema [[Gen.schema]]. Returns
    * the violated invariants (empty when the dimension is sound) and the
    * row count.
    */
  def scdInvariants(dim: DataFrame, expectedRows: Option[Long]): (Seq[String], Long) = {
    val s = Gen.schema
    val key = col(s.businessKeys.head)
    val w = Window.partitionBy(key).orderBy(col(s.versionCol))
    val r: Row = dim
      .select(key, col(s.surrogateCol), col(s.versionCol), col(s.startCol),
        col(s.endCol), col(s.activeCol),
        lead(col(s.startCol), 1).over(w).as("next_start"),
        row_number().over(w).as("rn"))
      .agg(
        count(lit(1)),
        count_distinct(col(s.surrogateCol)),
        count_distinct(key),
        sum(when(col(s.activeCol), 1).otherwise(0)),
        sum(when(col(s.versionCol) =!= col("rn"), 1).otherwise(0)),
        sum(when(col("next_start").isNotNull && col(s.activeCol), 1).otherwise(0)),
        sum(when(col("next_start").isNotNull &&
          col(s.endCol) =!= col("next_start"), 1).otherwise(0)),
        sum(when(col("next_start").isNull &&
          (!col(s.activeCol) || col(s.endCol) =!= lit(Gen.HighTs)), 1).otherwise(0)),
        sum(when(col(s.startCol) >= col(s.endCol), 1).otherwise(0)))
      .head()
    val Seq(rows, ids, keys, actives, badVersion, closedActive, gaps, badOpen, empty) =
      (0 until 9).map(i => Option(r.get(i)).map(_.toString.toLong).getOrElse(0L))
    val bad = Seq(
      (actives != keys || badOpen != 0 || closedActive != 0) ->
        s"not exactly one active row per key, the latest ($actives active, $keys keys)",
      (gaps != 0 || empty != 0) ->
        s"intervals not gapless: $gaps versions with end != next start, $empty empty",
      (ids != rows) -> s"surrogate keys not unique ($ids distinct of $rows)",
      (badVersion != 0) -> s"$badVersion versions not numbered 1..n per key",
      expectedRows.exists(_ != rows) ->
        s"row count $rows != expected ${expectedRows.getOrElse(0L)}")
    (bad.collect { case (true, msg) => msg }, rows)
  }

  /** Order-insensitive content hash: row count plus the sum of a 64-bit
    * hash of every row (as a decimal, so it never overflows).
    */
  def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }
}
