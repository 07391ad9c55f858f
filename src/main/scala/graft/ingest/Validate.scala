package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gate — Spark form of the reference's
  * `validate_delisted_data` (`/root/reference/scripts/sync_delisted_stocks.py:50-101`)
  * and the shared P2–P4 filters (SURVEY.md §2.2).
  *
  * All rules are plain Catalyst predicates, so they push down to the scan
  * where the storage format allows and never leave WholeStageCodegen.
  * `requireColumns` fails fast at plan time (schema check, no job run) —
  * the distributed-scale analogue of the reference's required-column raise.
  */
object Validate {

  /** Required-column check (`sync_delisted_stocks.py:56-60`) — plan-time. */
  def requireColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing required columns: ${missing.mkString(", ")}")
    df
  }

  /** P2 — key matches an exact regex (reference: symbol is exactly six
    * digits, `daily_stock_master_update.py:98-101`). */
  def keyMatches(c: Column, pattern: String): Column = c.rlike(pattern)

  /** P3 — non-null, non-empty string (`sync_delisted_stocks.py:69-74`). */
  def nonEmpty(c: Column): Column = c.isNotNull && length(c) > 0

  /** P4 — date sanity range (`sync_delisted_stocks.py:77-82`): either null
    * (unknown) or inside [lo, hi]. */
  def dateInRange(c: Column, lo: String, hi: Column = current_date()): Column =
    c.isNull || (c >= lit(lo) && c <= hi)

  /** Numeric sanity range. */
  def inRange(c: Column, lo: Double, hi: Double): Column =
    c.isNotNull && c >= lo && c <= hi

  /** Apply a rule set conjunctively; rows failing any rule are dropped.
    * The complementary reject stream (for quarantine sinks) is `reject`. */
  def accept(df: DataFrame, rules: Seq[Column]): DataFrame =
    df.filter(rules.reduce(_ && _))

  /** The exact complement of [[accept]]: every row it does not keep,
    * including rows whose rules evaluate to NULL (a NULL key under
    * `keyMatches`), which SQL's three-valued filter would otherwise drop
    * from both streams. */
  def reject(df: DataFrame, rules: Seq[Column]): DataFrame =
    df.filter(!coalesce(rules.reduce(_ && _), lit(false)))
}
