package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar date / time / numeric functions — SURVEY.md §2 E1–E9.
  *
  * Reference: multi-format date parsing (challenge2.py:184-189), epoch
  * conversion (challenge2.py:214), numeric coercion (challenge2.py:196-210)
  * and the conditional coalesce-fills (challenge2.py:235-243).
  */
object DatesNums {

  /** E1 — multi-format date parse: first of four accepted forms wins
    * ("January 1, 2000" / "2000-01-01" / "January 2000" / "2000",
    * challenge2.py:184-189). Non-matching formats yield NULL (non-ANSI),
    * so coalesce picks the first that parses. */
  def parseDateMulti(c: Column): Column = {
    val s = trim(c)
    coalesce(
      to_date(s, "MMMM d, yyyy"),
      to_date(s, "yyyy-MM-dd"),
      to_date(s, "MMMM yyyy"),
      to_date(s, "yyyy"))
  }

  /** E3 — epoch seconds → timestamp (`to_datetime(..., unit='s')`,
    * challenge2.py:214). */
  def epochToTimestamp(c: Column): Column = timestamp_seconds(c)

  /** E4 — pandas `to_numeric(errors='coerce')` then fill: null on failure
    * (spark.sql.ansi.enabled=false, which our sessions pin), then `fill`
    * (challenge2.py:196). */
  def coerceDoubleFill(c: Column, fill: Double = 0.0): Column =
    coalesce(c.cast("double"), lit(fill))

  /** E6 — conditional arithmetic: the `h*60+m` row-wise apply re-expressed
    * declaratively is in TextParse.parseRuntimeMinutes; the general shape: */
  def conditional(pred: Column, ifTrue: Column, ifFalse: Column): Column =
    when(pred, ifTrue).otherwise(ifFalse)

  /** E7 — boolean derivation (`video == 'True'`, challenge2.py:206). */
  def boolFromString(c: Column, trueLiteral: String = "True"): Column =
    c === trueLiteral

  /** E8 — conflict-resolution fill: take `fallback` when `primary` is zero
    * OR null, else `primary` (challenge2.py:235-243). The reference's
    * `fill_missing_kaggle_data` treats ONLY 0 as missing (SURVEY.md §2 J2);
    * `zeroOnly = true` reproduces that faithfully. */
  def fillZeroFrom(primary: Column, fallback: Column, zeroOnly: Boolean = false): Column =
    if (zeroOnly) when(primary === 0, fallback).otherwise(primary)
    else when(primary === 0 || primary.isNull, fallback).otherwise(primary)
}
