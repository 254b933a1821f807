package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A cleaning rule's output: the cleaned value plus a validity flag.
  *
  * Mirrors the reference's RuleResult(value, is_valid, note) shape
  * (reference: dags/utils/cleaning_rules.py:10-15) — cleaning never hard-fails
  * a record; it projects to (value, flag) pairs so downstream quality scoring
  * (A-4) can aggregate the flags.
  *
  * Everything here is a pure Column expression — whole-stage-codegen'd by
  * Catalyst, no UDFs — so the same rules run identically in batch and
  * Structured Streaming and push down/fold like any built-in.
  */
final case class Rule(value: Column, isValid: Column)

object CleaningRules {

  /** R-1: strip non-digits, zero-pad to >=3, prefix STU.
    * Invalid (no digits) -> null value.
    * Reference: cleaning_rules.py:64-73 (zfill never truncates, so only pad
    * when shorter than 3).
    */
  def standardizeStudentId(c: Column): Rule = {
    val digits = regexp_replace(coalesce(c, lit("")), "[^0-9]", "")
    val valid = digits =!= ""
    val padded = when(length(digits) < 3, lpad(digits, 3, "0")).otherwise(digits)
    Rule(when(valid, concat(lit("STU"), padded)), valid)
  }

  /** R-2: trim, collapse whitespace, strip digits, Title Case.
    * Reference: cleaning_rules.py:76-87. Known edge: Python .title() vs
    * initcap differ on apostrophes/hyphens (SURVEY.md R-2 note).
    */
  def cleanName(c: Column): Rule = {
    // whitespace is re-collapsed and re-trimmed AFTER digit stripping: the
    // reference collapses first, so "g d 1" leaves a trailing space and
    // "a 1 b" a double space in its output — an incidental artifact (and
    // non-idempotent); fixture names are unaffected by the difference
    val t = initcap(trim(regexp_replace(
      regexp_replace(trim(coalesce(c, lit(""))), "[0-9]", ""), "\\s+", " ")))
    // empty-after-cleaning -> null value, not "" (cleaning_rules.py:82-83)
    Rule(when(t =!= "", t), t =!= "")
  }

  /** First/last split of a cleaned full name: first word vs the rest.
    * Reference: cleaning_rules.py:83-87. */
  def splitName(cleaned: Column): (Column, Column) = {
    val parts = split(cleaned, " ")
    (element_at(parts, 1),
     when(size(parts) > 1, array_join(slice(parts, 2, 1000), " ")).otherwise(lit("")))
  }

  /** R-3: lowercase + RFC-lite regex; invalid -> null.
    * Reference: cleaning_rules.py:90-97. */
  def validateEmail(c: Column): Rule = {
    val e = lower(trim(coalesce(c, lit(""))))
    val valid = e.rlike("^[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}$")
    Rule(when(valid, e), valid)
  }

  /** R-4: strip non-digits; 10 digits -> +91-XXXXXXXXXX; 12 starting with 91
    * -> drop country prefix; else invalid/null.
    * Reference: cleaning_rules.py:100-110. */
  def standardizePhone(c: Column): Rule = {
    val d = regexp_replace(coalesce(c, lit("")), "[^0-9]", "")
    val value =
      when(length(d) === 10, concat(lit("+91-"), d))
        .when(length(d) === 12 && d.startsWith("91"), concat(lit("+91-"), substring(d, 3, 10)))
    Rule(value, value.isNotNull)
  }

  /** R-5: try 5 date formats; reject year<1950 and dates after `asOf`.
    * Reference: cleaning_rules.py:113-127 (DATE_FORMATS :18-24). `asOf`
    * replaces the reference's wall-clock `date.today()` so runs are
    * reproducible (SURVEY.md §4.3 determinism note). try_to_date keeps the
    * expression ANSI-mode-safe (Spark 4 default).
    */
  def parseDate(c: Column, asOf: Column): Rule = {
    val s = trim(coalesce(c, lit("")))
    val d = coalesce(
      Seq("yyyy-MM-dd", "dd/MM/yyyy", "dd-MM-yyyy", "MMMM d, yyyy", "dd-MMM-yy")
        .map(f => try_to_date(s, f)): _*)
    val inRange = d.isNotNull && year(d) >= 1950 && d <= asOf
    Rule(when(inRange, d), inRange)
  }

  /** R-6: try 3 timestamp formats; reject future (vs `asOf`).
    * Reference: cleaning_rules.py:130-142 (DATETIME_FORMATS :26-30). */
  def parseTimestamp(c: Column, asOf: Column): Rule = {
    val s = trim(coalesce(c, lit("")))
    val t = coalesce(
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(s, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ssXXX")))
    val ok = t.isNotNull && t <= asOf
    Rule(when(ok, t), ok)
  }

  /** R-7: m/male -> Male, f/female -> Female, else Other (flagged).
    * Reference: cleaning_rules.py:145-153. */
  def standardizeGender(c: Column): Rule = {
    val g = lower(trim(coalesce(c, lit(""))))
    val value = when(g.isin("m", "male"), "Male")
      .when(g.isin("f", "female"), "Female")
      .otherwise("Other")
    Rule(value, g.isin("m", "male", "f", "female"))
  }

  /** R-10: strip currency symbols/commas, abs negatives (flagged).
    * Null semantics per reference (cleaning_rules.py:177-190): missing/empty
    * -> 0.0 flagged; non-empty but unparseable after stripping -> NULL
    * flagged; negative -> abs flagged. */
  def cleanNumeric(c: Column): Rule = {
    val raw = trim(coalesce(c.cast("string"), lit("")))
    val s = regexp_replace(raw, "[^0-9.\\-]", "")
    val v = try_cast_double(s)
    val value = when(raw === "", lit(0.0)).when(v.isNotNull, abs(v))
    Rule(value, raw =!= "" && v.isNotNull && v >= 0)
  }

  /** R-11: clamp score into [0,100] (flag when clamped), round 2dp.
    * Missing/unparseable -> NULL flagged, per reference
    * (cleaning_rules.py:192-206). */
  def validateScore(c: Column): Rule = {
    val v = try_cast_double(trim(coalesce(c.cast("string"), lit(""))))
    val clamped = round(least(greatest(v, lit(0.0)), lit(100.0)), 2)
    Rule(when(v.isNotNull, clamped), v.isNotNull && v >= 0 && v <= 100)
  }

  /** R-12: payment-status Title Case passthrough, empty -> Unknown.
    * Reference: cleaners.py:19-20, 49. */
  def titleOrUnknown(c: Column): Column = {
    val t = initcap(trim(coalesce(c, lit(""))))
    when(t === "", "Unknown").otherwise(t)
  }

  /** R-13: upper-or-null passthrough. Reference: cleaners.py:47. */
  def upperOrNull(c: Column): Column =
    when(trim(coalesce(c, lit(""))) === "", null).otherwise(upper(trim(c)))

  /** A-4 row-wise quality score: 100 - 10 per invalid flag, floor 0.
    * Reference: cleaning_rules.py:240-242. */
  def qualityScore(flags: Column*): Column = {
    val invalid = flags.map(f => when(!f, 1).otherwise(0)).reduce(_ + _)
    greatest(lit(0), lit(100) - lit(10) * invalid)
  }

  /** ANSI-safe string->double (Spark 4 ships try_cast in SQL only). */
  private def try_cast_double(c: Column): Column =
    when(c.rlike("^-?[0-9]+(\\.[0-9]*)?$") || c.rlike("^-?\\.[0-9]+$"), c.cast("double"))
}
