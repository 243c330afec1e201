package graft.core

import java.text.ParsePosition
import java.time.{LocalDate, LocalDateTime, LocalTime}
import java.time.format.DateTimeFormatter

/**
 * Type predicates for schema inference, reproducing the reference's
 * classifier semantics (reference: diepy/core.py:547-630).
 *
 * The reference uses `dateutil.parser.parse` with the "two-default
 * dates" trick: parse against two different default datetimes; fields
 * that echo BOTH defaults were absent from the input. We reproduce the
 * observable classification (time-only vs date-only vs full datetime)
 * with an explicit format list instead of dateutil's fuzzy parser:
 * a parsed value carries (hasDate, hasTime) flags, which is exactly
 * what the two-default trick recovers.
 *
 * Reproduced quirks (SURVEY.md §2.7):
 *  - `is_date` accepts a full datetime whose time-of-day is midnight
 *    (core.py:608-609 fallback).
 *  - classification order is int → float → date → time → datetime →
 *    text, with `is_date` tried BEFORE `is_time` (core.py:496-508).
 */
object TypeInfer {

  /** Result of parsing a temporal string. */
  final case class Temporal(date: Option[LocalDate], time: Option[LocalTime])

  /** Pattern lists are the SINGLE source of truth — CsvIO.castTo
   *  builds its try_to_timestamp chain from the same sequences, so a
   *  value that classifies as date/datetime always casts. */
  val datePatterns: Seq[String] = Seq(
    "yyyy-MM-dd", "yyyy/MM/dd", "yyyy.MM.dd", "MM/dd/yyyy", "M/d/yyyy",
    "MM/dd/yy", "M/d/yy", "yyyyMMdd", "dd-MMM-yyyy", "d MMM yyyy",
    "MMM d, yyyy", "MMMM d, yyyy")

  val timePatterns: Seq[String] = Seq(
    "HH:mm:ss.SSSSSS", "HH:mm:ss.SSS", "HH:mm:ss", "HH:mm",
    "h:mm:ss a", "h:mm a")

  // common-case-first ordering: the first pattern handles the
  // canonical cast/export rendering without an exception
  val dateTimePatterns: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSS", "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSS", "yyyy-MM-dd'T'HH:mm",
    "MM/dd/yyyy HH:mm:ss", "MM/dd/yyyy HH:mm",
    "M/d/yyyy H:mm:ss", "M/d/yyyy H:mm")

  private val dateFormats: Seq[DateTimeFormatter] =
    datePatterns.map(DateTimeFormatter.ofPattern)
  private val timeFormats: Seq[DateTimeFormatter] =
    timePatterns.map(DateTimeFormatter.ofPattern)
  private val dateTimeFormats: Seq[DateTimeFormatter] =
    dateTimePatterns.map(DateTimeFormatter.ofPattern)

  /** Parse a string into date and/or time parts; None if not temporal.
   *  Cheap character gates skip the formatters for the overwhelmingly
   *  common non-temporal inputs, and the formatters that do run probe
   *  without exceptions ([[probe]]) — this code runs once per sampled
   *  cell during inference. */
  def parseTemporal(raw: String): Option[Temporal] = {
    val s = raw.trim
    if (s.length < 4 || s.length > 40) return None
    var hasDigit = false; var hasColon = false; var hasDateSep = false
    var hasDotOrSpace = false
    var allDigits = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isDigit) hasDigit = true else allDigits = false
      if (c == ':') hasColon = true
      // '.' and ' ' must NOT count as date separators: they appear in
      // fractional-second and AM/PM TIME shapes ("09:30:15.123",
      // "1:30 PM") and would wrongly disable the time-only path
      if (c == '-' || c == '/' || c == ',') hasDateSep = true
      if (c == '.' || c == ' ') hasDotOrSpace = true
      i += 1
    }
    if (!hasDigit) return None
    if (!hasColon && !hasDateSep && !hasDotOrSpace && !(allDigits && s.length == 8))
      return None
    val tryDateTime = hasColon && (hasDateSep || s.exists(_ == 'T'))
    val tryTimeOnly = hasColon && !hasDateSep
    val tryDateOnly = !hasColon
    val dt = if (tryDateTime)
      dateTimeFormats.iterator.flatMap(f => probe(s, f)(LocalDateTime.parse(s, f))).nextOption()
        .map(v => Temporal(Some(v.toLocalDate), Some(v.toLocalTime)))
    else None
    dt.orElse {
        if (tryDateOnly || tryDateTime)
          dateFormats.iterator.flatMap(f => probe(s, f)(LocalDate.parse(s, f))).nextOption()
            .map(d => Temporal(Some(d), None))
        else None
      }
      .orElse {
        if (tryTimeOnly)
          timeFormats.iterator.flatMap(f => probe(s, f)(LocalTime.parse(s, f))).nextOption()
            .map(t => Temporal(None, Some(t)))
        else None
      }
  }

  /** `parse` (a resolving parse of `s` with `f`) when `f` matches all
   *  of `s`, else None. The unresolved parse fails by a null result or
   *  an error index, never by an exception, and a resolving parse
   *  cannot succeed where it fails — its own success condition is
   *  exactly this one — so the probe only skips the thrown
   *  `DateTimeParseException` of every format that does not match,
   *  which is most formats for most temporal cells. A matched string
   *  can still fail to resolve (a month 13), which stays a caught
   *  None. */
  private def probe[A](s: String, f: DateTimeFormatter)(parse: => A): Option[A] = {
    val pos = new ParsePosition(0)
    if (f.parseUnresolved(s, pos) == null || pos.getErrorIndex >= 0 ||
        pos.getIndex != s.length) None
    else try Some(parse) catch { case _: Exception => None }
  }

  /** Python-int acceptance: optional sign, digits, surrounding
   *  whitespace (reference core.py:547-561 delegates to `int()`). */
  def isInt(s: String): Boolean = {
    val t = s.trim
    t.nonEmpty && {
      val body = if (t.charAt(0) == '+' || t.charAt(0) == '-') t.substring(1) else t
      body.nonEmpty && body.forall(_.isDigit)
    }
  }

  /** Python-float acceptance (core.py:564-572 delegates to `float()`):
   *  decimal/scientific notation, inf/nan spellings. */
  def isFloat(s: String): Boolean = {
    val t = s.trim.toLowerCase
    if (t.isEmpty) false
    else {
      val body = if (t.charAt(0) == '+' || t.charAt(0) == '-') t.substring(1) else t
      if (body == "inf" || body == "infinity" || body == "nan") true
      // gate: Double.parseDouble's exception path is expensive; only
      // attempt it for plausibly-numeric shapes
      else if (body.isEmpty || !(body.charAt(0).isDigit || body.charAt(0) == '.') ||
        !body.forall(c => c.isDigit || c == '.' || c == 'e' || c == '+' || c == '-')) false
      else
        try { java.lang.Double.parseDouble(t); true }
        catch { case _: NumberFormatException => false }
    }
  }

  /** Date-only, OR a full datetime at exactly midnight (quirk,
   *  core.py:594-611). */
  def isDate(s: String): Boolean = parseTemporal(s) match {
    case Some(Temporal(Some(_), None))    => true
    case Some(Temporal(Some(_), Some(t))) => t == LocalTime.MIDNIGHT
    case _                                => false
  }

  /** Time-only (core.py:575-591). */
  def isTime(s: String): Boolean = parseTemporal(s) match {
    case Some(Temporal(None, Some(_))) => true
    case _                             => false
  }

  /** Both date and time present (core.py:614-630). */
  def isDateTime(s: String): Boolean = parseTemporal(s) match {
    case Some(Temporal(Some(_), Some(_))) => true
    case _                                => false
  }
}
