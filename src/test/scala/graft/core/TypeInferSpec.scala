package graft.core

import java.time.{LocalDate, LocalDateTime, LocalTime}
import java.time.format.DateTimeFormatter

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** Predicate semantics per reference diepy/core.py:547-630. */
class TypeInferSpec extends AnyFunSuite {
  import TypeInfer._

  test("isInt accepts python-int forms") {
    assert(isInt("0")); assert(isInt("42")); assert(isInt("-7"))
    assert(isInt("+3")); assert(isInt(" 12 ")); assert(isInt("007"))
    assert(!isInt("1.0")); assert(!isInt("abc")); assert(!isInt(""))
    assert(!isInt("1e3")); assert(!isInt("-")); assert(!isInt("12a"))
  }

  test("unicode decimal digits parse like python int(), not saturate") {
    // Character.isDigit accepts any Nd digit — and so does
    // Long.parseLong (it goes through Character.digit), exactly like
    // Python's int(); regression-guard that the sampleValue path never
    // hits the saturation branch for such values
    val arabicThree = "٣"
    assert(isInt(arabicThree))
    val cd = ColumnDef("c").sampleValue(arabicThree)
    assert(cd.tpe == "int" && cd.minValue == 0L && cd.maxValue == 3L)
  }

  test("isFloat accepts python-float forms") {
    assert(isFloat("2.83")); assert(isFloat("-0.5")); assert(isFloat("1e3"))
    assert(isFloat("135.134")); assert(isFloat("3")); assert(isFloat("inf"))
    assert(isFloat("nan")); assert(isFloat(".5"))
    assert(!isFloat("abc")); assert(!isFloat("")); assert(!isFloat("1,5"))
  }

  test("date-only strings classify as date") {
    assert(isDate("2013-10-11")); assert(isDate("10/11/2013"))
    assert(isDate("2013.10.11")); assert(isDate("11 Oct 2013"))
    assert(isDate("Oct 11, 2013")); assert(isDate("20131011"))
    assert(!isTime("2013-10-11")); assert(!isDateTime("2013-10-11"))
  }

  test("time-only strings classify as time") {
    assert(isTime("12:01:02")); assert(isTime("13:04"))
    // fractional seconds and AM/PM shapes contain '.'/' ' but are TIME
    assert(isTime("09:30:15.123456")); assert(isTime("09:30:15.123"))
    assert(isTime("1:30 PM")); assert(isTime("1:30:05 AM"))
    assert(!isDate("12:01:02")); assert(!isDateTime("12:01:02"))
  }

  test("full datetimes classify as datetime") {
    assert(isDateTime("2013-10-11 13:04:05"))
    assert(isDateTime("2000-12-12 14:23:45.132500"))
    assert(!isTime("2013-10-11 13:04:05"))
  }

  test("midnight datetime also passes is_date (reference quirk core.py:608-609)") {
    assert(isDate("2013-10-11 00:00:00"))
    assert(isDateTime("2013-10-11 00:00:00"))
  }

  test("non-temporal text matches nothing") {
    for (s <- Seq("hello", "", "12:99:99", "2013-13-45"))
      assert(!isDate(s) && !isTime(s) && !isDateTime(s), s)
  }

  /** Reference implementation for the exception-free probe: the same
    * gates, then each format's plain resolving parse, a thrown
    * `DateTimeParseException` meaning no match. */
  private def exceptionPath(raw: String): Option[Temporal] = {
    def tryParse[A](a: => A): Option[A] = try Some(a) catch { case _: Exception => None }
    val dateFormats = datePatterns.map(DateTimeFormatter.ofPattern)
    val timeFormats = timePatterns.map(DateTimeFormatter.ofPattern)
    val dateTimeFormats = dateTimePatterns.map(DateTimeFormatter.ofPattern)
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
      dateTimeFormats.iterator.flatMap(f => tryParse(LocalDateTime.parse(s, f))).nextOption()
        .map(v => Temporal(Some(v.toLocalDate), Some(v.toLocalTime)))
    else None
    dt.orElse {
        if (tryDateOnly || tryDateTime)
          dateFormats.iterator.flatMap(f => tryParse(LocalDate.parse(s, f))).nextOption()
            .map(d => Temporal(Some(d), None))
        else None
      }
      .orElse {
        if (tryTimeOnly)
          timeFormats.iterator.flatMap(f => tryParse(LocalTime.parse(s, f))).nextOption()
            .map(t => Temporal(None, Some(t)))
        else None
      }
  }

  test("exception-free probing classifies every string as the exception path does") {
    val instant = for {
      d <- Gen.choose(LocalDate.of(1, 1, 1).toEpochDay, LocalDate.of(9999, 12, 31).toEpochDay)
      n <- Gen.choose(0L, 86400L * 1000000000L - 1)
      sub <- Gen.oneOf(1000000000L, 1000000L, 1000L, 1L) // whole s, ms, µs, ns
    } yield LocalDateTime.of(LocalDate.ofEpochDay(d), LocalTime.ofNanoOfDay(n - n % sub))
    // every pattern's rendering, clean and with a trailing or cut character
    val rendered = for {
      t <- instant
      p <- Gen.oneOf(datePatterns ++ timePatterns ++ dateTimePatterns)
      edit <- Gen.oneOf(Seq[String => String](identity, _ + "0", _ + "Z", _.dropRight(1),
        " " + _ + " ", _.replace('-', '/')))
    } yield edit(t.format(DateTimeFormatter.ofPattern(p)))
    // digit shapes with out-of-range fields: a month 13, a Feb 30, an hour 24
    val fields = for {
      y <- Gen.choose(0, 2100); m <- Gen.choose(0, 14); d <- Gen.choose(0, 33)
      h <- Gen.choose(0, 25); mi <- Gen.choose(0, 61)
      shape <- Gen.oneOf("%04d-%02d-%02d", "%04d-%02d-%02d %02d:%02d", "%02d/%02d/%04d",
        "%04d%02d%02d", "%02d:%02d", "%04d-%02d-%02dT%02d:%02d:00")
    } yield {
      val args: Seq[Any] = shape match {
        case "%02d/%02d/%04d" => Seq(m, d, y)
        case "%02d:%02d" => Seq(h, mi)
        case _ => Seq(y, m, d, h, mi)
      }
      shape.format(args.take(shape.count(_ == '%')): _*)
    }
    val noise = Gen.listOf(Gen.oneOf("0123456789-/:., TAPMJanDecZ".toSeq)).map(_.mkString)
    val input = Gen.frequency(4 -> rendered, 3 -> fields, 2 -> noise, 1 -> Gen.asciiPrintableStr)
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(5000),
      Prop.forAll(input)(s => parseTemporal(s) == exceptionPath(s)))
    assert(r.passed, r.status)
  }
}
