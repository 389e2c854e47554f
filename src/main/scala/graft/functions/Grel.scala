package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The reference's GREL string-function surface
  * (/root/reference .../GRELFunctions.java, ~690 LoC of null-safe wrappers
  * over io.fno.grel.StringFunctions) as Spark `Column` functions. Spark's
  * builtins are already null-in → null-out, so the wrappers collapse to the
  * codegen'd functions themselves; only the handful with no builtin
  * equivalent get expression compositions.
  */
object Grel {
  def strLength(c: Column): Column = length(c)                    // :42-48
  def containsCol(c: Column, p: String): Column = c.contains(p)   // :98-112
  def toUppercase(c: Column): Column = upper(c)                   // :133-143

  /** chomp — :192-204: strip one trailing occurrence of `sep`. */
  def chomp(c: Column, sep: String): Column =
    regexp_replace(c, java.util.regex.Pattern.quote(sep) + "$", "")

  /** substring/slice — :216-290 (GREL is 0-based; Spark substring 1-based). */
  def slice(c: Column, from: Int, until: Int): Column =
    substring(c, from + 1, math.max(0, until - from))

  /** get — :292-314: single char at 0-based index. */
  def getChar(c: Column, idx: Int): Column = substring(c, idx + 1, 1)

  /** indexOf / lastIndexOf — :323-347 (0-based; -1 when absent). */
  def indexOfCol(c: Column, sub: String): Column = instr(c, sub) - 1
  def lastIndexOfCol(c: Column, sub: String): Column =
    when(instr(c, sub) === 0, lit(-1))
      .otherwise(length(c) - length(substring_index(c, sub, -1)) - lit(sub.length))

  def replaceCol(c: Column, find: String, repl: String): Column =  // :358-377
    regexp_replace(c, java.util.regex.Pattern.quote(find),
      java.util.regex.Matcher.quoteReplacement(repl))
  def replaceChars(c: Column, from: String, to: String): Column =  // :379-391
    translate(c, from, to)

  /** toNumber — :415-421. */
  def toNumber(c: Column): Column = c.try_cast(DoubleType)

  /** partition — :511-546: (before, sep, after) around the FIRST occurrence;
    * (whole, null, null) when absent.
    */
  def partitionParts(c: Column, sep: String): (Column, Column, Column) = {
    val pos = instr(c, sep)
    val before = when(pos === 0, c).otherwise(substring(c, lit(1), pos - 1))
    val sepC = when(pos === 0, lit(null).cast("string")).otherwise(lit(sep))
    val after = when(pos === 0, lit(null).cast("string"))
      .otherwise(substring(c, pos + sep.length, lit(Int.MaxValue)))
    (before, sepC, after)
  }

  def md5Col(c: Column): Column = md5(c)                           // :631-640

  /** strip — GREL alias of trim (python-style name). */
  def strip(c: Column): Column = trim(c)

  /** rpartition — :548-578: (before, sep, after) around the LAST occurrence;
    * (whole, null, null) when absent (same convention as [[partitionParts]]).
    */
  def rpartitionParts(c: Column, sep: String): (Column, Column, Column) = {
    val lastIdx = lastIndexOfCol(c, sep) // 0-based; -1 when absent
    val before = when(lastIdx === -1, c).otherwise(substring(c, lit(1), lastIdx))
    val sepC = when(lastIdx === -1, lit(null).cast("string")).otherwise(lit(sep))
    val after = when(lastIdx === -1, lit(null).cast("string"))
      .otherwise(substring(c, lastIdx + lit(sep.length + 1), lit(Int.MaxValue)))
    (before, sepC, after)
  }

  /** smartSplit — :471-499: split by `sep` (or guess tab-vs-comma when
    * absent), ignoring separators inside double quotes. The quote handling is
    * a lookahead regex (separator followed by an EVEN number of quotes to the
    * end) — correct for balanced-quote inputs, fully codegen'd.
    */
  def smartSplit(c: Column, sep: Option[String] = None): Column = {
    def rx(s: String) =
      java.util.regex.Pattern.quote(s) + "(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)"
    sep match {
      case Some(s) => split(c, rx(s))
      case None =>
        when(c.contains("\t"), split(c, rx("\t"))).otherwise(split(c, rx(",")))
    }
  }

  /** escape — :602-612: modes html | xml | csv | url | javascript. The
    * html/xml/javascript modes delegate to commons-text — the reference's
    * OWN backend (GRELFunctions.java:608 → io.fno.grel → StringEscapeUtils),
    * so the full HTML4 entity table and ecmascript \uXXXX escaping match
    * exactly; csv and url stay Column-native (identical semantics:
    * escapeCsv's wrap-and-double rule, URLEncoder == url_encode).
    */
  def escapeCol(c: Column, mode: String): Column = mode match {
    case "html" | "xml" | "javascript" =>
      graft.functions.expressions.EscapeTextExpr.escapeCol(c, mode)
    case "csv" =>
      when(c.rlike("[\",\n\r]"),
        concat(lit("\""), replaceCol(c, "\"", "\"\""), lit("\"")))
        .otherwise(c)
    case "url" => url_encode(c)
    case other => throw new IllegalArgumentException(s"unknown escape mode: $other")
  }

  /** unescape — :614-623: inverse of [[escapeCol]] per mode; html/xml decode
    * the full named + numeric entity tables via commons-text (reference
    * backend). NB html4 deliberately does NOT decode `&apos;` (not an HTML4
    * entity) — xml does.
    */
  def unescapeCol(c: Column, mode: String): Column = mode match {
    case "html" | "xml" =>
      graft.functions.expressions.EscapeTextExpr.unescapeCol(c, mode)
    case "csv" =>
      // (?s): the quoted content may contain newlines — that is precisely
      // what CSV quoting exists for; without DOTALL the guard regex fails
      // on them and the quotes are never stripped.
      when(c.rlike("(?s)^\".*\"$"),
        replaceCol(regexp_replace(c, "^\"|\"$", ""), "\"\"", "\""))
        .otherwise(c)
    case "url" => url_decode(c)
    case "javascript" =>
      // Decoding needs ONE left-to-right pass: chained replaces read the
      // tail byte of an escaped backslash as the start of "\n", and a
      // sentinel workaround corrupts inputs that carry the sentinel. A
      // codegen'd linear-scan decoder has neither failure mode.
      graft.functions.expressions.PhoneticExpr.unescapeJsCol(c)
    case other => throw new IllegalArgumentException(s"unknown escape mode: $other")
  }

  /** splitByLengths — :448-462: consume the string in fixed-size pieces;
    * characters past the last length are dropped (GREL semantics).
    */
  def splitByLengths(c: Column, lengths: Int*): Column = {
    val offsets = lengths.scanLeft(0)(_ + _)
    array(lengths.indices.map(i =>
      substring(c, offsets(i) + 1, lengths(i))): _*)
  }

  /** splitByCharType — :482-499: split into runs of the same character
    * TYPE via commons-lang3 (the reference's backend): uppercase and
    * lowercase are distinct types, so "HenryCTaylor" → [H, enry, CT,
    * aylor] — a regex letter-run class cannot express that.
    */
  def splitByCharType(c: Column): Column =
    graft.functions.expressions.LangExprs.splitByCharTypeCol(c)

  /** phonetic — :655-670: soundex | metaphone | doublemetaphone | cologne
    * (commons-codec encoders from Spark's own classpath, wrapped in a
    * codegen'd expression — see [[graft.functions.expressions.PhoneticExpr]]).
    */
  def phoneticCol(c: Column, mode: String): Column =
    graft.functions.expressions.PhoneticExpr.phoneticCol(c, mode)

  /** reinterpret — :673-683: round-trip the string through `charset`,
    * replacing characters the charset cannot represent with '?' (Java
    * String.getBytes semantics, what OpenRefine does). Spark's builtin
    * encode() is strict on unmappable input — wrong contract — so this is a
    * codegen'd expression over any JVM charset.
    */
  def reinterpret(c: Column, charset: String): Column =
    graft.functions.expressions.PhoneticExpr.reinterpretCol(c, charset)

  /** unicode — :685-690: per-character code points. `split(c, "")` yields
    * Java-char granularity (surrogate pairs appear as two code units),
    * matching the reference's char-wise StringFunctions.unicode.
    */
  def unicodeCol(c: Column): Column =
    transform(filter(split(c, ""), ch => length(ch) > 0), ch => ascii(ch))

  /** diff — :588-593 (string variant): the suffix of `b` from the first
    * position where it diverges from `a`; "" (not null) when equal —
    * commons-lang3 StringUtils.difference, the reference's backend.
    */
  def diffCol(a: Column, b: Column): Column =
    graft.functions.expressions.LangExprs.diffCol(a, b)
}
