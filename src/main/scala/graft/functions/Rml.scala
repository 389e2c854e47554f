package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The reference's RML-invocable FNO function registry
  * (/root/reference .../RmlFunctions.java, ~290 LoC) re-expressed as pure
  * Spark `Column` functions — every one stays inside whole-stage codegen
  * (no UDFs, no serialization breaks).
  */
object Rml {

  /** urn:today — RmlFunctions.java:40-50. */
  def today(): Column = current_date()

  /** urn:epochTimeToDateTime — RmlFunctions.java:59-90: epoch millis, or one
    * of several literal formats; first successful parse wins; null-safe.
    */
  def epochTimeToDateTime(c: Column): Column = coalesce(
    when(c.rlike("^-?\\d{10,}$"),
      timestamp_millis(c.cast("long"))),
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
    try_to_timestamp(c, lit("yyyy-MM-dd")))

  /** urn:generateHashedIRI — RmlFunctions.java:101-125: sha256 of '_'-joined
    * params, prefixed; null params skipped by concat_ws (same semantics).
    */
  def generateHashedIri(prefix: String, parts: Column*): Column =
    concat(lit(prefix), sha2(concat_ws("_", parts: _*), 256))

  /** urn:normalizeDate — RmlFunctions.java:138-161: pad partial ISO dates
    * (yyyy → yyyy-01-01, yyyy-MM → yyyy-MM-01, yyyyMMdd → ISO); passthrough
    * otherwise.
    */
  def normalizeDate(c: Column): Column =
    when(c.rlike("^\\d{4}$"), concat(c, lit("-01-01")))
      .when(c.rlike("^\\d{4}-\\d{2}$"), concat(c, lit("-01")))
      .when(c.rlike("^\\d{8}$"),
        concat(substring(c, 1, 4), lit("-"), substring(c, 5, 2), lit("-"), substring(c, 7, 2)))
      .otherwise(c)

  /** urn:normalizeUNIXDate — RmlFunctions.java:169-188: days since epoch → date. */
  def normalizeUnixDate(days: Column): Column =
    date_add(to_date(lit("1970-01-01")), days.cast("int"))

  /** urn:generateIRIWithSplit — RmlFunctions.java:231-271: split each element
    * on `sep`, trim, prefix, flatten (the reference's flatMap).
    */
  def generateIriWithSplit(arr: Column, sep: String, prefix: String): Column =
    flatten(transform(arr, x =>
      transform(split(x, java.util.regex.Pattern.quote(sep)),
        p => concat(lit(prefix), trim(p)))))

  // --- XSD validation modes (ValidatingValueFactoryWithPlaceholder.java:35-109,
  // ValidatingValueFactoryWithFallback.java:30-58, MappingManager.java:217-251) ---

  /** validateAndFallbackToPlaceholder: invalid cast → typed placeholder. */
  def castWithPlaceholder(c: Column, to: DataType, placeholder: Any): Column =
    coalesce(c.try_cast(to), lit(placeholder).cast(to))

  /** validateAndFallbackToString: cast if valid, else keep the raw string. */
  def castWithStringFallback(c: Column, to: DataType): Column =
    coalesce(c.try_cast(to).cast("string"), c.cast("string"))

  /** noValidation / validateAndFail are plain `cast` under non-ANSI / ANSI. */
  def castStrict(c: Column, to: DataType): Column = c.cast(to)
}
