package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's cleaning stage (reference src/transform.py:70-95) as
  * pure Catalyst column expressions — no UDFs, so every step stays
  * inside whole-stage codegen. Order mirrors transform_data:
  * null-key filter → keep-first dedup → numeric size extract → price
  * normalize/parse → coercing int casts, plus the badge tokenizer from
  * the extract stage (reference src/extract.py:75-88). The scalar rules
  * are `Column` values applied in ONE projection, so a region-run pays
  * one analysis of the cleaned plan instead of one per rewritten column.
  *
  * Pandas-vs-Spark parity decisions (SURVEY.md §7 risk list):
  *  - `str.extract` yields NaN on no-match; `regexp_extract` yields ""
  *    — `try_cast` maps both to NULL, matching the observed end state.
  *  - `parse_price` returns the input string unchanged when no unit
  *    matches (reference src/transform.py:25-43); the observed
  *    end-to-end result after `.astype("Int64")` is numeric-or-NULL →
  *    encoded as `try_cast(... as double)`.
  *  - keep-first dedup (`drop_duplicates`, src/transform.py:11) needs an
  *    explicit order in a distributed engine → `ingest_order` column +
  *    row_number window. At 100 TB this is a single shuffle on the key;
  *    the window keeps one row per key with no driver involvement.
  */
object Transform {

  /** Null-key filter (F1, reference src/transform.py:8). */
  def dropNullKeys(df: DataFrame): DataFrame = df.filter(col("link").isNotNull)

  /** Keep-first dedup by link (D1, reference src/transform.py:11). */
  def dedupKeepFirst(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("link")).orderBy(col("ingest_order"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Price normalize + unit parse (P2-P4, reference src/transform.py:25-53).
    * Indonesian units: triliun=1e12, miliar=1e9, juta=1e6, ribu=1e3;
    * comma is the decimal separator; bare numbers pass through;
    * unparseable → NULL. */
  val price: Column = {
    val s = trim(regexp_replace(regexp_replace(lower(col("price_rp")), "rp ", ""), ",", "."))
    def scaled(unit: String, scale: Long) =
      replace(s, lit(s" $unit"), lit("")).try_cast("double") * scale
    val d = when(s.isNull, lit(null))
      .when(s.contains("triliun"), scaled("triliun", 1000000000000L))
      .when(s.contains("miliar"), scaled("miliar", 1000000000L))
      .when(s.contains("juta"), scaled("juta", 1000000L))
      .when(s.contains("ribu"), scaled("ribu", 1000L))
      .otherwise(s.try_cast("double"))
    // FLOOR(x+0.5), not ROUND: same half-up result for these
    // non-negative prices, but pure IEEE ops (Spark's ROUND on
    // doubles allocates a BigDecimal per row and can disagree with
    // other engines on boundary-adjacent doubles)
    floor(d + 0.5).cast("bigint")
  }

  /** Numeric size extract (P1, reference src/transform.py:16-22): the
    * first digit run of a size string, coerced like P5. */
  def sizeOf(c: String): Column = regexp_extract(col(c), "(\\d+)", 1).try_cast("int")

  /** Coercing int cast (P5, reference src/transform.py:56-67): '10+',
    * words and NULL become NULL. */
  def intOf(c: String): Column = col(c).try_cast("int")

  /** Badge tokenizer (P6, reference src/extract.py:75-88): 4-regex
    * boundary splitting, normalize separators, strip, drop the first
    * token (the property type). Output is the ', '-joined feature
    * string (the reference's CSV-interchange shape, SURVEY.md §1).
    * The reference's first regex uses a lookbehind; the capture-group
    * form here is match-for-match equivalent and RE2-portable for the
    * oracle. */
  val additionalFeatures: Column = {
    val norm = regexp_replace(regexp_replace(regexp_replace(regexp_replace(col("badge"),
      "([a-z])([A-Z])", "$1, $2"),
      "([A-Z]{2,})([A-Z][a-z])", "$1, $2"),
      "([^\\w\\s])([A-Za-z])", "$1, $2"),
      "\\s*,\\s*", ", ")
    val stripped = regexp_replace(norm, "^[, ]+|[, ]+$", "")
    regexp_replace(stripped, "^[^,]*(, )?", "")
  }

  /** Full transform_data chain in the reference's order. */
  def transform(raw: DataFrame): DataFrame =
    dedupKeepFirst(dropNullKeys(raw)).select(
      col("ingest_order"), col("link"), col("name"), price.as("price_rp"),
      col("location"), sizeOf("lot_size").as("lot_size"),
      sizeOf("building_size").as("building_size"),
      intOf("n_bedroom").as("n_bedroom"), intOf("n_bathroom").as("n_bathroom"),
      intOf("n_carport").as("n_carport"),
      additionalFeatures.as("additional_features"), col("ads_type"), col("property_type"))
}
