package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Golden-row tests for the reference transform semantics
  * (reference src/transform.py, src/extract.py:75-88; FIXTURES.md A1). */
class TransformSpec extends SparkSpec {
  import spark.implicits._

  private def rawDf(rows: (Long, String, String)*) =
    rows.toSeq.toDF("ingest_order", "link", "price_rp")
      .withColumn("name", lit("n"))
      .withColumn("location", lit(""))
      .withColumn("lot_size", lit(null).cast("string"))
      .withColumn("building_size", lit(null).cast("string"))
      .withColumn("n_bedroom", lit(null).cast("string"))
      .withColumn("n_bathroom", lit(null).cast("string"))
      .withColumn("n_carport", lit(null).cast("string"))
      .withColumn("badge", lit("RumahCarportGarasi"))
      .withColumn("ads_type", lit("jual"))
      .withColumn("property_type", lit("rumah"))

  private def priceOf(raw: String): Option[Long] = {
    val out = Transform.transform(rawDf((1L, "l1", raw)))
      .select("price_rp").collect()
    Option(out(0).get(0)).map(_.asInstanceOf[Long])
  }

  test("price: '1,5 Miliar' unit with Indonesian decimal comma") {
    assert(priceOf("Rp 1,5 Miliar") === Some(1_500_000_000L))
  }
  test("price: triliun / juta / ribu units") {
    assert(priceOf("Rp 2 Triliun") === Some(2_000_000_000_000L))
    assert(priceOf("Rp 950 Juta") === Some(950_000_000L))
    assert(priceOf("Rp 500 Ribu") === Some(500_000L))
  }
  test("price: bare number passes through") {
    assert(priceOf("Rp 750000") === Some(750_000L))
  }
  test("price: garbage and NULL coerce to NULL") {
    assert(priceOf("Rp abc Miliar") === None)
    assert(priceOf(null) === None)
  }

  test("size extract: first digit run; no-digits and NULL become NULL") {
    val df = rawDf((1L, "l1", "Rp 1 Juta"))
      .withColumn("lot_size", lit("Tanah: 120"))
      .withColumn("building_size", lit("tidak ada angka"))
    val row = Transform.transform(df).select("lot_size", "building_size").collect()(0)
    assert(row.get(0) === 120)
    assert(row.get(1) === null)
  }

  test("dedup keeps first occurrence in ingest order") {
    val df = rawDf((5L, "dup", "Rp 1 Juta"), (2L, "dup", "Rp 2 Juta"), (9L, "other", "Rp 3 Juta"))
    val out = Transform.transform(df).select("link", "ingest_order")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out === Set(("dup", 2L), ("other", 9L)))
  }

  test("null links dropped") {
    val df = rawDf((1L, null, "Rp 1 Juta"), (2L, "keep", "Rp 1 Juta"))
    assert(Transform.transform(df).count() === 1)
  }

  test("badge tokenizer: camelCase split, first token dropped") {
    def feats(badge: String): String =
      Transform.transform(rawDf((1L, "l1", "Rp 1 Juta")).withColumn("badge", lit(badge)))
        .select("additional_features").collect()(0).getString(0)
    assert(feats("RumahCarportGarasi") === "Carport, Garasi")
    assert(feats("ApartemenKolam RenangAC") === "Kolam Renang, AC")
    assert(feats("KostWIFIDapur") === "WIFI, Dapur")
    assert(feats("Villa-Pool.Spa") === "Pool., Spa")
    assert(feats("Single") === "")
  }

  test("output schema is pinned: names, order, types and nullability") {
    val raw = Seq.empty[Extract.RawListing].toDF()
    val s = StringType
    val want = StructType(Seq(
      StructField("ingest_order", LongType, nullable = false),
      StructField("link", s), StructField("name", s),
      StructField("price_rp", LongType), StructField("location", s),
      StructField("lot_size", IntegerType), StructField("building_size", IntegerType),
      StructField("n_bedroom", IntegerType), StructField("n_bathroom", IntegerType),
      StructField("n_carport", IntegerType), StructField("additional_features", s),
      StructField("ads_type", s), StructField("property_type", s)))
    assert(Transform.transform(raw).schema === want)
  }

  test("coercing int casts: '10+' and words become NULL") {
    val df = rawDf((1L, "l1", "Rp 1 Juta"))
      .withColumn("n_bedroom", lit("10+"))
      .withColumn("n_bathroom", lit("dua"))
      .withColumn("n_carport", lit("2"))
    val row = Transform.transform(df)
      .select("n_bedroom", "n_bathroom", "n_carport").collect()(0)
    assert(row.get(0) === null)
    assert(row.get(1) === null)
    assert(row.get(2) === 2)
  }
}
