package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Sources
import graft.schema.Schemas

/** SURVEY.md §7.5 hard part 1 (HALF_EVEN rounding parity with pandas)
  * and hard part 7 (CSV round-trip typing at the validated boundary). */
class RoundingSpec extends SparkSpec {
  import spark.implicits._

  test("bround is HALF_EVEN like numpy; round is HALF_UP — the engine uses bround") {
    val vals = Seq(2.345, 2.355, 2.5, 3.5, -2.345, 0.125).toDF("x")
      .select(bround($"x", 2).as("be"), round($"x", 2).as("hu"),
        bround($"x", 0).as("be0"))
      .collect()
    // 2.345 is stored as 2.34499999... so both modes give 2.34 — the
    // difference shows on exactly-representable ties:
    val be0 = vals.map(_.getDouble(2))
    assert(be0(2) == 2.0) // bround(2.5) → 2 (HALF_EVEN, matches numpy)
    assert(be0(3) == 4.0) // bround(3.5) → 4
    // 0.125 is exactly representable: HALF_EVEN → 0.12, HALF_UP → 0.13
    assert(vals(5).getDouble(0) == 0.12)
    assert(vals(5).getDouble(1) == 0.13)
  }

  test("validated layer round-trips through the CSV boundary with types intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csvrt").toString
    val raw = java.nio.file.Files.createTempDirectory("graft-csvrt-raw").toString
    graft.RawFixture.stage(raw)
    val orders = Sources.csvMulti(spark, s"$raw/orders", Schemas.orders)
    val validated = Validate.validateOrders(orders)
    // boundary write (the reference's Task-1 output is CSV)
    graft.io.Sinks.csv(validated.coalesce(1), s"$dir/orders")
    // schema-on-read restores the exact types (the reference re-infers and
    // gets strings for dates — SURVEY §1.4 keeps DateType end to end)
    val back = Sources.csv(spark, s"$dir/orders", Schemas.validatedOrders)
    assert(back.schema("order_date").dataType.typeName == "date")
    assert(back.count() == validated.count())
    val a = validated.select("order_id", "order_date", "return_date")
      .collect().map(r => (r.getLong(0), String.valueOf(r.get(1)), String.valueOf(r.get(2)))).sorted.toSeq
    val b = back.select("order_id", "order_date", "return_date")
      .collect().map(r => (r.getLong(0), String.valueOf(r.get(1)), String.valueOf(r.get(2)))).sorted.toSeq
    assert(a == b)
  }
}
