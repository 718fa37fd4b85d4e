package graft

import org.apache.spark.sql.types._

/** Schema contract for the driver-generated testdata.
  *
  * The testdata directory can be regenerated under the engine between
  * rounds (it happened in round 6: `events.ts` silently changed from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and 29 queries died at bench
  * time). This spec pins the column names and types every operator
  * family assumes, reading the RAW parquet footers — so a drift fails
  * here in seconds with the drifted table/column named, instead of as
  * dozens of opaque analysis errors downstream.
  *
  * Two layers:
  *  1. raw scans — what the files physically contain (with the known
  *     accepted variants, e.g. events.ts as long-nanos OR timestamp);
  *  2. the [[Tables]] loader contract — the normalized schema the rest
  *     of the engine programs against (e.g. events always exposes both
  *     `ts: timestamp` and `ts_ns: long`).
  */
class SchemaContractSpec extends SparkSpec {

  /** The accepted raw types per table live in [[Tables.contract]], which
    * `Tables` also enforces at every call; these tests scan the files
    * themselves, independently of that resolution path. */
  for (table <- Tables.contract.keys.toSeq.sorted) {
    test(s"raw $table.parquet matches the testdata contract") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val actual = spark.read.parquet(s"$sf/$table.parquet").schema
      val drift = Tables.describeDrift(table, actual)
      val fatal = drift.filterNot(_.contains("informational"))
      assert(fatal.isEmpty,
        s"\nTESTDATA SCHEMA DRIFT in $table.parquet:\n  " + drift.mkString("\n  ") +
          s"\n  actual schema: ${actual.simpleString}")
    }
  }

  test("Tables.events normalizes to the engine contract: ts timestamp + ts_ns long") {
    val ev = Tables.events(spark, sf)
    val types = ev.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types.get("ts").contains(TimestampType),
      s"events.ts must normalize to TimestampType, got ${types.get("ts")}")
    assert(types.get("ts_ns").contains(LongType),
      s"events.ts_ns must normalize to LongType, got ${types.get("ts_ns")}")
    // ts and ts_ns must agree: ts_ns is exact epoch nanos of ts.
    val bad = ev.selectExpr("count(*) as n")
      .union(ev.filter("unix_micros(ts) * 1000 != ts_ns").selectExpr("-count(*) as n"))
      .collect().map(_.getLong(0))
    assert(bad(1) == 0L, s"ts/ts_ns disagree on ${-bad(1)} of ${bad(0)} rows")
  }

  test("Tables loaders expose every contract column (pruning-safe reads)") {
    val loaders: Map[String, org.apache.spark.sql.DataFrame] = Map(
      "region"     -> Tables.region(spark, sf),
      "nation"     -> Tables.nation(spark, sf),
      "customer"   -> Tables.customer(spark, sf),
      "supplier"   -> Tables.supplier(spark, sf),
      "part"       -> Tables.part(spark, sf),
      "orders"     -> Tables.orders(spark, sf),
      "lineitem"   -> Tables.lineitem(spark, sf),
      "documents"  -> Tables.documents(spark, sf),
      "embeddings" -> Tables.embeddings(spark, sf)
    )
    for ((name, df) <- loaders; (col, _) <- Tables.contract(name)) {
      assert(df.columns.contains(col), s"Tables.$name lost contract column $col")
    }
  }
}
