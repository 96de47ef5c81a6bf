package graft

import org.apache.spark.sql.types._

/** Contract pins on the driver-generated testdata schemas.
  *
  * Round 6 lost 26 queries to a silent testdata regeneration: the
  * driver re-wrote events.parquet with `ts` as TIMESTAMP(MICROS) where
  * the loader assumed TIMESTAMP(NANOS), and the first symptom was 26
  * opaque analysis errors deep inside query plans. This suite makes
  * the NEXT drift fail here first, loudly, with the table and column
  * named — one assertion per table over names + accepted types, plus
  * the `ts` alternatives [[Tables.events]] actually dispatches on.
  */
class SchemaContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** name → accepted Spark types (any-of). */
  private type Contract = Seq[(String, Seq[DataType])]

  private def embArray: Seq[DataType] =
    Seq(ArrayType(FloatType, containsNull = true),
      ArrayType(FloatType, containsNull = false),
      ArrayType(DoubleType, containsNull = true),
      ArrayType(DoubleType, containsNull = false))

  private val intKey = Seq(LongType, IntegerType)
  private val dateish = Seq(DateType, TimestampType, TimestampNTZType, StringType)

  private val contracts: Map[String, Contract] = Map(
    "region" -> Seq("r_regionkey" -> intKey, "r_name" -> Seq(StringType)),
    "nation" -> Seq("n_nationkey" -> intKey, "n_name" -> Seq(StringType),
      "n_regionkey" -> intKey),
    "customer" -> Seq("c_custkey" -> intKey, "c_name" -> Seq(StringType),
      "c_nationkey" -> intKey, "c_acctbal" -> Seq(DoubleType),
      "c_mktsegment" -> Seq(StringType)),
    "supplier" -> Seq("s_suppkey" -> intKey, "s_name" -> Seq(StringType),
      "s_nationkey" -> intKey, "s_acctbal" -> Seq(DoubleType)),
    "part" -> Seq("p_partkey" -> intKey, "p_name" -> Seq(StringType),
      "p_brand" -> Seq(StringType), "p_type" -> Seq(StringType),
      "p_size" -> intKey, "p_retailprice" -> Seq(DoubleType)),
    "orders" -> Seq("o_orderkey" -> intKey, "o_custkey" -> intKey,
      "o_orderstatus" -> Seq(StringType), "o_totalprice" -> Seq(DoubleType),
      "o_orderdate" -> dateish, "o_orderpriority" -> Seq(StringType)),
    "lineitem" -> Seq("l_orderkey" -> intKey, "l_partkey" -> intKey,
      "l_suppkey" -> intKey, "l_linenumber" -> intKey,
      "l_quantity" -> Seq(DoubleType, LongType, IntegerType),
      "l_extendedprice" -> Seq(DoubleType), "l_discount" -> Seq(DoubleType),
      "l_tax" -> Seq(DoubleType), "l_returnflag" -> Seq(StringType),
      "l_linestatus" -> Seq(StringType), "l_shipdate" -> dateish),
    "events" -> Seq("event_id" -> intKey,
      // the r6 drift: NANOS (surfaced as LongType via nanosAsLong),
      // MICROS-ntz, or adjusted-to-UTC micros — exactly the set
      // Tables.events dispatches on
      "ts" -> Seq(LongType, TimestampNTZType, TimestampType),
      "user_id" -> intKey, "event_type" -> Seq(StringType),
      "value" -> Seq(DoubleType), "props" -> Seq(StringType)),
    "documents" -> Seq("doc_id" -> intKey, "source" -> Seq(StringType),
      "lang" -> Seq(StringType), "text" -> Seq(StringType),
      "n_chars" -> intKey),
    "embeddings" -> Seq("vec_id" -> intKey, "embedding" -> embArray,
      "label" -> intKey),
  )

  for (table <- Tables.all) {
    test(s"testdata contract: $table") {
      // raw footer schema via the generic loader — the same inference
      // every query path goes through (events included: the contract
      // is on what the FILE says, before the loader's dispatch)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = Tables.load(spark, dir, table).schema
      val contract = contracts(table)
      val missing = contract.map(_._1).filterNot(schema.fieldNames.contains)
      assert(missing.isEmpty,
        s"TESTDATA DRIFT [$table]: columns $missing missing from " +
          s"${schema.fieldNames.mkString("[", ", ", "]")} — the driver's " +
          "testdata generator changed shape; update loaders AND this contract")
      contract.foreach { case (name, accepted) =>
        val actual = schema(name).dataType
        assert(accepted.contains(actual),
          s"TESTDATA DRIFT [$table.$name]: type $actual not in accepted " +
            s"${accepted.mkString("{", ", ", "}")} — the driver's testdata " +
            "generator changed encodings (r6 lost 26 queries to exactly " +
            "this); fix the loader dispatch, then widen this contract")
      }
    }
  }

  test("events loader surfaces TimestampType for every accepted ts encoding") {
    // whatever the current generation stores, downstream code gets µs
    // TimestampType — the single type every events query is written
    // against
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType,
      s"events loader must normalize ts to TimestampType, got ${df.schema("ts").dataType}")
    assert(df.limit(1).count() === 1L)
  }

  test("events loader names the drift on an unsupported ts type") {
    // an intentional type flip in a temp fixture must produce the
    // NAMED error, not 26 downstream analysis failures
    val tmp = tempDir("graft-drift")
    spark.range(3).selectExpr("id AS event_id", "CAST(id AS STRING) AS ts",
        "id AS user_id", "'x' AS event_type", "CAST(id AS DOUBLE) AS value",
        "'{}' AS props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, tmp))
    assert(e.getMessage.contains("events.ts"), e.getMessage)
    assert(e.getMessage.contains("drifted"), e.getMessage)
  }
}
