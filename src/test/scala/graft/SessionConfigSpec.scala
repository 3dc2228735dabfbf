package graft

/** The spec session runs the shipped session config, not a copy of it. */
class SessionConfigSpec extends SparkSpec {

  test("spec session carries tunedBuilder's object-hash-aggregate fallback threshold") {
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      GraftSession.objAggFallbackKeys(4).toString)
  }
}
