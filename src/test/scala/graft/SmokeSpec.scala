package graft

/** Driver t1 analogue: flagship entry on sf0.001 must return rows. */
class SmokeSpec extends SparkSpec {
  test("SparkEntry.entry returns rows on the smallest scale factor") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
  }

  test("hardened sessions align codegen fallback with the JIT huge-method limit") {
    // a generated stage method between 8 000 and 65 536 bytecodes is
    // never JIT'd (HotSpot DontCompileHugeMethods) but Spark's default
    // keeps it "codegen'd" — interpreted, measured 16× slower cold on
    // the 64-plane LSH signature build (see LocalSpark Scaladoc)
    assert(spark.conf.get("spark.sql.codegen.hugeMethodLimit") === "8000")
    // and the rest of GraftSession.builder's settings, on the shared
    // suite session it builds
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.network.timeout") === "3600s")
    assert(spark.conf.get("spark.executor.heartbeatInterval") === "60s")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "200")
  }
}
