package graft.operators

import graft.SparkSpec

class CategoryAnnSpec extends SparkSpec {

  test("in-filter ef widens by inverse coverage, bounded 4x") {
    assert(SearchParams.inFilterEf(100, 1.0) == 100)
    assert(SearchParams.inFilterEf(100, 0.5) == 200)
    assert(SearchParams.inFilterEf(100, 0.01) == 400)  // bounded 4×
  }

  test("GraftExtensions registers SQL functions (applied to the live session)") {
    org.apache.spark.sql.graft.ExprBridge
      .applyExtensionFunctions(spark, new graft.GraftExtensions)
    val r = spark.sql(
      "SELECT l2_sq(array(1.0F, 2.0F), array(1.0F, 4.0F)) d, " +
      "vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) p, " +
      "sq8_l2_sq(sq8_encode(array(1.0F, -2.0F), 2.0D), sq8_encode(array(-1.0F, 2.0F), 2.0D)) q").head
    assert(r.getDouble(0) == 4.0 && r.getDouble(1) == 11.0)
    // codes: [64, -127] vs [-64, 127] → 128² + 254² = 80900
    assert(r.getLong(2) == 80900L)
  }
}
