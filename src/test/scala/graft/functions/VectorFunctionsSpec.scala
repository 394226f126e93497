package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal

import graft.SparkTestBase

class VectorFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("float_dot/double_dot raise on dimension mismatch (no silent truncation)") {
    VectorFunctions.register(spark)
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorFunctions.dot($"a", $"b")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(_.contains("dimension mismatch"))),
      e.toString)
  }

  test("extension wiring registers; float_dot usable from plain SQL") {
    // the injectFunction wiring itself (what spark.sql.extensions would
    // invoke at session build):
    new graft.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
    // and the registered expression drives through the SQL surface:
    val s2 = spark.newSession()
    VectorFunctions.register(s2)
    s2.range(1).createOrReplaceTempView("one")
    val r = s2.sql(
      "SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d FROM one")
      .head.getDouble(0)
    assert(r === 11.0)
  }

  test("register skips a name the session already holds, and adds the missing ones") {
    val s2 = spark.newSession()
    s2.sessionState.functionRegistry.createOrReplaceTempFunction(
      "int_dot", _ => Literal(42L), "built-in")
    assert(!VectorFunctions.registered(s2, "int8_quantize"))
    VectorFunctions.register(s2)
    assert(VectorFunctions.registered(s2, "int8_quantize"))
    // the held definition is not replaced
    assert(s2.sql("SELECT int_dot(array(1), array(2)) AS d").head.getLong(0) === 42L)
  }
}
