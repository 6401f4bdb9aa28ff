package graft

/** [[Plans.render]], the plan dump behind `PLANS.md`, on sf0.001. */
class PlansSpec extends SparkSpec {
  private val dir = SparkEntry.SmallestSfDir

  test("render gives each named query exactly one plan section") {
    val names = Seq("q01_projection", "td01_token_stats")
    val md = Plans.render(spark, dir, names, exec = false)
    for (name <- names)
      assert(s"(?m)^## $name$$".r.findAllMatchIn(md).size === 1, name)
    assert("(?m)^## ".r.findAllMatchIn(md).size === names.size)
    assert(!md.contains("NOT PLANNED"))
  }

  test("an unknown name is rejected before any query is planned") {
    // every builder reads its tables through Tables.table, which
    // registers the native functions on the session: a fresh session
    // without them has planned no query
    val s = spark.newSession()
    val e = intercept[IllegalArgumentException](
      Plans.render(s, dir, Seq("q01_projection", "q00_no_such_query"), exec = true))
    assert(e.getMessage.contains("q00_no_such_query"))
    assert(!e.getMessage.contains("q01_projection"))
    assert(!s.catalog.functionExists("vec_dot"))
    Plans.render(s, dir, Seq("q01_projection"), exec = false)
    assert(s.catalog.functionExists("vec_dot"), "planning registers them")
  }
}
