package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tier: conf pins stay scoped — withConf's, and q88's recursion
  * limit, which rides a GraftSession.sibling. */
class GraftSessionSpec extends AnyFunSuite {

  test("withConf restores the previous value or unsets the key, also on throw") {
    val s = SparkSpec.spark.newSession()
    val key = "spark.graft.test.withConf"
    def boom(): Nothing = throw new IllegalStateException("boom")

    assert(s.conf.getOption(key).isEmpty)
    intercept[IllegalStateException](GraftSession.withConf(s, key, "inner") {
      assert(s.conf.get(key) == "inner")
      boom()
    })
    assert(s.conf.getOption(key).isEmpty, "a key absent before must be unset again")

    s.conf.set(key, "outer")
    intercept[IllegalStateException](GraftSession.withConf(s, key, "inner")(boom()))
    assert(s.conf.get(key) == "outer", "a thrown body must restore the previous value")
    assert(GraftSession.withConf(s, key, "inner")(s.conf.get(key)) == "inner")
    assert(s.conf.get(key) == "outer")
  }

  test("q88 keeps its recursion row limit off the caller's session") {
    val s = SparkSpec.spark.newSession()
    val key = "spark.sql.cteRecursionRowLimit"
    assert(!s.conf.getAll.contains(key))
    val rows = SparkEntry.queries("q88_recursive_order_chain")(
      s, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val leaked = s.conf.getAll.get(key)
    assert(leaked.isEmpty, s"q88 left $key=${leaked.orNull} on the caller's session")
  }
}
