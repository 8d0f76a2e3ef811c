package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tier: the scoped-conf helper every temporary conf pin uses. */
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
}
