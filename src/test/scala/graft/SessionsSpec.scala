package graft

/** The shared test session is built by the mains' factory, so the suite
  * checks the confs the bench and the oracle run under. */
class SessionsSpec extends SparkFunSuite {

  test("the shared test session carries the factory's confs") {
    val conf = spark.conf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("build applies extra confs and returns the running session") {
    val key = "spark.graft.sessions.spec"
    try {
      val first = Sessions.build("graft-test", cpus = 4, extra = Map(key -> "on"))
      assert(first.conf.get(key) == "on")
      val second = Sessions.build("graft-test", cpus = 4)
      assert(second eq first)
      assert(second eq spark)
    } finally {
      spark.conf.unset(key)
      // build sets WARN; the suite logs at SparkTestBase's level
      spark.sparkContext.setLogLevel("ERROR")
    }
  }
}
