package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.plans.Persists
import graft.tools.Harness

/** The measurement mains' shared core. `Harness.session` is not exercised
  * here: `getOrCreate` would rewrite the shared test session's confs. */
class HarnessSpec extends SparkSpec {

  test("timed returns the body's value and leaves no persisted blocks") {
    Persists.releaseAll(spark)
    val (n, sec) = Harness.timed(spark) {
      val n = spark.range(1000).toDF("x").persist().count()
      assert(Persists.livePersistedRdds(spark) === 1)
      n
    }
    assert(n === 1000L && sec >= 0.0)
    assert(Persists.livePersistedRdds(spark) === 0)
  }

  test("timed releases the blocks of a body that throws, and the exception propagates") {
    Persists.releaseAll(spark)
    val e = intercept[IllegalStateException] {
      Harness.timed(spark) {
        spark.range(1000).toDF("x").persist().count()
        assert(Persists.livePersistedRdds(spark) === 1)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(Persists.livePersistedRdds(spark) === 0)
  }

  test("jsonString round-trips through Jackson: every oracle SQL and every control character") {
    val om = new ObjectMapper()
    val controls = (0 until 0x20).map(_.toChar).mkString + "\"\\ é end"
    (SparkEntry.oracleSql.values.toSeq :+ controls).foreach { s =>
      assert(om.readValue(Harness.jsonString(s), classOf[String]) === s)
    }
    // oracle_sql.json's byte format: short escapes for \n \r \t, \u00XX
    // for the other control characters
    assert(Harness.jsonString("a\n\r\t\u0001\"\\") === "\"a\\n\\r\\t\\u0001\\\"\\\\\"")
  }
}
