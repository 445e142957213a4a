package graft

/** SessionConf.scoped puts every key back exactly as it found it. */
class SessionConfSpec extends SparkSpec {

  private val unsetKey = "spark.sql.autoBroadcastJoinThreshold"
  private val presetKey = "spark.sql.parquet.pushdown.inFilterThreshold"

  /** A session with `presetKey` set and `unsetKey` not set. */
  private def session() = {
    val s = spark.newSession()
    s.conf.set(presetKey, "25")
    s
  }

  /** The two keys' explicitly set values (None = unset). */
  private def explicit(s: org.apache.spark.sql.SparkSession) = {
    val all = s.conf.getAll
    (all.get(unsetKey), all.get(presetKey))
  }

  test("scoped: an unset key is unset again and a preset key gets its value back") {
    val s = session()
    val before = s.conf.getAll
    assert(explicit(s) == ((None, Some("25"))))
    SessionConf.scoped(s, unsetKey -> "-1", presetKey -> "99") {
      assert(explicit(s) == ((Some("-1"), Some("99"))))
    }
    assert(explicit(s) == ((None, Some("25"))))
    assert(s.conf.getAll == before)
  }

  test("scoped: settings are restored when the body throws") {
    val s = session()
    val before = s.conf.getAll
    intercept[IllegalStateException] {
      SessionConf.scoped(s, unsetKey -> "-1", presetKey -> "99") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(explicit(s) == ((None, Some("25"))))
    assert(s.conf.getAll == before)
  }
}
