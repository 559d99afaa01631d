package graft

import graft.table.Bucketing
import graft.tables.Tables

/** Query entries and readers leave a user's session conf as they found
  * it: every key keeps its value, and a key the session never set stays
  * unset. */
class SessionConfSpec extends SparkSpec {

  private def unchangedBy(body: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val user = spark.newSession()
    // a user's session, not ours: the test factory sets this one
    user.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val conf0 = user.conf.getAll
    body(user)
    val now = user.conf.getAll
    val changed = (conf0.keySet ++ now.keySet).filter(k => conf0.get(k) != now.get(k))
    assert(changed.isEmpty, s"changed: ${changed.map(k => s"$k ${conf0.get(k)} -> ${now.get(k)}")}")
  }

  test("bucketed_join leaves the session conf identical") {
    unchangedBy(s => Bucketing.bucketedJoin(s, sf).collect())
  }

  test("reading documents leaves the session conf identical") {
    unchangedBy(s => Tables.documents(s, sf).collect())
  }

  test("reading events leaves the session conf identical") {
    unchangedBy(s => Tables.events(s, sf).collect())
  }
}
