package graft

import graft.sql.GraftSqlParser

/** The builder-time extension path: `newSession()` re-applies the
  * builder's [[graft.functions.GraftExtensions]] but none of the shared
  * session's runtime registrations (`GraftFunctions.register`), so what
  * the new session resolves here came from the extensions alone. */
class ExtensionsSpec extends SparkSpec {
  test("a new session gets the native SQL functions and the txlog SQL parser") {
    val s = SparkTestSession.get.newSession()
    val d = s.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head().getDouble(0)
    assert(d == 11.0)
    assert(s.sessionState.sqlParser.isInstanceOf[GraftSqlParser])
  }
}
