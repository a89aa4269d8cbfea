package graft

import org.scalatest.funsuite.AnyFunSuite

/** spark.sql.extensions=graft.GraftExtensions must make the function
  * library SQL-callable in a session that never ran registerAll. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extension-injected functions are SQL-callable without registerAll") {
    // newSession() builds a FRESH session state (empty temp-function
    // registry) from the same context+extensions: anything resolvable
    // there came from GraftExtensions injection, not from any
    // registerAll a sibling suite may have run
    val fresh = SparkTestSession.spark.newSession()
    val r = fresh.sql(
      "SELECT strip('\"q\"') AS s, parse_date('01-FEB-19') AS d, " +
        "simhash('a b c') AS h, size(minhash_signature('a b c d')) AS m")
      .collect().head
    assert(r.getString(0) === "q")
    assert(r.getDate(1).toString === "2019-02-01")
    assert(r.getLong(2) === graft.functions.SimHash.simhash(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    assert(r.getInt(3) === graft.functions.MinHash.NumPerms)
  }

  test("injected builders construct resolvable expressions") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ts = graft.functions.ParseTimestampExpr(Literal("20190101013449+0000"))
    assert(ts.eval(null) === 1546306489000000L) // 2019-01-01T01:34:49Z micros
    val d = graft.functions.ParseDateExpr(Literal("01-FEB-19"))
    assert(d.eval(null) === java.time.LocalDate.of(2019, 2, 1).toEpochDay.toInt)
  }
}
