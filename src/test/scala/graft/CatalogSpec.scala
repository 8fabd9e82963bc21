package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The query catalog as a table: one entry per query holding its build,
  * its oracle SQL and its plan note. No Spark session: building the
  * table and its oracle text needs none.
  */
class CatalogSpec extends AnyFunSuite {

  test("oracle SQL golden: SHA-256 over the sorted (name, SQL) pairs") {
    // Pins the text of every oracle: an existing query's oracle is never
    // edited (a changed answer ships under a new query name).
    val md = MessageDigest.getInstance("SHA-256")
    for ((name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)) {
      md.update(name.getBytes(UTF_8)); md.update(0.toByte)
      md.update(sql.getBytes(UTF_8)); md.update(0.toByte)
    }
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(hex == "ab1207df35671cc6af67e54a9f93c17306557637b63c54fead7741a71658e4c1")
  }

  test("queries is built once: the same map on every access") {
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  test("queries and oracleSql name the same 108 queries") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 108)
  }

  test("every catalog entry carries a non-empty plan note") {
    val empty = SparkEntry.catalog.collect { case (name, q) if q.plan.trim.isEmpty => name }
    assert(empty.isEmpty, s"entries without a plan note: ${empty.mkString(", ")}")
  }
}
