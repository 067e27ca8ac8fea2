package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Pins every registry oracle's SQL to a committed digest, so that a
  * refactor of the oracle builders that changes what DuckDB would run
  * fails in seconds, without a Spark session or a DuckDB replay.
  *
  * The digest is the SHA-256 of the SQL with every whitespace run
  * outside single-quoted literals collapsed to one space: shared
  * fragments may re-indent a query, but not change a token or a
  * literal. `src/test/resources/oracle_sql.sha256` holds one
  * `<query> <hex digest>` line per oracle, sorted by name.
  */
class OracleSqlSpec extends AnyFunSuite {
  import OracleSqlSpec._

  test("each oracle's whitespace-normalized SQL matches its committed digest") {
    val pinned = Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)
      .getLines().filter(_.nonEmpty).map { l =>
        val Array(name, hex) = l.split(' ')
        name -> hex
      }.toMap
    val actual = SparkEntry.oracleSql.map { case (k, sql) => k -> digest(sql) }
    assert(pinned.size == 258)
    val missing = (pinned.keySet -- actual.keySet).toSeq.sorted
    val extra = (actual.keySet -- pinned.keySet).toSeq.sorted
    assert(missing.isEmpty && extra.isEmpty,
      s"oracle key set drifted: missing ${missing.mkString(", ")}; new ${extra.mkString(", ")}")
    val drifted = actual.keys.toSeq.sorted.filter(k => actual(k) != pinned(k))
    assert(drifted.isEmpty,
      "oracle SQL drifted (new digest lines follow):\n" +
        drifted.map(k => s"$k ${actual(k)}").mkString("\n"))
  }

  test("normalization collapses whitespace outside literals only") {
    assert(normalize("SELECT  a,\n\t b FROM t") == "SELECT a, b FROM t")
    assert(normalize("WHERE s = 'a  b' AND t = 'it''s  x'  ") ==
      "WHERE s = 'a  b' AND t = 'it''s  x' ")
    assert(normalize("f(\n  x)") != normalize("f(x)"))
  }
}

object OracleSqlSpec {
  def normalize(sql: String): String = {
    val out = new StringBuilder
    var inLit = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') inLit = !inLit
      if (!inLit && c.isWhitespace) {
        out += ' '
        while (i + 1 < sql.length && sql.charAt(i + 1).isWhitespace) i += 1
      } else out += c
      i += 1
    }
    out.toString
  }

  def digest(sql: String): String =
    MessageDigest.getInstance("SHA-256").digest(normalize(sql).getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
