package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Abc

/** The session every suite shares. A suite that kills the context
  * (an OOM, an explicit stop) fails on its own; the next caller gets a
  * fresh session instead of a stopped one, so one root cause stays one
  * red suite rather than every suite that runs after it.
  */
object TestSpark {
  private var live: SparkSession = _

  def spark: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped) live = build()
    live
  }

  private def build(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      s"${sys.props("java.io.tmpdir")}/graft-warehouse-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class AbcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fact(rows: (String, Double)*) =
    rows.toSeq.toDF("cliente", "valor_orcado")
      .selectExpr("cliente", "cliente AS nome_cliente", "'X' AS uf", "'Y' AS cidade", "valor_orcado")

  test("abc buckets follow the 80/95 cumulative-percent rule") {
    // c1=80%, c2=15%, c3=5% of 1000
    val abc = Abc.classify(fact("c1" -> 800.0, "c2" -> 150.0, "c3" -> 50.0))
      .select("cliente", "abc").as[(String, String)].collect().toMap
    assert(abc == Map("c1" -> "A", "c2" -> "B", "c3" -> "C"))
  }

  test("zero grand total puts every client in C (MAC:471-476 guard)") {
    val abc = Abc.classify(fact("c1" -> 0.0, "c2" -> 0.0))
      .select("cliente", "abc").as[(String, String)].collect().toMap
    assert(abc.values.toSet == Set("C"))
  }

  test("ranking is SQL RANK (min method): ties share a rank, next skips") {
    val r = Abc.classify(fact("a" -> 100.0, "b" -> 100.0, "c" -> 50.0))
      .select("cliente", "ranking").as[(String, Int)].collect().toMap
    assert(r == Map("a" -> 1, "b" -> 1, "c" -> 3))
  }

  test("percentual sums to ~100 and cumulative is monotone in rank order") {
    val rows = Abc.classify(fact((1 to 50).map(i => s"c$i" -> i * 7.0): _*))
      .select("percentual", "percentual_acumulado")
      .orderBy($"percentual_acumulado")
      .as[(Double, Double)].collect()
    assert(math.abs(rows.map(_._1).sum - 100.0) < 1e-9)
    assert(rows.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-9))
  }

  test("output client set equals input client set") {
    val in = (1 to 20).map(i => s"c$i" -> i * 3.0)
    val out = Abc.classify(fact(in: _*)).select("cliente").as[String].collect().toSet
    assert(out == in.map(_._1).toSet)
  }
}
