package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", -0.5))
  private def fp(rs: Seq[(Long, String, Double)]): String = {
    import spark.implicits._
    Fingerprint.of(rs.toDF("id", "name", "x"))
  }

  test("the fingerprint ignores row order") {
    assert(fp(rows) == fp(rows.reverse))
  }

  test("the fingerprint catches a changed cell") {
    assert(fp(rows) != fp(rows.updated(1, (2L, "b", 2.5000001))))
    assert(fp(rows) != fp(rows.updated(2, (3L, "C", -0.5))))
  }

  test("the fingerprint catches a dropped row") {
    assert(fp(rows) != fp(rows.dropRight(1)))
  }

  test("the fingerprint catches a duplicated row") {
    assert(fp(rows) != fp(rows :+ rows.head))
  }

  test("the fingerprint covers the schema and survives extreme hashes") {
    import spark.implicits._
    val df = rows.toDF("id", "name", "x")
    assert(Fingerprint.of(df) != Fingerprint.of(df.withColumnRenamed("x", "y")))
    // enough rows that a plain 64-bit sum of hashes would overflow under ANSI
    val many = spark.range(0, 200000).selectExpr("id", "id * 7 AS v", "map(id, 'x') AS m")
    assert(Fingerprint.of(many) == Fingerprint.of(many.orderBy($"id".desc)))
  }
}
