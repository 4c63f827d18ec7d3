package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf0001 = "data/sf0.001"
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", "target/test-spark-local")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a key's fingerprint does not depend on row order or partitioning") {
    val df = thrivespark.Registry.queries("join_sort_merge")(spark, sf0001)
    val a = Fingerprint.of(df)
    val b = Fingerprint.of(df.repartition(3).orderBy(rand(5)))
    assert(a.rows > 0)
    assert(a == b)
  }

  test("a changed, missing or extra row changes the fingerprint") {
    val df = thrivespark.Registry.queries("agg_rollup")(spark, sf0001)
    val a = Fingerprint.of(df)
    assert(Fingerprint.of(df.limit(a.rows.toInt - 1)).rows == a.rows - 1)
    assert(Fingerprint.of(df.union(df.limit(1))) != a)
    val bumped = df.selectExpr(df.columns.toSeq.map(c => s"`$c`") :+ "1 AS extra": _*)
    assert(Fingerprint.of(bumped) != a)
    import spark.implicits._
    assert(Fingerprint.of(Seq((1, "a"), (2, "b")).toDF()) !=
      Fingerprint.of(Seq((1, "a"), (2, "c")).toDF()))
  }

  test("duplicate column names and maps hash by value") {
    import spark.implicits._
    val l = Seq((1, Map("x" -> 1, "y" -> 2))).toDF("k", "m")
    val r = Seq((1, Map("y" -> 2, "x" -> 1))).toDF("k", "m")
    assert(Fingerprint.of(l) == Fingerprint.of(r))
    val dup = l.join(r, Seq("k")).select(l("m"), r("m"))
    assert(Fingerprint.of(dup).rows == 1)
  }

  test("comparison: rows always, the hash unless the key is rows-only") {
    val exp = Fingerprint(10, "123")
    assert(Fingerprint.mismatch(exp, Fingerprint(10, "123"), rowsOnly = false).isEmpty)
    assert(Fingerprint.mismatch(exp, Fingerprint(10, "999"), rowsOnly = false).isDefined)
    assert(Fingerprint.mismatch(exp, Fingerprint(10, "999"), rowsOnly = true).isEmpty)
    assert(Fingerprint.mismatch(exp, Fingerprint(9, "123"), rowsOnly = true).isDefined)
  }
}
