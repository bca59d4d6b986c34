package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  private val rows = Seq(
    (1L, "a", 0.1 + 0.2, Seq(1, 2)),
    (2L, null, -0.0, Seq.empty[Int]),
    (2L, null, -0.0, Seq.empty[Int]), // a duplicate row counts twice
    (3L, "c", 1e-9, Seq(3)))

  test("fingerprint ignores row order and partitioning") {
    import spark.implicits._
    val base = Fingerprint.of(rows.toDF("k", "s", "d", "xs"))
    assert(Fingerprint.of(rows.reverse.toDF("k", "s", "d", "xs")) == base)
    assert(Fingerprint.of(rows.toDF("k", "s", "d", "xs").repartition(3, $"s")) == base)
    assert(Fingerprint.of(rows.toDF("k", "s", "d", "xs").orderBy($"k".desc)) == base)
    assert(base.startsWith("4:"))
  }

  test("fingerprint ignores column order but not values, names or multiplicity") {
    import spark.implicits._
    val base = Fingerprint.of(rows.toDF("k", "s", "d", "xs"))
    assert(Fingerprint.of(rows.toDF("k", "s", "d", "xs").select("xs", "d", "k", "s")) == base)
    assert(Fingerprint.of(rows.updated(0, (1L, "a", 0.3001, Seq(1, 2))).toDF("k", "s", "d", "xs")) != base)
    assert(Fingerprint.of(rows.distinct.toDF("k", "s", "d", "xs")) != base)
    assert(Fingerprint.of(rows.toDF("k", "s", "d", "ys")) != base)
  }

  test("doubles are compared to ten significant digits") {
    assert(Fingerprint.canon(0.1 + 0.2) == Fingerprint.canon(0.3))
    assert(Fingerprint.canon(-0.0) == Fingerprint.canon(0.0))
    assert(Fingerprint.canon(1.0000001) != Fingerprint.canon(1.0))
    assert(Fingerprint.canon(Row(1.5, Seq(2.0))) == "(1.5,[2])")
  }
}
