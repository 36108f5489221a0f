package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.Engine.tune(
    SparkSession.builder().master("local[2]").appName("perfbench-test"), shufflePartitions = "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("same seed gives the same rows at any partitioning") {
    val a = Gen.rowDigest(Gen.sales(spark, 7L, 3))
    assert(Gen.rowDigest(Gen.sales(spark, 7L, 3)) == a)
    assert(Gen.rowDigest(Gen.sales(spark, 7L, 3, partitions = 3)) == a)
  }

  test("a new seed changes the values but not the shape") {
    val a = Gen.sales(spark, 7L, 3)
    val b = Gen.sales(spark, 8L, 3)
    assert(Gen.rowDigest(a) != Gen.rowDigest(b))
    assert(a.count() == 3L * Gen.Keys && b.count() == a.count())
    assert(a.schema == b.schema)
    def keysPerDay(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("date").agg(countDistinct("store", "productname")).collect().map(_.getLong(1)).toSet
    assert(keysPerDay(a) == Set(Gen.Keys.toLong) && keysPerDay(b) == keysPerDay(a))
  }

  test("overlapping windows agree on their shared days") {
    val long = Gen.sales(spark, 7L, 5)
    val short = Gen.sales(spark, 7L, 2)
    assert(Gen.rowDigest(long.filter(col("date") > java.sql.Date.valueOf(Gen.Anchor.minusDays(2)))) ==
      Gen.rowDigest(short))
  }

  test("the row digest ignores row order and partitioning") {
    val df = Gen.sales(spark, 9L, 2)
    val d = Gen.rowDigest(df)
    assert(Gen.rowDigest(df.orderBy(rand(1L)).repartition(5)) == d)
    assert(Gen.rowDigest(df.limit(10)) != d)
  }

  test("the drop directory is byte-identical for a seed") {
    val tmp = Files.createDirectories(java.nio.file.Paths.get("target", "test-tmp"))
    val Seq(a, b, c) = Seq("a", "b", "c").map(n => Files.createTempDirectory(tmp, s"drop_$n"))
    val last = Gen.Anchor.plusDays(2)
    val sa = Gen.writeDropDir(spark, 3L, 2, last, a)
    assert(Gen.writeDropDir(spark, 3L, 2, last, b) == sa)
    assert(Gen.writeDropDir(spark, 4L, 2, last, c) != sa)
    def files(p: java.nio.file.Path) = Files.list(p).toArray.map(_.toString.split('/').last).sorted.toSeq
    assert(files(a) == Seq("day-000.json", "day-001.json") && files(c) == files(a))
    files(a).foreach(f => assert(Files.readAllBytes(a.resolve(f)).sameElements(Files.readAllBytes(b.resolve(f)))))
  }

  test("a request depends on the seed and its index only") {
    def draws(seed: Long, idx: Seq[Int]) = idx.map(i => i -> ServeClosedLoop.request(seed, i, Gen.Keys)).toMap
    val a = draws(5L, 0 until 4000)
    assert(draws(5L, (0 until 4000).reverse) == a)
    assert(draws(6L, 0 until 4000) != a)
    val share = a.values.groupBy(_._1).map { case (k, v) => k -> v.size / 4000.0 }
    assert(math.abs(share("forecastStored") - 0.80) < 0.03)
    assert(math.abs(share("latestForecasts") - 0.15) < 0.03)
    assert(math.abs(share("retrainOne") - 0.05) < 0.02)
    assert(a.values.map(_._2).toSet.size > 3000 && a.values.forall { case (_, k) => k >= 0 && k < Gen.Keys })
  }
}
