package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamIngest

/** Seeded input generator for the pipeline workloads.
  *
  * Every generated value is a pure function of (seed, row id), so one seed
  * gives the same rows at any partitioning and on any run; another seed
  * changes every value but not the shape (row, key, day and file counts
  * depend only on the workload). The data is Rossmann-shaped: 1,115 stores
  * × 10 products, Sundays and about 2% of other store-days closed, a promo
  * flag on weekdays of about 45% of store-weeks, and a per-key level,
  * trend and noise width. The noise width spans the registry's RMSE gate,
  * so a real share of models lands in staging.
  */
object Gen {
  val Stores = 1115
  val Products = 10
  val Keys: Int = Stores * Products
  /** Last day of the generated sales history. */
  val Anchor: java.time.LocalDate = java.time.LocalDate.of(2015, 7, 31)
  val ProductNames: Seq[String] = (0 until Products).map(i => f"prod$i%02d")

  /** The 64-bit hash of (seed, salt, parts): four independent 16-bit
    * uniforms, so one hash serves four draws. */
  private def hash(seed: Long, salt: String, parts: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: parts): _*)
  /** The k-th 16-bit uniform [0, 1) of a hash. */
  private def unif(h: Column, k: Int): Column =
    shiftrightunsigned(h, 16 * k).bitwiseAND(0xFFFFL).cast("double") / lit(65536.0)

  /** `days` consecutive days of sales ending at `last`, one row per
    * (store, product, day), date-major so row groups cluster by date.
    * Draws are keyed by (store, product, calendar day), not by row, so
    * two windows that overlap agree on the shared days. */
  def sales(spark: SparkSession, seed: Long, days: Int,
            last: java.time.LocalDate = Anchor, partitions: Int = 8): DataFrame = {
    val first = last.minusDays(days - 1L)
    val k = col("id") % Keys
    val e = datediff(col("date"), lit(java.sql.Date.valueOf("1970-01-01")))
    val hKey = hash(seed, "key", col("store"), col("p"))
    val hDay = hash(seed, "day", col("store"), e)
    val hWeek = hash(seed, "week", col("store"), floor((e - lit(4)) / 7))
    val hNoise = hash(seed, "noise", col("store"), col("p"), e)
    val level = lit(150.0) + lit(850.0) * unif(col("hkey"), 0)
    val sigma = level * (lit(0.04) + lit(0.30) * unif(col("hkey"), 1))
    val slope = level * lit(0.002) * (unif(col("hkey"), 2) - lit(0.5))
    val noise = (unif(col("hnoise"), 0) + unif(col("hnoise"), 1) + unif(col("hnoise"), 2) +
      unif(col("hnoise"), 3) - lit(2.0)) * lit(math.sqrt(3.0))
    val dowf = element_at(array(Seq(1.12, 0.97, 0.94, 0.96, 1.04, 1.18, 1.0).map(lit): _*),
      col("dayofweek"))
    val mean = level * dowf * (lit(1.0) + lit(0.22) * col("promo")) +
      slope * (e - lit(Anchor.toEpochDay))
    spark.range(0L, days.toLong * Keys, 1L, partitions)
      .select((k / Products).cast("int").plus(1).as("store"), (k % Products).cast("int").as("p"),
        date_add(lit(java.sql.Date.valueOf(first)), (col("id") / Keys).cast("int")).as("date"))
      .withColumn("dayofweek", weekday(col("date")) + 1)
      .withColumn("hkey", hKey).withColumn("hday", hDay).withColumn("hnoise", hNoise)
      .withColumn("open",
        when(col("dayofweek") === 7 || unif(col("hday"), 0) < 0.02, 0).otherwise(1))
      .withColumn("promo",
        when(col("dayofweek") <= 5 && unif(hWeek, 0) < 0.45, 1).otherwise(0))
      .withColumn("sales",
        when(col("open") === 1, greatest(lit(1L), round(mean + noise * sigma).cast("long")))
          .otherwise(0L).cast("int"))
      .withColumn("customers",
        when(col("open") === 1, round(col("sales") / (lit(7.5) + lit(3.0) * unif(col("hkey"), 3))))
          .otherwise(0).cast("int"))
      .withColumn("stateholiday", when(unif(col("hday"), 1) < 0.03, "a").otherwise("0"))
      .withColumn("schoolholiday", when(unif(col("hday"), 2) < 0.18, "1").otherwise("0"))
      .withColumn("productname", element_at(array(ProductNames.map(lit): _*), col("p") + 1))
      .select("store", "dayofweek", "date", "sales", "customers", "open", "promo",
        "stateholiday", "schoolholiday", "productname")
  }

  /** A registry of one production-shaped model per key (the columns
    * `ModelRegistry.forecastFromRegistry` serves from), staged by the
    * RMSE gate: the serving workload's fixture, drawn from the seed
    * instead of trained, so set-up stays cheap. */
  def registry(spark: SparkSession, seed: Long, trainEnd: java.time.LocalDate): DataFrame = {
    val h = hash(seed, "model", col("id"))
    val hs = hash(seed, "season", col("id"))
    val rmse3 = (lit(20.0) + lit(200.0) * unif(h, 0)) * 1000.0
    val nTest = 85L
    spark.range(0L, Keys.toLong, 1L, 4)
      .select(
        concat(lit(Pipeline.ModelPrefix), (col("id") / Products + 1).cast("long"), lit("-"),
          element_at(array(ProductNames.map(lit): _*), (col("id") % Products).cast("int") + 1)).as("model_name"),
        lit(1).as("version"), lit(nTest).as("n_test"),
        round(rmse3 * rmse3 * nTest).cast("long").as("ssq3"),
        lit(java.sql.Date.valueOf(trainEnd)).as("train_end"),
        ((unif(h, 1) - lit(0.5)) * 2000.0).as("slope"),
        ((lit(150.0) + lit(850.0) * unif(h, 2)) * 1000.0).as("icept"),
        array((0 until 7).map(d => (unif(hs, d % 4) - lit(0.5)) * (100000.0 * (d + 1))): _*).as("sdow"),
        round(rmse3 * 1.96).cast("long").as("ci3"),
        lit(Pipeline.LookbackDays - 1).as("maxx"))
      .withColumn("stage", graft.ml.ModelRegistry.gateStage(col("ssq3"), col("n_test"), Pipeline.MaxRmse))
  }

  /** Order-independent digest of a frame's rows: row count, the sum of the
    * low 32 bits and the XOR of every row's 64-bit hash. Commutative
    * aggregates only, so neither row order nor partitioning changes it. */
  def rowDigest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), bit_xor(col("h")))
      .head()
    f"${r.getLong(0)}%d:${r.getLong(1)}%016x:${r.getLong(2)}%016x"
  }

  /** The producer's Kafka drop directory: `days` days of sales ending at
    * `last`, serialized through [[StreamIngest.toJsonLines]] and split into
    * one file of [[Keys]] lines per day. File names and bytes depend only
    * on the seed. Returns the SHA-256 of the files in name order. */
  def writeDropDir(spark: SparkSession, seed: Long, days: Int, last: java.time.LocalDate,
                   dir: Path): String = {
    Files.createDirectories(dir)
    val lines = StreamIngest.toJsonLines(sales(spark, seed, days, last)).collect().map(_.getString(0))
    val md = MessageDigest.getInstance("SHA-256")
    lines.grouped(Keys).zipWithIndex.foreach { case (chunk, i) =>
      val bytes = chunk.mkString("", "\n", "\n").getBytes(UTF_8)
      md.update(bytes)
      Files.write(dir.resolve(f"day-$i%03d.json"), bytes)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
