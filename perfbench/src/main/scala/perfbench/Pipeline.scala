package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.{Forecaster, ModelRegistry}
import graft.ml.Forecaster.Obs
import graft.ops.Relational
import graft.store.Store

/** One registry row: pooled CV stats for the gate plus the serving
  * coefficients, the shape `ModelRegistry.forecastFromRegistry` reads. */
final case class ModelRow(model_name: String, version: Int, n_test: Long, ssq3: Long,
                          train_end: java.sql.Date, slope: Double, icept: Double,
                          sdow: Seq[Double], ci3: Long, maxx: Int)

/** The paper's weekly DAG composed from the program's public calls:
  * lookback read → per-key CV + fit → gate → register → forecast write. */
object Pipeline {
  val LookbackDays = 120
  /** RMSE gate threshold in sales units; the generator's noise widths
    * straddle it. */
  val MaxRmse = 110L
  val ModelPrefix = "graft-forecaster-"
  val CreatedOn: java.sql.Timestamp = java.sql.Timestamp.valueOf("2015-08-01 00:00:00")

  /** Open days of the `LookbackDays` ending at `anchor`. */
  def lookback(sales: DataFrame, anchor: LocalDate): DataFrame =
    Relational.lookbackDays(sales.filter(col("open") === 1), col("date"),
      lit(java.sql.Date.valueOf(anchor)), LookbackDays)

  /** Per-key daily series of the lookback window; x counts days from the
    * key's first open day in the window. */
  def series(spark: SparkSession, sales: DataFrame, anchor: LocalDate): Dataset[Obs] = {
    import spark.implicits._
    lookback(sales, anchor)
      .select(concat_ws("-", col("store"), col("productname")).as("key"), col("date").as("day"),
        (col("sales").cast("long") * 1000L).as("y3"))
      .withColumn("x", datediff(col("day"), min(col("day")).over(Window.partitionBy("key"))).cast("int"))
      .select("key", "day", "x", "y3")
      .as[Obs]
  }

  /** One model per key from a single shuffle: pooled CV stats and the
    * serving fit over the same series, staged by the RMSE gate. */
  def models(spark: SparkSession, series: Dataset[Obs]): DataFrame = {
    import spark.implicits._
    series.groupByKey(_.key).flatMapGroups { (k: String, it: Iterator[Obs]) =>
      val pts = it.toArray
      for {
        p <- Forecaster.cvPooled(k, pts.iterator)
        c <- Forecaster.fitCoef(k, pts.iterator)
      } yield ModelRow(ModelPrefix + k, 1, p.n_test, p.ssq3, p.train_end, c.slope, c.intercept,
        c.sdow, c.ci3, c.maxx)
    }.toDF()
      .withColumn("stage", ModelRegistry.gateStage(col("ssq3"), col("n_test"), MaxRmse))
  }

  /** forecast_results rows (Schemas.ForecastResult) for every serving
    * model, from its stored coefficients. */
  def forecasts(registry: DataFrame): DataFrame = {
    val parts = split(col("model_name"), "-")
    ModelRegistry.forecastFromRegistry(ModelRegistry.servingVersions(registry))
      .select(element_at(parts, 3).cast("int").as("store"), element_at(parts, 4).as("productname"),
        col("day").as("forecast_date"),
        round(col("yhat3") / 1000.0).cast("int").as("forecast_sale"),
        round(col("lo3") / 1000.0).cast("int").as("lower_ci"),
        round(col("hi3") / 1000.0).cast("int").as("upper_ci"),
        col("model_name"), col("version").as("model_version"), lit(CreatedOn).as("created_on"))
  }

  /** The whole weekly retrain, spans around each call into a layer.
    * `sales` is built inside the construct span. */
  def run(spark: SparkSession, tr: Tracer, sales: => DataFrame, anchor: LocalDate,
          modelsDir: String, forecastsDir: String): Unit = {
    val meta = tr.span("construct", "query")(models(spark, series(spark, sales, anchor)))
    tr.span("register", "ml")(ModelRegistry.register(meta, modelsDir))
    tr.span("forecast_write", "ml") {
      val fc = tr.span("construct", "query")(forecasts(Store.read(spark, modelsDir)))
      tr.span("append", "store")(Store.append(fc, forecastsDir))
    }
  }
}
