package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.Schemas
import graft.api.ForecastApi
import graft.ml.{Forecaster, ModelRegistry}
import graft.ml.Forecaster.Obs
import graft.store.Store
import graft.streaming.{StreamIngest, StreamMetrics}

/** An operation's output did not match what the benchmark expects. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** State shared by a run: the session, the seed, a scratch directory,
  * the current op's tracer, and the output-check tally. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path) {
  var tr: Tracer = new Tracer(spark.sparkContext, on = false)
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
  /** Counters the traced ops add up, and facts `verify` records. */
  val counts: mutable.Map[String, Double] = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  def dir(name: String): String = work.resolve(name).toString
  def expect(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
  /** A post-run output check: counted as one attempted operation. */
  def check(name: String)(body: => Unit): Unit = {
    attempt()
    try body catch { case e: Throwable => fail(s"$name: ${e.getMessage}") }
  }
  def attempt(): Unit = synchronized { attempted += 1 }
  def fail(msg: String): Unit = synchronized { failed += 1; if (failures.size < 20) failures += msg }
  def count(k: String, v: Double): Unit = if (tr.on) counts(k) += v
}

/** One benchmark workload. `setup` builds the inputs and fixtures from
  * the seed (run several times; the last one is used) and returns their
  * checksum; `op` is the timed unit of work and returns how many units it
  * did; `verify` runs the whole-run checks after the last op. Op `i` is
  * of kind `kind(i)`, a function of the seed and `i` only; the gated
  * latency is the median over the ops of kind `primary`. The untimed
  * warm-up runs for at least `warmSeconds` and two ops. */
abstract class Workload(val c: Ctx) {
  def unit: String
  def opName: String
  def opLayer: String
  def input: Map[String, Any]
  def setup(rep: Int): String
  def op(i: Int): Long
  def kind(i: Int): String = opName
  def primary: String = opName
  def warmSeconds: Double = 5.0
  def verify(): Unit
}

object Checks {
  private object Plans extends AdaptiveSparkPlanHelper

  /** (rows scanned, files read) by the file scans of an executed frame. */
  def scans(df: DataFrame): (Long, Long) = {
    val ss = Plans.collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (ss.map(m(_, "numOutputRows")).sum, ss.map(m(_, "numFiles")).sum)
  }

  /** The keys' lookback series rebuilt in the client from the sales
    * table, in one scan. */
  def seriesOf(sales: DataFrame, anchor: LocalDate, keys: Seq[String]): Map[String, Array[Obs]] =
    Pipeline.lookback(sales, anchor)
      .withColumn("key", concat_ws("-", col("store"), col("productname")))
      .filter(col("key").isin(keys: _*))
      .select("key", "date", "sales").collect()
      .groupBy(_.getString(0)).map { case (key, rs) =>
        val pts = rs.map(r => (r.getDate(1), r.getInt(2).toLong * 1000L)).sortBy(_._1.toLocalDate.toEpochDay)
        val d0 = pts.head._1.toLocalDate.toEpochDay
        key -> pts.map { case (d, y3) => Obs(key, d, (d.toLocalDate.toEpochDay - d0).toInt, y3) }
      }

  /** Re-fit forecasts of the keys: (day, yhat3, lo3, hi3) per key. */
  def refit(sales: DataFrame, anchor: LocalDate, keys: Seq[String]): Map[String, Seq[(String, Long, Long, Long)]] =
    seriesOf(sales, anchor, keys).map { case (key, pts) =>
      key -> Forecaster.forecastKey(key, pts.iterator).map(f => (f.day.toString, f.yhat3, f.lo3, f.hi3)).toSeq
    }

  /** The registry serve contract: `forecastStored` rows equal the
    * expected (day, yhat3, lo3, hi3) rows of each key, bit for bit. */
  def servedEquals(c: Ctx, registry: DataFrame, expected: Map[String, Seq[(String, Long, Long, Long)]]): Unit =
    expected.foreach { case (key, want) =>
      val served = ForecastApi.forecastStored(registry, Pipeline.ModelPrefix + key, 7)
        .select("day", "yhat3", "lo3", "hi3").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
      c.expect(served == want, s"served rows of $key: $served, expected $want")
    }

  /** Each model is staged exactly as the gate predicate says, recomputed
    * here in exact integers. */
  def stagesMatchGate(c: Ctx, registry: DataFrame): Unit = {
    val t = BigInt(Pipeline.MaxRmse * 1000L)
    val bad = registry.select("model_name", "n_test", "ssq3", "stage").collect().count { r =>
      val pass = BigInt(r.getLong(2)) <= BigInt(r.getLong(1)) * t * t
      r.getString(3) != (if (pass) ModelRegistry.Production else ModelRegistry.Staging)
    }
    c.expect(bad == 0, s"$bad models staged against the gate")
  }

  /** Keys with at least two open days in the lookback window. */
  def trainableKeys(sales: DataFrame, anchor: LocalDate): DataFrame =
    Pipeline.lookback(sales, anchor)
      .groupBy("store", "productname").count().filter(col("count") >= 2)
      .select(concat(lit(Pipeline.ModelPrefix), col("store"), lit("-"), col("productname")).as("model_name"))

  /** Every trainable key has exactly one model, and no other key has one. */
  def oneModelPerKey(c: Ctx, registry: DataFrame, sales: DataFrame, anchor: LocalDate): Unit = {
    val r = trainableKeys(sales, anchor).withColumn("want", lit(1))
      .join(registry.groupBy("model_name").count(), Seq("model_name"), "full_outer")
      .agg(count(when(col("count") > 1, 1)), count(when(col("count").isNull, 1)),
        count(when(col("want").isNull, 1)))
      .head()
    c.expect(r.getLong(0) == 0 && r.getLong(1) == 0 && r.getLong(2) == 0,
      s"models per key: ${r.getLong(0)} duplicated, ${r.getLong(1)} missing, ${r.getLong(2)} unexpected")
  }

  /** A seeded sample of production keys, for the re-fit checks. */
  def sampleKeys(c: Ctx, registry: DataFrame, n: Int): Seq[String] = {
    val names = ModelRegistry.servingVersions(registry).select("model_name").collect()
      .map(_.getString(0).stripPrefix(Pipeline.ModelPrefix)).sorted
    new scala.util.Random(c.seed).shuffle(names.toSeq).take(n)
  }
}

/** The paper's pipeline for one week: the week's seven daily Kafka drops
  * drained exactly-once into the sales table (one micro-batch per daily
  * file), a replay of the drain on the same checkpoint that must append
  * nothing, then the weekly retrain of 11,150 models over the 120-day
  * lookback of history plus that week, then the forecast write. */
final class IngestRetrain(c0: Ctx) extends Workload(c0) {
  val HistoryDays = 133
  val WeekDays = 7
  val Anchor: LocalDate = Gen.Anchor.plusDays(WeekDays.toLong)
  private var histDir = ""
  private var parsed: DataFrame = _
  private var want: (Long, Long) = (0L, 0L)
  /** Models one retrain must register; first needed by the untimed warm-up op. */
  private lazy val keys = Checks.trainableKeys(sales(0), Anchor).count()
  def unit = "models"
  def opName = "week"
  def opLayer = "bench"
  def input: Map[String, Any] = Map("history_rows" -> HistoryDays.toLong * Gen.Keys,
    "history_files" -> 8, "drop_rows" -> WeekDays.toLong * Gen.Keys, "drop_files" -> WeekDays,
    "micro_batches" -> WeekDays, "keys" -> Gen.Keys, "lookback_days" -> Pipeline.LookbackDays)

  def setup(rep: Int): String = {
    histDir = c.dir(s"setup$rep/sales")
    Gen.sales(c.spark, c.seed, HistoryDays).write.parquet(histDir)
    val dropDir = c.work.resolve(s"setup$rep/drop")
    val sha = Gen.writeDropDir(c.spark, c.seed, WeekDays, Anchor, dropDir)
    val r = Gen.sales(c.spark, c.seed, WeekDays, Anchor).agg(count(lit(1)), sum("sales")).head()
    want = (r.getLong(0), r.getLong(1))
    parsed = StreamIngest.parseEnvelope(
      c.spark.readStream.format("text").option("maxFilesPerTrigger", 1L).load(dropDir.toString),
      Schemas.kafkaEnvelope)
    Gen.rowDigest(c.spark.read.parquet(histDir)) + ":" + sha
  }

  /** History plus the week op `i` ingested, as one sales frame. */
  private def sales(i: Int): DataFrame =
    Store.read(c.spark, histDir).unionByName(
      StreamIngest.readExactlyOnceTable(c.spark, c.dir(s"op$i/ingest")).withColumn("date", to_date(col("date"))))

  private def drain(i: Int): Seq[StreamMetrics.DrainStat] = {
    StreamMetrics.drainLog()
    StreamIngest.ingestOnceExactly(parsed, c.dir(s"op$i/ingest"), c.dir(s"op$i/ckpt"))
    StreamMetrics.drainLog()
  }

  def op(i: Int): Long = {
    val d = c.tr.span("drain", "stream")(drain(i))
    val rows = d.map(_.inputRows).sum
    c.expect(rows == want._1, s"week $i ingested $rows rows, generated ${want._1}")
    c.count("batches", d.map(_.batches).sum.toDouble)
    c.count("rows", rows.toDouble)
    val again = c.tr.span("replay", "stream")(drain(i)).map(_.inputRows).sum
    c.expect(again == 0, s"replay $i appended $again rows")
    Pipeline.run(c.spark, c.tr, sales(i), Anchor, c.dir(s"op$i/models"), c.dir(s"op$i/forecasts"))
    c.count("models", keys.toDouble)
    keys
  }

  /** Read-back, model and forecast counts of op `i`'s outputs. */
  private def checkOutputs(i: Int): Unit = {
    val r = StreamIngest.readExactlyOnceTable(c.spark, c.dir(s"op$i/ingest")).agg(count(lit(1)), sum("sales")).head()
    c.expect((r.getLong(0), r.getLong(1)) == want, s"read-back $i has (rows, sales) $r, generated $want")
    val m = c.spark.read.parquet(c.dir(s"op$i/models"))
      .agg(count(lit(1)), count(when(col("stage") === ModelRegistry.Production, 1))).head()
    val (n, prod) = (m.getLong(0), m.getLong(1))
    val fc = c.spark.read.parquet(c.dir(s"op$i/forecasts")).count()
    c.expect(n == keys, s"op $i registered $n models for $keys keys")
    c.expect(fc == prod * Forecaster.HorizonRows, s"op $i wrote $fc forecast rows for $prod production models")
    c.counts("gate_pass_ratio") = prod.toDouble / n
  }

  def verify(): Unit = {
    val last = Iterator.from(0).takeWhile(i => Files.exists(c.work.resolve(s"op$i"))).toSeq.last
    val registry = c.spark.read.parquet(c.dir(s"op$last/models"))
    c.check("read-back, model and forecast counts")(checkOutputs(last))
    c.check("one micro-batch directory per daily file") {
      val parts = Files.list(c.work.resolve(s"op$last/ingest")).toArray.count(_.toString.contains("batch_id="))
      c.expect(parts == WeekDays, s"$parts batch directories for $WeekDays files")
    }
    c.check("one model per trainable key")(Checks.oneModelPerKey(c, registry, sales(last), Anchor))
    c.check("stage equals the gate")(Checks.stagesMatchGate(c, registry))
    val refits = Checks.refit(sales(last), Anchor, Checks.sampleKeys(c, registry, 8))
    c.check("served rows equal a re-fit")(Checks.servedEquals(c, registry, refits))
    c.check("forecast_results rows equal the re-fit rounded") {
      val fc = c.spark.read.parquet(c.dir(s"op$last/forecasts"))
        .filter(col("model_name").isin(refits.keys.map(Pipeline.ModelPrefix + _).toSeq: _*))
        .select("model_name", "forecast_date", "forecast_sale").collect()
        .groupBy(_.getString(0).stripPrefix(Pipeline.ModelPrefix))
      refits.foreach { case (key, rows) =>
        val got = fc.getOrElse(key, Array.empty[Row]).map(r => (r.getDate(1).toString, r.getInt(2))).sortBy(_._1).toSeq
        val want = rows.map { case (day, yhat3, _, _) =>
          (day, java.math.BigDecimal.valueOf(yhat3).movePointLeft(3)
            .setScale(0, java.math.RoundingMode.HALF_UP).intValueExact()) }
        c.expect(got == want, s"forecast_results of $key: $got vs $want")
      }
    }
  }
}

/** Closed loop, one client: the forecast service's requests over the
  * registry and forecast table built in set-up. The registry is drawn
  * from the seed and written through `ModelRegistry.register`; the
  * forecast table is served from it by `forecastFromRegistry` and written
  * by `Store.append`, as the weekly DAG does. The gated latency is that
  * of `forecastStored`, the batch caller's request; the UI's two calls
  * ride along as a minority for the per-layer view. */
final class ServeClosedLoop(c0: Ctx) extends Workload(c0) {
  private var salesDir = ""
  private var registry: DataFrame = _
  private var forecasts: DataFrame = _
  private var series: Dataset[Obs] = _
  private var names: IndexedSeq[String] = IndexedSeq.empty
  def unit = "requests"
  def opName = "request"
  def opLayer = "api"
  def input: Map[String, Any] = Map("rows" -> Pipeline.LookbackDays.toLong * Gen.Keys,
    "days" -> Pipeline.LookbackDays, "files" -> 8, "models" -> Gen.Keys,
    "forecast_rows" -> "8 per production model", "client_threads" -> 1,
    "mix" -> "80% forecastStored(name, 7), 15% latestForecasts(store, product, 7), 5% retrainOne (assumed)")
  override def kind(i: Int): String = ServeClosedLoop.request(c.seed, i, names.size)._1
  override def primary: String = "forecastStored"
  /** Request latency falls by about a third over the first 30 s of
    * requests as the JIT compiles the planner's paths, then holds; the
    * window measures the service warm, as it runs between batches. */
  override def warmSeconds: Double = 30.0

  def setup(rep: Int): String = {
    salesDir = c.dir(s"setup$rep/sales")
    Gen.sales(c.spark, c.seed, Pipeline.LookbackDays).write.parquet(salesDir)
    ModelRegistry.register(Gen.registry(c.spark, c.seed, Gen.Anchor), c.dir(s"setup$rep/models"))
    registry = Store.read(c.spark, c.dir(s"setup$rep/models"))
    Store.append(Pipeline.forecasts(registry), c.dir(s"setup$rep/forecasts"))
    forecasts = Store.read(c.spark, c.dir(s"setup$rep/forecasts"))
    series = Pipeline.series(c.spark, Store.read(c.spark, salesDir), Gen.Anchor)
    names = ModelRegistry.servingVersions(registry).select("model_name").collect()
      .map(_.getString(0).stripPrefix(Pipeline.ModelPrefix)).sorted.toIndexedSeq
    Gen.rowDigest(c.spark.read.parquet(salesDir)) + ":" + Gen.rowDigest(registry)
  }

  private def timedCollect(df: DataFrame): Array[Row] = {
    val rows = c.tr.span("collect", "query")(df.collect())
    if (c.tr.on) {
      val (scanned, files) = Checks.scans(df)
      c.count("rows_scanned", scanned.toDouble)
      c.count("rows_returned", rows.length.toDouble)
      c.count("files_read", files.toDouble)
    }
    rows
  }

  def op(i: Int): Long = {
    val (call, k) = ServeClosedLoop.request(c.seed, i, names.size)
    val key = names(k)
    if (call == "forecastStored") c.tr.span(call, "api") {
      val df = c.tr.span("construct", "query")(ForecastApi.forecastStored(registry, Pipeline.ModelPrefix + key, 7))
      val rows = timedCollect(df)
      c.expect(rows.length == 8, s"forecastStored($key, 7) returned ${rows.length} rows")
    } else if (call == "latestForecasts") c.tr.span(call, "api") {
      val Array(store, product) = key.split("-")
      val df = c.tr.span("construct", "query")(ForecastApi.latestForecasts(forecasts, store.toInt, product, 7))
      val days = timedCollect(df).map(_.getAs[java.sql.Date]("forecast_date").toLocalDate.toEpochDay).toSeq
      c.expect(days.length == 7 && days == days.sorted && days.distinct == days,
        s"latestForecasts($key) returned days $days")
    } else c.tr.span(call, "api") {
      val df = c.tr.span("construct", "query")(ForecastApi.retrainOne(series, key).toDF())
      val rows = timedCollect(df)
      c.expect(rows.length == Forecaster.HorizonRows, s"retrainOne($key) returned ${rows.length} rows")
    }
    1L
  }

  def verify(): Unit = c.check("served rows equal the stored fit's prediction") {
    val sample = Checks.sampleKeys(c, registry, 8)
    val want = registry.filter(col("model_name").isin(sample.map(Pipeline.ModelPrefix + _): _*))
      .select("model_name", "slope", "icept", "sdow", "ci3", "maxx", "train_end").collect()
      .map { r =>
        val fit = Forecaster.SeasonalFit(r.getDouble(1), r.getDouble(2), (0.0 +: r.getSeq[Double](3)).toArray)
        val (ci3, maxx, end) = (r.getLong(4), r.getInt(5), r.getDate(6).toLocalDate)
        r.getString(0).stripPrefix(Pipeline.ModelPrefix) -> (1 to Forecaster.HorizonRows).map { i =>
          val day = java.sql.Date.valueOf(end.plusDays(i.toLong))
          val y = Forecaster.predictSeasonal3(fit, maxx + i, Forecaster.dow(day))
          (day.toString, y, y - ci3, y + ci3)
        }
      }.toMap
    c.expect(want.size == sample.size, s"${want.size} of ${sample.size} sampled models found")
    Checks.servedEquals(c, registry, want)
  }
}

object ServeClosedLoop {
  /** Request `i` of a seed's stream: its kind and the index of its model
    * among `models`. A function of (seed, i) alone, so op `i` is the same
    * request on every run however many ops the warm-up took. The reference
    * cites a rate only for the batch caller's `forecastStored`; the UI's
    * 15% `latestForecasts` and 5% `retrainOne` are an assumption. */
  def request(seed: Long, i: Int, models: Int): (String, Int) = {
    val rnd = new scala.util.Random(scala.util.hashing.MurmurHash3.productHash((seed, i)))
    val r = rnd.nextDouble()
    val kind = if (r < 0.80) "forecastStored" else if (r < 0.95) "latestForecasts" else "retrainOne"
    (kind, rnd.nextInt(models))
  }
}
