package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Engine, HostProbe}

/** Runs one workload in one JVM and prints its raw measurements as one
  * JSON line: set-up times, per-op latencies, kinds and work units,
  * output-check tally, peak RSS, host noise, and in the traced run the
  * per-layer counters plus a span file. `perfbench/run.py` turns these
  * into the benchmark's metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  */
object Main {
  val SetupReps = 3
  val MinOps = 3

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS) = args
    val (seed, seconds, trace, work) = (seedS.toLong, secondsS.toDouble, traceS == "1", Paths.get(workS))
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    def phase(what: String): Unit = System.err.println(f"perfbench: ${(System.nanoTime() - t0) / 1e9}%.1f s $what")
    val spark = Engine.tune(SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString),
      shufflePartitions = cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val c = new Ctx(spark, seed, work)
    val wl: Workload = name match {
      case "ingest_retrain" => new IngestRetrain(c)
      case "serve_closed_loop" => new ServeClosedLoop(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setups = (0 until SetupReps).map { r =>
      val s0 = System.nanoTime()
      val sum = wl.setup(r)
      ((System.nanoTime() - s0) / 1e9, sum)
    }
    c.check("set-up is deterministic")(c.expect(setups.map(_._2).distinct.size == 1,
      s"checksums differ across set-ups: ${setups.map(_._2)}"))

    phase("set-up done")
    val probesBefore = (0 until 3).map(_ => HostProbe.probeOnce()).min
    val untracer = c.tr
    val tracer = new Tracer(spark.sparkContext, on = true)
    val ll = new LayerListener(spark, tracer)
    var next = 0
    /** Ops for at least `secs` and `minOps`. With `alternate`, tracing is
      * on for every other op, in the order off on on off off on on off …,
      * so neither set runs earlier or warmer than the other. */
    def window(secs: Double, minOps: Int, alternate: Boolean): Seq[Op] = {
      val out = mutable.ArrayBuffer.empty[Op]
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      val first = next
      while (System.nanoTime() < deadline || next - first < minOps) {
        val i = next
        val k = i - first
        next += 1
        val traced = alternate && (k + k / 2) % 2 == 1
        c.tr = if (traced) tracer else untracer
        c.attempt()
        if (traced) ll.attach()
        try {
          val s0 = System.nanoTime()
          val units = c.tr.span(wl.opName, wl.opLayer, i.toLong)(wl.op(i))
          out += Op(i, (System.nanoTime() - s0) / 1e6, units, wl.kind(i), traced)
        } catch { case e: Throwable => c.fail(s"${wl.opName} $i: ${e.getMessage}") }
        finally if (traced) ll.detach()
      }
      c.tr = untracer
      out.toSeq
    }

    window(wl.warmSeconds, 2, alternate = false) // warm-up, untimed
    phase("warm-up done")
    val cpu0 = Host.cpuJiffies()
    val ops = if (trace) window(2 * seconds, 2 * MinOps, alternate = true) else window(seconds, MinOps, alternate = false)
    val cpu1 = Host.cpuJiffies()
    val probesAfter = (0 until 3).map(_ => HostProbe.probeOnce()).min
    phase("window done")
    val counters = if (trace) ll.finish() else Map.empty[String, Double]
    wl.verify()
    phase("verify done")
    var layers = Map.empty[String, Double]
    var spanFile = ""
    if (trace) {
      val tracedOps = ops.filter(_.traced)
      c.counts("files_written") = tracedOps.map { o =>
        val dir = work.resolve(s"op${o.i}")
        if (Files.exists(dir)) Files.walk(dir).filter(_.toString.endsWith(".parquet")).count() else 0L
      }.sum.toDouble
      layers = Layers.summarize(tracer.spans, counters, ll.jobsBySpan, c.counts.toMap, tracedOps.size)
      val f = work.resolve("spans.jsonl")
      Files.write(f, tracer.spans.map(Json.span).mkString("", "\n", "\n").getBytes(UTF_8))
      spanFile = f.toString
    }

    val steal = if (cpu0._2 >= 0 && cpu1._2 >= 0 && cpu1._1 > cpu0._1)
      (cpu1._2 - cpu0._2).toDouble / (cpu1._1 - cpu0._1) else 0.0
    // the committed probe reference belongs to another machine class, so
    // noise is judged by steal and by the probe moving across the window
    val probeRatio = math.min(probesBefore, probesAfter) / HostProbe.ProbeRefSec
    val probeDrift = math.max(probesBefore, probesAfter) / math.min(probesBefore, probesAfter)
    val out = Json.obj(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "unit" -> wl.unit, "input" -> Json.obj(wl.input.toSeq: _*),
      "input_checksum" -> setups.head._2,
      "session_s" -> sessionS, "setup_s" -> setups.map(_._1),
      "primary" -> wl.primary, "op_ms" -> ops.map(_.ms), "op_units" -> ops.map(_.units),
      "op_kind" -> ops.map(_.kind), "op_traced" -> ops.map(_.traced),
      "attempted" -> c.attempted, "failed" -> c.failed, "failures" -> c.failures.toSeq,
      "peak_rss_mb" -> Host.peakRssMb(),
      "host" -> Json.obj("steal_frac" -> steal, "probe_ratio" -> probeRatio,
        "probe_ref_s" -> HostProbe.ProbeRefSec, "probe_drift" -> probeDrift,
        "noisy" -> (steal > 0.05 || probeDrift > HostProbe.HealthyRatio)),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1): _*),
      "spans_file" -> spanFile)
    spark.stop()
    println(out)
  }
}

/** One op of a measured window: its index, latency, work units, kind,
  * and whether it was traced. */
final case class Op(i: Int, ms: Double, units: Long, kind: String, traced: Boolean)

object Host {
  /** (total, steal) jiffies of the machine's aggregate cpu line; steal
    * comes from `HostProbe.stealJiffies`, -1 when unavailable. */
  def cpuJiffies(): (Long, Long) = {
    val total = try {
      Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong).sum
    } catch { case _: Throwable => -1L }
    (total, HostProbe.stealJiffies())
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  } catch { case _: Throwable => 0.0 }
}

/** Per-layer metrics of the traced ops, each per op unless its name says
  * otherwise. Execution time, self times and shares come later from the
  * span file. */
object Layers {
  def summarize(spans: Seq[Span], k: Map[String, Double], jobsBySpan: Map[Long, Int],
                counts: Map[String, Double], ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    def per(v: Double) = v / n
    def meanOf(name: String) = {
      val d = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6)
      if (d.isEmpty) 0.0 else d.sum / d.size
    }
    val constructs = spans.filter(_.name == "construct")
    val execs = math.max(k("sql_execs"), 1.0)
    val batches = math.max(k("micro_batches"), 1.0)
    Map(
      "query.construct_ms" -> per(constructs.map(s => (s.end - s.start) / 1e6).sum),
      "query.construct_jobs" -> per(constructs.map(s => jobsBySpan.getOrElse(s.id, 0)).sum.toDouble),
      "query.analysis_ms" -> per(k.getOrElse("phase.analysis", 0.0)),
      "query.optimization_ms" -> per(k.getOrElse("phase.optimization", 0.0)),
      "query.planning_ms" -> per(k.getOrElse("phase.planning", 0.0)),
      "query.codegen_ms" -> per(k("codegen_ms")),
      "query.plan_nodes" -> k("plan_nodes") / execs,
      "query.exchanges" -> k("exchanges") / execs,
      "query.jobs" -> per(k("jobs")),
      "query.stages" -> per(k("stages")),
      "query.tasks" -> per(k("tasks")),
      "query.one_task_stages" -> per(k("one_task_stages")),
      "query.shuffle_write_bytes" -> per(k("shuffle_write_bytes")),
      "query.shuffle_read_bytes" -> per(k("shuffle_read_bytes")),
      "query.spill_bytes" -> per(k("spill_bytes")),
      "query.gc_ms" -> per(k("gc_ms")),
      "query.peak_exec_mem_bytes" -> k("peak_exec_mem_bytes"),
      "query.task_skew" -> k("task_skew"),
      "ml.register_ms" -> meanOf("register"),
      "ml.fit_task_ms" -> per(k("fit_task_ms")),
      "ml.forecast_write_ms" -> meanOf("forecast_write"),
      "ml.models_trained" -> per(counts.getOrElse("models", 0.0)),
      "ml.gate_pass_ratio" -> counts.getOrElse("gate_pass_ratio", 0.0),
      "api.forecastStored_ms" -> meanOf("forecastStored"),
      "api.latestForecasts_ms" -> meanOf("latestForecasts"),
      "api.retrainOne_ms" -> meanOf("retrainOne"),
      "api.rows_scanned_per_row_returned" ->
        counts.getOrElse("rows_scanned", 0.0) / math.max(counts.getOrElse("rows_returned", 0.0), 1.0),
      "api.files_read_per_request" -> per(counts.getOrElse("files_read", 0.0)),
      "store.append_ms" -> meanOf("append"),
      "store.bytes_written" -> per(k("bytes_written")),
      "store.files_written" -> per(counts.getOrElse("files_written", 0.0)),
      "store.bytes_per_row" -> k("bytes_written") / math.max(k("rows_written"), 1.0),
      "stream.drain_ms" -> meanOf("drain"),
      "stream.batches" -> per(counts.getOrElse("batches", 0.0)),
      "stream.rows" -> per(counts.getOrElse("rows", 0.0)),
      "stream.replay_ms" -> meanOf("replay"),
      "stream.addbatch_ms" -> k.getOrElse("batch.addBatch", 0.0) / batches,
      "stream.walcommit_ms" -> k.getOrElse("batch.walCommit", 0.0) / batches,
      "stream.commitoffsets_ms" -> k.getOrElse("batch.commitOffsets", 0.0) / batches,
      "stream.queryplanning_ms" -> k.getOrElse("batch.queryPlanning", 0.0) / batches,
      "stream.latestoffset_ms" -> k.getOrElse("batch.latestOffset", 0.0) / batches
    )
  }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  final case class Raw(json: String) { override def toString: String = json }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def span(s: Span): Raw = obj("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
    "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
  private def value(v: Any): String = v match {
    case Raw(json) => json
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
