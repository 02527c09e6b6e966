package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{DeadLetterSerde, ErrorFrame}
import graft.streaming.StreamErrorHandling

/** Benchmark main: runs one workload against graft's public API, times
  * it from outside, and writes the raw samples and output observations as
  * one JSON file. `perfbench/run.py` builds this, launches it, checks the
  * observations against the seed's closed-form expectations and prints
  * the summary.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *             --work DIR --data SFDIR --out FILE [--mix id,id,...]
  * The seeded inputs are already under DIR (`input/`, `stream_src/`,
  * `warm_src/`), written by `run.py`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, work: String, data: String, out: String, mix: Seq[String], passes: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("work"), m.getOrElse("data", ""), m("out"),
      m.getOrElse("mix", "").split(",").filter(_.nonEmpty).toSeq,
      m.getOrElse("passes", "0").toInt)
  }

  /** The one session configuration every timing and every check uses. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.default.parallelism", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmReadyMs = Clock.nowMs
    val spark = session(a)
    val tracer = new Tracer(a.trace)
    tracer.install(spark)
    val sessionMs = Clock.nowMs - jvmReadyMs
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "main_entry_epoch_ms" -> jvmReadyMs, "session_ms" -> sessionMs)
    try {
      a.workload match {
        case "capture_clean" | "capture_storm" => new CaptureWorkload(spark, a, tracer).run(out)
        case "stream_dlq" => new StreamWorkload(spark, a, tracer).run(out)
        case "pipeline_mix" => new MixWorkload(spark, a, tracer).run(out)
        case "digests" => new MixWorkload(spark, a, tracer).digestsOnly(out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out("peak_rss_mb") = Rss.peakMb
      if (a.trace) out("trace") = TraceReport.summary(tracer)
    } finally spark.stop()
    Json.write(a.out, out)
  }
}

object Rss {
  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), mapper.writeValueAsString(v))
}

/** The seeded input rows `perfbench/gen.py` writes before the JVM starts
  * (its docstring has the formula), and the capture projection every
  * workload applies to them.
  */
object Gen {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("a", IntegerType),
    StructField("b", IntegerType), StructField("s", StringType)))

  val results: Map[String, Column] = Map("q" -> expr("a div b"), "n" -> expr("cast(s as int)"))
  val input: Column = to_json(struct(col("id"), col("a"), col("b"), col("s")))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = Clock.nowMs
    val r = body
    (r, Clock.nowMs - t0)
  }
}

/** `captureErrors` → `values` to a parquet sink, `deadLetters` →
  * `toAvroValue` to a DLQ sink, `observed()` telemetry — the README
  * pattern, one iteration per operation.
  */
final class CaptureWorkload(spark: SparkSession, a: Main.Args, tr: Tracer) {
  /** Warm-up iterations: the first runs cold, and per-action Spark code
    * keeps getting faster under the JIT for several more.
    */
  val warmupIterations = 4
  private val inputPath = s"${a.work}/input"
  private val valuesPath = s"${a.work}/values"
  private val dlqPath = s"${a.work}/dlq"

  def input: DataFrame = spark.read.schema(Gen.schema).parquet(inputPath)

  def captured(stackTraces: Boolean): ErrorFrame =
    ErrorFrame.captureErrors(input, Gen.results, Gen.input, stackTraces)

  /** One operation; returns the telemetry `observed()` reported. */
  def iteration(op: Int): (Long, Long, Map[String, Long]) = tr.span("iteration", op) {
    val ef = tr.span("captureErrors", op)(captured(stackTraces = true))
    val (obsEf, obs) = tr.span("observed", op)(ef.observed(s"capture_$op"))
    tr.span("values_action", op)(obsEf.values.write.mode("overwrite").parquet(valuesPath))
    val dl = tr.span("deadLetters", op)(obsEf.deadLetters("perfbench"))
    val avro = tr.span("toAvroValue", op)(DeadLetterSerde.toAvroValue(dl))
    tr.span("dlq_action", op)(avro.write.mode("overwrite").parquet(dlqPath))
    val row = tr.span("observe_wait", op)(obs.get)
    (row("n_rows").asInstanceOf[Long], row("n_errors").asInstanceOf[Long],
      row("errors_by_class").asInstanceOf[scala.collection.Map[String, Long]].toMap)
  }

  def run(out: mutable.Map[String, Any]): Unit = {
    out("warmup_ms") = (1 to warmupIterations).map(i => Stats.timeMs(iteration(-i))._2)

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = Clock.nowMs
    var op = 0
    while (Clock.nowMs - t0 < a.seconds * 1000 || op < 3) {
      val ((rows, errs, byClass), ms) = Stats.timeMs(iteration(op))
      ops += Map("ms" -> ms, "n_rows" -> rows, "n_errors" -> errs, "by_class" -> byClass)
      op += 1
    }
    out("timed_ms") = Clock.nowMs - t0
    out("ops") = ops.toSeq
    out("readback") = readback()
    if (a.trace) out("layers") = traced()
  }

  /** Output checks on the last iteration's sinks (untimed). */
  def readback(): Map[String, Any] = {
    val v = spark.read.parquet(valuesPath)
      .agg(count(lit(1)), sum(col("q")), sum(col("n")), sum(col("id"))).head()
    val dlq = spark.read.parquet(dlqPath)
    val dlqRows = dlq.count()
    val reader = new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.Schema.Parser().parse(DeadLetterSerde.avroSchemaJson))
    val sample = dlq.limit(200).collect().map { r =>
      val bytes = r.getAs[Array[Byte]]("value")
      val rec = reader.read(null,
        org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytes, null))
      val cause = rec.get("cause").asInstanceOf[org.apache.avro.generic.GenericRecord]
      Map("input_value" -> String.valueOf(rec.get("input_value")),
        "error_class" -> String.valueOf(cause.get("error_class")),
        "has_stack_trace" -> (cause.get("stack_trace") != null))
    }.toSeq
    Map("values_rows" -> v.getLong(0), "sum_q" -> v.getLong(1), "sum_n" -> v.getLong(2),
      "sum_id" -> v.getLong(3), "dlq_rows" -> dlqRows, "dlq_sample" -> sample)
  }

  /** Per-layer measurements beyond the traced iterations. Variants are
    * interleaved round by round (the first round only warms them up) and
    * each reports its median, so JIT and cache warm-up do not land on
    * whichever variant happens to run first.
    */
  def traced(): Map[String, Any] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def cpuNs(body: => Unit): Long = {
      tr.drain()
      val before = tr.stages.size
      body
      tr.drain()
      tr.stages.drop(before).map(_.cpuNs).sum
    }
    def twin = input.select(col("id"), col("a"), col("b"), col("s"),
      expr("try_divide(a, b)").as("q"), expr("try_cast(s as int)").as("n"))
      .filter(col("q").isNotNull && col("n").isNotNull)
    def dl = captured(stackTraces = true).deadLetters("perfbench")
    val probe = s"${a.work}/dlq_probe"
    val variants: Seq[(String, () => Unit)] = Seq(
      "values_noop_ms" -> (() => noop(captured(stackTraces = true).values)),
      "values_noop_no_traces_ms" -> (() => noop(captured(stackTraces = false).values)),
      "twin_noop_ms" -> (() => noop(twin)),
      "dlq_avro_ms" -> (() => DeadLetterSerde.toAvroValue(dl).write.mode("overwrite").parquet(probe)),
      "dlq_struct_ms" -> (() => dl.write.mode("overwrite").parquet(probe)))
    // per round and variant: (wall ms, executor CPU ns)
    val rounds = (0 to 3).map(_ => variants.map { case (k, f) =>
      val (cpu, ms) = Stats.timeMs(cpuNs(f()))
      k -> (ms, cpu.toDouble)
    }.toMap).drop(1)
    def med(k: String, pick: ((Double, Double)) => Double) = Stats.median(rounds.map(r => pick(r(k))))
    val dlqBytes = spark.read.parquet(dlqPath).agg(sum(octet_length(col("value")))).head().getLong(0)
    variants.map { case (k, _) => k -> med(k, _._1) }.toMap ++ Map(
      "capture_cpu_ns" -> med("values_noop_ms", _._2), "twin_cpu_ns" -> med("twin_noop_ms", _._2),
      "dlq_bytes" -> dlqBytes)
  }
}

/** `captureToDlq` over a pre-landed backlog of parquet files, one file
  * per trigger, in a closed loop: each trigger starts when the previous
  * one commits.
  */
final class StreamWorkload(spark: SparkSession, a: Main.Args, tr: Tracer) {
  private val dir = a.work
  private val files = new java.io.File(s"$dir/stream_src").list().count(_.endsWith(".parquet"))

  def start(src: String, tag: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream.schema(Gen.schema).option("maxFilesPerTrigger", "1").parquet(src)
    StreamErrorHandling.captureToDlq(stream, Gen.results, Gen.input, "perfbench",
      s"$dir/$tag/values", s"$dir/$tag/dlq", s"$dir/$tag/checkpoint")
  }

  def run(out: mutable.Map[String, Any]): Unit = {
    val (_, warmMs) = Stats.timeMs {
      val q = start(s"$dir/warm_src", "warm")
      q.processAllAvailable()
      q.stop()
    }
    out("warmup_ms") = Seq(warmMs)

    val t0 = Clock.nowMs
    val q = tr.span("captureToDlq", 0)(start(s"$dir/stream_src", "run"))
    def done = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
    while (Clock.nowMs - t0 < a.seconds * 1000 && done < files) Thread.sleep(2)
    // stop just after a commit, before the next trigger reaches its sink
    val seen = done
    while (done == seen && done < files) Thread.sleep(1)
    q.stop()
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val lastEnd = progress.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").toLong).max
    out("timed_ms") = lastEnd - t0
    out("ops") = progress.map { p =>
      val tel = StreamErrorHandling.captureTelemetry(p)
      Map("ms" -> p.durationMs.get("triggerExecution").toDouble, "batch_id" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "n_rows" -> tel.map(_._1).getOrElse(-1L), "n_errors" -> tel.map(_._2).getOrElse(-1L),
        "by_class" -> tel.map(_._3).getOrElse(Map.empty),
        "durations" -> Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning",
          "latestOffset", "getBatch").map(k => k -> Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).toMap,
        "start_epoch_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli)
    }
    out("readback") = readback(progress.map(_.batchId).toSet)
  }

  /** Sink totals per committed batch; batch dirs of an interrupted,
    * uncommitted trigger (if the stop landed inside one) are listed apart.
    */
  def readback(committed: Set[Long]): Map[String, Any] = {
    def batches(sink: String): Map[Long, (Long, Int)] = {
      val root = new java.io.File(s"$dir/run/$sink")
      Option(root.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("batch_id=")).map { d =>
        val id = d.getName.stripPrefix("batch_id=").toLong
        val parts = d.listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        id -> (spark.read.parquet(d.getPath).count(), parts)
      }.toMap
    }
    val v = batches("values")
    val d = batches("dlq")
    Map("committed" -> committed.toSeq.sorted,
      "values_batches" -> v.keys.toSeq.sorted, "dlq_batches" -> d.keys.toSeq.sorted,
      "values_rows" -> v.filter(x => committed(x._1)).values.map(_._1).sum,
      "dlq_rows" -> d.filter(x => committed(x._1)).values.map(_._1).sum,
      "sink_files" -> (v ++ d.map { case (k, x) => (k + 1000000L) -> x })
        .filter(x => committed(x._1 % 1000000L)).values.map(_._2).sum)
  }
}

/** A fixed list of `SparkEntry.queries` ids over the sf0.1 tables; each
  * execution builds the query's DataFrame and computes its row count and
  * order-independent hash, which `run.py` compares with recorded digests.
  */
final class MixWorkload(spark: SparkSession, a: Main.Args, tr: Tracer) {
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(df.col(s"`${f.name}`"))
        case _ => df.col(s"`${f.name}`")
      }
    }
    val h = df.select(pmod(xxhash64(cols: _*), lit(2147483647L)).as("h"))
    val r = h.agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def execute(id: String, op: Int): Map[String, Any] = {
    val fn = graft.SparkEntry.queries(id)
    val t0 = Clock.nowMs
    val ((rows, hash), buildMs) = tr.span("query", op) {
      val (df, b) = Stats.timeMs(tr.span("build", op)(fn(spark, a.data)))
      (tr.span("action", op)(digest(df)), b)
    }
    Map("id" -> id, "ms" -> (Clock.nowMs - t0), "build_ms" -> buildMs, "rows" -> rows,
      "hash" -> hash, "start_epoch_ms" -> t0)
  }

  def run(out: mutable.Map[String, Any]): Unit = {
    val (_, warmMs) = Stats.timeMs(a.mix.zipWithIndex.foreach { case (id, i) => execute(id, -1 - i) })
    out("warmup_ms") = Seq(warmMs)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = Clock.nowMs
    while (passes.isEmpty || Clock.nowMs - t0 < a.seconds * 1000) {
      val p0 = Clock.nowMs
      a.mix.foreach(id => ops += execute(id, ops.size))
      passes += Clock.nowMs - p0
    }
    out("timed_ms") = Clock.nowMs - t0
    out("passes_ms") = passes.toSeq
    out("ops") = ops.toSeq
    if (a.trace) out("layers") = loads()
  }

  /** `Tables.load` per table the mix reads: wall time and jobs launched. */
  def loads(): Map[String, Any] = graft.Tables.all.map { t =>
    tr.drain()
    val before = tr.jobs.size
    val ms = Stats.median((1 to 3).map(i =>
      Stats.timeMs(tr.span("Tables.load", -1000 - i)(graft.Tables.load(spark, a.data, t)))._2))
    tr.drain()
    t -> Map("ms" -> ms, "jobs" -> (tr.jobs.size - before) / 3.0)
  }.toMap

  /** Digests of every mix id, computed twice in one session. */
  def digestsOnly(out: mutable.Map[String, Any]): Unit =
    out("digests") = (1 to math.max(a.passes, 1)).map(_ =>
      a.mix.map(id => id -> { val (r, h) = digest(graft.SparkEntry.queries(id)(spark, a.data)); Seq(r, h) }).toMap)
}
