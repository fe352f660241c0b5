package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{EngineConf, SparkEntry, Tables}
import graft.ml.MlPipelines
import graft.pipelines.HivePipelines
import graft.sources.Sources

/** One timed execution of one operation. */
final case class Sample(op: String, ms: Double, ok: Boolean, traced: Boolean)

/** The benchmark's JVM side. `run.py` writes a plan file (workload, inputs,
  * operation list, time window) and reads back one JSON document: when
  * set-up ended, the warm-up fingerprint of every operation, one sample per
  * timed operation and, in a traced run, the layer counters.
  *
  * Usage: perfbench.Main <plan file>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val out = run(plan)
    Files.write(Paths.get(plan("out")), out.getBytes(UTF_8))
  }

  /** The session every workload runs on: the engine's shared configuration
    * on a fixed 4-core local master, so results and timings do not depend on
    * the host's core count.
    */
  def session(work: String): SparkSession = {
    val s = EngineConf.common(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sensorWorkload = "hive_pipeline"

  def run(plan: Plan): String = {
    val workload = plan("workload")
    val work = plan("work")
    val data = plan("data")
    val register: SparkSession => Unit =
      if (workload == sensorWorkload) HiveOps.register(_, data)
      else Tables.registerViews(_, data)

    // set-up: session build + input registration; run.py times it from
    // the process launch to this wall-clock instant
    val spark = session(work)
    register(spark)
    val setupDoneMs = System.currentTimeMillis()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    phase("set-up done")

    val opList = plan.list("ops")
    val ops: Map[String, Ops.Op] =
      if (workload == sensorWorkload) HiveOps.ops(spark, data)
      else opList.distinct.map(n => n -> Ops.query(spark, data, n)).toMap

    // warm-up: every operation once, untimed; query_mix runs it on 4
    // threads, twice, since one execution leaves a query's JIT-compiled code
    // paths half warm (its next run was up to 2x slower than later ones).
    // Timed executions must reproduce the expected fingerprint run.py passes
    // in, or else the warm-up's (which run.py then checks).
    val warm = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val warmErr = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val dump = plan.get("dump").filter(_.nonEmpty)
    def warmOne(name: String): Unit =
      try {
        val df = ops(name).build()
        warm.put(name, Fingerprint.of(df))
        dump.filter(_ => plan.list("dump_ops").contains(name)).foreach { d =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
        }
      } catch { case NonFatal(e) => warmErr.put(name, Ops.message(e)) }
    dump.foreach { d =>
      Files.createDirectories(Paths.get(d))
      val sql = SparkEntry.oracleSql.filter { case (k, _) => plan.list("dump_ops").contains(k) }
      Files.write(Paths.get(s"$d/oracle_sql.json"), Json.obj(sql).getBytes(UTF_8))
    }
    val order = opList.distinct
    if (plan.int("warmup") == 0) ()
    else if (workload == sensorWorkload) order.foreach(warmOne)
    else for (_ <- 0 until 2) {
      // each thread takes the next query off a shared queue, so a few slow
      // queries do not stack up on one thread
      val queue = new ConcurrentLinkedQueue[String](order.asJava)
      Ops.parallel(4) { _ => Iterator.continually(queue.poll()).takeWhile(_ != null).foreach(warmOne) }
    }
    val expected = order.map(n => n -> plan.get(s"expect.$n").getOrElse(warm.get(n))).toMap
    spark.catalog.clearCache()
    phase("warm-up done")

    // timed window(s): a traced run measures an untraced half, then a traced
    // half with the instrumentation registered
    val seconds = plan.double("seconds")
    val traced = plan.int("trace") == 1
    val samples = new ConcurrentLinkedQueue[Sample]()
    val mismatch = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // returns the measured seconds
    def window(len: Double, tracer: Option[Tracer]): Double = {
      val t0 = System.nanoTime()
      val deadline = t0 + (len * 1e9).toLong
      // whole passes over the list, so every run measures the same mix of
      // operations; the client stops only between passes
      def pass(): Unit = opList.foreach { name =>
        samples.add(Ops.timed(ops(name), name, expected(name), tracer, mismatch))
      }
      while (System.nanoTime() < deadline) {
        if (workload == sensorWorkload) tracer.fold(pass())(_.spans("pipeline.pass")(pass()))
        else pass()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val (measured, layers, spans) =
      if (!traced) (Seq(window(seconds, None)), Map.empty[String, Double],
        Map.empty[String, (Long, Double, Double)])
      else {
        val untracedS = window(seconds / 2, None)
        val tracer = new Tracer(spark)
        tracer.begin()
        val tracedS = window(seconds / 2, Some(tracer))
        (Seq(untracedS, tracedS), tracer.end(), tracer.spans.summary)
      }

    phase("measurement done")
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""setup_done_ms": $setupDoneMs,"""
    json ++= s""""measured_s": ${measured.mkString("[", ",", "]")},"""
    json ++= s""""peak_rss_mb": ${Ops.peakRssMb},"""
    json ++= s""""warmup": ${Json.obj(warm.asScala.toMap)},"""
    json ++= s""""warmup_errors": ${Json.obj(warmErr.asScala.toMap)},"""
    json ++= s""""mismatch": ${Json.obj(mismatch.asScala.toMap)},"""
    json ++= s""""layers": ${Json.obj(layers.map { case (k, v) => k -> v.toString }, raw = true)},"""
    json ++= s""""spans": ${Json.obj(spans.map { case (k, (n, tot, self)) =>
      k -> s"[$n,$tot,$self]" }, raw = true)},"""
    json ++= """"samples": ["""
    json ++= samples.asScala.map { s =>
      s"[${Json.str(s.op)},${s.ms},${if (s.ok) 1 else 0},${if (s.traced) 1 else 0}]"
    }.mkString(",")
    json ++= "]}"
    spark.stop()
    json.toString
  }
}

/** Operations: each builds a DataFrame through the engine's public API; the
  * harness consumes it in full through [[Fingerprint]].
  */
object Ops {
  /** `span` names the public call for the traced run's spans. */
  final case class Op(span: String, build: () => DataFrame)

  def query(spark: SparkSession, data: String, name: String): Op = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    Op("entry.query", () => fn(spark, data))
  }

  def timed(op: Op, name: String, expected: String,
      tracer: Option[Tracer],
      mismatch: java.util.concurrent.ConcurrentHashMap[String, String]): Sample = {
    def span[T](n: String)(body: => T): T = tracer.fold(body)(_.spans(n)(body))
    val t0 = System.nanoTime()
    val ok =
      try {
        val fp = span(op.span) {
          val df = span("entry.build")(op.build())
          span("entry.consume")(Fingerprint.of(df))
        }
        if (fp != expected) mismatch.putIfAbsent(name, s"expected $expected got $fp")
        fp == expected
      } catch { case NonFatal(e) =>
        mismatch.putIfAbsent(name, message(e))
        false
      }
    Sample(name, (System.nanoTime() - t0) / 1e6, ok, tracer.isDefined)
  }

  def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Runs `body(i)` for i in 0 until n on n threads and waits for all. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The paper's pipeline over the generated MSPB-shaped inputs: one pass is
  * read D1/D2 → population features → hive split → classify and evaluate →
  * summer aggregates → window sequences → sequence scaler statistics. Each
  * step is one operation and one span.
  */
object HiveOps {
  val populationSchema: StructType = StructType(Seq(
    StructField("hive_id", LongType), StructField("date", TimestampType),
    StructField("frames_of_bees", DoubleType), StructField("apiary", StringType),
    StructField("evaluation", StringType)))
  val winterSchema: StructType = StructType(Seq(
    StructField("hive_id", LongType), StructField("apiary", StringType),
    StructField("mortality_cause", StringType),
    StructField("weight_before_kg", DoubleType), StructField("weight_after_kg", DoubleType),
    StructField("syrup_consumption_kg", DoubleType),
    StructField("frames_before", DoubleType), StructField("frames_after", DoubleType)))

  private def csv(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Set-up: the annotation tables become views; the sensor CSVs are read
    * by the timed pass itself.
    */
  def register(spark: SparkSession, data: String): Unit = {
    csv(spark, populationSchema, s"$data/population.csv").createOrReplaceTempView("population")
    csv(spark, winterSchema, s"$data/winter.csv").createOrReplaceTempView("winter")
  }

  /** The pipeline's feature columns: the six hive-level sensor readings.
    * The 16 frequency bands stay in the CSVs (and are parsed) but are left
    * out of the statistics: with all 22 features (about 200 statistic
    * columns) a warm pass took 32 s, 20 s of it in classifyAndEvaluate,
    * whatever the row count.
    */
  val sensorFeatures: Seq[String] = HivePipelines.sensorFeatures.take(6)

  def ops(spark: SparkSession, data: String): Map[String, Ops.Op] = {
    // later steps take the DataFrames the earlier steps of the same pass
    // returned, as a caller of the API would
    @volatile var sensor: DataFrame = null
    @volatile var features: DataFrame = null
    @volatile var sequences: DataFrame = null
    val exclude = Set("hive_id", "frames_of_bees", "population_class")
    Map(
      "hive.read" -> Ops.Op("sources.read", () => {
        sensor = Sources.readSensorPeriods(spark, s"$data/D1_sensor_data.csv",
          s"$data/D2_sensor_data.csv")
        sensor
      }),
      "hive.population_features" -> Ops.Op("pipelines.population_features", () => {
        features = HivePipelines.populationFeatures(sensor, spark.table("population"),
          sensorFeatures)
        features
      }),
      "hive.hive_split" -> Ops.Op("pipelines.hive_split", () =>
        HivePipelines.withHiveSplit(features)),
      "hive.classify_and_evaluate" -> Ops.Op("ml.classify_and_evaluate", () => {
        val featCols = Sources.numericFeatureColumns(features, exclude)
        MlPipelines.classifyAndEvaluate(features.na.fill(0.0, featCols),
          "hive_id", featCols, "population_class")
      }),
      "hive.summer_aggregates" -> Ops.Op("pipelines.summer_aggregates", () =>
        HivePipelines.summerAggregates(sensor, sensorFeatures)),
      "hive.window_sequences" -> Ops.Op("pipelines.window_sequences", () => {
        sequences = HivePipelines.windowSequences(sensor, spark.table("population"),
          sensorFeatures)
        sequences
      }),
      "hive.sequence_scaler_stats" -> Ops.Op("pipelines.sequence_scaler_stats", () =>
        HivePipelines.sequenceScalerStats(sequences.select(col("seq_raw")), "seq_raw"))
    )
  }
}

/** The plan file: `key=value` lines; list values are comma-separated. */
final class Plan(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"plan: missing $k"))
  def get(k: String): Option[String] = kv.get(k)
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
  def list(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
}

object Plan {
  def read(path: String): Plan = new Plan(
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('=')
        l.take(i).trim -> l.drop(i + 1).trim
      }.toMap)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Map[String, String], raw: Boolean = false): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${str(k)}: ${if (raw) v else str(v)}" }.mkString("{", ",", "}")
}
