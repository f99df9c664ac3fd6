package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.sources.Sinks
import graft.taxi.{TaxiDashboard, TaxiPipeline, TaxiWarehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's JVM side: runs one workload against the engine's
  * public entry points and writes the raw measurements to
  * `<work>/result.json`; `run.py` turns them into metrics and checks
  * correctness.
  *
  *   --workload taxi_etl|gates_batch|gates_stream --seconds S --trace 0|1
  *   --work DIR --cores N [--input raw.parquet]
  *   [--sf harnessDir --gates g1,g2,...] [--min-warm N]
  *
  * Set-up is timed from JVM start until the first session is built and
  * the inputs are resolved: what a shipped main pays before its first job.
  * One cold pass follows, then warm passes until `--seconds` have elapsed
  * since the cold pass began (at least `--min-warm`, default two). After
  * its passes, taxi_etl refreshes the dashboard six times over the last
  * pass's committed valid-trips table.
  * `run.py` measures the later half of the warm passes and refreshes.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val bootMs = ManagementFactory.getRuntimeMXBean.getUptime
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val work = args("work")
    val cores = args("cores").toInt
    val budgetNs = (args("seconds").toDouble * 1e9).toLong
    val minWarm = args.get("min-warm").map(_.toInt).getOrElse(MinWarmPasses)

    val spark = session(workload, cores, work)
    workload match {
      case "taxi_etl" => spark.read.parquet(args("input")).schema
      case "gates_batch" | "gates_stream" =>
        harnessTables.foreach(t => graft.Tables.table(spark, args("sf"), t).schema)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupNs = bootMs * 1000000L + (System.nanoTime() - entryNs)
    val tracer = new Tracer(spark.sparkContext, args("trace") == "1")
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcs.map(_.getCollectionTime).sum
    heapPools.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()

    val passes = new ArrayBuffer[Map[String, Any]]()
    def runPasses(pass: Int => Map[String, Any]): Unit = {
      var k = 0
      // pass 0 is the cold one; warm passes fill the time budget
      while (k < 1 + minWarm || System.nanoTime() - t0 < budgetNs) {
        val gcBefore = gcMs
        val p = pass(k)
        passes += p + ("gc_ms" -> (gcMs - gcBefore))
        k += 1
        System.gc()
      }
    }
    workload match {
      case "taxi_etl" => runPasses(k => etlPass(spark, tracer, args("input"), s"$work/etl", k))
      case gw =>
        val gates = args("gates").split(",").toSeq
        val streams = new StreamWatch
        spark.streams.addListener(streams)
        runPasses(k => gatePass(spark, tracer, args("sf"), gates, streams,
          gw == "gates_stream", k))
    }
    val peakHeap = heapPools.map(_.getPeakUsage.getUsed).sum
    val dash = if (workload != "taxi_etl") Nil else {
      val table = s"${passes.last("out_dir")}/transform/transformed_data.parquet"
      (0 until DashRefreshes).map(k => dashCycle(spark, tracer, table, k))
    }

    val result = Map(
      "workload" -> workload,
      "setup_ns" -> setupNs,
      "peak_heap_bytes" -> peakHeap,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "cores" -> cores,
      "passes" -> passes.toSeq,
      "dash" -> dash,
      "oracle" -> args.get("gates").toSeq.flatMap(_.split(","))
        .map(g => g -> graft.SparkEntry.oracleSql.get(g).orNull).toMap,
      "spans" -> tracer.records())
    tracer.close()
    Files.writeString(Paths.get(work, "result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }

  val MinWarmPasses = 2
  val DashRefreshes = 6

  val harnessTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session each workload's shipped entry point builds: TaxiEtlMain's
    * config for the taxi workloads, Bench's for the gate registry. The
    * three directories keep each run's spill, scratch and warehouse files
    * inside its own work directory. */
  def session(workload: String, cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (workload.startsWith("gates")) b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // unpersisting a localCheckpoint between passes logs one warning per RDD
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** Drops every cached table and pinned RDD block (caches, factTrips'
    * local checkpoint) so the next operation starts from the same state. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator()
      .asScala.foreach(Files.delete)
  }

  /** One ETL pass, the same calls in the same order as TaxiEtlMain:
    * raw parquet → extract → transform → anomaly save → quality report →
    * dim_time, dim_location, dim_payment and fact_trips. */
  def etlPass(spark: SparkSession, t: Tracer, input: String, root: String,
      k: Int): Map[String, Any] = {
    val out = s"$root/pass$k"
    val passSpan = t.spans.size
    val (report, factRows) = t.span("etl.pass", s"pass-$k") {
      val extracted = t.span("extract") {
        val df = Sinks.requireNonEmpty(TaxiPipeline.extract(spark.read.parquet(input)), "extract")
        Sinks.writeParquet(df, s"$out/extract/extracted_data.parquet")
        df
      }
      val (validCached, anomCached) = t.span("transform") {
        val (valid, anomalies) = TaxiPipeline.transform(extracted)
        val v = valid.cache()
        val a = anomalies.cache()
        Sinks.writeParquet(v, s"$out/transform/transformed_data.parquet")
        (v, a)
      }
      t.span("anomaly_save") {
        if (!anomCached.isEmpty) Sinks.writeTimestamped(anomCached, s"$out/transform")
      }
      val report = t.span("report") {
        val r = TaxiPipeline.qualityReport(validCached, anomCached)
        val path = Paths.get(s"$out/transform/transformation_report.json")
        Files.createDirectories(path.getParent)
        Files.writeString(path, reportJson(r))
        r
      }
      t.span("load.dim_time") {
        Sinks.writeParquet(TaxiWarehouse.dimTime(validCached), s"$out/warehouse/dim_time")
      }
      t.span("load.dim_location") {
        Sinks.writeParquet(TaxiWarehouse.dimLocation(validCached), s"$out/warehouse/dim_location")
      }
      t.span("load.dim_payment") {
        Sinks.writeParquet(TaxiWarehouse.dimPayment(validCached), s"$out/warehouse/dim_payment")
      }
      val factRows = t.span("load.fact") {
        Sinks.writeParquet(TaxiWarehouse.factTrips(validCached), s"$out/warehouse/fact_trips")
        spark.read.parquet(s"$out/warehouse/fact_trips").count()
      }
      (report, factRows)
    }
    val files = Files.walk(Paths.get(out)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
    release(spark)
    // the last pass's output stays for the TaxiEtlMain equivalence check
    if (k > 0) deleteTree(s"$root/pass${k - 1}")
    Map("pass" -> k, "span" -> passSpan, "wall_ns" -> t.spans(passSpan).dur,
      "ops" -> t.spans.drop(passSpan + 1).filter(_.parent == passSpan)
        .map(s => Map("name" -> s.name, "ns" -> s.dur)).toSeq,
      "out_files" -> files.size, "out_dir" -> out,
      "check" -> Map("total" -> report.totalProcessed, "anomalies" -> report.anomalyDetails,
        "valid_dedup" -> (report.totalProcessed - report.anomalyCount), "fact_rows" -> factRows))
  }

  /** transformation_report.json as TaxiEtlMain formats it. */
  def reportJson(report: TaxiPipeline.QualityReport): String = {
    val detailJson = report.anomalyDetails.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    s"""{
       |  "total_processed": ${report.totalProcessed},
       |  "anomaly_count": ${report.anomalyCount},
       |  "anomaly_rate": "${f"${report.anomalyRatePct}%.2f"}%",
       |  "anomaly_details": $detailJson,
       |  "data_quality_metrics": {
       |    "avg_trip_duration": ${num(report.avgTripDuration)},
       |    "avg_speed": ${num(report.avgSpeed)},
       |    "total_fare_amount": ${num(report.totalFareAmount)}
       |  }
       |}""".stripMargin
  }

  val dashQueries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "kpi" -> TaxiDashboard.kpiCards,
    "daily_revenue" -> TaxiDashboard.dailyAvgRevenue,
    "donut" -> TaxiDashboard.passengerDonut)

  /** One dashboard refresh by a single client: each query re-resolves the
    * committed table, then is planned and collected. */
  def dashCycle(spark: SparkSession, t: Tracer, table: String, k: Int): Map[String, Any] = {
    val cycleSpan = t.spans.size
    val rows = t.span("dash.cycle", s"cycle-$k") {
      dashQueries.map { case (q, f) =>
        t.span(s"dash.$q", s"cycle-$k/$q") {
          val df = t.span("build")(f(spark.read.parquet(table)))
          t.span("plan")(df.queryExecution.executedPlan)
          q -> t.span("exec")(df.collect().map(_.toSeq).toSeq)
        }
      }.toMap
    }
    Map("pass" -> k, "span" -> cycleSpan, "wall_ns" -> t.spans(cycleSpan).dur,
      "ops" -> opsUnder(t, cycleSpan), "check" -> rows)
  }

  /** One pass over the gates: build (`fn(spark, dir)`), plan
    * (`executedPlan`) and execute (`count()`) timed apart; caches and
    * pinned blocks are released between gates, outside the timings. A
    * gate of gates_batch must start no streaming query, one of
    * gates_stream at least one; the triggers each ran are recorded. */
  def gatePass(spark: SparkSession, t: Tracer, sf: String, gates: Seq[String],
      streams: StreamWatch, streaming: Boolean, k: Int): Map[String, Any] = {
    val passSpan = t.spans.size
    val registry = graft.SparkEntry.queries
    val counts = ArrayBuffer[(String, Any)]()
    val triggers = ArrayBuffer[(String, Seq[Long])]()
    t.span("gates.pass", s"pass-$k") {
      gates.foreach { g =>
        streams.reset()
        val n = t.span(s"gate.$g", s"pass-$k/$g") {
          try {
            val df = t.span("build")(registry(g)(spark, sf))
            t.span("plan")(df.queryExecution.executedPlan)
            t.span("exec")(df.count())
          } catch { case e: Exception => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        }
        // progress events arrive on the listener bus after the query stops
        org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
        counts += g -> (
          if (streaming && streams.started == 0) "error: started no streaming query"
          else if (!streaming && streams.started > 0) "error: started a streaming query"
          else n)
        if (streaming) triggers += g -> streams.triggerMs.asScala.toSeq
        release(spark)
      }
    }
    val ops = opsUnder(t, passSpan)
    // a gate pass is the sum of its gates' build, plan and execute; the
    // releases between gates are not part of it
    Map("pass" -> k, "span" -> passSpan, "wall_ns" -> ops.map(_("ns").asInstanceOf[Long]).sum,
      "ops" -> ops, "check" -> counts.toMap, "trigger_ms" -> triggers.toMap)
  }

  /** Each child op of a pass span with its build/plan/exec split. */
  private def opsUnder(t: Tracer, passSpan: Int): Seq[Map[String, Any]] = {
    val kids = t.spans.drop(passSpan + 1)
    kids.filter(_.parent == passSpan).map { op =>
      Map("name" -> op.name, "ns" -> op.dur) ++
        kids.filter(_.parent == op.id).map(c => c.name + "_ns" -> c.dur)
    }.toSeq
  }

  /** Streaming queries started, and the duration of every trigger they
    * ran, since the last reset. */
  final class StreamWatch extends StreamingQueryListener {
    @volatile var started = 0
    val triggerMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def reset(): Unit = { started = 0; triggerMs.clear() }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = started += 1
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      triggerMs.add(Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
