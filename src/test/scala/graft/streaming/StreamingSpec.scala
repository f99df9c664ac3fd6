package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MicroBatchExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

// top-level: Dataset encoders for inner-class case classes need an outer
// scope; keep it simple
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sample = Seq(
    Ev(1, ts("2024-01-01 10:05:00"), 7, "view", 1.0),
    Ev(2, ts("2024-01-01 10:20:00"), 7, "click", 2.0),
    Ev(3, ts("2024-01-01 11:10:00"), 8, "purchase", 30.0),
    Ev(4, ts("2024-01-01 11:40:00"), 8, "error", -1.0),
    Ev(5, ts("2024-01-01 11:55:00"), 7, "view", 0.0))

  test("RocksDB state-store provider is ACTIVE in executed stateful queries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the conf alone could be set yet silently ignored (typo'd key, a
    // query-start override) — assert on the EXECUTED query's progress:
    // only RocksDBStateStoreProvider publishes rocksdb* custom metrics
    EventsStream.pinRocksDBStateStore(spark)
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = EventsStream.hourlyAgg(mem.toDF())
      .writeStream.format("memory").queryName("rocksdb_probe")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val ops = (q.recentProgress ++ Option(q.lastProgress))
        .flatMap(_.stateOperators)
      assert(ops.nonEmpty, "stateful query reported no state operators")
      val keys = ops.flatMap(_.customMetrics.keySet().asScala)
      assert(keys.exists(_.toLowerCase.contains("rocksdb")),
        s"state metrics carry no rocksdb entries — provider not active: ${keys.toSet}")
    } finally q.stop()
  }

  test("streaming gates pin the state partition count — decoupled from cores (r17)") {
    // state-store count = shuffle partitions at first query start, one
    // RocksDB instance (changelog + fsync per trigger) each; the gates
    // pin graft.stream.statePartitions (default 8) so per-trigger commit
    // cost does not scale with whatever box starts the query. Assert on
    // the EXECUTED gate's progress, then that the session conf restores.
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    EventsStream.hourlyAggStreamGate(spark, sfDir).count()
    val ops = EventsStream.lastGateProgress.flatMap(_.stateOperators)
    assert(ops.nonEmpty, "gate reported no state operators")
    assert(ops.forall(_.numShufflePartitions == 8L),
      s"state partitions not pinned: ${ops.map(_.numShufflePartitions).toSeq}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prior,
      "batch shuffle partitions must be restored after the stream drains")
  }

  test("hourlyAgg over a MemoryStream matches the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = EventsStream.hourlyAgg(mem.toDF())
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hourly_test")
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    val batch = EventsStream.hourlyAgg(sample.toDF())
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed == batch, "stream and batch must agree (unified API)")
    assert(streamed.nonEmpty)
  }

  test("trending top-k over a MemoryStream matches the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = EventsStream.hourlyAgg(mem.toDF())
      .writeStream.format("memory").queryName("trend_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    // the rank step runs over the windowed aggregate, identically on the
    // streamed sink table and the batch twin
    val streamed = EventsStream.trendingTopK(
        spark.table("trend_test").select("window_start", "event_type", "n"), k = 2)
      .orderBy("window_start", "rank").collect().map(_.toSeq).toSeq
    val batch = EventsStream.trendingTopK(
        EventsStream.hourlyAgg(sample.toDF()).select("window_start", "event_type", "n"),
        k = 2)
      .orderBy("window_start", "rank").collect().map(_.toSeq).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // hour 11 has three types; k=2 keeps the two most frequent (all count
    // 1 → alphabetical: error, purchase) and ranks are contiguous
    val h11 = streamed.filter(_.head == ts("2024-01-01 11:00:00"))
    assert(h11.map(r => (r(1), r(2))) == Seq((1, "error"), (2, "purchase")))
  }

  test("twin-sink foreachBatch splits valid vs anomalies per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft_stream").toString
    val mem = MemoryStream[Ev]
    mem.addData(sample: _*)
    val q = mem.toDF().writeStream
      .foreachBatch(EventsStream.twinSinkWriter(s"$out/valid", s"$out/anomalies") _)
      .start()
    q.processAllAvailable()
    q.stop()
    val valid = spark.read.parquet(s"$out/valid")
    val anoms = spark.read.parquet(s"$out/anomalies")
    assert(valid.count() == 3) // events 1,2,3
    assert(anoms.count() == 2) // error event + value<=0
    assert(!valid.columns.contains("rejection_reason"))
    // priority: event 4 has value<=0 AND type error → first rule wins
    val r4 = anoms.filter(col("event_id") === 4).select("rejection_reason").head().getString(0)
    assert(r4 == "Valeur invalide")
  }

  test("file-source stream over the harness events parquet matches batch") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // stage the (nanos-timestamped) events file into a stream-source dir
    val dir = Files.createTempDirectory("graft_stream_src")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val q = EventsStream.hourlyAgg(stream)
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("file_hourly").agg(sum("n")).head().getLong(0)
    val batchTotal = graft.Tables.events(spark, sfDir).count()
    assert(streamed == batchTotal, "every event lands in exactly one window")
  }

  test("sessionize keeps running per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.sessionize(mem.toDF())
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("update").start()
    mem.addData(sample.take(2): _*) // user 7: 2 events
    q.processAllAvailable()
    mem.addData(sample.drop(2): _*) // user 8: 2 events, user 7: +1
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions_test")
      .groupBy("user_id").agg(max("n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sessions(7L) == 3L, "state accumulated across batches")
    assert(sessions(8L) == 2L)
  }

  test("gap sessions: event-time timeout closes sessions exactly like the batch rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.gapSessions(mem.toDF(), gapSec = 1800)
      .writeStream.format("memory").queryName("gap_sessions_test")
      .outputMode("append").start()
    // sample sessions (30-min gap): user 7 → {10:05, 10:20} then {11:55}
    // (95-min gap splits); user 8 → {11:10, 11:40} (gap EXACTLY 1800s —
    // the batch rule is strictly-greater, so SAME session)
    mem.addData(sample: _*)
    q.processAllAvailable()
    // watermark advancers (user 99, filtered out of the assertion): each
    // batch first fires timeouts against the PREVIOUS batch's watermark,
    // then advances it — so closing everything takes a few pushes
    for (adv <- Seq("2024-01-01 13:00:00", "2024-01-01 15:00:00", "2024-01-01 17:00:00")) {
      mem.addData(Ev(100, ts(adv), 99, "view", 1.0))
      q.processAllAvailable()
    }
    q.stop()
    def us(s: String) = ts(s).getTime * 1000L
    val got = spark.table("gap_sessions_test")
      .filter(col("user_id") =!= 99)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (7L, us("2024-01-01 10:05:00"), us("2024-01-01 10:20:00"), 2L),
      (7L, us("2024-01-01 11:55:00"), us("2024-01-01 11:55:00"), 1L),
      (8L, us("2024-01-01 11:10:00"), us("2024-01-01 11:40:00"), 2L)),
      s"closed sessions diverged from the batch gap rule: $got")
  }

  test("stream-stream interval join matches the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      Ev(100, ts("2024-01-01 10:30:00"), 7, "click", 1.0),
      Ev(101, ts("2024-01-01 12:00:00"), 7, "click", 1.0), // no view in window
      Ev(102, ts("2024-01-01 10:30:00"), 8, "click", 1.0)) // other user's views only
    val views = Seq(
      Ev(200, ts("2024-01-01 10:00:00"), 7, "view", 0.0), // in window for 100
      Ev(201, ts("2024-01-01 10:25:00"), 7, "view", 0.0), // in window for 100
      Ev(202, ts("2024-01-01 09:00:00"), 7, "view", 0.0)) // too old for both
    val cm = MemoryStream[Ev]; val vm = MemoryStream[Ev]
    cm.addData(clicks: _*); vm.addData(views: _*)
    val q = EventsStream.clickViewJoin(cm.toDF(), vm.toDF())
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssjoin_test")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == Set((100L, 200L), (100L, 201L)))
    val batch = EventsStream.clickViewJoin(clicks.toDF(), views.toDF())
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, "unified API: stream == batch")
  }

  test("streaming dedup suppresses redelivered events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventsStream.dedupEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    mem.addData(sample.take(3): _*) // at-least-once redelivery of 1,2,3
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_test").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L, 4L, 5L), "each event exactly once")
  }

  test("stream-static decontamination filter: stream == batch, eval copies dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static side: the eval-set shingle hashes from the corpus; streamed
    // side: a mix of corpus docs — including doc 0, which IS in the eval
    // split (0 % 17 == 0) and must be filtered out of the stream
    val bench = graft.llm.Curation.benchShingleHashes(spark, sfDir)
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 40)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val streamIn = mem.toDF().toDF("doc_id", "text")
    val q = graft.llm.Curation.decontaminateAny(streamIn, bench)
      .writeStream.format("memory").queryName("decon_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("decon_test").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.llm.Curation.decontaminateAny(
        docs.toDF("doc_id", "text"), bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, "unified API: stream == batch")
    assert(!streamed.contains(0L), "an eval-split doc shares all its shingles — dropped")
    assert(streamed.nonEmpty, "clean docs must pass the filter")
  }

  test("stream-static Bloom probe: stream == batch, agrees with the x73 batch filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.DocDedup
    // static side: Bloom positions of the historical (even doc_id) half
    val docs = graft.Tables.widen(graft.Tables.documents(spark, sfDir))
      .select("doc_id", "text")
    val positions = DocDedup.bloomPositions(docs.filter(col("doc_id") % 2 === 0))
    // streamed side: the odd half, including a planted redelivery of an
    // even doc's text (must be a bloom hit)
    val batchDocs = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") < 80)
      .as[(Long, String)].collect().toSeq
    val dupText = docs.filter(col("doc_id") === 0).as[(Long, String)].head()._2
    val incoming = batchDocs :+ (9001L, dupText)
    val mem = MemoryStream[(Long, String)]
    mem.addData(incoming: _*)
    val q = DocDedup.bloomProbeAny(mem.toDF().toDF("doc_id", "text"), positions)
      .writeStream.format("memory").queryName("bloom_probe_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bloom_probe_test")
      .select("doc_id", "bloom_hit").as[(Long, Boolean)].collect().toMap
    val batch = DocDedup.bloomProbeAny(incoming.toDF("doc_id", "text"), positions)
      .select("doc_id", "bloom_hit").as[(Long, Boolean)].collect().toMap
    assert(streamed == batch, "unified API: stream == batch")
    assert(streamed(9001L), "redelivered historical text must hit the filter")
    // and the probe agrees with the x73 batch construction's verdicts
    val x73 = DocDedup.bloomPrefilter(spark, sfDir)
      .select("doc_id", "bloom_hit").as[(Long, Boolean)].collect().toMap
    // (x73 plants neighbor texts for doc_id % 7 == 0 — compare only
    // unplanted stream docs, whose text matches the corpus row)
    batchDocs.map(_._1).filter(_ % 7 != 0)
      .foreach(id => assert(streamed(id) == x73(id), s"probe vs x73 disagree on doc $id"))
  }

  test("sliding-window and redelivery-dedup driver gates: streaming engine equals batch semantics") {
    val nEvents = graft.Tables.events(spark, sfDir).count()
    // e7: window(2h, 1h) — every event lands in exactly two windows, so
    // the n column totals 2× the corpus, and every window spans 2 hours
    val sliding = EventsStream.slidingAggStreamGate(spark, sfDir).cache()
    assert(sliding.agg(sum("n")).head().getLong(0) == 2 * nEvents)
    assert(sliding.filter(
      col("window_end") =!= col("window_start") + expr("INTERVAL 2 HOURS")).count() == 0)
    // consecutive window overlap: a batch recompute of the tumbling e1
    // aggregate must equal the sliding rows summed... cheaper invariant:
    // each tumbling hour h contributes to windows h-1h and h, so the
    // sliding n for window h = tumbling n(h) + tumbling n(h+1)
    val tumbling = graft.Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("tn"))
    val joined = sliding
      .join(tumbling.select(col("h").as("window_start"), col("event_type"),
        col("tn").as("tn1")), Seq("window_start", "event_type"), "left")
      .join(tumbling.select((col("h") - expr("INTERVAL 1 HOUR")).as("window_start"),
        col("event_type"), col("tn").as("tn2")), Seq("window_start", "event_type"), "left")
    assert(joined.filter(col("n") =!=
      coalesce(col("tn1"), lit(0L)) + coalesce(col("tn2"), lit(0L))).count() == 0,
      "sliding window counts must decompose into the two covered tumbling hours")
    sliding.unpersist()
    // e8: double-delivered input, state-store dedup restores exactly the table
    val deduped = EventsStream.dedupStreamGate(spark, sfDir)
    assert(deduped.count() == nEvents)
    assert(deduped.select("event_id").distinct().count() == nEvents)
    // e9: stateless stream-static enrichment is total and batch-equal
    val enriched = EventsStream.enrichStreamGate(spark, sfDir).cache()
    assert(enriched.count() == nEvents)
    assert(enriched.filter(col("category").isNull).count() == 0)
    assert(enriched.filter(col("event_type") === "error")
      .filter(col("category") =!= "other").count() == 0,
      "unmapped types must coalesce to 'other'")
    enriched.unpersist()
  }

  test("e14 chain: join→agg emits finalized windows and WITHHOLDS the open tail") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // pair in the 10:00 window (closes: watermark reaches 22:10) and a
    // pair in the 23:00 tail window (end 24:00 > watermark — must stay
    // in state, unsent). If the chained aggregation ignored the join's
    // propagated watermark it would emit both; if it never finalized,
    // neither.
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    clicks.addData(
      Ev(1, ts("2024-01-01 10:20:00"), 7, "click", 1.0),
      Ev(2, ts("2024-01-01 23:10:00"), 9, "click", 1.0))
    views.addData(
      Ev(3, ts("2024-01-01 10:05:00"), 7, "view", 1.0),
      Ev(4, ts("2024-01-01 23:20:00"), 9, "view", 1.0))
    val q = EventsStream.clickViewWindowAgg(clicks.toDF(), views.toDF())
      .writeStream.format("memory").queryName("e14_tail_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("e14_tail_test").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(got == Seq((ts("2024-01-01 10:00:00"), 1L)),
      s"expected only the finalized 10:00 window, got ${got.toList}")
  }

  test("e15: signature-index probe is batching-invariant and equals the batch x35 statuses") {
    val docs = graft.Tables.widen(graft.Tables.documents(spark, sfDir))
      .select("doc_id", "text")
    val index = graft.llm.DocDedup.signatureIndexOf(docs.filter(col("doc_id") % 2 === 0))
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    def probe(df: org.apache.spark.sql.DataFrame) =
      graft.llm.DocDedup.probeSignatureIndexAny(df, index).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val whole = probe(incoming)
    // any split of the incoming set must give the same statuses — the
    // property that lets the foreachBatch stream share x35's oracle
    val cut = incoming.agg((min("doc_id") + max("doc_id")) / 2).head().getDouble(0)
    val batched = probe(incoming.filter(col("doc_id") <= cut)) ++
      probe(incoming.filter(col("doc_id") > cut))
    assert(whole == batched, "probe statuses changed under batching")
    val x35 = graft.llm.DocDedup.incrementalDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(whole == x35,
      s"probe≠x35: onlyProbe=${(whole -- x35).take(3)}, onlyX35=${(x35 -- whole).take(3)}")
  }

  test("e15: a trigger runs at most 3 jobs and never aggregates or shuffles the index") {
    // per micro-batch: the two key-set broadcasts and the sink write; the
    // index's distinct key sets are built once, before the stream starts
    val jobsPerBatch = new ConcurrentHashMap[String, AtomicLong]()
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(MicroBatchExecution.BATCH_ID_KEY)))
          .foreach(b => jobsPerBatch.computeIfAbsent(b, _ => new AtomicLong).incrementAndGet())
    }
    val batchPlans = new ConcurrentLinkedQueue[SparkPlan]()
    val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collectFirst(qe.executedPlan) {
          case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.outputPath.getParent.getName.startsWith("graft_e15_out_") => w.child
        }.foreach(batchPlans.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    val rows = try {
      val out = EventsStream.incrementalDedupStreamGate(spark, sfDir).count()
      ListenerDrain(sc)
      out
    } finally {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
    val perBatch = jobsPerBatch.asScala.map { case (b, n) => b -> n.get }.toMap
    assert(rows > 0 && perBatch.size == 2, s"jobs per batch: $perBatch")
    assert(perBatch.values.forall(_ <= 3), s"jobs per batch: $perBatch")
    assert(batchPlans.size == 2, s"${batchPlans.size} foreachBatch writes seen")
    batchPlans.asScala.foreach { plan =>
      // the two stored key sets (foreachBatch hands the batch over as an RDD)
      assert(collect(plan) { case s: FileSourceScanExec => s }.size == 2, plan.treeString)
      assert(collect(plan) {
        case a: BaseAggregateExec => a
        case e: ShuffleExchangeExec => e
      }.isEmpty, plan.treeString)
    }
  }

  test("e16: routed verdicts equal batch scoring against the frozen model; routes partition") {
    val docs = graft.Tables.widen(graft.Tables.documents(spark, sfDir))
      .select("doc_id", "text")
    val lm = graft.llm.TextStats.bigramLmTableOf(docs.filter(col("doc_id") % 2 === 0))
    val batch = graft.llm.TextStats
      .ensembleVerdictAgainstLm(docs.filter(col("doc_id") % 2 === 1), lm)
      .collect().map(r => (r.getLong(0), r.getString(5))).toMap
    val drained = EventsStream.qualityRouterStreamGate(spark, sfDir).collect()
    assert(drained.map(_.getLong(0)).toSet == batch.keySet &&
      drained.forall(r => batch(r.getLong(0)) == r.getString(5)),
      "streamed verdicts must equal batch scoring against the frozen model")
    // both routes carry traffic (the router actually routes) and the
    // verdict is exactly the majority rule
    val (keeps, drops) = drained.partition(_.getString(5) == "keep")
    assert(keeps.nonEmpty && drops.nonEmpty, "fixture must exercise both sinks")
    drained.foreach { r =>
      val votes = r.getInt(1) + r.getInt(2) + r.getInt(3)
      assert(r.getInt(4) == votes &&
        (r.getString(5) == "keep") == (votes >= 2), s"majority rule broken: $r")
    }
    // the train/score split is real: some incoming bigrams are UNSEEN by
    // the frozen model, so the unseen-drop-out scoring path is exercised
    // (a model trained on everything would make this an empty set)
    val oddOnly = graft.llm.TextStats
      .bigramLmTableOf(docs.filter(col("doc_id") % 2 === 1))
      .select("bigram").except(lm.select("bigram"))
    assert(oddOnly.count() > 0,
      "fixture must contain incoming bigrams the frozen model has never seen")
  }

  test("e17: drained label store equals the full CC recompute; cross-batch merges happen") {
    val drained = EventsStream.incrementalCcStreamGate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // contract: incremental-by-stream == full recompute over everything
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id")
    val full = docs
      .join(graft.llm.DocDedup.clusterLabels(spark, sfDir), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(drained == full, "streamed incremental labels must equal the batch CC")
    // the stream actually MERGED across arrival boundaries: some cluster
    // spans the historical half and a streamed doc, and some spans a
    // batch-2 doc (above the id-midpoint cut) — else the incremental path
    // was never exercised beyond self-labels
    val odd = drained.keys.filter(_ % 2 == 1)
    val cut = (odd.min + odd.max) / 2
    val byCluster = drained.groupBy(_._2).values
    assert(byCluster.exists(m => m.exists(_._1 % 2 == 0) && m.exists(_._1 % 2 == 1)),
      "no cluster spans the historical and streamed halves")
    assert(byCluster.exists(m =>
      m.exists(kv => kv._1 % 2 == 1 && kv._1 > cut) && m.exists(_._1 <= cut)),
      "no batch-2 doc merged into earlier state")
  }

  test("e18: arrival-ordered frozen split — stream equals the chained-batch replay") {
    val drained = EventsStream.frozenSplitStreamGate(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getString(2), r.getString(3)))).toMap
    // replay the two refreshes as chained BATCH calls over the same cuts
    val docs = graft.Tables.widen(graft.Tables.documents(spark, sfDir))
      .select("doc_id")
    val pairs = graft.llm.DocDedup.pairArtifact(spark, sfDir).select("id_a", "id_b")
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val mm = odd.agg(min("doc_id"), max("doc_id")).head()
    val cut = (mm.getLong(0) + mm.getLong(1)) / 2
    type Pred = org.apache.spark.sql.Column => org.apache.spark.sql.Column
    def ccOver(member: Pred) = {
      val p = pairs.filter(member(col("id_a")) && member(col("id_b")))
      docs.filter(member(col("doc_id")))
        .join(graft.llm.DocDedup.dedupClusters(p), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }
    val even: Pred = _ % 2 === 0
    val in1: Pred = c => even(c) || c <= cut
    val all: Pred = _ => lit(true)
    val s0 = graft.llm.DocDedup.leakSafeSplitOf(
      docs.filter(even(col("doc_id"))), ccOver(even))
    val s1 = graft.llm.DocDedup.leakSafeSplitFrozen(
      docs.filter(in1(col("doc_id"))), ccOver(in1), s0.select("doc_id", "split"))
    val s2 = graft.llm.DocDedup.leakSafeSplitFrozen(
      docs, ccOver(all), s1.select("doc_id", "split")).collect()
      .map(r => (r.getLong(0), (r.getString(2), r.getString(3)))).toMap
    assert(drained == s2, "streamed frozen split must equal the chained-batch replay")
    // append-only evals: snapshot-0 assignments survive verbatim, and the
    // final tiers are exactly arrival-shaped
    val s0m = s0.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(s0m.forall { case (d, sp) => drained(d)._1 == sp },
      "a frozen doc's split must never move")
    assert(drained.forall { case (d, (_, a)) =>
      if (d % 2 == 0 || d <= cut) a == "frozen" else a == "inherited" || a == "coined" })
    assert(drained.exists(_._2._2 == "inherited") && drained.exists(_._2._2 == "coined"),
      "fixture must exercise both new-doc tiers")
  }

  test("e10b: native session_window batch twin equals the hand session assembly") {
    // unified API: on a batch frame the native operator emits EVERY
    // session; compare against the e2 lag/sum assembly (the oracle's CTE
    // chain) including first/last EVENT timestamps — this pins both the
    // +1µs merge-rule bridge and the window-end shift
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val native = EventsStream.nativeGapSessions(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val hand = ev.withColumn("us", unix_micros(col("ts")))
      .withColumn("new_s", when(coalesce(col("us") - lag("us", 1).over(w),
        lit(Long.MaxValue)) > 1800000000L, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(w))
      .groupBy("user_id", "sid")
      .agg(min("us").as("st"), max("us").as("en"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(native == hand,
      s"native≠hand: onlyNative=${(native -- hand).take(3)}, onlyHand=${(hand -- native).take(3)}")
  }

  test("e10b: an exact-1800s gap stays ONE session (the ≤-gap rule via gap+1µs)") {
    import spark.implicits._
    val base = ts("2024-01-01 10:00:00")
    def plusUs(us: Long) = new Timestamp(base.getTime + us / 1000) // ms precision here
    val evs = Seq(
      Ev(1, base, 7, "view", 1.0),
      Ev(2, plusUs(1800000000L), 7, "view", 1.0),        // exactly gap → SAME session
      Ev(3, plusUs(2 * 1800000000L + 1000L), 7, "view", 1.0)) // gap + 1ms → NEW session
      .toDF()
    val got = EventsStream.nativeGapSessions(evs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val us0 = base.getTime * 1000L
    assert(got == Set(
      (us0, us0 + 1800000000L, 2L),
      (us0 + 1800000000L + 1800001000L, us0 + 1800000000L + 1800001000L, 1L)),
      s"boundary rule diverged: $got")
  }

  test("checkpoint recovery: a stream-stream JOIN restarted mid-input resumes its join state") {
    // The join-state twin of the aggregation-recovery test below: query 1
    // loads half-1 views into the symmetric-hash-join state stores and
    // dies; half 2 (whose clicks match HALF-1 views) lands while the
    // query is down; query 2 on the same checkpoint must match new
    // clicks against the RESTORED view state. The offset log skips
    // half 1 on restart, so a cross-half match in query 2's sink can
    // come ONLY from recovered state — re-reading can't produce it and
    // a fresh store would lose it.
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // the time range's midpoint lands inside no match interval (matches
    // span ≤ 1h of a months-long range), so CHOOSE the cut inside a real
    // matched pair's [view_ts, click_ts] gap — the view lands in half 1,
    // its click in half 2, and the cut ≤ view_ts+30min keeps the view
    // unevicted at query-1 end (the half-1 click watermark cannot pass
    // view_ts+1h when every half-1 event is ≤ the cut)
    val gapPair = EventsStream.clickViewJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"))
      .select(unix_micros(col("click_ts")).as("cus"), unix_micros(col("view_ts")).as("vus"))
      .filter(col("vus") < col("cus"))
      .orderBy((col("cus") - col("vus")).desc).limit(1).head()
    val mid = (gapPair.getLong(0) + gapPair.getLong(1)) / 2
    val srcDir = Files.createTempDirectory("graft_ckptj_src_")
    val ckDir = Files.createTempDirectory("graft_ckptj_state_").toString
    def dump(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_ckptj_part_")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, srcDir.resolve(name))
      tmp.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(tmp)
    }
    // Append-mode MEMORY sinks refuse checkpoint recovery (the sink is
    // per-query); the FILE sink is the recovery-capable production sink,
    // and its output dir accumulates across query lifetimes — reading it
    // after each phase gives exactly the rows emitted so far.
    val outDir = Files.createTempDirectory("graft_ckptj_out_").toString
    def runOnce(): Seq[(Long, Long)] = {
      val joined = EventsStream.clickViewJoin(
        spark.readStream.schema(ev.schema).parquet(srcDir.toString)
          .filter(col("event_type") === "click"),
        spark.readStream.schema(ev.schema).parquet(srcDir.toString)
          .filter(col("event_type") === "view"))
      val q = joined.writeStream.format("parquet")
        .option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckDir).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(r.fieldIndex("click_id")),
          r.getLong(r.fieldIndex("view_id")))).toSeq
    }
    dump(ev.filter(unix_micros(col("ts")) <= mid), "half1.parquet")
    val phase1 = runOnce() // half-1 views now live in checkpointed join state
    dump(ev.filter(unix_micros(col("ts")) > mid), "half2.parquet")
    val phase2 = runOnce() // restart: new clicks vs RESTORED view state
    val batch = EventsStream.clickViewJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"))
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = (phase1 ++ phase2).toSet
    val want = batch.toSet
    val half1Views = ev.filter(col("event_type") === "view")
      .filter(unix_micros(col("ts")) <= mid)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val half2Clicks = ev.filter(col("event_type") === "click")
      .filter(unix_micros(col("ts")) > mid)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val crossHalf = phase2.filter(p => half2Clicks(p._1) && half1Views(p._2))
    assert(crossHalf.nonEmpty,
      "no cross-restart match — the restored-join-state path was not exercised")
    assert(got == want,
      s"join recovery diverged: only-got=${(got -- want).take(3)}, " +
        s"only-want=${(want -- got).take(3)}")
  }

  test("checkpoint recovery: an aggregation restarted mid-input resumes state, not from zero") {
    // The production restart motion: a stateful query dies (deploy,
    // preemption) and a NEW query object resumes from the checkpoint's
    // StateStore + source offsets. Half 1 is processed by query 1; half 2
    // arrives while the query is DOWN; query 2 (same checkpoint) must
    // produce the aggregate over BOTH halves — if recovery silently
    // started fresh, every hour/type bucket touched by half 1 would
    // undercount, and the offset log would not skip half 1's file.
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val mid = ev.agg((min(unix_micros(col("ts"))) + max(unix_micros(col("ts")))) / 2)
      .head().getDouble(0).toLong
    val srcDir = Files.createTempDirectory("graft_ckpt_src_")
    val ckDir = Files.createTempDirectory("graft_ckpt_state_").toString
    def dump(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_ckpt_part_")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, srcDir.resolve(name))
      tmp.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(tmp)
    }
    def runOnce(): org.apache.spark.sql.DataFrame = {
      val agg = spark.readStream.schema(ev.schema).parquet(srcDir.toString)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      spark.catalog.dropTempView("ckpt_recovery_result") // fresh sink per run
      val q = agg.writeStream.format("memory").queryName("ckpt_recovery_result")
        .outputMode("complete").option("checkpointLocation", ckDir).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("ckpt_recovery_result")
    }
    dump(ev.filter(unix_micros(col("ts")) <= mid), "half1.parquet")
    val partial = runOnce().collect() // query 1: half 1 only, then DOWN
    dump(ev.filter(unix_micros(col("ts")) > mid), "half2.parquet")
    val resumed = runOnce() // query 2: same checkpoint, resumes state
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
    assert(partial.map(_.getLong(2)).sum < ev.count(),
      "fixture degenerate: half 1 already holds every event")
    val got = resumed.collect().map(r => (r.getTimestamp(0), r.getString(1),
      r.getLong(2), math.round(r.getDouble(3) * 100))).toSet
    val want = batch.collect().map(r => (r.getTimestamp(0), r.getString(1),
      r.getLong(2), math.round(r.getDouble(3) * 100))).toSet
    assert(got == want,
      s"restart did not resume state: only-got=${(got -- want).take(3)}, " +
        s"only-want=${(want -- got).take(3)}")
  }

  // shared by the e17/e18 recovery specs: the odd (incoming) docs split at
  // the id midpoint — the same two-batch arrival order the gates stage —
  // dumped one half at a time so the query can die between them
  private def oddDocHalves(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val odd = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") % 2 === 1)
    val mm = odd.agg(min("doc_id").as("mn"), max("doc_id").as("mx")).head()
    val cut = (mm.getLong(0) + mm.getLong(1)) / 2
    (odd.filter(col("doc_id") <= cut), odd.filter(col("doc_id") > cut))
  }

  private def dumpPart(srcDir: java.nio.file.Path,
      df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_e17r_part_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, srcDir.resolve(name))
    tmp.toFile.listFiles().foreach(_.delete()); Files.deleteIfExists(tmp)
  }

  test("checkpoint recovery: e17's delta CC store resumes mid-stream, not from the seed") {
    // Query 1 processes half 1 (store gains delta d0) and dies; half 2
    // lands while it is down; query 2 on the SAME store+checkpoint must
    // resume past d0 — the offset log skips half 1, so the final labels
    // can only be right if d0 (not a fresh seed alone) fed batch 1's
    // prior view.
    val (h1, h2) = oddDocHalves()
    val srcDir = Files.createTempDirectory("graft_e17r_src_")
    val storeDir = Files.createTempDirectory("graft_e17r_store_")
    val ckDir = Files.createTempDirectory("graft_e17r_ck_")
    dumpPart(srcDir, h1, "half1.parquet")
    EventsStream.runIncrementalCcStream(spark, sfDir, srcDir.toString,
      storeDir, ckDir).count()
    val versionsAfter1 = storeDir.toFile.listFiles().map(_.getName).toSet
    assert(versionsAfter1 == Set("labels_fold_g0", "labels_d0", "fold_buckets"),
      s"phase 1 should leave exactly the seed fold + batch-0 delta: $versionsAfter1")
    dumpPart(srcDir, h2, "half2.parquet")
    val resumed = EventsStream.runIncrementalCcStream(spark, sfDir,
      srcDir.toString, storeDir, ckDir)
    // exactly one MORE delta: half 1 was not reprocessed (offset log)
    val versionsAfter2 = storeDir.toFile.listFiles().map(_.getName).toSet
    assert(versionsAfter2 == Set("labels_fold_g0", "labels_d0", "labels_d1",
      "fold_buckets"),
      s"restart must append exactly d1: $versionsAfter2")
    // the e17 oracle contract: incremental-with-restart ≡ full recompute
    val pairs = graft.llm.DocDedup.pairArtifact(spark, sfDir).select("id_a", "id_b")
    val want = graft.Tables.documents(spark, sfDir).select("doc_id")
      .join(graft.llm.DocDedup.dedupClusters(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = resumed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"restarted CC diverged from full recompute: only-got=${(got -- want).take(3)}, " +
        s"only-want=${(want -- got).take(3)}")
  }

  test("checkpoint recovery: e18's frozen rows survive a restart verbatim") {
    // Same two-phase shape over the frozen-split chain: phase 1 assigns
    // init + batch-0 docs and dies; phase 2 (same store+checkpoint)
    // processes only batch 1. Frozen contract: every split assigned in
    // phase 1 reappears UNCHANGED in the final output, and the whole
    // restarted result is row-identical to the uninterrupted gate run
    // (same arrival order → same splits, whatever the query lifetimes).
    val (h1, h2) = oddDocHalves()
    val srcDir = Files.createTempDirectory("graft_e18r_src_")
    val storeDir = Files.createTempDirectory("graft_e18r_store_")
    val ckDir = Files.createTempDirectory("graft_e18r_ck_")
    dumpPart(srcDir, h1, "half1.parquet")
    val phase1 = EventsStream.runFrozenSplitStream(spark, sfDir,
      srcDir.toString, storeDir, ckDir)
    val assigned1 = phase1.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    dumpPart(srcDir, h2, "half2.parquet")
    val resumed = EventsStream.runFrozenSplitStream(spark, sfDir,
      srcDir.toString, storeDir, ckDir)
    val finalRows = resumed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    // delta store is append-only: exactly one delta dir per batch + seed
    val deltaDirs = storeDir.toFile.listFiles().map(_.getName)
      .filter(n => n.startsWith("split_")).toSet
    assert(deltaDirs == Set("split_init", "split_b0", "split_b1"),
      s"append-only delta store violated: $deltaDirs")
    // frozen verbatim across the restart
    val moved = finalRows.filter(r => assigned1.get(r._1).exists(_ != r._3))
    assert(moved.isEmpty, s"frozen assignments changed across restart: ${moved.take(3).toSeq}")
    val frozenWrong = finalRows.filter(r => assigned1.contains(r._1) && r._4 != "frozen")
    assert(frozenWrong.isEmpty,
      s"phase-1 docs must report tier=frozen: ${frozenWrong.take(3).toSeq}")
    // restart ≡ uninterrupted: row-identical to the one-shot gate
    val oneShot = EventsStream.frozenSplitStreamGate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(finalRows.toSeq == oneShot.toSeq,
      s"restarted e18 diverged from the one-shot run: " +
        s"got=${finalRows.take(2).toSeq} want=${oneShot.take(2).toSeq}")
  }

  test("split-store compaction: folding sealed deltas is invisible to every reader") {
    // The append store grows one delta per batch forever; the retention
    // pair (compactSplitStore → vacuumSplitStore) must be a pure physical
    // merge. Drive it mid-stream at the nastiest point: compact AFTER
    // batch 0, vacuum away the seed and b0, then RESUME the stream — the
    // resumed batch's prior-assigned read and the final drain both go
    // through the fold, and the result must be row-identical to the
    // one-shot gate that never compacted.
    val (h1, h2) = oddDocHalves()
    val srcDir = Files.createTempDirectory("graft_e18c_src_")
    val storeDir = Files.createTempDirectory("graft_e18c_store_")
    val ckDir = Files.createTempDirectory("graft_e18c_ck_")
    dumpPart(srcDir, h1, "half1.parquet")
    EventsStream.runFrozenSplitStream(spark, sfDir, srcDir.toString,
      storeDir, ckDir).count()
    // r14 ADVICE: retention must refuse to outrun the checkpoint's commit
    // log — only batch 0 has committed, so folding at 5 must throw
    assert(EventsStream.committedFrontier(ckDir) == 1L,
      "frontier after one committed batch must be 1")
    intercept[IllegalArgumentException] {
      EventsStream.compactSplitStore(spark, storeDir, upTo = 5L, ckDir)
    }
    intercept[IllegalArgumentException] {
      EventsStream.compactLabelStore(spark, storeDir, upTo = 5L, ckDir)
    }
    EventsStream.compactSplitStore(spark, storeDir, upTo = 1L, ckDir)
    EventsStream.vacuumSplitStore(storeDir)
    EventsStream.compactLabelStore(spark, storeDir, upTo = 1L, ckDir)
    EventsStream.vacuumLabelStore(storeDir)
    // r16 bucketed folds: the new generation holds only the buckets the
    // deltas touched; the seed keeps serving cold buckets (and is vacuumed
    // outright once every bucket is covered). Either way the DELTAS below
    // the fold must be gone and nothing else may remain.
    val afterVacuum = storeDir.toFile.listFiles().map(_.getName)
      .filter(_.startsWith("split_")).toSet
    assert(afterVacuum.contains("split_fold_g1") &&
      afterVacuum.subsetOf(Set("split_init", "split_fold_g1")),
      s"vacuum must leave the fold plus at most the cold-bucket seed: $afterVacuum")
    val labelsAfter = storeDir.toFile.listFiles().map(_.getName)
      .filter(_.startsWith("labels_")).toSet
    assert(labelsAfter.contains("labels_fold_g1") &&
      labelsAfter.subsetOf(Set("labels_fold_g0", "labels_fold_g1")),
      s"label vacuum must cover every delta: $labelsAfter")
    dumpPart(srcDir, h2, "half2.parquet")
    val resumed = EventsStream.runFrozenSplitStream(spark, sfDir,
      srcDir.toString, storeDir, ckDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    val oneShot = EventsStream.frozenSplitStreamGate(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(resumed.toSeq == oneShot.toSeq,
      "compaction+vacuum changed what a reader sees across a restart")
  }

  test("in-stream retention policy: a 6-batch run bounds both stores with no manual vacuum") {
    // r14 VERDICT ask #3: retention was spec-invoked only. The runners now
    // fold+vacuum every `defaultMaintenanceEvery` (4) batches INSIDE
    // foreachBatch, at the committed frontier. Six single-file batches →
    // maintenance fires at batch 4: the seed fold/init and deltas 0–3 must
    // be GONE without this test touching any vacuum API, leaving exactly
    // {fold_g4, d4, d5} per store — bounded however long the stream runs —
    // and the drained labels must still equal the full recompute.
    val odd = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") % 2 === 1)
    val srcDir = Files.createTempDirectory("graft_e18m_src_")
    val storeDir = Files.createTempDirectory("graft_e18m_store_")
    val ckDir = Files.createTempDirectory("graft_e18m_ck_")
    for (i <- 0 until 6)
      dumpPart(srcDir, odd.filter(col("doc_id") % 12 === 2 * i + 1),
        s"slice$i.parquet")
    val rows = EventsStream.runFrozenSplitStream(spark, sfDir,
      srcDir.toString, storeDir, ckDir).collect()
    // r16 bucketed folds: maintenance at batch 4 folds the touched
    // buckets into g4 and covers deltas 0–3; the seeds may survive for
    // cold buckets, but the artifact set stays BOUNDED (≤ seed + newest
    // fold + post-fold deltas per store) however long the stream runs
    val names = storeDir.toFile.listFiles().map(_.getName).toSet
    assert(names.filter(_.startsWith("labels_d")) == Set("labels_d4", "labels_d5"),
      s"label deltas below the fold must be vacuumed: $names")
    assert(names.filter(_.startsWith("split_b")) == Set("split_b4", "split_b5"),
      s"split deltas below the fold must be vacuumed: $names")
    assert(names.subsetOf(Set("labels_fold_g0", "labels_fold_g4",
      "labels_d4", "labels_d5", "split_init", "split_fold_g4",
      "split_b4", "split_b5", "fold_buckets")) &&
      names.contains("labels_fold_g4") && names.contains("split_fold_g4"),
      s"in-stream maintenance left the wrong artifact set: $names")
    // correctness THROUGH maintenance: every doc present exactly once,
    // grouped exactly as a full CC recompute over the whole corpus
    // (group_id is arrival-order-independent, unlike the coin/inherit
    // splits the 2-batch restart spec pins)
    val pairs = graft.llm.DocDedup.pairArtifact(spark, sfDir).select("id_a", "id_b")
    val want = graft.Tables.documents(spark, sfDir).select("doc_id")
      .join(graft.llm.DocDedup.dedupClusters(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, "maintained store diverged from full recompute: " +
      s"only-got=${(got.toSet -- want.toSet).take(3)}, " +
      s"only-want=${(want.toSet -- got.toSet).take(3)}")
  }

  test("foreachBatch sink replay-idempotency: rewriting a batch's dir cannot duplicate rows") {
    // The e15/e16 sinks write batch-id-addressed dirs with Overwrite; a
    // foreachBatch retry (task failure after a partial write, before the
    // checkpoint commit) re-executes the SAME batchId. Simulate the retry
    // directly: run the writer body twice for one batch id — the sink must
    // hold the batch exactly once, where the old flat append sink held it
    // twice. (The streaming-engine recovery path itself is pinned by the
    // e17/e18 restart specs; this pins the SINK contract they rely on.)
    import spark.implicits._
    val out = Files.createTempDirectory("graft_sink_idem_")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    def writeOnce(batchId: Long): Unit =
      batch.write.mode("overwrite").parquet(out.resolve(s"b$batchId").toString)
    writeOnce(0L)
    // a half-written leftover from the failed attempt must not survive
    batch.limit(1).write.mode("overwrite")
      .parquet(out.resolve("b0").resolve("_stale").toString)
    writeOnce(0L) // the retry clears the dir, stale partial included
    writeOnce(1L)
    assert(!out.resolve("b0").resolve("_stale").toFile.exists(),
      "the retry's Overwrite must clear the failed attempt's partial output")
    val drained = spark.read.parquet(s"$out/b*")
    assert(drained.count() == 4,
      s"replayed batch duplicated rows: ${drained.count()} (want 4)")
    assert(drained.filter(col("doc_id") === 1L).count() == 2,
      "each batch's rows must appear once per batch dir")
  }
}
