package perfbench

import graft.Maintenance
import graft.agg.BarAggregator
import graft.streaming.{IngestPipeline, StreamingBars}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest`: an open-loop tick generator feeding two streaming queries —
  * `IngestPipeline.run` (parse, DLQ split, exactly-once parquet sink) and
  * `StreamingBars.bars1m` over the valid ticks (update mode, state store).
  * Each query reads its own memory source; the generator appends every
  * message to both, so the two sources carry identical offsets.
  *
  * Phase A offers a fixed rate below capacity (latency); phase B appends a
  * fixed backlog and lets both queries drain it (throughput).
  */
object IngestWorkload {
  import Harness._

  val Symbols: Seq[String] = Seq("AAPL", "MSFT", "GOOG", "AMZN", "NVDA", "TSLA")
  val BasePrices: Seq[Double] = Seq(190.0, 420.0, 170.0, 180.0, 120.0, 250.0)
  val TriggerMs = 1000L
  val RatePerSec = 200          // phase A offered load; one tick every 5 ms
  val WarmupSec = 3.0
  val BacklogTicks = 40000      // phase B, per round
  val WarmBacklogTicks = 20000
  val MinBacklogRounds = 2
  val MalformedShare = 0.03     // messages the consumer must route to the DLQ
  val LateShare = 0.05          // valid ticks stamped up to MaxLateMs in the past
  val MaxLateMs = 1500          // far inside the bars' 2-minute watermark

  /** A valid tick as the generator made it (event time in microseconds). */
  final case class Valid(symbol: String, price: java.math.BigDecimal, volume: Long, eventUs: Long)
  final case class Msg(json: String, valid: Option[Valid])

  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx")
    .withZone(ZoneOffset.UTC)

  private def iso(us: Long): String =
    Iso.format(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Message `j` of the stream: its content depends only on (seed, j); its
    * event time is the creation time `nominalUs`, moved into the past for
    * the seeded late share. The low three digits of the microsecond field
    * carry `j % 1000`, which keeps (symbol, event_time) unique.
    */
  def message(seed: Long, j: Long, nominalUs: Long, allowLate: Boolean): Msg = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + j)
    val malformed = r.nextDouble() < MalformedShare
    val kind = r.nextInt(4)
    val s = r.nextInt(Symbols.size)
    val price = new java.math.BigDecimal(BasePrices(s) + r.nextDouble() - 0.5)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    val volume = 500L + r.nextInt(14501)
    val late = allowLate && r.nextDouble() < LateShare
    val delayMs = 1 + r.nextInt(MaxLateMs)
    val eventUs = (nominalUs / 1000L - (if (late) delayMs else 0)) * 1000L + j % 1000
    val sym = "\"symbol\":\"" + Symbols(s) + "\""
    val px  = "\"price\":" + price.toPlainString
    val vol = "\"volume\":" + volume
    val ts  = "\"event_time\":\"" + iso(eventUs) + "\""
    if (!malformed) Msg(s"{$sym,$px,$vol,$ts}", Some(Valid(Symbols(s), price, volume, eventUs)))
    else Msg(kind match {
      case 0 => s"{$sym,$px,$vol,$ts" // truncated JSON
      case 1 => s"{$px,$vol,$ts}"
      case 2 => s"{$sym,$vol,$ts}"
      case _ => s"{$sym,$px,$vol}"
    }, None)
  }

  final class Streams(spark: SparkSession) {
    // A fixed partition count per micro-batch, however many appends the
    // batch spans (one partition per append would mean one task and one
    // sink file per append). Half the cores each, so the two queries' scans
    // run in one wave.
    private val parts = math.max(1, spark.sparkContext.defaultParallelism / 2)
    val a = MemoryStream[String](spark, parts)(Encoders.STRING)
    val b = MemoryStream[String](spark, parts)(Encoders.STRING)
    val valid = mutable.ArrayBuffer.empty[Valid]
    var malformed = 0L
    var next = 0L
    @volatile var lastOffset = -1L

    /** Append one group of messages to both sources; returns the offset. */
    def append(msgs: Seq[Msg]): Long = synchronized {
      val oa = a.addData(msgs.map(_.json)).json().toLong
      val ob = b.addData(msgs.map(_.json)).json().toLong
      require(oa == ob, s"memory sources diverged: $oa vs $ob")
      msgs.foreach(m => m.valid match {
        case Some(v) => valid += v
        case None    => malformed += 1
      })
      lastOffset = oa
      oa
    }
  }

  /** Open-loop generator: tick `j` is due at `t0Ms + 5 ms * (j - first)`;
    * every wake-up appends all ticks that are due, never waiting for the
    * queries. Records per append: offset, emit time and the due times of
    * its valid ticks.
    */
  final class Generator(st: Streams, seed: Long, t0Ms: Long, untilMs: Long) extends Thread("perfbench-gen") {
    val appends = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val stepMs = 1000L / RatePerSec
    private val first = st.next
    @volatile var failure: Option[Throwable] = None
    override def run(): Unit = try {
      var j = first
      def due(i: Long) = t0Ms + (i - first) * stepMs
      while (due(j) < untilMs) {
        val now = System.currentTimeMillis()
        val msgs = mutable.ArrayBuffer.empty[Msg]
        val dues = mutable.ArrayBuffer.empty[Long]
        while (due(j) <= now && due(j) < untilMs) {
          val m = message(seed, j, due(j) * 1000L, allowLate = true)
          msgs += m
          if (m.valid.isDefined) dues += due(j)
          j += 1
        }
        if (msgs.nonEmpty) {
          val off = st.append(msgs.toSeq)
          appends += Map("offset" -> off, "emit_ms" -> System.currentTimeMillis(),
            "n" -> msgs.size, "due_ms" -> dues.toSeq)
        }
        val wait = due(j) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(math.min(wait, 5L))
      }
      st.next = j
    } catch { case e: Throwable => failure = Some(e) }
  }

  private def offsetOf(s: String): Long =
    if (s == null || s == "null") -1L else s.trim.toLong

  private def progressRecord(p: StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }
    val startMs = Instant.parse(p.timestamp).toEpochMilli
    val state = p.stateOperators.toSeq
    Map(
      "batch_id" -> p.batchId,
      "start_ms" -> startMs,
      "end_ms" -> (startMs + d.getOrElse("triggerExecution", 0L)),
      "rows" -> p.numInputRows,
      "start_offset" -> p.sources.headOption.map(s => offsetOf(s.startOffset)).getOrElse(-1L),
      "end_offset" -> p.sources.headOption.map(s => offsetOf(s.endOffset)).getOrElse(-1L),
      "batch_ms" -> d.getOrElse("triggerExecution", 0L),
      "add_batch_ms" -> d.getOrElse("addBatch", 0L),
      "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
      "get_batch_ms" -> d.getOrElse("getBatch", 0L),
      "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
      "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
      "processed_rps" -> p.processedRowsPerSecond,
      "state_rows" -> state.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> state.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum)
  }

  def run(spark: SparkSession, a: Args, jvmStartMs: Long, rec: mutable.Map[String, Any]): Unit = {
    val sinkTicks = s"${a.work}/sink/ticks"
    val sinkDlq = s"${a.work}/sink/dlq"
    val st = new Streams(spark)
    // Every micro-batch's progress, by query id, as the benchmark's own
    // listener receives it. It is attached for the whole run, so no batch is
    // missed however many a phase has.
    val progress = new ConcurrentHashMap[java.util.UUID, mutable.LinkedHashMap[Long, Map[String, Any]]]()
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val acc = progress.computeIfAbsent(e.progress.id, _ => mutable.LinkedHashMap.empty[Long, Map[String, Any]])
        if (e.progress.batchId >= 0) acc.synchronized { acc(e.progress.batchId) = progressRecord(e.progress) }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(progressListener)
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val q1 = IngestPipeline.run(st.a.toDF(), sinkTicks, sinkDlq, s"${a.work}/ckpt/ingest", trigger)
    val finalBars = new ConcurrentHashMap[(String, Long), Row]()
    val q2 = StreamingBars.bars1m(IngestPipeline.validTicks(IngestPipeline.parse(st.b.toDF())))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", s"${a.work}/ckpt/bars")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          finalBars.put((r.getString(0), r.getTimestamp(1).getTime), r))
        ()
      }
      .start()
    val queries = Seq(q1, q2)
    def batches(q: Int): Seq[Map[String, Any]] = {
      val acc = progress.getOrDefault(queries(q).id, mutable.LinkedHashMap.empty[Long, Map[String, Any]])
      acc.synchronized(acc.values.toSeq)
    }
    // processAllAvailable can return before the last batch's progress event
    // reaches the listener: wait (up to 10 s) until both queries' recorded
    // batches reach the last appended offset.
    def drainAll(): Unit = {
      queries.foreach(_.processAllAvailable())
      val until = System.currentTimeMillis() + 10000L
      def recorded(q: Int) = batches(q).map(_("end_offset").asInstanceOf[Long]).foldLeft(-1L)(math.max)
      while (queries.indices.exists(recorded(_) < st.lastOffset) && System.currentTimeMillis() < until)
        Thread.sleep(5)
    }
    def openLoop(t0: Long, until: Long): Generator = {
      val g = new Generator(st, a.seed, t0, until)
      g.start(); g.join()
      g.failure.foreach(throw _)
      g
    }
    val backlog = mutable.ArrayBuffer.empty[Map[String, Any]]
    // Backlog messages are created at one instant: 1 µs apart.
    var lastBacklogMs = 0L
    def backlogRound(n: Int): Unit = {
      val nowUs = System.currentTimeMillis() * 1000L
      val msgs = (0 until n).map(i =>
        message(a.seed, st.next + i, nowUs + i, allowLate = false))
      st.next += n
      lastBacklogMs = (nowUs + n) / 1000L + 1
      val off = st.append(msgs)
      backlog += Map("offset" -> off, "n" -> msgs.size,
        "valid" -> msgs.count(_.valid.isDefined))
      drainAll()
    }
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    try {
      // Set-up: warm both queries with the open loop and one backlog round,
      // then the canary (cold call, then the receipt).
      val w0 = System.currentTimeMillis()
      openLoop(w0, w0 + (WarmupSec * 1000).toLong)
      drainAll()
      backlogRound(WarmBacklogTicks)
      backlog.clear()
      val canaryFn = graft.SparkEntry.queries(Canary)
      def canaryCall(): Unit = {
        canaryFn(spark, a.data).write.format("noop").mode("overwrite").save()
        Maintenance.releaseCachedBlocks(spark, blocking = true)
      }
      canaryCall()
      rec("canary_first_ms") = canary(() => canaryCall())
      val (builds, bytes) = storeReceipt(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
      rec("store_builds") = builds
      rec("store_bytes") = bytes
      rec("cold_pass_s") = (System.currentTimeMillis() - w0) / 1e3
      // late ticks of phase A must not reach back into the warm-up backlog
      val clear = lastBacklogMs + MaxLateMs + 10 - System.currentTimeMillis()
      if (clear > 0) Thread.sleep(clear)
      rec("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3

      // Phase A: fixed offered rate; a traced run attaches its Spark
      // listeners for the second half only, so the halves give the tracing
      // overhead.
      val phaseMs = (a.seconds * 1000 / 2).toLong
      val tA = System.currentTimeMillis()
      val mid = tA + phaseMs / 2
      val first = openLoop(tA, mid)
      tracer.foreach(_.attach())
      val second = openLoop(mid, tA + phaseMs)
      drainAll()
      val tB = System.currentTimeMillis()

      // Phase B: fixed backlog rounds until the run's seconds are used.
      var rounds = 0
      while (rounds < MinBacklogRounds || System.currentTimeMillis() < tA + (a.seconds * 1000).toLong) {
        backlogRound(BacklogTicks); rounds += 1
      }
      rec("timed_s") = (System.currentTimeMillis() - tA) / 1e3
      tracer.foreach { t =>
        t.detach()
        rec("span_stream") = t.harvestAll()
      }
      rec("canary_last_ms") = canary(() => canaryCall())
      rec("ingest") = Map(
        "phase_a" -> Map("start_ms" -> tA, "mid_ms" -> mid, "end_ms" -> (tA + phaseMs),
          "appends" -> (first.appends ++ second.appends).toSeq, "drained_ms" -> tB),
        "backlog" -> backlog.toSeq,
        "trigger_ms" -> TriggerMs, "rate_per_s" -> RatePerSec,
        "batches_ingest" -> batches(0),
        "batches_bars" -> batches(1))

      // Output check, outside the timed region.
      val errors = mutable.ArrayBuffer.empty[String]
      val sinkRows = spark.read.parquet(sinkTicks).count()
      val dlqRows = spark.read.parquet(sinkDlq).count()
      if (sinkRows != st.valid.size)
        errors += s"sink holds $sinkRows ticks, generator made ${st.valid.size} valid ticks"
      if (dlqRows != st.malformed)
        errors += s"DLQ holds $dlqRows rows, generator injected ${st.malformed} malformed messages"
      val expected = expectedBars(spark, st.valid.toSeq)
      val got = finalBars.values().asScala.map(barKey).toSet
      if (expected != got)
        errors += s"final bars differ from BarAggregator.bars1m: ${(expected -- got).size} missing, " +
          s"${(got -- expected).size} unexpected of ${expected.size}"
      rec("checks") = Map("sink_rows" -> sinkRows, "dlq_rows" -> dlqRows,
        "valid_ticks" -> st.valid.size, "malformed" -> st.malformed, "bars" -> expected.size)
      rec("errors") = errors.toSeq
      rec("sink_files") = countFiles(java.nio.file.Paths.get(s"${a.work}/sink"))
    } finally {
      queries.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.streams.removeListener(progressListener)
    }
  }

  private def barKey(r: Row): String =
    (0 until 8).map(i => if (r.isNullAt(i)) "null" else r.get(i) match {
      case t: java.sql.Timestamp     => t.getTime.toString
      case d: java.math.BigDecimal   => d.toPlainString
      case other                     => other.toString
    }).mkString("|")

  /** `BarAggregator.bars1m` over the generated valid ticks, built from the
    * generator's own record rather than from anything the queries wrote.
    */
  private def expectedBars(spark: SparkSession, valid: Seq[Valid]): Set[String] = {
    val schema = StructType(Seq(
      StructField("symbol", StringType), StructField("price", DecimalType(12, 4)),
      StructField("volume", LongType), StructField("event_time", TimestampType)))
    val rows = valid.map(v => Row(v.symbol, v.price, v.volume,
      java.sql.Timestamp.from(Instant.ofEpochSecond(
        Math.floorDiv(v.eventUs, 1000000L), Math.floorMod(v.eventUs, 1000000L) * 1000L))))
    val ticks = spark.createDataFrame(rows.asJava, schema)
    BarAggregator.bars1m(ticks)
      .select("symbol", "bucket_start", "open", "high", "low", "close", "volume_sum", "tick_count")
      .collect().map(barKey).toSet
  }

  private def countFiles(root: java.nio.file.Path): Int =
    if (!java.nio.file.Files.exists(root)) 0
    else java.nio.file.Files.walk(root).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("part-"))
}
