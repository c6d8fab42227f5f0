package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Maintenance, SparkEntry}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark process for one run of one workload. It drives the engine only
  * through its public entry points (`SparkEntry.queries`, `IngestPipeline`,
  * `StreamingBars`, `Maintenance.releaseCachedBlocks`) and writes raw
  * observations (per-operation latencies, spans, receipts) as JSON for
  * `run.py`, which derives the reported metrics and runs the output checks.
  *
  * Usage: Harness --workload curate|ingest --data DIR --work DIR
  *                --seed N --seconds S --trace 0|1 --cpus N --out FILE
  */
object Harness {

  final case class Args(workload: String, data: String, work: String, seed: Long,
      seconds: Double, trace: Boolean, cpus: Int, out: String)

  /** `dedup_components` runs `dedup_minhash`'s plan as its first stage, so
    * `dedup_minhash` is measured inside it and not called on its own.
    */
  val CurateKeys: Seq[String] = Seq("dedup_components", "knn_ivf_pq", "bpe_encode",
    "gram_novelty")

  /** Untouched scan-bound key timed first and last as the machine receipt. */
  val Canary = "ticks_sma"

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus, "trace" -> a.trace,
      "loadavg_start" -> loadavg())
    val spark = session(a)
    try {
      rec("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
      a.workload match {
        case "curate" => CurateWorkload.run(spark, a, jvmStartMs, rec)
        case "ingest" => IngestWorkload.run(spark, a, jvmStartMs, rec)
        case other    => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      rec("loadavg_end") = loadavg()
      rec("peak_rss_mb") = peakRssMb()
      Files.write(Paths.get(a.out),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(rec))
    } finally spark.stop()
  }

  /** `graft.Bench`'s session settings, unchanged, so the plans timed here
    * are the plans the board times; only the run-scoped directories are
    * added (warehouse and Spark scratch live under the run's work dir).
    */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Maintenance.quietKnownWarnSpam()
    spark
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, m("out"))
  }

  def loadavg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII)
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq

  /** The JVM's resident-set high-water mark (`VmHWM`). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Stores the run built under `root`: the number of commit markers
    * (`_SUCCESS`, `_GRAFT_BUILT`) and the bytes under the committed
    * directories (the tmpdir also holds the JVM's own scratch files).
    */
  def storeReceipt(root: Path): (Int, Long) = {
    if (!Files.exists(root)) return (0, 0L)
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val stores = files.filter { f =>
      val n = f.getFileName.toString
      n == "_SUCCESS" || n == "_GRAFT_BUILT"
    }.map(_.getParent)
    (stores.size, files.filter(f => stores.exists(f.startsWith)).map(Files.size).sum)
  }

  def nowMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Canary receipt: median of three timed calls. */
  def canary(call: () => Unit): Double =
    Seq.fill(3) { val t0 = System.nanoTime(); call(); nowMs(t0) }.sorted.apply(1)
}

/** `curate`: whole passes over the training-data keys, each pass in a
  * seeded key order.
  */
object CurateWorkload {
  import Harness._

  def run(spark: SparkSession, a: Args, jvmStartMs: Long, rec: mutable.Map[String, Any]): Unit = {
    val keys = CurateKeys
    val fns = (keys :+ Canary).map(k => k -> SparkEntry.queries(k)).toMap
    def noop(k: String): Unit = fns(k)(spark, a.data).write.format("noop").mode("overwrite").save()
    def release(): Unit = Maintenance.releaseCachedBlocks(spark, blocking = true)

    // Set-up: one cold pass at bench scale, in a fixed order. It is the
    // warm-up (class loading, codegen, JIT), it builds the stores, and its
    // results are written out for the output check, so no timed call ever
    // writes anything but the noop sink.
    val errors = mutable.ArrayBuffer.empty[String]
    val checked = mutable.ArrayBuffer.empty[String]
    val cold0 = System.nanoTime()
    val coldMs = keys.map { k =>
      val t0 = System.nanoTime()
      try {
        fns(k)(spark, a.data).write.mode("overwrite").parquet(s"${a.work}/results/$k")
        checked += k
      } catch { case e: Throwable => errors += s"$k (cold pass): $e" }
      finally release()
      k -> nowMs(t0)
    }.toMap
    noop(Canary); release()
    rec("cold_pass_s") = nowMs(cold0) / 1e3
    rec("cold_key_ms") = coldMs
    val (builds, bytes) = storeReceipt(Paths.get(sys.props("java.io.tmpdir")))
    rec("store_builds") = builds
    rec("store_bytes") = bytes
    rec("canary_first_ms") = canary(() => { noop(Canary); release() })
    rec("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Timed phase. Traced runs alternate untraced and traced passes so the
    // tracing overhead is measured under the same conditions.
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val rng = new java.util.Random(a.seed)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var opId = 0L
    def op(k: String, pass: Int, traced: Boolean): Unit = {
      opId += 1
      val t = if (traced) tracer else None
      val t0 = System.nanoTime()
      var span = Map.empty[String, Double]
      val ok = try {
        t.foreach(_.enter(opId, "build"))
        val df = fns(k)(spark, a.data)
        val buildMs = nowMs(t0)
        t.foreach(_.enter(opId, "exec"))
        val e0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val execMs = nowMs(e0)
        t.foreach(_.drain())
        val seams = spark.sparkContext.getPersistentRDDs.size
        val r0 = System.nanoTime()
        release()
        span = Map("build_ms" -> buildMs, "exec_ms" -> execMs,
          "release_ms" -> nowMs(r0), "seams_released" -> seams.toDouble)
        true
      } catch {
        case e: Throwable =>
          errors += s"$k: $e"
          release()
          false
      } finally {
        t.foreach(tr => span ++= tr.finish(opId))
      }
      ops += Map("key" -> k, "pass" -> pass, "ms" -> nowMs(t0), "ok" -> ok,
        "traced" -> traced, "span" -> span)
    }

    val timed0 = System.nanoTime()
    val deadline = timed0 + (a.seconds * 1e9).toLong
    val shuffler = new scala.util.Random(rng)
    // Whole passes until the deadline; at least two, so the pass time is a
    // median. A started pass runs to its end. The listeners are registered
    // only for the traced passes.
    var pass = 0
    while (pass < 2 || System.nanoTime() < deadline) {
      val traced = a.trace && pass % 2 == 1
      if (traced) tracer.foreach(_.attach())
      try shuffler.shuffle(keys).foreach(op(_, pass, traced))
      finally if (traced) tracer.foreach(_.detach())
      pass += 1
    }
    rec("timed_s") = (System.nanoTime() - timed0) / 1e9
    rec("canary_last_ms") = canary(() => { noop(Canary); release() })
    rec("ops") = ops.toSeq
    rec("errors") = errors.toSeq
    rec("checked_keys") = checked.toSeq
    rec("oracle_sql") = checked.map(k => k -> SparkEntry.oracleSql(k)).toMap
  }
}
