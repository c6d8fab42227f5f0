package graft

import org.apache.spark.sql.SparkSession

/** The one place a [[SparkSession]] is built: `graft.Bench`, `graft.Verify`,
  * `graft.Demo`, the `graft.tools` mains and the test
  * suite's shared session all call [[GraftSession.apply]], so the plans the
  * tests check and the tools print are the plans the bench times.
  *
  * [[Settings]] is the whole fixed configuration:
  *  - UTC session time zone;
  *  - `nanosAsLong`: `events.parquet` stores TIMESTAMP(NANOS), read as Long
  *    and normalized to µs in [[Tables.events]] (DuckDB's ns→µs truncation);
  *  - constraint propagation off: constraint inference wraps heavy HOF join
  *    keys (minhash/simhash folds) in inferred isnotnull filters that get
  *    pushed into the scan, recomputing the fold 2-3x per row. The inferred
  *    filters save nothing on this workload;
  *  - the `InferFiltersFromGenerate` exclusion (why: [[GraftExtensions.tune]]);
  *  - [[GraftExtensions]] as a session extension, so
  *    `PushFilterThroughAsofJoin` runs inside operator optimization;
  *  - no UI.
  * The only inputs are the core count, which sets `local[cores]` and
  * `spark.sql.shuffle.partitions = cores` (so scale runs on
  * [[ScaleProbe.scaledDir]] tables get one shuffle partition per core),
  * and an optional master URL (`graft.Demo` reads it from `SPARK_MASTER`).
  *
  * Local mode is assumed. The engine's `localCheckpoint` seams keep their
  * blocks on the executor that computed them with the lineage truncated;
  * in local mode that executor is the driver JVM and cannot be lost. On a
  * cluster, losing an executor (or dynamic allocation removing one) makes
  * such an RDD unrecoverable: the job fails, rows are never wrong.
  * Long-lived sessions release the blocks with
  * [[Maintenance.releaseCachedBlocks]] between queries.
  *
  * `getOrCreate` makes a second call return the first session, in the
  * idempotent-setup style of [[GraftExtensions.register]].
  */
object GraftSession {

  val Settings: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def apply(cores: Int, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(Settings)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Maintenance.quietKnownWarnSpam()
    spark
  }
}
