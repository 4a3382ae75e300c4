package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * One parquet file per table under `\$sfDir`. All queries read through
  * here so the scan path (schema pruning, filter pushdown) is uniform:
  * Catalyst pushes `select`/`filter` into these parquet scans, which is
  * the scale story — at 100 TB the scan must only read the referenced
  * columns and row groups.
  */
object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType}

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The confs every graft session runs with, in one declaration.
    * [[Verify.start]] applies them to every session it builds: the
    * mains' (Verify, Bench, Profile, ScaleProbe, Explain) and the test
    * suites'. Among them: read nanosecond parquet timestamps (events.ts)
    * as raw longs instead of erroring (PARQUET_TYPE_ILLEGAL); [[events]]
    * then rescales to a proper µs TimestampType. */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // Storage-partitioned joins over the key-grouped DSV2 scans
    // (KeyedCsvScan): plan co-partitioned joins with no Exchange and
    // align mismatched partition-value sets. The SMJ sorts are already
    // eliminated by the scan's reported per-partition ordering;
    // `v2.bucketing.sorting.enabled` (which additionally satisfies
    // GLOBAL sorts by ordering the partition groups) is deliberately
    // LEFT OFF: combined with a broadcast join over a key-grouped scan
    // it eliminates the Sort above the join and Spark 4.1.2's AQE then
    // dies on a missing-logical-link assertion when staging the
    // BroadcastExchange (reproduced in PartitionedCsvSpec history; a
    // plain `a.join(b, k).orderBy(k)` must never crash).
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.sorting.enabled" -> "false",
    // Sessions share generated code (SCALE.md, "Sessions share
    // generated code"). Spark's CodeGenerator.cache is keyed by
    // (context class loader, source). With artifact isolation on (the
    // default), every session's jobs carry their own JobArtifactState,
    // so task-side compiles run under a per-session class loader and a
    // `newSession()` misses the cache for every stage it runs, although
    // the library never adds a session artifact (jars, classes, files).
    // Off, every session compiles under the JVM's loaders and a stage
    // the JVM has already run is a cache hit. CodegenReuseSpec pins it.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // The cache key is the class's source, and by default the class is
    // named after its whole-stage codegen stage id. AQE numbers stages
    // as it re-plans, and how often it re-plans depends on the order in
    // which query stages finish, so the same stage can get another id,
    // and thus another class, from one run to the next (2 of
    // q_x_basket_lift's classes missed on every session). Unnamed, the
    // same stage is the same source and hits.
    "spark.sql.codegen.useIdInClassName" -> "false",
    // The cache's capacity (default 100) is a static conf: CodeGenerator
    // reads it once, from the session active when it first compiles.
    // That is the first session of the JVM, which Verify.start builds
    // for the mains and the test suites alike. 100 entries evict part of
    // one benchmark pass's working set before the next pass (about 20
    // compiles a curation pass in some JVMs); 200 is the smallest round
    // size that leaves none (measurements in SCALE.md).
    "spark.sql.codegen.cache.maxEntries" -> "200")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts arrives in one of three parquet encodings depending on
    * the generator: TIMESTAMP(NANOS) (with nanosAsLong=true the scan
    * yields LongType nanos — rescale with integer division, exact; a
    * double path would lose precision at 1e18 ns), TIMESTAMP_NTZ (cast
    * to TimestampType — the session is pinned UTC via [[requiredConfs]],
    * so the cast is value-preserving), or already TimestampType
    * (pass-through). Normalizing here means every consumer — batch and
    * streaming — sees a plain µs TimestampType `ts`. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** The ts-encoding normalization shared by [[events]] and the
    * streaming reader ([[graft.streaming.StreamOps]]). */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Scale-adaptive scan fan-out for compute-DENSE per-row work
    * (optimization guide §2.5, "input skew: one huge unsplittable
    * file... repartition immediately after the read"). The bench tables
    * are single-row-group parquet files, so a scan yields ONE non-empty
    * partition and expression-heavy stages (percentile buffers, decimal
    * sums, codec decodes, shingle hashing) single-thread on a 32-core
    * host. When the planned scan has fewer partitions than the session's
    * parallelism, spread the rows with one round-robin exchange — a few
    * MB moved once buys cores× the stage. At production scale the scan
    * already carries ≥ cores partitions (many files / row groups), the
    * predicate is false, and NO shuffle is added — this must never
    * become an unconditional repartition, which would re-shuffle the
    * full input at 100 TB. Apply AFTER projecting to the needed columns
    * so the exchange moves only what the operator reads.
    *
    * Caller contract: pass only a scan/project frame, with no exchange
    * (join, aggregate, sort, repartition) or subquery below it. AQE wraps
    * any plan that has one, and such a plan is returned UNTOUCHED, even
    * when AQE will coalesce its last shuffle to a single partition at run
    * time: reading the post-shuffle partition count would run the
    * upstream stages at plan-build time, so it cannot be checked here.
    * A caller that fans out shuffled rows must repartition them itself. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    df.queryExecution.executedPlan match {
      // A plan AQE wrapped contains an exchange (or subquery): its rows
      // are already shuffle-distributed across the session's shuffle
      // partitions, so no fan-out is needed — and probing it via
      // `.rdd`/`execute()` would materialize query stages at PLAN-BUILD
      // time, running the upstream work twice (ADVICE r15). Returning
      // the frame untouched keeps the probe allocation-free and pins
      // the scan/project-only contract structurally instead of by
      // caller discipline.
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        df
      // Exchange-free plan (scan+project): `execute()` builds the scan
      // RDD lazily — its partition count is the planned file-split
      // count, no job runs.
      case p =>
        if (p.execute().getNumPartitions < target) df.repartition(target)
        else df
    }
  }
}
