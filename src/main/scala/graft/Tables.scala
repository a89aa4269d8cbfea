package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Testdata access (TESTDATA.md): one parquet file per table under a
  * scale-factor directory. Columns are pruned and filters pushed down by
  * the parquet datasource, so always read via this helper and let Catalyst
  * prune — never pre-collect.
  *
  * `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
  * vectorized reader rejects; we read it as a long (nanosAsLong, set in
  * session conf) and truncate to microseconds — the same truncation DuckDB
  * applies when loading nanos into its micro-precision TIMESTAMP.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session options every graft entry point must set. */
  val RequiredConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // Split-size tuning: Spark packs file splits to
    // min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism)).
    // The default 4 MiB openCost makes every small-SF table a SINGLE scan
    // partition, serializing all pre-shuffle compute (shingling, hashing,
    // parsing) on one core. Lowering openCost lets the totalBytes/
    // parallelism term govern — splits shrink to fill the cluster on small
    // inputs while the 128 MiB maxPartitionBytes cap keeps task counts
    // sane at 100 TB (where totalBytes/parallelism exceeds the cap).
    "spark.sql.files.openCostInBytes" -> "131072",
    // POST-shuffle twin of the openCost tuning (round 17): AQE's
    // partition coalescing merges small post-shuffle partitions up to
    // this floor (parallelismFirst=true, the default, ignores the 64 MB
    // advisory and respects only this). The 1 MiB default prices
    // partitions by BYTES, but this engine's hot stages are
    // compute-dense per byte (bigram explodes + model-join probes, 48
    // type-census predicates, vector arithmetic): a ~1 MB post-shuffle
    // frame coalesces to ONE task and serializes a 1.5 s stage on one
    // core (measured round 17: q_lm_bigram_indexed single-task stage
    // 1.49 s → parallel tasks, lane 1.97 → 0.58 s). The value is a
    // trade: the first pick (32k, A/B over a 17-lane mix biased toward
    // the compute-dense lanes) over-fragmented the many-small-stage
    // eval/search lanes — a same-window 5-point scan over BOTH families
    // (8 fragmentation-sensitive + 6 compute-dense lanes, sf0.1:
    // 1m 16.75+11.33 / 256k 16.50+7.92 / 128k 17.15+7.34 /
    // 64k 18.30+6.62 / 32k 19.26+6.49 s) shows 256 KiB keeps the broad
    // suite at its 1 MiB baseline while capturing most of the
    // compute-dense win. Scale shape: every graft entry point pins
    // spark.sql.shuffle.partitions to the core count, so the floor can
    // fragment a stage into at most #cores tasks — bounded scheduling
    // overhead at any scale — and at 100 TB post-shuffle partitions are
    // ≫1 MiB, where the floor is inert. Env-overridable for deployments
    // whose shuffle.partitions ≫ cores.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "256k"),
    // Janino's generated-class cache, JVM-wide: each distinct piece of
    // generated code (whole-stage stages, projections, orderings) is
    // compiled once and reused while it stays in this LRU. Spark's
    // default of 100 entries is smaller than the store paths' working
    // set: building, appending to, serving, deleting from and compacting
    // SearchIndex, SpanIndex and WinnowIndex uses ~270 distinct classes
    // (a `Loader.load` uses 99). At 100, every two-round churn cycle
    // recompiled ~345 classes, ~2.2 s of each ~4 s round; at 1000 the
    // cycles after the first compile 0–6. Retained cost: ~12 KB of heap
    // per cached class. STATIC conf, read once per JVM when
    // `CodeGenerator` initialises: a session reused through getOrCreate
    // keeps whatever cap the JVM started with. No env override: a
    // larger bound only holds more classes.
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** Fan a narrow scan out to the session's parallelism for MAP-BOUND
    * per-row lanes (heavy regex/parse work before any shuffle). The
    * openCost tuning above multiplies SPLITS, but a small parquet file is
    * usually ONE row group and parquet assigns a row group to the single
    * split holding its midpoint — so the other splits are empty tasks and
    * the real pre-shuffle parallelism is the row-group count (one core at
    * gate SFs; measured round 16: q_type_census 3.2 → 1.4 s). The guard
    * makes it scale-adaptive: at 100 TB the scan already carries more
    * splits than cores and this is a no-op, never an added shuffle.
    * Keyless repartition stays deterministic under retries via Spark's
    * default sort-before-repartition (SPARK-23207). */
  def fanOut(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) =>
        // integer div (not /) — nano epochs exceed double's 2^53 mantissa
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case None => df
    }
  }
}
