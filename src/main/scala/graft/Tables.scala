package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries receive an `sfDir` (e.g. /root/testdata/sf0.01) and read the
  * parquet directly — scans stay columnar/vectorized and Catalyst pushes
  * filters + pruned columns into the parquet reader.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Resolved-relation cache — the catalog-table analogue. A bare
    * `spark.read.parquet(path)` eagerly lists the directory and reads
    * parquet FOOTERS to infer the schema on every call, which a r15
    * per-phase probe measured at 0.07–0.17 s of every query's wall time (~a
    * third of the sub-0.5 s tail's fixed floor, paid 392 times per bench).
    * A production warehouse resolves tables through a catalog whose schema
    * and file manifest are metadata, not a per-query footer scan — caching
    * the RESOLVED DataFrame per (session, dir, table) is that same
    * one-time resolution. No rows are cached or persisted: every action
    * still scans the parquet data pages; only the relation metadata
    * (schema + file index) is reused, exactly what `saveAsTable` +
    * `spark.table` would give. Bounded LRU so a long-lived JobServer
    * cycling data dirs stays bounded (64 >= 10 tables x the JobServer
    * eviction-safety headroom); eviction releases nothing because nothing
    * is materialized.
    */
  private val relationCache =
    new graft.operators.FamilyCache[(SparkSession, String, String), DataFrame](
      maxEntries = 64, onEvict = _ => ())

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    relationCache.getOrElseUpdate((spark, sfDir, name), {
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (name == "events") normalizeTs(df) else df
    })

  /** [[t]]'s path-keyed sibling for the staged storage VIEWS (partitioned /
    * bucketed / IVF layouts): a partitioned directory pays directory
    * LISTING on every bare read — more than the single-file footer read the
    * base tables paid. Same metadata-only contract as [[t]].
    */
  def rel(spark: SparkSession, path: String): DataFrame =
    relationCache.getOrElseUpdate((spark, path, "__path__"),
      spark.read.parquet(path))

  /** Spread a DERIVATION-HEAVY scan across the session's default
    * parallelism when the landing under-fills it. The driver testdata
    * tables are single-row-group parquet files, so every scan is ONE
    * partition and everything before the first exchange — tokenization,
    * per-position hashing, explode fan-out, payload encode/decode — runs
    * on one core of the whole session (guide §6 input-split sizing /
    * §2.6 idle capacity; measured: the 4-token span-hash pipeline over
    * documents reads 0.82 s single-partition vs 0.57 s spread at sf0.1
    * on 32 cores, and CPU-bound decode pipelines gain proportionally
    * more). The repartition is CONDITIONAL on the scan actually
    * under-filling the session, so at warehouse scale — where the scan
    * already splits into >= parallelism tasks — no exchange is added and
    * the plan is unchanged; this is deliberately NOT applied to plain
    * scan->partial-aggregate shapes, where shuffling full rows forfeits
    * map-side pre-aggregation and measured 2x SLOWER than the
    * single-partition scan.
    *
    * SCOPE: only wrap SCAN-LEVEL frames (a table load plus narrow
    * projections). The guard calls `df.rdd.getNumPartitions`, which plans
    * the subtree to a physical RDD at call time and reads PRE-AQE partition
    * counts — cheap and correct for a scan landing, but a complex subtree
    * would pay a full extra planning pass and could mis-read its post-AQE
    * parallelism.
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Normalize events.ts to TimestampType (UTC sessions) regardless of how
    * the driver generated the parquet: TIMESTAMP(NANOS) arrives as a raw
    * nanos BIGINT under spark.sql.legacy.parquet.nanosAsLong (`div` is
    * exact integer division — a double roundtrip would lose precision at
    * 1e18 nanos); TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    * TIMESTAMP_NTZ, whose cast to TimestampType under the UTC session
    * timezone preserves the wall-clock instant. Downstream operators
    * (unix_micros, epoch casts, watermarks) all assume TimestampType.
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }
}
