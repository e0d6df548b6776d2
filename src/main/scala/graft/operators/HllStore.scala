package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted HyperLogLog shards — the mergeable-summary LIFECYCLE on
  * top of [[TextAnalytics.hllRegisters]], MinhashStore parity for the
  * cardinality question: each ingest batch writes its own register
  * rows (append-only, no read-modify-write, so shard writers never
  * coordinate), estimates merge ALL shards by cell-wise register max
  * at read time (exactly the union sketch — linearity is spec'd on
  * the underlying registers), and compaction rewrites the backlog as
  * one merged shard when the row count grows past taste.
  *
  * 100 TB posture: a shard's registers are at most |keys|·2^p rows
  * regardless of corpus size; ingest cost is the hllRegisters
  * keys-only shuffle; estimate cost is register-table-scale only —
  * the corpus is never re-read. Layout: `path/params` (p),
  * `path/registers` (key, bucket, r) across shard files.
  */
object HllStore {

  private def readP(spark: SparkSession, path: String): Int =
    spark.read.parquet(s"$path/params").select("p").head().getInt(0)

  /** Create the store from the first batch (overwrites `path`). */
  def write(df: DataFrame, keyCol: String, valueCol: String, path: String,
            p: Int = 10): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq(p).toDF("p").write.mode("overwrite").parquet(s"$path/params")
    TextAnalytics.hllRegisters(df, keyCol, valueCol, p)
      .write.mode("overwrite").parquet(s"$path/registers")
  }

  /** Ingest another batch as a new shard: append-only register rows,
    * no coordination with existing shards or concurrent appenders. */
  def append(df: DataFrame, keyCol: String, valueCol: String,
             path: String): Unit = {
    val p = readP(df.sparkSession, path)
    TextAnalytics.hllRegisters(df, keyCol, valueCol, p)
      .write.mode("append").parquet(s"$path/registers")
  }

  /** Merged register table (cell-wise max across all shards) — the
    * union sketch, identical to single-pass registers over the
    * concatenated batches. */
  def registers(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/registers")
      .groupBy("key", "bucket").agg(max("r").as("r"))

  /** Per-key cardinality estimates over the merged shards:
    * (key, n_regs, est_floor) — see [[TextAnalytics.hllEstimate]]. */
  def estimate(spark: SparkSession, path: String): DataFrame =
    TextAnalytics.hllEstimate(registers(spark, path), readP(spark, path))

  /** Rewrite the shard backlog as ONE merged shard (estimates are
    * unchanged — merge is associative/idempotent; this just bounds
    * the register-row count at |keys|·2^p again). Returns
    * (component, rows); swap contract in [[StoreKernel]]. */
  def compactStore(spark: SparkSession, path: String): DataFrame = {
    StoreKernel.swapComponents(spark, path, Seq("registers"))(tmp =>
      registers(spark, path).write.parquet(s"$tmp/registers"))
    StoreKernel.manifest(spark, path, Seq("registers"))
  }
}
