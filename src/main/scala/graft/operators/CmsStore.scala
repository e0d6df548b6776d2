package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted count-min shards — [[HllStore]]'s sibling for the
  * FREQUENCY question: counter cells are linear, so shard sketches
  * merge by cell-wise ADDITION (vs HLL's max), which is exactly the
  * sketch of the concatenated corpus. Shard writers append cell rows
  * with zero coordination; estimates merge at read time; compaction
  * bounds the backlog at d·width rows.
  *
  * 100 TB posture: identical to HllStore — a shard costs one
  * keys-only shuffle bounded by d·width regardless of corpus size,
  * and the corpus is never re-read after ingest. Point estimates
  * stay one-sided (never undercount) through any merge/compaction
  * sequence because addition preserves the per-cell upper-bound
  * property. Layout: `path/params` (d, width), `path/cells`
  * (row, col, c) across shard files.
  */
object CmsStore {

  private def readParams(spark: SparkSession, path: String): (Int, Int) = {
    val r = spark.read.parquet(s"$path/params").select("d", "width").head()
    (r.getInt(0), r.getInt(1))
  }

  /** Create the store from the first batch (overwrites `path`). */
  def write(df: DataFrame, textCol: String, path: String,
            d: Int = 4, width: Int = 1024): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq((d, width)).toDF("d", "width")
      .write.mode("overwrite").parquet(s"$path/params")
    TextAnalytics.countMinSketch(df, textCol, d, width)
      .write.mode("overwrite").parquet(s"$path/cells")
  }

  /** Ingest another batch as a new shard (append-only cell rows). */
  def append(df: DataFrame, textCol: String, path: String): Unit = {
    val (d, width) = readParams(df.sparkSession, path)
    TextAnalytics.countMinSketch(df, textCol, d, width)
      .write.mode("append").parquet(s"$path/cells")
  }

  /** Merged cell table (cell-wise sum across all shards) — the sketch
    * of the concatenated batches. */
  def cells(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/cells")
      .groupBy("row", "col").agg(sum("c").as("c"))

  /** Frequency estimates for `terms` over the merged shards. */
  def estimate(spark: SparkSession, path: String,
               terms: Seq[String]): DataFrame = {
    val (d, width) = readParams(spark, path)
    TextAnalytics.cmsEstimate(cells(spark, path), terms, d, width)
  }

  /** Rewrite the shard backlog as one merged shard (estimates
    * unchanged — addition is associative). Returns (component, rows)
    * like the other stores; swap contract in [[StoreKernel]]. */
  def compactStore(spark: SparkSession, path: String): DataFrame = {
    StoreKernel.swapComponents(spark, path, Seq("cells"))(tmp =>
      cells(spark, path).write.parquet(s"$tmp/cells"))
    StoreKernel.manifest(spark, path, Seq("cells"))
  }
}
