package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted-store kernel: the lifecycle decisions every store
  * family shares, made once. Each family ([[MinhashStore]],
  * [[EmbeddingStore]], the IVF/PQ/RQ/SQ8 and graph indexes in [[Knn]]
  * and [[Pq]], [[HllStore]], [[CmsStore]], [[HistStore]], [[CcStore]])
  * owns what its components hold and what its compaction computes;
  * this module owns how components are read, tombstoned, overwritten
  * and swapped.
  *
  * THE STORE CONTRACT.
  *
  * Components. A store is a directory of named components, each a
  * parquet table at `path/<component>`: `cells`/`centroids` (IVF
  * family, EmbeddingStore), `params`/`sigs`/`bands`/`bucket_counts`
  * (Minhash), `params`/`registers` (Hll), `params`/`cells` (Cms,
  * Hist), `forest`/`pending` (Cc), `meta`/`centroids`/`entries`/
  * `nodes`/`edges`/`codes`/`codes_books` (graph). The id-keyed stores
  * keep their delete log in [[Tombstones]], the graph store in
  * `deletes`.
  *
  * Missing vs unreadable. An optional component (tombstones, a codes
  * sidecar, a pending log) that is MISSING reads as absent — one
  * `FileSystem.exists` metadata call decides, never a thrown-and-logged
  * exception ([[parquetIfExists]]). A component that is PRESENT but
  * cannot be read throws: a corrupt tombstone table read as "no
  * tombstones" would silently bring deleted ids back into results.
  *
  * Tombstones. A delete appends ids ([[appendTombstones]]): append-only
  * metadata, no store rewrite, safe per batch. Probes anti-join the
  * ids BEFORE ranking (a deleted id must not eat a rank slot), so the
  * set must stay broadcast-scale between compactions; compaction
  * applies and clears it.
  *
  * Overwrites. A partitioned store write whose correctness depends on
  * the partition-overwrite mode picks it per write ([[staticOverwrite]]
  * replaces the whole component, [[dynamicOverwrite]] only the
  * partitions present in the frame). No store code sets the session's
  * `spark.sql.sources.partitionOverwriteMode`, so concurrent operator
  * calls cannot race on it, and a `dynamic` session default cannot keep
  * a fully-tombstoned partition alive.
  *
  * Compaction. [[swapComponents]] writes the rewritten components under
  * `path/_compact_tmp`, then deletes each live component and renames its
  * temp copy into place. The swap is NOT atomic: a crash inside it can
  * lose a component or leave components of different generations, and
  * a concurrent probe may read either. Compaction (and every in-place
  * rewrite, such as the IVF partition overwrite) therefore needs a
  * maintenance window and a single writer.
  */
object StoreKernel {

  /** Delete-log component of the id-keyed stores. */
  val Tombstones = "tombstones"

  private val CompactTmp = "_compact_tmp"

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Optional-component read: None when `path` is missing, the table
    * when present; a present-but-unreadable table throws. */
  private[operators] def parquetIfExists(spark: SparkSession,
                                         path: String): Option[DataFrame] =
    if (fileSystem(spark, path).exists(new Path(path)))
      Some(spark.read.parquet(path))
    else None

  /** Append the distinct `idCol` values of `ids` to the store's delete
    * log — the one place the tombstone row format (one `id` column) is
    * decided. */
  private[operators] def appendTombstones(ids: DataFrame, idCol: String,
                                          path: String,
                                          component: String = Tombstones): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("append").parquet(s"$path/$component")

  /** The distinct tombstoned ids, None when the store has no delete log
    * (delete batches may overlap, hence distinct). */
  private[operators] def tombstones(spark: SparkSession, path: String,
                                    component: String = Tombstones): Option[DataFrame] =
    parquetIfExists(spark, s"$path/$component").map(_.select("id").distinct())

  /** Overwrite that replaces the whole component, whatever the session
    * default: a partition whose rows all went must not keep its files. */
  private[operators] def staticOverwrite(df: DataFrame): DataFrameWriter[Row] =
    df.write.mode("overwrite").option("partitionOverwriteMode", "static")

  /** Overwrite that replaces only the partitions present in `df`. */
  private[operators] def dynamicOverwrite(df: DataFrame): DataFrameWriter[Row] =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")

  /** Compaction's component swap: `write(tmp)` lands each of
    * `components` under `tmp/<component>`, then each live component is
    * replaced by its rewritten copy (not atomic — see the contract). */
  private[operators] def swapComponents(spark: SparkSession, path: String,
                                        components: Seq[String])
                                       (write: String => Unit): Unit = {
    val fs = fileSystem(spark, path)
    val tmp = s"$path/$CompactTmp"
    fs.delete(new Path(tmp), true)
    write(tmp)
    components.foreach { c =>
      fs.delete(new Path(s"$path/$c"), true)
      fs.rename(new Path(s"$tmp/$c"), new Path(s"$path/$c"))
    }
    fs.delete(new Path(tmp), true)
  }

  /** Remove a component (an applied delete log, a folded pending log,
    * an emptied partition directory); a missing one is a no-op. */
  private[operators] def dropComponent(spark: SparkSession, path: String,
                                       component: String): Unit =
    fileSystem(spark, path).delete(new Path(s"$path/$component"), true)

  /** Compaction manifest (component, rows): each of `counted` re-read
    * and counted from disk, then the `extra` rows. */
  private[operators] def manifest(spark: SparkSession, path: String,
                                  counted: Seq[String],
                                  extra: Seq[(String, Long)] = Nil): DataFrame = {
    import spark.implicits._
    (counted.map(c => (c, spark.read.parquet(s"$path/$c").count())) ++ extra)
      .toDF("component", "rows")
  }

  /** Per-partition FILE layout of a persisted store component — the
    * small-file-accretion metric the maintenance policies read
    * ([[Knn.maintainIvfStore]]'s files-per-cell trigger and its
    * siblings): every micro-batch append lands at least one file per
    * touched partition directory, and only a compaction bounds the
    * accretion. Driver-side filesystem METADATA listing (one recursive
    * ls — the scale of the store's partition count, never its rows).
    * Output: (partition, n_files, bytes) — `partition` is the directory
    * path relative to the component root ("" for unpartitioned files). */
  def storeFileStats(spark: SparkSession, path: String,
                     component: String): DataFrame = {
    import spark.implicits._
    val fs = fileSystem(spark, s"$path/$component")
    // qualified root so relativize works against the (scheme-
    // qualified) listing paths
    val root = fs.makeQualified(new Path(s"$path/$component"))
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (!st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")) {
          val rel = root.toUri.relativize(st.getPath.getParent.toUri)
            .getPath.stripSuffix("/")
          acc += ((rel, st.getLen))
        }
      }
    walk(root)
    acc.toSeq.toDF("partition", "bytes")
      .groupBy("partition")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("bytes"))
  }
}
