package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The [[StoreKernel]] contract's "unreadable means throw" half: a
  * delete log that is present but not parquet must fail the search,
  * never read as "no deletes" and resurrect the deleted ids. (The
  * "missing means absent" half is every pre-tombstone store spec.) */
class StoreKernelSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def corrupt(dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-00000-corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
  }

  /** The failure must be the corrupt file's read, not anything else. */
  private def assertCorruptRead(search: => Unit): Unit = {
    val e = intercept[Exception](search)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => String.valueOf(t.getMessage)
      .contains("part-00000-corrupt.parquet")), e.toString)
  }

  private def corpus = {
    val s = spark
    import s.implicits._
    (0L until 24L).map { i =>
      val v = Array.fill(4)(0.05f)
      v((i % 4).toInt) = 1.0f + 0.01f * i
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("graph store: a corrupt deletes table fails search loudly") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("kernel_graph")
    Knn.writeGraphIndex(corpus, "vec_id", "embedding", dir,
      k = 4, c = 2, nprobe = 2, buckets = 2)
    Knn.deleteFromGraphIndex(Seq(1L).toDF("vec_id"), "vec_id", dir)
    corrupt(s"$dir/deletes")
    assertCorruptRead {
      Knn.searchGraphIndex(spark, dir, corpus.where(col("vec_id") === 5L),
        "vec_id", "embedding", beam = 4, hops = 2, k = 3).collect()
    }
  }

  test("IVF store: a corrupt tombstone table fails search loudly") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("kernel_ivf")
    Knn.writeIvfIndex(corpus, "vec_id", "embedding", dir, c = 2)
    Knn.deleteFromIvfIndex(Seq(1L).toDF("vec_id"), "vec_id", dir)
    corrupt(s"$dir/tombstones")
    assertCorruptRead {
      Knn.searchIvf(spark, dir, corpus.where(col("vec_id") === 5L),
        "vec_id", "embedding", k = 3, nprobe = 2).collect()
    }
  }
}
