package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Knn, MinhashStore}

/** Training-data curation: exact and near-duplicate removal, a
  * persisted MinHash store built then probed and appended batch by
  * batch, and a persisted IVF vector index appended, searched,
  * tombstoned and compacted. Shuffle and store I/O bound; bypasses the
  * FFIEC sources and pipeline entirely. */
final class CorpusCurate(seed: Long) extends Workload {
  val name = "corpus_curate"

  val params = CorpusParams(docs = 2000, nearDupShare = 0.15, exactDupShare = 0.05,
    vectors = 4000, dim = 32, clusters = 16, queries = 100, noise = 0.6)
  val k = 10
  val nprobe = 4
  /** Recall floors: a pass below either counts its operation failed. */
  val dedupRecallFloor = 0.9
  val searchRecallFloor = 0.8
  private val gen = new CorpusGen(seed, params)

  // doc id ranges: store build, then two probe/append batches
  private val docCuts = Seq(0L, (params.docs * 0.7).toLong, (params.docs * 0.85).toLong, params.docs.toLong)
  // vector id ranges: index build, then two appends
  private val vecCuts = Seq(0L, (params.vectors * 0.8).toLong, (params.vectors * 0.9).toLong, params.vectors.toLong)
  private val deleted: Set[Long] =
    gen.vectors.map(_._1).filter(id => H.unit(seed, 97, id) < 0.05).toSet

  private var prep: File = _
  private var docs: DataFrame = _
  private var vectors: DataFrame = _
  private var queries: DataFrame = _
  /** Brute-force top-k per index state: after append 1, after append 2,
    * after the deletes. */
  private var truth: IndexedSeq[Map[Long, Set[Long]]] = _

  private val dedupRecalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val searchRecalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val dedupDocsPerS = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(dir: File): Unit = gen.write(dir)

  private def between(df: DataFrame, cuts: Seq[Long], i: Int): DataFrame =
    df.where(col("id") > cuts(i) && col("id") <= cuts(i + 1))

  def prepare(spark: SparkSession, dir: File, work: File, rep: Int): Unit = {
    Option(prep).foreach(Workload.deleteTree)
    prep = new File(work, s"prep-$rep")
    val vecSchema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
    def load(name: String, schema: StructType): DataFrame = {
      val out = new File(prep, s"$name.parquet").getPath
      spark.read.schema(schema).json(new File(dir, s"$name.jsonl").getPath)
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }
    docs = load("docs", StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    vectors = load("vectors", vecSchema)
    queries = load("queries", vecSchema)
    val delDf = spark.createDataFrame(spark.sparkContext.parallelize(deleted.toSeq.map(org.apache.spark.sql.Row(_))),
      StructType(Seq(StructField("id", LongType))))
    val states = Seq(
      vectors.where(col("id") <= vecCuts(2)),
      vectors,
      vectors.join(delDf, Seq("id"), "left_anti"))
    truth = states.map { s =>
      Knn.bruteForce(s, "id", "vec", queries, "id", "vec", k)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }.toIndexedSeq
  }

  private def recallAt(found: Array[org.apache.spark.sql.Row], state: Int): Double = {
    val got = found.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val t = truth(state)
    t.map { case (q, want) => (got.getOrElse(q, Set.empty[Long]) intersect want).size.toDouble / want.size }
      .sum / t.size
  }

  /** Annotate the latest op's span with the store's size on disk. */
  private def storeSize(c: Client, kind: String, dir: File): Unit =
    if (c.tracer.enabled) {
      val (bytes, files) = Workload.diskUsage(dir)
      c.tracer.annotate(kind, Map("store.bytes_on_disk" -> bytes.toDouble, "store.files" -> files.toDouble))
    }

  def pass(spark: SparkSession, c: Client, work: File, i: Int): Unit = {
    val dir = new File(work, s"pass-$i")
    val t0 = c.ops.size
    // exact dedup: one survivor per normalized text
    c.op("dedup.exact", "operators.dedup")(Dedup.exact(docs, "id", "text").count())
      .foreach(n => c.expect(n == params.docs - (params.docs * params.exactDupShare).round,
        s"exact dedup kept $n groups"))
    // near-dup corpus dedup: planted copies removed, one member of every
    // planted cluster kept, nothing else removed
    c.op("dedup.corpus", "operators.dedup") {
      Dedup.dedupCorpus(docs, "id", "text").select("id").collect().map(_.getLong(0)).toSet
    }.foreach { kept =>
      val planted = gen.dupClusters.values.map(_.size - 1).sum
      val emptied = gen.dupClusters.values.count(!_.exists(kept))
      val removed = gen.dupClusters.values.map(ids => ids.size - ids.count(kept).max(1)).sum
      val r = removed.toDouble / planted
      dedupRecalls += r
      val wrong = gen.docs.count(d => !gen.dupClusters.contains(d._3) && !kept(d._1))
      c.expect(r >= dedupRecallFloor && wrong == 0 && emptied == 0,
        s"dedupCorpus pair recall $r, $wrong unique docs removed, $emptied planted clusters removed whole")
    }
    dedupDocsPerS += params.docs / (c.ops.slice(t0, t0 + 2).map(_.ms).sum / 1e3)

    // fingerprint store: build, then probe + append each batch
    val mh = new File(dir, "minhash").getPath
    c.op("minhash.write", "operators.minhash_store") {
      MinhashStore.write(between(docs, docCuts, 0), "id", "text", mh)
    }
    storeSize(c, "minhash.write", new File(mh))
    Seq(1, 2).foreach { b =>
      val batch = between(docs, docCuts, b)
      c.op("minhash.probe", "operators.minhash_store") {
        MinhashStore.probe(spark, mh, batch, "id", "text").select("id_new", "id_store").collect()
      }.foreach { pairs =>
        // every batch doc whose planted cluster already has a stored member
        val inStore = (id: Long) => id <= docCuts(b)
        val inBatch = (id: Long) => id > docCuts(b) && id <= docCuts(b + 1)
        val want = gen.dupClusters.values.flatMap { ids =>
          ids.filter(inBatch).flatMap(n => ids.filter(inStore).map(s => n -> s))
        }.toSet
        val got = pairs.map(r => r.getLong(0) -> r.getLong(1)).toSet
        val hit = (want intersect got).size.toDouble / want.size.max(1)
        c.expect(hit >= dedupRecallFloor, s"probe of batch $b found $hit of planted store pairs")
      }
      c.op("minhash.append", "operators.minhash_store")(MinhashStore.append(batch, "id", "text", mh))
      storeSize(c, "minhash.append", new File(mh))
    }

    // IVF index: build, append + search, delete, compact, search
    val ivf = new File(dir, "ivf").getPath
    c.op("knn.write_ivf", "operators.knn")(Knn.writeIvfIndex(between(vectors, vecCuts, 0), "id", "vec", ivf))
    storeSize(c, "knn.write_ivf", new File(ivf))
    def search(state: Int): Unit =
      c.op("knn.search", "operators.knn") {
        Knn.searchIvf(spark, ivf, queries, "id", "vec", k, nprobe)
          .select("query_id", "neighbor_id").collect()
      }.foreach { rows =>
        c.tracer.annotate("knn.search", Map("queries" -> params.queries.toDouble))
        val r = recallAt(rows, state)
        searchRecalls += r
        c.expect(r >= searchRecallFloor, s"search recall@$k $r in state $state")
      }
    Seq(1, 2).foreach { b =>
      c.op("knn.append_ivf", "operators.knn")(Knn.appendIvfIndex(between(vectors, vecCuts, b), "id", "vec", ivf))
      storeSize(c, "knn.append_ivf", new File(ivf))
      search(b - 1)
    }
    val delDf = spark.createDataFrame(spark.sparkContext.parallelize(deleted.toSeq.map(org.apache.spark.sql.Row(_))),
      StructType(Seq(StructField("id", LongType))))
    c.op("knn.delete", "operators.knn")(Knn.deleteFromIvfIndex(delDf, "id", ivf))
    storeSize(c, "knn.delete", new File(ivf))
    c.op("knn.compact", "operators.knn")(Knn.compactIvfStore(spark, ivf).collect())
    storeSize(c, "knn.compact", new File(ivf))
    search(2)
    Workload.deleteTree(dir)
  }

  override def layerProbes(spark: SparkSession, c: Client, work: File): Unit = {
    c.op("dedup.minhash_pairs", "operators.dedup") {
      val pairs = Dedup.minhashLshPairs(docs, "id", "text")
      val n = pairs.count()
      pairs.unpersist(false)
      n
    }.foreach(n => c.tracer.annotate("dedup.minhash_pairs", Map("pairs_found" -> n.toDouble)))
  }

  def figures(c: Client, passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val searches = c.latencies("knn.search")
    Seq(
      ("dedup_docs_per_s", Stats.median(dedupDocsPerS.toSeq), "docs/s"),
      ("dedup_pair_recall", Stats.median(dedupRecalls.toSeq), "ratio"),
      ("search_qps", params.queries * searches.size / (searches.sum / 1e3), "queries/s"),
      ("search_recall_at_10", Stats.median(searchRecalls.toSeq), "ratio"),
      ("store_op_p50_ms", Stats.median(c.latencies(storeKinds: _*)), "ms"))
  }

  val storeKinds = Seq("minhash.probe", "minhash.append", "knn.append_ivf", "knn.delete", "knn.compact")

  def recall(c: Client): Double =
    if (searchRecalls.isEmpty) 0.0 else searchRecalls.sum / searchRecalls.size

  override val queryKinds = Seq("knn.search")
  val latencyKinds = Seq("dedup.exact", "dedup.corpus", "minhash.write", "knn.write_ivf", "knn.search") ++ storeKinds
}
