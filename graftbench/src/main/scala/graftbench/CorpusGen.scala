package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Shape of a generated training corpus plus its embeddings. */
final case class CorpusParams(docs: Int, nearDupShare: Double, exactDupShare: Double,
                              vectors: Int, dim: Int, clusters: Int,
                              queries: Int, noise: Double)

/** Seeded corpus with planted duplicate clusters and clustered
  * embeddings.
  *
  * Documents: unique docs draw 40-80 words from a synthetic vocabulary.
  * `nearDupShare` of all docs are near-duplicate copies of a unique
  * source doc (one word substituted: word-3-shingle Jaccard ≈ 0.9, well
  * above the default 0.7 MinHash threshold); `exactDupShare` are copies
  * differing only in whitespace (same normalized fingerprint). Ids are
  * shuffled so a cluster's survivor (min id) is not always its source.
  *
  * Embeddings: `vectors` rows around `clusters` Gaussian centres plus
  * `queries` probes from the same mixture, ids disjoint from the corpus.
  */
final class CorpusGen(val seed: Long, val p: CorpusParams) {

  /** (id, text, cluster): cluster is the source doc's index; every doc of
    * one planted cluster (source and copies) shares it. */
  lazy val docs: IndexedSeq[(Long, String, Int)] = {
    val nNear = (p.docs * p.nearDupShare).round.toInt
    val nExact = (p.docs * p.exactDupShare).round.toInt
    val nUnique = p.docs - nNear - nExact
    def word(i: Int): String = "w" + java.lang.Integer.toString(i * 7919 % 50000, 36)
    val unique = (0 until nUnique).map { u =>
      val len = 40 + H.below(41, seed, 31, u)
      (0 until len).map(j => word(H.below(20000, seed, 37, u, j))).toIndexedSeq
    }
    val near = (0 until nNear).map { c =>
      val src = H.below(nUnique, seed, 41, c)
      val words = unique(src)
      val pos = H.below(words.size, seed, 43, c)
      (words.updated(pos, word(20000 + H.below(20000, seed, 47, c))).mkString(" "), src)
    }
    val exact = (0 until nExact).map { c =>
      val src = H.below(nUnique, seed, 53, c)
      (unique(src).mkString("  "), src)
    }
    val all = unique.zipWithIndex.map { case (w, i) => (w.mkString(" "), i) } ++ near ++ exact
    // seeded permutation of ids
    val order = all.indices.sortBy(i => H.hash(seed, 59, i))
    order.zipWithIndex.map { case (i, rank) => (rank.toLong + 1, all(i)._1, all(i)._2) }
      .sortBy(_._1)
  }

  /** Cluster → member ids, for clusters with more than one doc. */
  lazy val dupClusters: Map[Int, Seq[Long]] =
    docs.groupBy(_._3).collect { case (c, ds) if ds.size > 1 => c -> ds.map(_._1).sorted }

  private def gaussian(xs: Long*): Double = {
    // Box-Muller over two seeded uniforms
    val u1 = math.max(H.unit(seed, xs :+ 1L: _*), 1e-12)
    val u2 = H.unit(seed, xs :+ 2L: _*)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def vector(tag: Long, i: Int): Array[Float] = {
    val c = H.below(p.clusters, seed, 61, tag, i)
    Array.tabulate(p.dim)(d => (gaussian(67, c, d) + p.noise * gaussian(71, tag, i, d)).toFloat)
  }

  lazy val vectors: IndexedSeq[(Long, Array[Float])] =
    (0 until p.vectors).map(i => (i.toLong + 1, vector(0, i)))
  lazy val queries: IndexedSeq[(Long, Array[Float])] =
    (0 until p.queries).map(i => (10000000L + i, vector(1, i)))

  /** Write docs.jsonl, vectors.jsonl and queries.jsonl into `dir`;
    * returns bytes written. Byte-identical per seed. */
  def write(dir: File): Long = {
    dir.mkdirs()
    def out(name: String)(lines: Iterator[String]): Long = {
      val f = new File(dir, name)
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
      try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
      f.length()
    }
    def vecLine(v: (Long, Array[Float])): String =
      s"""{"id":${v._1},"vec":[${v._2.map(java.lang.Float.toString).mkString(",")}]}"""
    out("docs.jsonl")(docs.iterator.map { case (id, t, _) => s"""{"id":$id,"text":"$t"}""" }) +
      out("vectors.jsonl")(vectors.iterator.map(vecLine)) +
      out("queries.jsonl")(queries.iterator.map(vecLine))
  }
}
