package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, Vectors}
import graft.plans.Overlap

/** Product quantization for compressed-vector ANN: vectors split into
  * `m` subspaces, each encoded as the id of its nearest codeword —
  * dim×4 bytes become m bytes (e.g. 64-dim float → 8 bytes, 32×
  * smaller), which is what lets a 100 TB embedding corpus fit a
  * shortlist scan. Search scores candidates with asymmetric distance
  * computation (ADC): per query a (m × k) dot-product table against
  * the codewords, candidate score = Σ_s table[s][code_s] ≈ q·v; an
  * exact re-rank over the shortlist recovers the precision the codes
  * lose. Pairs with Knn.writeIvfIndex (probe cells, then ADC inside).
  *
  * Codebook training uses the same deterministic hash-sampling as IVF
  * centroids — broadcast-scale metadata, reproducible across runs.
  */
object Pq {

  /** Codebooks: [subspace][codeword][subDim], trained by deterministic
    * one-pass hash-sampling (bottom-k by md5 id-hash, same sketch as
    * Knn.sampleCentroids — no corpus count pre-scan) of `k` corpus
    * vectors and slicing them (per-subspace codewords come from the
    * same sampled set — the cheap, replayable baseline; swap in
    * per-subspace k-means offline for quality). */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                     m: Int, k: Int, dim: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    val sampled = corpus
      .select(Hashes.md5Hash64(col(idCol)).as("h"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .orderBy("h").limit(k)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sampled.nonEmpty, "no codebook samples")
    Array.tabulate(m) { s =>
      sampled.map(v => v.slice(s * subDim, (s + 1) * subDim))
    }
  }

  /** Per-subspace Lloyd refinement of the sampled codebooks: `iters`
    * rounds of argmin-encode → per-(subspace, codeword) subvector mean.
    * Each round is ONE shuffle of (s, code)-keyed subvectors with
    * map-side partial sums (VectorAvgAggregator — k·m groups, so the
    * reduce side is metadata-scale); total shuffled payload per round
    * equals one corpus pass (n·m subvectors of dim/m doubles = n·dim).
    * Codewords that attract no members keep their previous centroid.
    * Standard k-means quality uplift over the sampled baseline
    * (distortion decreases monotonically per round — spec-asserted). */
  def trainCodebooksKmeans(corpus: DataFrame, idCol: String, vecCol: String,
                           m: Int, k: Int, dim: Int,
                           iters: Int = 2): Array[Array[Array[Double]]] = {
    val subDim = dim / m
    var books = trainCodebooks(corpus, idCol, vecCol, m, k, dim)
    val avg = VectorAvgAggregator.udaf()
    for (_ <- 1 to iters) {
      val means = encode(corpus, idCol, vecCol, books)
        .select(posexplode(col("codes")).as(Seq("s", "code")),
          transform(col("vec"), _.cast("double")).as("v"))
        .select(col("s"), col("code"),
          slice(col("v"), col("s") * subDim + 1, lit(subDim)).as("sub"))
        .groupBy("s", "code")
        .agg(avg(col("sub")).as("cw"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      books = next
    }
    books
  }

  /** Oracle-replayable single Lloyd round over given codebooks: the
    * per-(subspace, codeword) mean is an ORDERED sequential fold over
    * members sorted by id — bit-identical to DuckDB's
    * list_reduce(list(x ORDER BY id)), the fp-determinism the parallel
    * VectorAvgAggregator (production path, trainCodebooksKmeans) cannot
    * give. Same gate/oracle-only trade as Knn.kmeansCentroidsOrdered:
    * each (s, code) group materializes its members in one aggregation
    * row, so this is NOT the 100 TB path. Codewords with no members
    * keep their previous (rounded) value. Output: one row per
    * (s, code, d) with the refined component `mu` — flat doubles, no
    * arrays, so the cross-engine comparator sees scalars. */
  def refineCodebooksOrdered(corpus: DataFrame, idCol: String, vecCol: String,
                             books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = books.length
    val subDim = books(0)(0).length
    val means = encode(corpus, idCol, vecCol, books)
      .select(col("id"), posexplode(col("codes")).as(Seq("s", "code")),
        transform(col("vec"), _.cast("double")).as("v"))
      .select(col("id"), col("s"), col("code"),
        slice(col("v"), col("s") * subDim + 1, lit(subDim)).as("sub"))
      .groupBy("s", "code")
      .agg(array_sort(collect_list(struct(col("id"), col("sub")))).as("members"))
      .select(col("s"), col("code"),
        posexplode(transform(sequence(lit(1), lit(subDim)), d =>
          aggregate(col("members"), lit(0.0),
            (acc, mm) => acc + element_at(mm.getField("sub"), d))
            / size(col("members")).cast("double"))).as(Seq("d0", "mu")))
      .select(col("s"), col("code"), (col("d0") + 1).cast("int").as("d"),
        col("mu"))
    val grid = (for {
      (cws, s) <- books.zipWithIndex
      (cw, c) <- cws.zipWithIndex
      (x, d0) <- cw.zipWithIndex
    } yield (s, c, d0 + 1, x)).toSeq.toDF("s", "code", "d", "cw0")
    broadcast(grid).join(means, Seq("s", "code", "d"), "left")
      .select(col("s"), col("code"), col("d"),
        round(coalesce(col("mu"), col("cw0")), 6).as("mu"))
  }

  /** The m-codeword encoding as a pure Column over `vec` — argmin L2
    * per subspace against the codebooks, via the codegen'd PqCodes
    * kernel (the books ride into generated code as a reference
    * object). Bit-identical to `codesColumnHof` (property-spec'd). */
  def codesColumn(vec: org.apache.spark.sql.Column,
                  codebooks: Array[Array[Array[Double]]]): org.apache.spark.sql.Column =
    graft.plans.native.pqCodes(vec, codebooks)

  /** HOF reference formulation of the encoding (kept for cross-checking
    * the native kernel, same pattern as Vectors.cosineHof). */
  def codesColumnHof(vec: org.apache.spark.sql.Column,
                     codebooks: Array[Array[Array[Double]]]): org.apache.spark.sql.Column = {
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    val codeCols = (0 until m).map { s =>
      // one Literal node per subspace (typedLit), not a k×subDim tree
      // of lit() — analysis cost scales with expression node count
      val cwArr = typedLit(codebooks(s).map(_.toSeq).toSeq)
      val sub = slice(transform(vec, _.cast("double")), s * subDim + 1, subDim)
      // argmin_c ||sub - cw_c||² as a min over per-codeword distances
      val scored = transform(cwArr, cw =>
        aggregate(zip_with(sub, cw, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v))
      array_position(scored, array_min(scored)).cast("int") - 1
    }
    array(codeCols: _*)
  }

  /** Encode every vector as m codeword ids (nearest by L2 within each
    * subspace). Pure per-row expression over the broadcast codebooks —
    * zero shuffle, same shape as Knn.assignCells. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             codebooks: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      codesColumn(col(vecCol), codebooks).as("codes"))

  /** ADC + exact re-rank: shortlist `shortlist` candidates per query by
    * the table-lookup score, then rank the shortlist by exact cosine.
    * Queries broadcast; the corpus side touches only (id, codes) until
    * the re-rank join pulls vectors for the shortlist — at scale the
    * codes table is the 32×-smaller scan. */
  def search(encoded: DataFrame, queries: DataFrame, queryId: String,
             queryVec: String, codebooks: Array[Array[Array[Double]]],
             k: Int, shortlist: Int = 50): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    // per-query ADC tables: tables[s][c] = dot(q_sub_s, cw_c)
    val tableCol = array((0 until m).map { s =>
      val qSub = slice(transform(col("qvec"), _.cast("double")),
        s * subDim + 1, subDim)
      transform(typedLit(codebooks(s).map(_.toSeq).toSeq), cw =>
        aggregate(zip_with(qSub, cw, (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v))
    }: _*)
    val q = broadcast(queries
      .select(col(queryId).as("query_id"), col(queryVec).as("qvec"))
      .withColumn("tables", tableCol))
    val scored = encoded.join(q)
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        graft.plans.native.adcScore(col("codes"), col("tables")).as("sim"))
    // shortlist via the bounded TopK aggregator (map-side partial
    // heaps), NOT a window — the corpus-sized stream never shuffles
    val short = Knn.topKPerQuery(scored, shortlist)
      .select("query_id", "neighbor_id")
    val exact = broadcast(short)
      .join(encoded.select(col("id").as("neighbor_id"), col("vec")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("qvec"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Vectors.cosine(col("vec"), col("qvec")), 6).as("sim"))
    Knn.topKPerQuery(exact, k)
  }

  /** Compression ratio of the code layout vs float32 vectors. */
  def compressionRatio(dim: Int, m: Int): Double = (dim * 4.0) / m

  // ---- scalar quantization (SQ8): per-dimension affine uint8 grid —
  // the 4× compression point between full floats and PQ codes, and the
  // variant that keeps per-dimension semantics (codes are per-dim, so
  // range filters / partial distances still make sense). Training is
  // ONE exact min/max aggregate — order-insensitive, so unlike the PQ
  // codebooks the oracle recomputes it in SQL instead of inlining
  // driver-side literals.

  /** Per-dimension (min, max) over the corpus: one aggregate pass,
    * metadata-scale result (2·dim doubles, broadcast by callers). */
  def sq8Train(corpus: DataFrame, vecCol: String,
               dim: Int): (Array[Double], Array[Double]) = {
    val aggs = (1 to dim).flatMap(d => Seq(
      min(element_at(col(vecCol), d)).cast("double").as(s"mn$d"),
      max(element_at(col(vecCol), d)).cast("double").as(s"mx$d")))
    val r = corpus.agg(aggs.head, aggs.tail: _*).collect()(0)
    (Array.tabulate(dim)(i => r.getDouble(2 * i)),
      Array.tabulate(dim)(i => r.getDouble(2 * i + 1)))
  }

  private def sq8Scales(mins: Array[Double], maxs: Array[Double]): Array[Double] =
    mins.indices.map(d =>
      if (maxs(d) == mins(d)) 0.0 else (maxs(d) - mins(d)) / 255.0).toArray

  /** The SQ8 code expression: code_d = round((v_d - min_d) / scale_d),
    * scale_d = range_d/255; constant dimensions (scale 0) encode 0.
    * Codes clamp to [0, 255]: a no-op when the ranges come from the
    * encoded data itself (the gate case — oracles need no clamp), but
    * load-bearing for appendIvfSq8Index, where a drifted batch value
    * outside the stored range would otherwise index past the 256-entry
    * ADC tables. */
  private def sq8CodesColumn(vec: org.apache.spark.sql.Column,
                             mins: Array[Double],
                             maxs: Array[Double]): org.apache.spark.sql.Column = {
    val mnL = typedLit(mins.toSeq)
    val scL = typedLit(sq8Scales(mins, maxs).toSeq)
    transform(sequence(lit(1), lit(mins.length)), d =>
      when(element_at(scL, d) === 0.0, lit(0))
        .otherwise(least(greatest(round((element_at(vec, d).cast("double")
          - element_at(mnL, d)) / element_at(scL, d), 0), lit(0.0)), lit(255.0))
          .cast("int")))
  }

  /** Encode each vector as dim uint8 codes ([[sq8CodesColumn]]). Kept
    * alongside the id AND the vector here (callers project; the
    * persisted layout is [[writeIvfSq8Index]]). */
  def sq8Encode(df: DataFrame, idCol: String, vecCol: String,
                mins: Array[Double], maxs: Array[Double]): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      sq8CodesColumn(col(vecCol), mins, maxs).as("codes"))

  /** Per-dim 256-entry ADC tables for a query vector:
    * tables[d][c] = q_d · (min_d + c·scale_d). Computed once per query
    * (broadcast side); each per-candidate score is then one AdcScore
    * kernel lookup-sum in whole-stage codegen — term- and order-
    * identical to the naive per-pair fold
    * Σ_d q_d · (min_d + code_d·scale_d), so oracles replay the fold. */
  private def sq8Tables(qvec: org.apache.spark.sql.Column,
                        mins: Array[Double],
                        maxs: Array[Double]): org.apache.spark.sql.Column = {
    val sc = sq8Scales(mins, maxs)
    array(mins.indices.map { d =>
      transform(sequence(lit(0), lit(255)), cc =>
        element_at(qvec, d + 1).cast("double") *
          (lit(mins(d)) + cc * lit(sc(d))))
    }: _*)
  }

  /** Asymmetric SQ8 search: float queries against dequantized codes —
    * sim = Σ_d q_d · (min_d + code_d·scale_d), evaluated as per-query
    * ADC tables ([[sq8Tables]]) + the AdcScore codegen kernel (the
    * 64-step interpreted HOF fold measured 3× slower at sf0.1).
    * Queries broadcast; the corpus side touches only (id, codes) — the
    * 4×-smaller scan — and ranking goes through the bounded TopK
    * aggregator, never a window. */
  def searchSq8(encoded: DataFrame, queries: DataFrame,
                queryId: String, queryVec: String,
                mins: Array[Double], maxs: Array[Double], k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col(queryId).as("query_id"), col(queryVec).as("qvec"))
      .withColumn("tables", sq8Tables(col("qvec"), mins, maxs)))
    val scored = encoded.select(col("id"), col("codes")).join(q)
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(graft.plans.native.adcScore(col("codes"), col("tables")), 6).as("sim"))
    Knn.topKPerQuery(scored, k)
  }

  // ---- binary quantization (BQ): one SIGN BIT per dimension around
  // the per-dim range midpoint — the 32× compression endpoint of the
  // family (floats → SQ8 → PQ/RQ → BQ) and the representation modern
  // binary-embedding search serves from (Hamming distance over packed
  // words; see e.g. Yamada et al. 2021 "Efficient passage retrieval
  // with hashing" — BPR; public algorithm). Distances are pure
  // INTEGER (popcount of XOR), so search replays bit-exactly in any
  // engine — no float fold to keep in order, unlike SQ8/PQ ADC.

  /** Per-dim midpoint thresholds from [[sq8Train]]'s exact (min, max):
    * th_d = (min_d + max_d) / 2 — one IEEE op on two exact aggregates,
    * engine-identical (an AVG threshold would drift with summation
    * order). */
  def bqThresholds(mins: Array[Double], maxs: Array[Double]): Array[Double] =
    mins.indices.map(d => (mins(d) + maxs(d)) / 2.0).toArray

  /** Encode each vector as ⌈dim/63⌉ packed BIGINT words: bit (d−1)%63
    * of word (d−1)/63 is set iff v_d > th_d — 63 data bits per word,
    * never the sign bit, because a portable replay must left-shift in
    * ANY engine and `1::BIGINT << 63` overflows in e.g. DuckDB.
    * Bitwise OR assembly (an arithmetic add of a high bit would
    * ANSI-overflow). One projection, zero shuffle. */
  def bqEncode(df: DataFrame, idCol: String, vecCol: String,
               th: Array[Double]): DataFrame = {
    val dim = th.length
    val words = (dim + 62) / 63
    val thL = typedLit(th.toSeq)
    val wordCols = (0 until words).map { w =>
      val lo = w * 63 + 1
      val hi = math.min((w + 1) * 63, dim)
      expr(s"""aggregate(sequence($lo, $hi), 0L, (acc, d) ->
              |  acc | CASE WHEN element_at(__v, d) > element_at(__th, d)
              |             THEN shiftleft(1L, (d - 1) % 63) ELSE 0L END)"""
          .stripMargin)
    }
    df.select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("__v"),
        thL.as("__th"))
      .select(col("id"), array(wordCols: _*).as("bits"))
  }

  /** Symmetric BQ search: queries encode with the SAME thresholds,
    * sim = dim − Hamming = dim − Σ_w popcount(a_w XOR b_w) — integer
    * end-to-end, deterministic ties → neighbor_id ASC. Queries
    * broadcast; the corpus side touches only (id, bits) — the
    * 32×-smaller scan — and ranking goes through the bounded TopK
    * aggregator, never a window. The standard first-stage filter
    * ahead of an exact re-rank on the shortlist. */
  def searchBq(encoded: DataFrame, queries: DataFrame,
               queryId: String, queryVec: String,
               th: Array[Double], k: Int): DataFrame = {
    val dim = th.length
    val words = (dim + 62) / 63
    val q = broadcast(
      bqEncode(queries, queryId, queryVec, th)
        .select(col("id").as("query_id"), col("bits").as("qbits")))
    val ham = (0 until words).map(w =>
      bit_count(expr(s"element_at(bits, ${w + 1})")
        .bitwiseXOR(expr(s"element_at(qbits, ${w + 1})"))).cast("long"))
      .reduce(_ + _)
    val scored = encoded.join(q)
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (lit(dim.toLong) - ham).cast("double").as("sim"))
    Knn.topKPerQuery(scored, k)
  }

  /** BQ first stage + EXACT re-rank (round 12): Hamming-shortlist
    * `shortlist` candidates per query, then rank the shortlist by
    * exact cosine against the full vectors — the production posture
    * the symmetric filter is built for ([[searchBq]] alone reports
    * the honest first-stage quality). The re-rank join touches
    * vectors only for queries × shortlist rows. */
  def searchBqReranked(encoded: DataFrame, corpus: DataFrame,
                       corpusId: String, corpusVec: String,
                       queries: DataFrame, queryId: String,
                       queryVec: String, th: Array[Double], k: Int,
                       shortlist: Int = 50): DataFrame = {
    val short = searchBq(encoded, queries, queryId, queryVec, th, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qv = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qvec")))
    val cv = corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).as("cvec"))
    val scored = short.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.Vectors.cosine(col("cvec"), col("qvec")), 6)
          .as("sim"))
    Knn.topKPerQuery(scored, k)
  }

  // ---- residual quantization: a second codebook level per subspace,
  // trained on the level-1 residuals. Reconstruction cw1[c1] + cw2[c2]
  // is strictly finer than one level at the cost of one extra code per
  // subspace (16× instead of 32× at dim=64/m=8) — the standard recall/
  // size knob between PQ and full vectors.

  /** Train both levels from ONE bottom-2k corpus sample: the k
    * smallest-hash rows slice into level 1 (as trainCodebooks), the
    * NEXT k rows supply the level-1 residuals that level 2 slices —
    * disjoint on purpose: the level-1 sample's own residuals are all
    * zero (each sampled vector's nearest codeword is itself), which
    * would degenerate level 2 to a no-op. Residuals are computed
    * driver-side on the 2k-row sample, so training stays a single
    * corpus scan. */
  def trainResidualCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                             m: Int, k: Int, dim: Int)
      : (Array[Array[Array[Double]]], Array[Array[Array[Double]]]) = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    val sampled = corpus
      .select(Hashes.md5Hash64(col(idCol)).as("h"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .orderBy("h").limit(2 * k)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sampled.length >= 2, "need at least 2 codebook samples")
    val (lvl1, lvl2src0) = sampled.splitAt(math.min(k, sampled.length / 2))
    val lvl2src = lvl2src0.take(k)
    val books1 = Array.tabulate(m) { s =>
      lvl1.map(v => v.slice(s * subDim, (s + 1) * subDim))
    }
    val books2 = Array.tabulate(m) { s =>
      lvl2src.map { v =>
        val sub = v.slice(s * subDim, (s + 1) * subDim)
        // level-1 encode of the holdout sample (same argmin as the kernel)
        val c1 = books1(s).indices.minBy { c =>
          val cw = books1(s)(c)
          var d = 0.0; var i = 0
          while (i < subDim) { val diff = sub(i) - cw(i); d += diff * diff; i += 1 }
          d
        }
        val cw1 = books1(s)(c1)
        Array.tabulate(subDim)(i => sub(i) - cw1(i))
      }
    }
    (books1, books2)
  }

  /** Encode with two code levels per subspace (interleaved array<int>
    * of length 2m) — pure codegen'd per-row expression, zero shuffle. */
  def encodeResidual(df: DataFrame, idCol: String, vecCol: String,
                     books1: Array[Array[Array[Double]]],
                     books2: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      graft.plans.native.residualCodes(col(vecCol), books1, books2).as("codes"))

  /** ADC + exact re-rank over residual codes. Interleaving the two
    * levels' dot tables to match the interleaved codes means the SAME
    * AdcScore kernel scores both levels in one pass:
    * Σ_s q·cw1[c1_s] + q·cw2[c2_s] = q·reconstruction. */
  def searchResidual(encoded: DataFrame, queries: DataFrame, queryId: String,
                     queryVec: String, books1: Array[Array[Array[Double]]],
                     books2: Array[Array[Array[Double]]],
                     k: Int, shortlist: Int = 50): DataFrame = {
    val m = books1.length
    val subDim = books1(0)(0).length
    def dots(books: Array[Array[Array[Double]]], s: Int) = {
      val qSub = slice(transform(col("qvec"), _.cast("double")),
        s * subDim + 1, subDim)
      transform(typedLit(books(s).map(_.toSeq).toSeq), cw =>
        aggregate(zip_with(qSub, cw, (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v))
    }
    val tableCol = array((0 until m).flatMap(s =>
      Seq(dots(books1, s), dots(books2, s))): _*)
    val q = broadcast(queries
      .select(col(queryId).as("query_id"), col(queryVec).as("qvec"))
      .withColumn("tables", tableCol))
    val scored = encoded.join(q)
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        graft.plans.native.adcScore(col("codes"), col("tables")).as("sim"))
    val short = Knn.topKPerQuery(scored, shortlist)
      .select("query_id", "neighbor_id")
    val exact = broadcast(short)
      .join(encoded.select(col("id").as("neighbor_id"), col("vec")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("qvec"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Vectors.cosine(col("vec"), col("qvec")), 6).as("sim"))
    Knn.topKPerQuery(exact, k)
  }

  /** Build the combined IVF+PQ on-disk index: cells partitioned by
    * `cell` carrying (id, codes, vec) with codes FIRST so the ADC pass
    * scans a codes-only projection, centroids and codebooks beside it.
    * Returns the codebooks for immediate searching. */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, c: Int = 16, m: Int = 8, k: Int = 16,
                      dim: Int = 64, trainIters: Int = 0,
                      portableHash: Boolean = false,
                      keep: Seq[String] = Nil): Array[Array[Array[Double]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // centroid write and codebook training are independent; so are the
    // codebook write and the big cell encode+write — two awaitAll
    // phases (guide §2.6, the writeGraphIndex discipline) hide the
    // small artifacts' commit latency under the real work.
    var books: Array[Array[Array[Double]]] = null
    Overlap.awaitAll(Seq(
      () => Knn.sampleCentroids(corpus, idCol, vecCol, c, portableHash)
        .write.mode("overwrite").parquet(s"$path/centroids"),
      () => books =
        if (trainIters > 0) trainCodebooksKmeans(corpus, idCol, vecCol, m, k, dim, trainIters)
        else trainCodebooks(corpus, idCol, vecCol, m, k, dim)))
    // One file per cell, rows SORTED BY id: the re-rank pass filters the
    // vec scan by the shortlisted ids, and sorted row groups give that
    // filter tight min/max stats to prune with. `keep` (round 14):
    // attribute columns ride inside the cell directories — the
    // filtered-search handle for the coded probe (q345's discipline on
    // the compressed family).
    Overlap.awaitAll(Seq(
      () => books.zipWithIndex.flatMap { case (cws, s) =>
          cws.zipWithIndex.map { case (cw, code) => (s, code, cw.toSeq) }
        }.toSeq.toDF("sub", "code", "cw")
        .write.mode("overwrite").parquet(s"$path/codebooks"),
      () => Knn.assignCells(corpus, idCol, vecCol,
          spark.read.parquet(s"$path/centroids"), keep)
        .withColumn("codes", codesColumn(col("vec"), books))
        .select(Seq("id", "codes", "vec").map(col) ++ keep.map(col) :+
          col("cell"): _*)
        .repartition(col("cell"))
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")))
    books
  }

  /** Append a new batch to a persisted IVF+PQ index: encode with the
    * EXISTING codebooks, assign against the existing centroids, and
    * append id-sorted cell files (each appended file keeps tight
    * row-group id stats, so the re-rank pushdown keeps pruning).
    * Build-once / append-many; codebook drift is a periodic-rebuild
    * concern, as with the centroids. Kept attribute columns are
    * DISCOVERED from the store's cells schema (round 15, r14 advice):
    * a keep-built store requires every append batch to carry the same
    * attribute columns, so appended rows can never be silently
    * invisible to a later filtered search. */
  def appendIvfPqIndex(batch: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val spark = batch.sparkSession
    val books = loadCodebooks(spark, path)
    val kept = Knn.storedKeepColumns(spark, path, codes = true)
    Knn.requireKeepCovered(batch, kept, path)
    Knn.assignCells(batch, idCol, vecCol,
      spark.read.parquet(s"$path/centroids"), kept)
      .withColumn("codes", codesColumn(col("vec"), books))
      .select(Seq("id", "codes", "vec").map(col) ++ kept.map(col) :+
        col("cell"): _*)
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "id")
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Reload persisted codebooks into the [m][k][subDim] layout. */
  def loadCodebooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cs) =>
      cs.sortBy(_._2).map(_._3)
    }.toArray
  }

  /** Per-subspace ADC dot table over `qvec` for one codebook level. */
  private def dotTable(books: Array[Array[Array[Double]]], s: Int,
                       subDim: Int): org.apache.spark.sql.Column = {
    val qSub = slice(transform(col("qvec"), _.cast("double")),
      s * subDim + 1, subDim)
    transform(typedLit(books(s).map(_.toSeq).toSeq), cw =>
      aggregate(zip_with(qSub, cw, (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v))
  }

  /** Shared on-disk ADC search core: probe nprobe cells per query
    * (directory-pruned scan), ADC shortlist over a CODES-ONLY
    * projection of those cells, exact cosine re-rank reading the vec
    * column only for shortlisted ids: the shortlist (queries ×
    * shortlist rows) is collected and pushed into the vec scan as an
    * id filter, which the sorted-by-id cell layout
    * (writeIvfPqIndex/writeIvfRqIndex) turns into parquet row-group
    * pruning. At 100 TB the heavy scan is code-bytes/row over
    * nprobe/c of the corpus; full-width vectors are decoded only for
    * row groups that can contain a shortlisted id. `tableCol`
    * supplies the per-query dot tables matched to the stored code
    * layout.
    *
    * The collect is driver-bounded by an EXPLICIT check now (round
    * 15, r14 verdict ask #7 — previously bounded "by convention"): a
    * probe batch where |queries| × shortlist exceeds
    * `maxShortlistCollect` re-ranks through the DISTRIBUTED path
    * instead — the shortlist stays a DataFrame, semi-joins the
    * probed-cell vec scan on neighbor_id (shuffle join; the scan
    * reads the probed cells at full vec width, losing the row-group
    * id pruning — the honest big-batch trade), and queries join back
    * on query_id. Same results, no driver materialization; one cheap
    * count job on the query frame decides the path. */
  private def searchIvfAdc(spark: SparkSession, path: String,
                           queries: DataFrame, queryId: String, queryVec: String,
                           k: Int, nprobe: Int, shortlist: Int,
                           tableCol: org.apache.spark.sql.Column,
                           pred: Option[org.apache.spark.sql.Column] = None,
                           maxShortlistCollect: Long = 4000000L)
      : DataFrame = {
    // per-row bounded-heap probe ranking (round 15 — see
    // Knn.ivfAssignProbes): replaces the broadcast centroid cross +
    // query_id window, removing one Exchange of queries×c rows from
    // every coded probe; same (sim DESC, cell DESC) tie order, every
    // oracle replays unchanged
    val qAssign = Knn.ivfAssignProbes(
      spark.read.parquet(s"$path/centroids"),
      queries, queryId, queryVec, nprobe)
    // ONE metadata-scale job returns both the probed-cell set (the
    // pruning isin below) and the distinct query count (the
    // collect-vs-distributed re-rank path choice) — previously two
    // jobs, the second a re-scan of the query frame (round 15, guide
    // §1.2: the counts only steer execution, results are identical on
    // either path). Known steering-only drift (r15 advice, documented):
    // nq counts queries WITH probe assignments — null-vector queries
    // and the empty-store case no longer count toward the
    // maxShortlistCollect path choice; both re-rank paths compute the
    // same rows, so only the execution strategy can differ.
    val probeAgg = qAssign
      .agg(collect_set(col("cell")).as("cells"),
        count_distinct(col("query_id")).as("nq")).head()
    val probed = probeAgg.getSeq[Long](0)
    val nQueries = probeAgg.getLong(1)
    val q = broadcast(qAssign.withColumn("tables", tableCol))
    // ADC pass: codes-only projection of the probed cells; the
    // store's tombstones (Knn.deleteFromIvfIndex — same layout, same
    // lifecycle) drop BEFORE scoring, so a deleted id can never eat
    // an ADC shortlist slot (the pre-top-k discipline; the re-rank
    // vec scan below only ever reads shortlisted ids, so it needs no
    // second guard).
    // `pred` (round 14 — q345's filtered-search discipline on the
    // compressed family): evaluates over kept attribute columns on the
    // pruned scan BEFORE the ADC pass, so a filtered-out row never
    // eats a shortlist slot; column pruning pulls in only the
    // referenced attributes beside (id, codes, cell).
    val cellsScan = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(probed: _*))
    val codesRaw = pred.fold(cellsScan)(p => cellsScan.where(p))
      .select("id", "codes", "cell")
    val codesScan = StoreKernel.tombstones(spark, path).fold(codesRaw)(t =>
      codesRaw.join(broadcast(t), Seq("id"), "left_anti"))
    val scored = codesScan.join(q, Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        graft.plans.native.adcScore(col("codes"), col("tables")).as("sim"))
    if (nQueries * shortlist > maxShortlistCollect) {
      // DISTRIBUTED re-rank (round 15): the shortlist never reaches
      // the driver — checkpointed once (it feeds one join and the
      // codes pass above must not recompute), joined to the
      // probed-cell vec scan, queries joined back for the exact
      // cosine. The final frame stays checkpoint-backed under the
      // returned plan; the Verify/Bench query-boundary releaseAll
      // reclaims it.
      val short = Knn.topKPerQuery(scored, shortlist)
        .select("query_id", "neighbor_id").localCheckpoint(true)
      val vecScan = spark.read.parquet(s"$path/cells")
        .where(col("cell").isin(probed: _*))
        .select(col("id").as("neighbor_id"), col("vec"))
      val exact = short.join(vecScan, Seq("neighbor_id"))
        .join(queries.select(col(queryId).as("query_id"),
          col(queryVec).as("qvec")), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(Vectors.cosine(col("vec"), col("qvec")), 6).as("sim"))
      return Knn.topKPerQuery(exact, k)
    }
    // Small-batch path: the shortlist (≤ maxShortlistCollect rows)
    // materializes once on the driver and serves both as the re-rank
    // join side and as a pushed id filter on the vec scan.
    val shortRows = Knn.topKPerQuery(scored, shortlist)
      .select("query_id", "neighbor_id").collect()
    val short = spark.createDataFrame(
      spark.sparkContext.parallelize(shortRows.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          scored.schema("query_id").dataType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          scored.schema("neighbor_id").dataType))))
    val shortIds = shortRows.map(_.get(1)).distinct.toSeq
    // re-rank: vec column read only for shortlisted ids — the isin
    // filter reaches the parquet scan, and the cells' sorted-by-id row
    // groups let its min/max stats prune (large IN lists push down as
    // a range over the sorted ids)
    val vecScan = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(probed: _*) && col("id").isin(shortIds: _*))
      .select(col("id").as("neighbor_id"), col("vec"))
    val exact = broadcast(short)
      .join(vecScan, Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("qvec"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Vectors.cosine(col("vec"), col("qvec")), 6).as("sim"))
    Knn.topKPerQuery(exact, k)
  }

  /** Probe the IVF+PQ index built by writeIvfPqIndex. */
  def searchIvfPq(spark: SparkSession, path: String,
                  queries: DataFrame, queryId: String, queryVec: String,
                  k: Int, nprobe: Int = 4, shortlist: Int = 50,
                  pred: Option[org.apache.spark.sql.Column] = None,
                  maxShortlistCollect: Long = 4000000L)
      : DataFrame = {
    val books = loadCodebooks(spark, path)
    val subDim = books(0)(0).length
    searchIvfAdc(spark, path, queries, queryId, queryVec, k, nprobe, shortlist,
      array(books.indices.map(dotTable(books, _, subDim)): _*), pred,
      maxShortlistCollect)
  }

  /** IVF + RESIDUAL quantization on disk: same layout as
    * writeIvfPqIndex but cells carry interleaved two-level codes and
    * the codebooks parquet gains a `level` column. The middle rung of
    * the recall/size ladder — 16× compression instead of 32× at
    * dim=64/m=8, strictly finer reconstruction. */
  def writeIvfRqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, c: Int = 16, m: Int = 8, k: Int = 16,
                      dim: Int = 64, portableHash: Boolean = false)
      : (Array[Array[Array[Double]]], Array[Array[Array[Double]]]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // two awaitAll phases — the writeIvfPqIndex overlap discipline
    var trained: (Array[Array[Array[Double]]], Array[Array[Array[Double]]]) = null
    Overlap.awaitAll(Seq(
      () => Knn.sampleCentroids(corpus, idCol, vecCol, c, portableHash)
        .write.mode("overwrite").parquet(s"$path/centroids"),
      () => trained = trainResidualCodebooks(corpus, idCol, vecCol, m, k, dim)))
    val (b1, b2) = trained
    // Same sorted-by-id cell layout as writeIvfPqIndex (re-rank pruning).
    Overlap.awaitAll(Seq(
      () => Seq(b1, b2).zipWithIndex.flatMap { case (books, level) =>
          books.zipWithIndex.flatMap { case (cws, s) =>
            cws.zipWithIndex.map { case (cw, code) => (level, s, code, cw.toSeq) }
          }.toSeq
        }.toDF("level", "sub", "code", "cw")
        .write.mode("overwrite").parquet(s"$path/codebooks"),
      () => Knn.assignCells(corpus, idCol, vecCol,
          spark.read.parquet(s"$path/centroids"))
        .withColumn("codes", graft.plans.native.residualCodes(col("vec"), b1, b2))
        .select("id", "codes", "vec", "cell")
        .repartition(col("cell"))
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")))
    (b1, b2)
  }

  /** Append a new batch to a persisted IVF+RQ index (round 14 —
    * closing the one append gap in the IVF family): encode with the
    * EXISTING two-level codebooks, assign against the existing
    * centroids, append id-sorted cell files. Same contract as
    * [[appendIvfPqIndex]]/[[appendIvfSq8Index]]: build-once /
    * append-many; codebook and centroid drift are a periodic-rebuild
    * concern. */
  def appendIvfRqIndex(batch: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val spark = batch.sparkSession
    val (b1, b2) = loadResidualCodebooks(spark, path)
    val kept = Knn.storedKeepColumns(spark, path, codes = true)
    Knn.requireKeepCovered(batch, kept, path)
    Knn.assignCells(batch, idCol, vecCol,
      spark.read.parquet(s"$path/centroids"), kept)
      .withColumn("codes", graft.plans.native.residualCodes(col("vec"), b1, b2))
      .select(Seq("id", "codes", "vec").map(col) ++ kept.map(col) :+
        col("cell"): _*)
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "id")
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Reload two-level codebooks written by writeIvfRqIndex. */
  def loadResidualCodebooks(spark: SparkSession, path: String)
      : (Array[Array[Array[Double]]], Array[Array[Array[Double]]]) = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .select("level", "sub", "code", "cw")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getSeq[Double](3).toArray))
    def level(l: Int) = rows.filter(_._1 == l).groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, cs) => cs.sortBy(_._3).map(_._4) }.toArray
    (level(0), level(1))
  }

  /** Probe the IVF+RQ index: interleaved two-level dot tables through
    * the same ADC core (score = q·(cw1+cw2) per subspace). */
  def searchIvfRq(spark: SparkSession, path: String,
                  queries: DataFrame, queryId: String, queryVec: String,
                  k: Int, nprobe: Int = 4, shortlist: Int = 50,
                  pred: Option[org.apache.spark.sql.Column] = None,
                  maxShortlistCollect: Long = 4000000L)
      : DataFrame = {
    val (b1, b2) = loadResidualCodebooks(spark, path)
    val subDim = b1(0)(0).length
    searchIvfAdc(spark, path, queries, queryId, queryVec, k, nprobe, shortlist,
      array(b1.indices.flatMap(s =>
        Seq(dotTable(b1, s, subDim), dotTable(b2, s, subDim))): _*), pred,
      maxShortlistCollect)
  }

  /** IVF + SQ8 on disk — FAISS's "IVF,SQ8" point on the recall/size
    * ladder: same cell-partitioned, id-sorted layout as
    * writeIvfPqIndex, but codes are per-DIMENSION uint8 (dim bytes/row,
    * 4× compression) and there is NO codebook training — the ranges
    * are one exact min/max aggregate, written beside the centroids.
    * SQ8 is exactly PQ with subDim=1 and the closed-form codebook
    * cw[d][c] = min_d + c·scale_d, which is why the probe reuses the
    * shared [[searchIvfAdc]] core (per-dim 256-entry dot tables feed
    * the same AdcScore kernel over the codes-only scan). */
  def writeIvfSq8Index(corpus: DataFrame, idCol: String, vecCol: String,
                       path: String, c: Int = 16, dim: Int = 64,
                       portableHash: Boolean = false,
                       keep: Seq[String] = Nil)
      : (Array[Double], Array[Double]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // two awaitAll phases — the writeIvfPqIndex overlap discipline
    var trained: (Array[Double], Array[Double]) = null
    Overlap.awaitAll(Seq(
      () => Knn.sampleCentroids(corpus, idCol, vecCol, c, portableHash)
        .write.mode("overwrite").parquet(s"$path/centroids"),
      () => trained = sq8Train(corpus, vecCol, dim)))
    val (mins, maxs) = trained
    Overlap.awaitAll(Seq(
      () => mins.indices.map(d => (d, mins(d), maxs(d))).toDF("d", "mn", "mx")
        .write.mode("overwrite").parquet(s"$path/ranges"),
      () => Knn.assignCells(corpus, idCol, vecCol,
          spark.read.parquet(s"$path/centroids"), keep)
        .withColumn("codes", sq8CodesColumn(col("vec"), mins, maxs))
        .select(Seq("id", "codes", "vec").map(col) ++ keep.map(col) :+
          col("cell"): _*)
        .repartition(col("cell"))
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")))
    (mins, maxs)
  }

  /** Append a new batch to a persisted IVF+SQ8 index: encode with the
    * EXISTING ranges, assign against the existing centroids, append
    * id-sorted cell files (same contract as appendIvfPqIndex; range
    * drift — new values outside the stored min/max clip to the grid
    * ends via round+code bounds — is a periodic-rebuild concern). */
  def appendIvfSq8Index(batch: DataFrame, idCol: String, vecCol: String,
                        path: String): Unit = {
    val spark = batch.sparkSession
    val (mins, maxs) = loadSq8Ranges(spark, path)
    val kept = Knn.storedKeepColumns(spark, path, codes = true)
    Knn.requireKeepCovered(batch, kept, path)
    Knn.assignCells(batch, idCol, vecCol,
      spark.read.parquet(s"$path/centroids"), kept)
      .withColumn("codes", sq8CodesColumn(col("vec"), mins, maxs))
      .select(Seq("id", "codes", "vec").map(col) ++ kept.map(col) :+
        col("cell"): _*)
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "id")
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Reload the per-dimension ranges written by writeIvfSq8Index. */
  def loadSq8Ranges(spark: SparkSession, path: String)
      : (Array[Double], Array[Double]) = {
    val rows = spark.read.parquet(s"$path/ranges").orderBy("d").collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Probe the IVF+SQ8 index: per-dim 256-entry ADC tables
    * (tables[d][c] = q_d · (min_d + c·scale_d) — term-identical to
    * [[searchSq8]]'s dequantized-dot fold) through the shared pruned
    * codes-scan + shortlist + exact-re-rank core. */
  def searchIvfSq8(spark: SparkSession, path: String,
                   queries: DataFrame, queryId: String, queryVec: String,
                   k: Int, nprobe: Int = 4, shortlist: Int = 50,
                   pred: Option[org.apache.spark.sql.Column] = None,
                  maxShortlistCollect: Long = 4000000L)
      : DataFrame = {
    val (mins, maxs) = loadSq8Ranges(spark, path)
    searchIvfAdc(spark, path, queries, queryId, queryVec, k, nprobe, shortlist,
      sq8Tables(col("qvec"), mins, maxs), pred,
      maxShortlistCollect)
  }
}
