package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.plans.Overlap

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Brute force is the recall-1.0 baseline: the (small) query set is
  * broadcast against the corpus, similarities are computed in the scan
  * stage, and only `k` rows per (partition, query) survive into the
  * shuffle — the aggregate-then-rank trick below means shuffle volume
  * is O(#partitions · #queries · k), never O(corpus).
  *
  * IVF is the scale path: corpus vectors are assigned to the nearest of
  * `c` centroids (broadcast), stored bucketed by cell; a query probes
  * only its `nprobe` nearest cells, reading ~nprobe/c of the corpus.
  */
object Knn {

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`: (query id, vector) — must be broadcast-small.
    * Output: (query_id, neighbor_id, sim, rank), rank 1..k, ties broken
    * by neighbor id; similarity rounded to 6dp *before* ranking so the
    * ranking is reproducible across engines. */
  def bruteForce(corpus: DataFrame, corpusId: String, corpusVec: String,
                 queries: DataFrame, queryId: String, queryVec: String,
                 k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(queryId).as("query_id"), col(queryVec).as("qvec")))
    val scored = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cvec"))
      .join(q) // broadcast nested loop; no shuffle of the corpus
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Vectors.cosine(col("cvec"), col("qvec")), 6).as("sim"))
    topKPerQuery(scored, k)
  }

  /** LATE-INTERACTION retrieval (round 13) — the ColBERT MaxSim
    * operator (Khattab & Zaharia, SIGIR 2020; public algorithm): both
    * documents and queries are BAGS of token vectors, and
    * score(q, d) = Σ_{qt ∈ q} max_{dt ∈ d} cos(qt, dt) — each query
    * token finds its best-matching document token, the per-token
    * maxima sum. Catches fine-grained term-level matches a single
    * pooled embedding blurs; the third member of the retrieval ladder
    * (BM25 lexical → pooled-vector cosine → late interaction).
    *
    * Exactness: per-pair cosines are 6-dp-rounded then scaled to
    * integer MICROS before the max/sum (the q63/q341 trick), so the
    * score is decimal-exact cross-engine; ties → doc_id ASC.
    *
    * Scale shape: queries are broadcast-small (queries × query-tokens
    * rows — the bruteForce contract); the corpus token table scans
    * ONCE and never shuffles at full width — the (qid, qtok, doc)
    * max-reduce happens in the scan-stage partial aggregate, so
    * shuffle volume is queries × qtokens × docs keys, not corpus
    * tokens. Output: (query_id, doc_id, score_micro, rank ≤ k), the
    * query's own doc excluded.
    *
    * This is the EXACT BRUTE-FORCE BASELINE (linear in corpus tokens
    * per query batch); the production path at 100 TB is the
    * ANN-shortlist composition — [[poolTokens]] → [[writeIvfIndex]] →
    * [[searchIvf]] → [[lateInteractionRerank]] (round 14). */
  def lateInteractionTopK(docTokens: DataFrame, docIdCol: String,
                          vecCol: String, queryTokens: DataFrame,
                          queryIdCol: String, queryTokIdCol: String,
                          queryVecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    // the token id column keeps duplicate token VECTORS distinct (each
    // query token contributes its own max — MaxSim semantics) and is
    // caller-provided so the aggregation keys are deterministic across
    // replans and replayable by the oracle
    val q = broadcast(queryTokens.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryTokIdCol).cast("long").as("__qt"),
      col(queryVecCol).as("qvec")))
    val pair = docTokens
      .select(col(docIdCol).cast("long").as("doc_id"), col(vecCol).as("dvec"))
      .join(q) // broadcast nested loop; corpus tokens never shuffle
      .where(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("__qt"), col("doc_id"),
        round(lit(1e6) * round(Vectors.cosine(col("dvec"), col("qvec")), 6))
          .cast("long").as("m"))
    val perTok = pair.groupBy("query_id", "__qt", "doc_id")
      .agg(max("m").as("mx"))
    val scored = perTok.groupBy("query_id", "doc_id")
      .agg(sum("mx").as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score_micro"),
        col("rank"))
  }

  /** Pool a token-vector table into ONE exact vector per document —
    * the first-stage representation for late-interaction retrieval at
    * scale (pooled ANN shortlist → exact MaxSim re-rank; the
    * ColBERTv2/PLAID composition, Santhanam et al., NAACL 2022 —
    * public algorithm). Each component rounds to `scale` integer units
    * BEFORE the sum, so the pooled vector is an exact integer in
    * DOUBLE (order-independent, cross-engine replayable — no float
    * accumulation drift); cosine is scale-invariant, so ranking by the
    * pooled SUM equals ranking by the token mean. Bound: with unit-ish
    * components and t tokens/doc, dot terms stay ≤ dim·(t·scale)² —
    * exactly representable in double for t·scale ≤ 3e7 (the default
    * 1e3 leaves 4 orders of headroom at t=20). One shuffle of
    * (doc, dim) partial sums; output (id, vec: array<double>) plugs
    * straight into [[writeIvfIndex]]/[[writeGraphIndex]]. */
  def poolTokens(docTokens: DataFrame, docIdCol: String, vecCol: String,
                 scale: Long = 1000L): DataFrame =
    docTokens
      .select(col(docIdCol).cast("long").as("id"),
        posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy(col("id"), col("d"))
      .agg(sum(round(col("x").cast("double") * scale).cast("long")).as("s"))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("s")))),
        e => e.getField("s").cast("double")).as("vec"))

  /** Exact MaxSim RE-RANK over an ANN candidate shortlist — the
    * production late-interaction path (round 14, r13 verdict ask #5):
    * [[lateInteractionTopK]] is the exact brute-force BASELINE (every
    * query scores every doc's tokens); at 100 TB the composition is
    * pooled-vector ANN ([[poolTokens]] → [[writeIvfIndex]] →
    * [[searchIvf]], or the graph store) producing `cands`
    * (query_id, doc_id), then THIS operator computing the exact MaxSim
    * score only for those pairs — the PLAID/ColBERTv2 shape. Same
    * integer-micro max/sum arithmetic as the baseline (decimal-exact
    * cross-engine, ties → doc_id ASC), so on any candidate set
    * containing the true top-k the two agree exactly. Scale shape:
    * the corpus token table scans once, pruned by the BROADCAST
    * candidate doc list before any scoring; per-token maxima reduce in
    * the scan-stage partial aggregate — shuffle volume is candidate
    * pairs × query tokens, never corpus tokens. */
  def lateInteractionRerank(docTokens: DataFrame, docIdCol: String,
                            vecCol: String, queryTokens: DataFrame,
                            queryIdCol: String, queryTokIdCol: String,
                            queryVecCol: String, cands: DataFrame,
                            k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    val c = broadcast(cands.select(col("query_id").cast("long"),
      col("doc_id").cast("long")))
    val q = broadcast(queryTokens.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryTokIdCol).cast("long").as("__qt"),
      col(queryVecCol).as("qvec")))
    val pair = docTokens
      .select(col(docIdCol).cast("long").as("doc_id"), col(vecCol).as("dvec"))
      .join(c, Seq("doc_id")) // broadcast hash join prunes to candidates
      .join(q, Seq("query_id"))
      .where(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("__qt"), col("doc_id"),
        round(lit(1e6) * round(Vectors.cosine(col("dvec"), col("qvec")), 6))
          .cast("long").as("m"))
    val perTok = pair.groupBy("query_id", "__qt", "doc_id")
      .agg(max("m").as("mx"))
    val scored = perTok.groupBy("query_id", "doc_id")
      .agg(sum("mx").as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score_micro"),
        col("rank"))
  }

  /** MAXIMAL MARGINAL RELEVANCE selection (round 13) — the
    * diversity-aware top-k (Carbonell & Goldstein, SIGIR 1998; public
    * algorithm): greedily pick k results per query, each round's pick
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked —
    * the de-duplicating re-rank a curation pipeline runs after any
    * retrieval tower (near-identical candidates stop crowding the
    * top-k). Exact integer arithmetic end-to-end: `relMicroCol` is a
    * caller-provided micros relevance, candidate-candidate cosines
    * round to 6-dp micros, scores are λμ·rel − (1e6−λμ)·maxSim (≤ 1e12,
    * no overflow), ties → id ASC — so the greedy trace is
    * deterministic and the oracle unrolls it round for round.
    *
    * Scale shape: `cands` is a per-query SHORTLIST (top-n of a
    * retrieval stage — the caller's contract, n ≪ corpus). Each of the
    * k rounds is one (query)-co-keyed join of remaining × selected
    * (≤ n·k rows per query) plus one argmax window — k driver-looped
    * jobs on shortlist-scale frames, the iterative class; the corpus
    * is never touched. Output: (query_id, id, rank ≤ k) in selection
    * order. */
  def mmrSelect(cands: DataFrame, queryIdCol: String, idCol: String,
                relMicroCol: String, vecCol: String, k: Int,
                lambdaMicro: Long = 700000L): DataFrame = {
    require(k >= 1 && lambdaMicro >= 0L && lambdaMicro <= 1000000L,
      s"need k >= 1 and lambdaMicro in [0, 1e6], got k=$k lambdaMicro=$lambdaMicro")
    val base = cands.select(col(queryIdCol).cast("long").as("query_id"),
        col(idCol).cast("long").as("id"),
        col(relMicroCol).cast("long").as("rel"),
        transform(col(vecCol), _.cast("double")).as("vec"))
      .localCheckpoint(true)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id").asc)
    // Round 1 orders by rel DIRECTLY (r13 advice): multiplying by
    // lambda is order-preserving for lambda > 0 but collapses every
    // candidate to a tie at the permitted lambda = 0 boundary, where
    // the SQL oracle twin (mmrRoundCtes) still orders round 1 by rel —
    // a cross-engine divergence if a gate ever runs lambda = 0.
    var sel = base
      .withColumn("score", col("rel"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("query_id"), col("id"), lit(1).as("rank"))
      .localCheckpoint(true)
    var prev = sel
    for (r <- 2 to k) {
      val remaining = base.join(sel.select("query_id", "id"),
        Seq("query_id", "id"), "left_anti")
      val selVecs = sel.select("query_id", "id")
        .join(base.select(col("query_id"), col("id"),
          col("vec").as("__sv")), Seq("query_id", "id"))
        .select(col("query_id"), col("__sv"))
      val maxSim = remaining.join(selVecs, Seq("query_id"))
        .select(col("query_id"), col("id"),
          round(round(graft.plans.native.cosineSim(col("vec"), col("__sv")),
            6) * 1e6).cast("long").as("sm"))
        .groupBy("query_id", "id").agg(max("sm").as("maxsim"))
      val pick = remaining.join(maxSim, Seq("query_id", "id"))
        .withColumn("score", col("rel") * lambdaMicro -
          col("maxsim") * (1000000L - lambdaMicro))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("query_id"), col("id"), lit(r).as("rank"))
      sel = sel.unionByName(pick).localCheckpoint(true)
      graft.plans.Blocks.free(prev)
      prev = sel
    }
    // the eager base shortlist is only read through the (checkpointed)
    // rounds — free it here rather than leaking it until the caller's
    // releaseAll (r13 advice)
    graft.plans.Blocks.free(base)
    sel
  }

  /** Rank scored candidates and keep the top k per query, via the
    * bounded TopKAggregator: ObjectHashAggregate with map-side partial
    * heaps, so only O(partitions · queries · k) rows reach the shuffle.
    * (A window-function formulation would exchange every scored row.) */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = TopKAggregator.udaf(k)
    scored
      .groupBy("query_id")
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"),
        col("s._2").as("neighbor_id"),
        col("s._1").as("sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Deterministic one-pass centroid pick: the c smallest id-hashes
    * (bottom-k sketch — a uniform sample that needs no corpus count,
    * so index builds scan the corpus exactly once). orderBy+limit plans
    * as TakeOrderedAndProject: per-partition bounded heaps merged on
    * the driver, never a full sort shuffle. The result is
    * metadata-scale and broadcast by the callers. `portableHash` swaps
    * xxhash64 for the md5-derived 60-bit hash so the gate oracle can
    * replay the pick as `ORDER BY h LIMIT c` in DuckDB. */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      c: Int, portableHash: Boolean = false): DataFrame = {
    val h =
      if (portableHash) graft.functions.Hashes.md5Hash64(col(idCol))
      else xxhash64(col(idCol))
    corpus
      .select(h.as("cell"), col(vecCol).as("cvec"))
      .orderBy("cell").limit(c)
  }

  /** Lloyd-refined centroids: start from the hash sample, then
    * `iters` rounds of assign → per-cell mean. Each round is one
    * broadcast join over the corpus plus a cell-count-sized aggregate;
    * centroids stay broadcast-scale throughout. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      c: Int, iters: Int = 2): DataFrame = {
    val avg = VectorAvgAggregator.udaf()
    var centroids = sampleCentroids(corpus, idCol, vecCol, c)
    for (_ <- 1 to iters) {
      val assigned = assignCells(corpus, idCol, vecCol, centroids)
      centroids = assigned
        .groupBy("cell")
        .agg(avg(transform(col("vec"), x => x.cast("double"))).as("cvec"))
    }
    centroids
  }

  /** Oracle-replayable Lloyd refinement: per-cell mean computed as an
    * ORDERED sequential fold over members sorted by id, so the result
    * is bit-identical to DuckDB's list_reduce(list(x ORDER BY id)) —
    * the fp-determinism the parallel VectorAvgAggregator (production
    * path) cannot give, bought by materializing each cell's members in
    * one aggregation row. Gate/oracle use only; cells hold ~n/c
    * vectors, so this is NOT the 100 TB path. */
  def kmeansCentroidsOrdered(corpus: DataFrame, idCol: String, vecCol: String,
                             c: Int, iters: Int, dim: Int): DataFrame = {
    var centroids = sampleCentroids(corpus, idCol, vecCol, c, portableHash = true)
    for (_ <- 1 to iters) {
      val assigned = assignCells(corpus, idCol, vecCol, centroids)
      centroids = assigned
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("id"), col("vec")))).as("members"))
        .select(col("cell"),
          transform(sequence(lit(1), lit(dim)), d =>
            aggregate(col("members"), lit(0.0),
              (acc, m) => acc + element_at(m.getField("vec"), d).cast("double"))
              / size(col("members")).cast("double")).as("cvec"))
    }
    centroids
  }

  /** Per-group embedding centroids — the corpus diagnostic underneath
    * [[centroidContrast]]: one (group, n, cvec) row per value of
    * `groupCol` (source, language, topic label, crawl snapshot).
    * Production path (`ordered = false`) is the parallel
    * VectorAvgAggregator — one keyed shuffle of vec-width partials,
    * group count never hits the driver. `ordered = true` is the
    * gate/oracle twin: each group's mean computed as an ORDERED
    * sequential fold over members sorted by id (bit-identical to
    * DuckDB's `list_reduce(list(x ORDER BY id))` — the
    * kmeansCentroidsOrdered fp-determinism trick), bought by
    * materializing each group's members in one aggregation row — NOT
    * the 100 TB path. */
  def groupCentroids(df: DataFrame, idCol: String, vecCol: String,
                     groupCol: String, dim: Int,
                     ordered: Boolean = false): DataFrame =
    if (ordered)
      df.groupBy(col(groupCol).as("grp"))
        .agg(array_sort(collect_list(
          struct(col(idCol).as("id"), col(vecCol).as("vec")))).as("members"))
        .select(col("grp"), size(col("members")).cast("long").as("n"),
          transform(sequence(lit(1), lit(dim)), d =>
            aggregate(col("members"), lit(0.0),
              (acc, m) => acc + element_at(m.getField("vec"), d).cast("double"))
              / size(col("members")).cast("double")).as("cvec"))
    else {
      val avg = VectorAvgAggregator.udaf()
      df.groupBy(col(groupCol).as("grp"))
        .agg(count(lit(1)).as("n"),
          avg(transform(col(vecCol), x => x.cast("double"))).as("cvec"))
    }

  /** Pairwise cosine between group centroids — the embedding-space
    * contrast/drift report (how close are two sources' embedding
    * distributions? did this week's crawl move against last week's?):
    * (grp_a < grp_b, n_a, n_b, cos rounded to 6). Centroid frames are
    * group-cardinality-scale by construction, so the inequality join
    * is a broadcast nested loop over metadata — no corpus involvement
    * at any width. Near-1 cos between sources flags redundant
    * mixtures ([[graft.operators.Sampling.weightedMixture]] inputs);
    * near-0 flags distribution shift worth a [[Dedup.semanticDedup]]
    * re-run. */
  def centroidContrast(cents: DataFrame): DataFrame = {
    val a = cents.select(col("grp").as("grp_a"), col("n").as("n_a"),
      col("cvec").as("__va"))
    val b = cents.select(col("grp").as("grp_b"), col("n").as("n_b"),
      col("cvec").as("__vb"))
    a.join(broadcast(b), col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        round(graft.functions.Vectors.cosine(col("__va"), col("__vb")), 6)
          .as("cos"))
  }

  /** Assign each vector to its nearest centroid cell — a per-row argmax
    * expression over the collected centroid array (NearestCell kernel):
    * zero joins, zero shuffles, no n×c intermediate. The centroid
    * collect is bounded by `c` (metadata-scale by construction — the
    * same bound that makes them broadcastable), which is how k-means
    * assignment is done everywhere centroids fit on one node. */
  def assignCells(vectors: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val rows = centroids
      .select(col("cell"), transform(col("cvec"), _.cast("double")).as("cvec"))
      .collect()
    require(rows.nonEmpty, "no centroids")
    val cells = rows.map(_.getLong(0))
    val cents = rows.map(_.getSeq[Double](1).toArray)
    vectors.select(col(idCol).as("id") +: col(vecCol).as("vec") +:
      graft.plans.native.nearestCell(col(vecCol), cells, cents).as("cell") +:
      keep.map(col): _*)
  }

  /** Build a persisted IVF index: corpus assigned to cells and written
    * `partitionBy(cell)` — the on-disk layout that makes probing read
    * only the probed cells' directories (parquet partition pruning),
    * i.e. ~nprobe/c of the corpus, which is the entire point of IVF at
    * 100 TB. Centroids land beside it (metadata-scale). Build once,
    * probe many. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, c: Int = 16, refineIters: Int = 0,
                    portableHash: Boolean = false,
                    keep: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    val centroids =
      if (refineIters > 0) kmeansCentroids(corpus, idCol, vecCol, c, refineIters)
      else sampleCentroids(corpus, idCol, vecCol, c, portableHash)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // `keep` (round 13): attribute columns persisted INSIDE the cell
    // directories alongside (id, vec) — the filtered-search handle:
    // a predicate over kept columns evaluates on the pruned cell scan
    // itself, no corpus-wide metadata join at probe time.
    assignCells(corpus, idCol, vecCol,
      spark.read.parquet(s"$path/centroids"), keep)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Kept attribute columns of a persisted cell store, DISCOVERED
    * from the on-disk cells schema (round 15, r14 advice): everything
    * beyond the core (id, vec[, codes]) + the cell partition column.
    * Appends reconcile against this instead of trusting a
    * caller-supplied list, so a keep-built store can never gain cell
    * files missing its attribute columns (which a later filtered
    * search would read as null — silently excluding every appended
    * row). */
  private[operators] def storedKeepColumns(spark: SparkSession,
                                           path: String,
                                           codes: Boolean): Seq[String] = {
    val core = if (codes) Set("id", "codes", "vec", "cell")
               else Set("id", "vec", "cell")
    spark.read.parquet(s"$path/cells").schema.fieldNames.toSeq
      .filterNot(core)
  }

  /** Require an append batch to carry every kept attribute column of
    * the store it targets (append schema == store schema). */
  private[operators] def requireKeepCovered(batch: DataFrame,
                                            kept: Seq[String],
                                            path: String): Unit = {
    val missing = kept.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"append batch is missing kept attribute column(s) " +
        s"${missing.mkString(", ")} of the store at $path — appended " +
        "rows would read those columns as null and silently drop out " +
        "of filtered searches; carry the store's full attribute schema")
  }

  /** Append a new batch to a persisted IVF index: assign against the
    * EXISTING centroids and append into the cell directories —
    * build-once / append-many, the incremental-ingest half of the
    * index lifecycle. Probes need no change (same layout, pruning
    * intact); centroid drift from distribution shift is handled by a
    * periodic full rebuild, the standard IVF maintenance trade.
    * `keep` defaults to the store's own kept attribute columns
    * (schema discovery, round 15); passing it explicitly must agree
    * with the store — a mismatch would write cell files whose schema
    * diverges from the store's and break filtered search on the
    * appended rows. Re-running the same batch is NOT idempotent
    * (duplicate rows occupy multiple rank slots in probes) unless
    * `skipExisting` is set: then the batch anti-joins against the
    * store's ids — read CELL-PRUNED to the batch's own assigned cells
    * (assignment is deterministic against the frozen centroids, so a
    * replayed row always lands in the same cell) — and
    * already-present ids drop out, the [[appendGraphIndex]]
    * discipline. */
  def appendIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                     path: String, keep: Seq[String] = Nil,
                     skipExisting: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val stored = storedKeepColumns(spark, path, codes = false)
    require(keep.isEmpty || keep.toSet == stored.toSet,
      s"append keep=${keep.mkString(", ")} does not match the store's " +
        s"kept attribute columns (${stored.mkString(", ")}) at $path")
    requireKeepCovered(batch, stored, path)
    val assigned = assignCells(batch, idCol, vecCol,
      spark.read.parquet(s"$path/centroids"), stored)
    val deduped =
      if (!skipExisting) assigned
      else {
        val bcells = assigned.select(col("cell").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        val existing = spark.read.parquet(s"$path/cells")
          .where(col("cell").isin(bcells: _*)).select("id")
        assigned.join(existing, Seq("id"), "left_anti")
      }
    deduped
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Streaming ingest for a persisted IVF index (round 14 — the
    * [[ingestGraphStream]] twin; the graph store had continuous ingest
    * since round 11, the IVF family only batch appends): each
    * micro-batch lands through [[appendIvfIndex]] — assign against the
    * frozen centroids, append into the cell directories. Probes need
    * no coordination (same layout, pruning intact). Delivery is
    * AT-LEAST-ONCE by default (r14 advice — the honest contract for a
    * foreachBatch parquet append: a failure after the append but
    * before the checkpoint commit replays the batch and duplicates
    * its rows, which would then occupy multiple rank slots in
    * probes); `skipExisting` upgrades replays to effectively-once via
    * [[appendIvfIndex]]'s cell-pruned id anti-join, at the cost of
    * one pruned store read per batch — the [[ingestGraphStream]]
    * knob, mirrored. Centroid drift remains a periodic-rebuild
    * decision ([[EmbeddingStore.drift]] is the scheduler's metric). */
  def ingestIvfStream(batches: DataFrame, idCol: String, vecCol: String,
                      path: String, checkpoint: String,
                      keep: Seq[String] = Nil,
                      skipExisting: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          appendIvfIndex(batch, idCol, vecCol, path, keep, skipExisting)
        ()
      }
      .start()

  /** DCG rank weights in integer micros — FROZEN constants of
    * floor(1e6 / log2(rank+1)) for ranks 1..64 (round 15): a lookup
    * table instead of runtime transcendental math, so both engines
    * read the exact same integers and NDCG stays value-exact
    * cross-engine (the r14 verdict's "log2 via a small lookup"
    * route). Oracles inline the same literals. */
  val DcgWeightsMicro: Array[Long] = Array(
    1000000L, 630929L, 500000L, 430676L, 386852L, 356207L, 333333L,
    315464L, 301029L, 289064L, 278942L, 270238L, 262649L, 255958L,
    250000L, 244650L, 239812L, 235408L, 231378L, 227670L, 224243L,
    221064L, 218104L, 215338L, 212746L, 210309L, 208014L, 205846L,
    203795L, 201849L, 200000L, 198239L, 196561L, 194959L, 193426L,
    191958L, 190551L, 189200L, 187901L, 186652L, 185449L, 184288L,
    183169L, 182087L, 181042L, 180031L, 179052L, 178103L, 177183L,
    176291L, 175425L, 174583L, 173765L, 172969L, 172195L, 171441L,
    170707L, 169991L, 169293L, 168613L, 167948L, 167300L, 166666L,
    166047L)

  /** Ranked-retrieval EVAL metrics (round 14; EXTENDED round 15 —
    * NDCG@k with graded relevance, and full truth coverage): given a
    * system's ranked `results` (query_id, doc_id, rank) and a `truth`
    * set (query_id, doc_id[, grade] — e.g. brute-force top-k, the
    * repo's exact baseline; `grade` is an optional POSITIVE long
    * relevance level, absent = binary 1), emit per truth query:
    * hits@k, recall@k, MRR, AP@k and NDCG@k — all in EXACT integer
    * micros (1e6-scaled truncating division on both engines, which
    * agree: Spark `div` and DuckDB `//` both truncate toward zero on
    * non-negative operands), so the metric table is value-exact
    * cross-engine, no float folds. AP@k uses the standard
    * min(|truth|, k) denominator; MRR is 1e6 div first-hit-rank;
    * NDCG = (sum grade·w(rank)) · 1e6 div (ideal sum over grades
    * sorted desc, doc_id tiebreak), weights from [[DcgWeightsMicro]]
    * (hence k ≤ 64). The output is driven FROM THE TRUTH SIDE (r14
    * advice): a query present in truth but absent from results — or
    * whose results all rank past k — still emits its row with every
    * metric 0, so averaging the table never overstates recall.
    * One shuffle each side (join on (query, doc), per-query window on
    * ≤ k rows); truth must be distinct per (query, doc). */
  def retrievalMetrics(results: DataFrame, truth: DataFrame,
                       k: Int): DataFrame = {
    require(k >= 1 && k <= DcgWeightsMicro.length,
      s"need 1 <= k <= ${DcgWeightsMicro.length}, got k=$k")
    val w = typedLit(DcgWeightsMicro.toSeq)
    val res = results.select(col("query_id").cast("long"),
        col("doc_id").cast("long"), col("rank").cast("long"))
      .where(col("rank") <= k)
    val hasGrade = truth.columns.contains("grade")
    val tr = truth.select(col("query_id").cast("long"),
        col("doc_id").cast("long"),
        (if (hasGrade) col("grade").cast("long") else lit(1L)).as("grade"))
      .distinct()
    // ideal DCG: grades sorted desc (doc_id tiebreak for cross-engine
    // determinism), top-k weighted by the frozen table
    val wideal = Window.partitionBy("query_id")
      .orderBy(col("grade").desc, col("doc_id"))
    val nTruth = tr.withColumn("trk", row_number().over(wideal))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("trk") <= k,
          col("grade") * element_at(w, col("trk").cast("int")))
          .otherwise(0L)).as("__idcg"))
    val wcum = Window.partitionBy("query_id").orderBy("rank")
    val scored = res
      .join(tr, Seq("query_id", "doc_id"), "left")
      .withColumn("grade", coalesce(col("grade"), lit(0L)))
      .withColumn("hit", when(col("grade") > 0L, 1L).otherwise(0L))
      .withColumn("cum", sum("hit").over(wcum))
      .withColumn("prec_micro", expr("(cum * 1000000L) div rank"))
    val perQuery = scored.groupBy("query_id")
      .agg(sum("hit").as("__hits"),
        min(when(col("hit") === 1L, col("rank"))).as("__fr"),
        sum(col("hit") * col("prec_micro")).as("__apnum"),
        sum(col("grade") * element_at(w, col("rank").cast("int")))
          .as("__dcg"))
    nTruth.join(perQuery, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("__hits"), lit(0L)).as("hits"),
        coalesce(expr("(__hits * 1000000L) div n_truth"), lit(0L))
          .as("recall_micro"),
        coalesce(expr("1000000L div __fr"), lit(0L)).as("mrr_micro"),
        coalesce(expr(s"__apnum div least(n_truth, ${k}L)"), lit(0L))
          .as("ap_micro"),
        coalesce(expr("(__dcg * 1000000L) div nullif(__idcg, 0L)"),
          lit(0L)).as("ndcg_micro"))
  }

  /** Probe a persisted IVF index. The probed cell set (queries × nprobe,
    * driver-bounded) becomes an `isin` filter on the partition column,
    * so the scan prunes to the probed directories before any join.
    *
    * The store's own tombstones ([[deleteFromIvfIndex]]) are dropped
    * from the scan BEFORE scoring (broadcast anti-join). Filtering
    * pre-top-k is load-bearing: a deleted id that merely got masked
    * post-ranking would eat a rank slot and hide a live neighbor. */
  def searchIvf(spark: SparkSession, path: String,
                queries: DataFrame, queryId: String, queryVec: String,
                k: Int, nprobe: Int = 4): DataFrame =
    topKPerQuery(probeIvf(spark, path, queries, queryId, queryVec,
      nprobe, None), k)

  /** FILTERED vector search over a persisted IVF index (round 13) —
    * the metadata-predicate + kNN combination every production vector
    * store exposes (e.g. "top-k nearest WHERE lang = 'en'"): `pred`
    * evaluates over the store's `keep` attribute columns ON THE PRUNED
    * CELL SCAN, before any scoring — so a filtered-out row can never
    * eat a rank slot (the tombstone pre-top-k discipline applied to
    * arbitrary predicates), and the filter costs zero extra joins (the
    * attributes were co-located with the vectors at build time by
    * [[writeIvfIndex]]'s `keep`). POST-filtering semantics: the probe
    * set is the same nprobe cells the unfiltered search visits, so a
    * very selective predicate wants a larger nprobe — the standard
    * filtered-ANN recall trade, the caller's knob. */
  def searchIvfFiltered(spark: SparkSession, path: String,
                        queries: DataFrame, queryId: String,
                        queryVec: String, k: Int, pred: Column,
                        nprobe: Int = 4): DataFrame =
    topKPerQuery(probeIvf(spark, path, queries, queryId, queryVec,
      nprobe, Some(pred)), k)

  /** RANGE search over a persisted IVF index (round 13) — every
    * neighbor with 6-dp cosine ≥ `tau` among the probed cells, no
    * top-k cap: the "find all near-duplicates of these probes" shape
    * ([[graft.operators.Dedup.decontaminate]]'s probe side as a
    * first-class index query). Same approximate-coverage contract as
    * every IVF probe: neighbors outside the nprobe nearest cells are
    * not seen. Output (query_id, neighbor_id, sim), unique on the
    * pair. `pred` filters kept attribute columns pre-threshold. */
  def searchIvfRange(spark: SparkSession, path: String,
                     queries: DataFrame, queryId: String,
                     queryVec: String, tau: Double, nprobe: Int = 4,
                     pred: Option[Column] = None): DataFrame =
    probeIvf(spark, path, queries, queryId, queryVec, nprobe, pred)
      .where(col("sim") >= tau)

  /** TOMBSTONE delete for a persisted IVF index (round 14 — the
    * delete/compact lifecycle the graph store, EmbeddingStore,
    * MinhashStore and CcStore already carry; the writeIvfIndex family
    * was the last without one, and round 13 just made it the
    * filtered-search workhorse). Ids append to `path/tombstones`, and
    * every subsequent probe — [[searchIvf]], [[searchIvfFiltered]],
    * [[searchIvfRange]], and the coded twins
    * [[Pq.searchIvfPq]]/[[Pq.searchIvfRq]]/[[Pq.searchIvfSq8]] (all
    * store under the same layout) — drops tombstoned ids from the
    * pruned cell scan BEFORE scoring, so a deleted id can never eat a
    * rank slot or an ADC shortlist slot. Tombstone contract in
    * [[StoreKernel]]; bytes reclaim at [[compactIvfStore]]. */
  def deleteFromIvfIndex(ids: DataFrame, idCol: String,
                         path: String): Unit =
    StoreKernel.appendTombstones(ids, idCol, path)

  /** MATERIALIZE IVF deletions — BUCKET-PRUNED: only the cells that
    * actually contain a tombstoned id are rewritten (one column-pruned
    * pass over (id, cell) finds them — cell is the partition column,
    * so that scan reads id bytes only), survivors land back under
    * dynamic partition overwrite (exactly the affected directories are
    * replaced), and a fully-tombstoned cell's directory is deleted
    * explicitly (dynamic overwrite only replaces partitions PRESENT in
    * the output — round-14 hazard, covered by IvfLifecycleSpec).
    * Untouched cells' files are never read at full width or
    * rewritten — at 100 TB a compaction costs O(affected cells), not
    * O(store). Survivor rows are carried verbatim (schema-discovered,
    * so the flat store's `keep` attributes and the PQ/SQ8/RQ twins'
    * `codes` columns all ride through — codes are a deterministic pure
    * projection of the stored books, so carrying beats re-encoding),
    * re-sorted by id within each cell (the coded twins' re-rank
    * pushdown relies on tight row-group id stats). Centroids are NOT
    * retrained: compaction reclaims bytes, it does not answer
    * distribution shift — that is [[EmbeddingStore.drift]]'s
    * metric and a full rebuild's job. Returns a manifest
    * (component, rows). The partition overwrite is an in-place
    * rewrite under the [[StoreKernel]] contract. */
  def compactIvfStore(spark: SparkSession, path: String,
                      extraCells: Seq[Long] = Nil): DataFrame = {
    import spark.implicits._
    new IvfCompaction(spark, path).run(extraCells)._1
      .toDF("component", "rows")
  }

  /** One IVF compaction's inputs, each read once and shared by
    * [[maintainIvfStore]]'s policy check and the rewrite itself: the
    * distinct tombstone set as a driver-local frame (broadcast-scale
    * by contract — counted without a job and broadcast by every pass),
    * and per cell (n_rows, n_tombstoned) from one column-pruned
    * (id, cell) pass over EVERY cell when tombstones exist (cell-count
    * rows to the driver; empty otherwise). The stats pick the affected
    * cells and tell which rewritten cells keep a survivor, so an
    * emptied cell is known without a second pass over the survivors. */
  private[operators] final class IvfCompaction(spark: SparkSession,
                                               path: String) {
    private val cellsPath = s"$path/cells"
    private val tombRows = StoreKernel.tombstones(spark, path)
      .map(t => (t.collectAsList(), t.schema))
    val nTomb: Long = tombRows.fold(0L)(_._1.size.toLong)
    private val tomb = tombRows.map { case (rows, schema) =>
      spark.createDataFrame(rows, schema) }
    // one listing of the cells component serves every pass (all run
    // before the overwrite)
    private lazy val cells = spark.read.parquet(cellsPath)
    private def collectStats(scan: DataFrame): Map[Long, (Long, Long)] =
      cellTombStats(scan, tomb).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val stats: Map[Long, (Long, Long)] =
      if (tomb.isEmpty) Map.empty else collectStats(cells)

    /** Rewrite the affected cells plus `extraCells` (round 15 — the
      * files-per-cell maintenance trigger: cells rewritten for
      * small-file COALESCING even if nothing in them is tombstoned; the
      * rewrite hashes each cell to one shuffle partition, so a
      * coalesced cell lands as one file regardless of how many
      * micro-batch appends accreted) and drop the tombstones. Returns
      * the manifest rows and, when tombstones were applied, the
      * store's live row count after the rewrite. */
    def run(extraCells: Seq[Long]): (Seq[(String, Long)], Option[Long]) = {
      val affected = stats.collect { case (c, (_, t)) if t > 0 => c }.toSeq
      val rewriteSet = (affected ++ extraCells).distinct
      val (rewritten, emptied) =
        if (rewriteSet.isEmpty) (0L, 0L)
        else {
          val known =
            if (tomb.nonEmpty) stats
            else collectStats(cells.where(col("cell").isin(rewriteSet: _*)))
          // lineage OFF the overwrite path: the write below replaces
          // the very partitions this frame reads
          val scan = cells.where(col("cell").isin(rewriteSet: _*))
          val survivors = tomb.fold(scan)(t =>
              scan.join(broadcast(t), Seq("id"), "left_anti"))
            .localCheckpoint(true)
          StoreKernel.dynamicOverwrite(survivors.repartition(col("cell"))
              .sortWithinPartitions("cell", "id"))
            .partitionBy("cell").parquet(cellsPath)
          graft.plans.Blocks.free(survivors)
          val (kept, gone) = rewriteSet.partition(c =>
            known.get(c).exists { case (n, t) => n > t })
          gone.foreach(c =>
            StoreKernel.dropComponent(spark, path, s"cells/cell=$c"))
          (kept.size.toLong, gone.size.toLong)
        }
      if (tomb.nonEmpty)
        StoreKernel.dropComponent(spark, path, StoreKernel.Tombstones)
      (Seq(("tombstones_applied", nTomb), ("cells_rewritten", rewritten),
        ("cells_emptied", emptied),
        ("cells_coalesced", extraCells.distinct.filterNot(affected.toSet)
          .size.toLong)),
        tomb.map(_ => stats.values.map { case (n, t) => n - t }.sum))
    }
  }

  /** Maintenance dashboard for a persisted IVF store (round 14 — the
    * scheduler's input beside [[EmbeddingStore.drift]]): per cell, the
    * live layout facts a compaction/rebuild policy reads — row count
    * and tombstone backlog. One column-pruned (id, cell) scan joined
    * to the broadcast tombstone set; no vectors are read. Skewed
    * n_rows → centroid retrain (full rebuild); n_tombstoned/n_rows
    * past a threshold → [[compactIvfStore]]. Works on every store the
    * family writes (flat, PQ, RQ, SQ8 — same layout). */
  def ivfStoreStats(spark: SparkSession, path: String): DataFrame =
    cellTombStats(spark.read.parquet(s"$path/cells"),
      StoreKernel.tombstones(spark, path))

  /** (cell, n_rows, n_tombstoned) of a cells scan against an optional
    * distinct tombstone set. */
  private def cellTombStats(scan: DataFrame,
                            tomb: Option[DataFrame]): DataFrame = {
    val cells = scan.select(col("id"), col("cell").cast("long").as("cell"))
    val tagged = tomb.fold(
      cells.withColumn("__t", lit(0L)))(t =>
      cells.join(broadcast(t.withColumn("__t", lit(1L))), Seq("id"), "left")
        .withColumn("__t", coalesce(col("__t"), lit(0L))))
    tagged.groupBy("cell")
      .agg(count(lit(1)).as("n_rows"), sum("__t").as("n_tombstoned"))
  }

  /** Threshold-driven store maintenance (round 14) — the policy loop
    * over [[ivfStoreStats]]' per-cell facts → [[compactIvfStore]], one
    * read of the tombstones and cells serving both: compact when the
    * tombstone backlog exceeds `maxTombstoneFrac` of stored rows,
    * otherwise do nothing (tombstones are cheap until they aren't —
    * they ride every probe as a broadcast anti-join, so the bound is
    * broadcast-scale hygiene, the same reason every tombstone store
    * documents a compaction cadence). Returns Some(manifest) when a
    * compaction ran, None when the store is within budget — callers
    * schedule this after append/delete batches (e.g. from a
    * foreachBatch hook beside [[ingestIvfStream]]). */
  def maintainIvfStore(spark: SparkSession, path: String,
                       maxTombstoneFrac: Double = 0.1,
                       maxFilesPerCell: Int = 0): Option[DataFrame] = {
    import spark.implicits._
    maintainIvfCells(spark, path, maxTombstoneFrac, maxFilesPerCell)
      .map(_._1.toDF("component", "rows"))
  }

  /** [[maintainIvfStore]]'s work, returning [[IvfCompaction.run]]'s
    * result when a compaction ran. */
  private[operators] def maintainIvfCells(spark: SparkSession, path: String,
                                          maxTombstoneFrac: Double = 0.1,
                                          maxFilesPerCell: Int = 0)
      : Option[(Seq[(String, Long)], Option[Long])] = {
    require(maxTombstoneFrac >= 0.0,
      s"need maxTombstoneFrac >= 0, got $maxTombstoneFrac")
    val compaction = new IvfCompaction(spark, path)
    // without tombstones the fraction is 0 and `rows` is never read
    val rows = compaction.stats.values.map(_._1).sum
    val tomb = compaction.stats.values.map(_._2).sum
    // Backlog is measured against the FULL distinct tombstone table,
    // not just tombstones present in cells (r14 advice): tombstones
    // matching no stored row (bad ids, double deletes of
    // already-compacted rows) still ride every probe as part of the
    // broadcast anti-join, so they count against the broadcast-scale
    // hygiene bound exactly like live ones — and compaction clears
    // the whole table either way.
    val tombTable = compaction.nTomb
    // Files-per-cell trigger (round 15, r14 verdict "what's wrong"
    // #4): [[ingestIvfStream]] lands ≥1 file per touched cell per
    // micro-batch; past the budget the over-accreted cells join the
    // compaction's rewrite set and coalesce to one file each — so a
    // long-running ingest stream's probe-side file count is bounded
    // by policy, not by operator restraint. 0 disables.
    val overCells: Seq[Long] =
      if (maxFilesPerCell <= 0) Nil
      else StoreKernel.storeFileStats(spark, path, "cells")
        .where(col("n_files") > maxFilesPerCell &&
          col("partition").startsWith("cell="))
        .select(regexp_replace(col("partition"), "^cell=", "")
          .cast("long"))
        .collect().map(_.getLong(0)).toSeq
    if ((rows > 0 && math.max(tomb, tombTable).toDouble / rows >
        maxTombstoneFrac) || overCells.nonEmpty)
      Some(compaction.run(overCells))
    else None
  }

  /** (query_id, qvec, cell) probe assignments — each query's top
    * `nprobe` cells by (cosine DESC, cell DESC) via the NearestCells
    * bounded-heap kernel over the COLLECTED (metadata-scale) centroid
    * frame: a narrow per-row projection, no join, no window, no
    * Exchange (round 15; the knnGraph round-11 ranking, shared by
    * every IVF probe path). Empty centroid frame → no assignments
    * (the empty-store posture of the old broadcast join).
    *
    * Contract notes (r15 advice, documented round 16): (1) centroid
    * vectors must be NaN-free — they are corpus vectors picked by
    * [[sampleCentroids]]/Lloyd means, and a NaN cosine would rank a
    * cell LAST under the kernel's `sim > best` heap where Spark's
    * window `desc` ranked NaN first; no store writer can produce one
    * from finite inputs. (2) Query ids must be unique at the operator
    * boundary (the standard probe contract): a duplicated id now
    * emits nprobe cells PER ROW where the old per-id window emitted
    * nprobe total — same set, duplicated scored pairs downstream. */
  private[operators] def ivfAssignProbes(centroids: DataFrame,
                                         queries: DataFrame, queryId: String,
                                         queryVec: String,
                                         nprobe: Int): DataFrame = {
    val rows = centroids
      .select(col("cell"), transform(col("cvec"), _.cast("double")).as("cvec"))
      .collect()
    val base = queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qvec"))
    if (rows.isEmpty)
      base.select(col("query_id"), col("qvec"),
        explode(array().cast("array<bigint>")).as("cell"))
    else {
      val cellIds = rows.map(_.getLong(0))
      val centArrs = rows.map(_.getSeq[Double](1).toArray)
      base.select(col("query_id"), col("qvec"),
        explode(graft.plans.native.nearestCells(col("qvec"), cellIds,
          centArrs, nprobe)).as("cell"))
    }
  }

  /** Shared IVF probe: nprobe nearest cells per query (per-row
    * bounded-heap centroid ranking), directory-pruned cell scan, optional
    * attribute predicate + the store's tombstone anti-join
    * ([[deleteFromIvfIndex]]) BEFORE scoring — 6-dp cosine per
    * (query, candidate).
    * Returns the scored candidate stream; callers cap (top-k) or
    * threshold (range) it. */
  private def probeIvf(spark: SparkSession, path: String,
                       queries: DataFrame, queryId: String,
                       queryVec: String, nprobe: Int,
                       pred: Option[Column]): DataFrame = {
    // Probe assignment as a PER-ROW bounded-heap expression (round 15,
    // guide §2.4 — the knnGraph round-11 swap, now on the store probe
    // path): the centroid frame is metadata-scale (c rows), so collect
    // it once and rank cells with the NearestCells kernel instead of
    // crossing every query with every centroid through a
    // query_id-window — that was one Exchange of queries×c rows plus a
    // per-query sort, per probe. Same (sim DESC, cell DESC) tie order,
    // so every oracle replays unchanged.
    val qAssign = ivfAssignProbes(
      spark.read.parquet(s"$path/centroids"),
      queries, queryId, queryVec, nprobe)
    val probedCells = qAssign.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cellsRaw = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(probedCells: _*)) // partition pruning
    val cellsPred = pred.fold(cellsRaw)(p => cellsRaw.where(p))
    val excl = StoreKernel.tombstones(spark, path)
    val cells = excl.fold(cellsPred)(t =>
      cellsPred.join(broadcast(t), Seq("id"), "left_anti"))
    cells.join(broadcast(qAssign), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(Vectors.cosine(col("vec"), col("qvec")), 6).as("sim"))
  }

  /** IVF search: probe the `nprobe` nearest cells per query. Recall<1
    * by design; the spec measures it against bruteForce. */
  def ivf(corpus: DataFrame, corpusId: String, corpusVec: String,
          queries: DataFrame, queryId: String, queryVec: String,
          k: Int, c: Int = 16, nprobe: Int = 4, refineIters: Int = 0,
          portableHash: Boolean = false, dim: Int = 0): DataFrame = {
    require(!portableHash || refineIters == 0 || dim > 0,
      "portableHash + refineIters needs dim (ordered-mean oracle mode)")
    val centroids =
      if (refineIters > 0 && portableHash)
        kmeansCentroidsOrdered(corpus, corpusId, corpusVec, c, refineIters, dim)
      else if (refineIters > 0)
        kmeansCentroids(corpus, corpusId, corpusVec, c, refineIters)
      else sampleCentroids(corpus, corpusId, corpusVec, c, portableHash)
    val cells = assignCells(corpus, corpusId, corpusVec, centroids)
    // per-row bounded-heap probe ranking (round 15 — see
    // [[ivfAssignProbes]]): replaces the broadcast centroid cross +
    // query_id window, removing one Exchange of queries×c rows; same
    // (sim DESC, cell DESC) tie order, every oracle replays unchanged
    val qAssign = ivfAssignProbes(centroids, queries, queryId, queryVec,
      nprobe)
    val scored = cells.join(broadcast(qAssign), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(Vectors.cosine(col("vec"), col("qvec")), 6).as("sim"))
    if (countCandidates)
      lastScored += scored.select("query_id", "neighbor_id").count()
    topKPerQuery(scored, k)
  }

  /** Corpus-wide approximate kNN GRAPH — every vector is a query
    * (the input for SemDeDup-style clustering, graph dedup, label
    * propagation). Differs from [[ivf]] in the two places where
    * "queries = the whole corpus" changes the physics:
    *
    *  - probe assignment is a PER-ROW expression: each vector ranks
    *    the (collected, metadata-scale) centroids in an in-row struct
    *    sort and explodes its top `nprobe` cells — no corpus×c join,
    *    no per-query window shuffle (at very large c swap the sort
    *    for a bounded-heap kernel, same contract);
    *  - the cell join shuffles BOTH sides co-keyed on cell —
    *    broadcasting the "query" side (the corpus!) is exactly what
    *    must not happen here.
    *
    * Output: (query_id, neighbor_id, sim, rank), k rows per vector,
    * same ordering contract as [[bruteForce]].
    *
    * `targetCellSize` (round 10, from the §5c scale sweep): the cell
    * join scores ~n²·nprobe/c pairs, so a FIXED c turns the build
    * quadratic as the corpus grows — measured at 20k vectors:
    * c=16 → 85.0 s, c=160 (125-row cells) → 12.4 s. Setting
    * targetCellSize > 0 sizes c = max(c, ⌈n / targetCellSize⌉) with
    * one count job, keeping per-cell cardinality — and therefore the
    * per-row scoring work — BOUNDED, which restores linear build cost
    * at any corpus size (the same discipline the IVF store documents
    * for probe fan-out). Gate/oracle runs keep the fixed-c default so
    * the SQL replay stays closed-form. */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int, c: Int = 16, nprobe: Int = 2,
               portableHash: Boolean = false,
               targetCellSize: Int = 0): DataFrame = {
    val cEff =
      if (targetCellSize > 0) {
        val n = corpus.count()
        math.max(c.toLong, (n + targetCellSize - 1) / targetCellSize)
          .min(Int.MaxValue).toInt
      } else c
    val centroids = sampleCentroids(corpus, idCol, vecCol, cEff, portableHash)
    val cells = assignCells(corpus, idCol, vecCol, centroids)
    val rows = centroids
      .select(col("cell"), transform(col("cvec"), _.cast("double")).as("cvec"))
      .collect()
    require(rows.nonEmpty, "no centroids")
    val cellIds = rows.map(_.getLong(0))
    val centArrs = rows.map(_.getSeq[Double](1).toArray)
    // bounded-heap probe ranking (round 11, replacing the per-row
    // O(c log c) struct-sort + reverse + slice): the NearestCells
    // kernel keeps the top nprobe cells by (sim DESC, cell DESC) in
    // O(c·nprobe) with no per-row struct allocation — same tie order
    // as ivf(), so every oracle replays unchanged; the r10 §5c watch
    // item for targetCellSize-driven large c is closed
    val qAssign = corpus
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        explode(graft.plans.native.nearestCells(col(vecCol), cellIds,
          centArrs, nprobe)).as("cell"))
    // PARALLELISM SALT (round 16, guide §2.5): the cell join's
    // effective parallelism is bounded by the number of DISTINCT CELL
    // values — with the gate-default c = 16, at most 16 tasks carry
    // the whole O(n²·nprobe/c) scoring + partial-topk work no matter
    // how many cores exist. Invisible at sf0.1 (the dispatch floor
    // hides it); measured on the 10x derived corpus (SCALING_r16):
    // q337's build ran 166 s at BOTH 8 and 32 cores. Each corpus row
    // keeps ONE deterministic salt (id-hash — guide §2.5: never
    // rand(), retries must reproduce the assignment) and the query
    // side replicates across all salts, so every (query, candidate)
    // pair still meets EXACTLY once — the scored pair set, the 6-dp
    // sims and the (sim DESC, id ASC) top-k are value-identical; only
    // the join's partitioning changed (c·salts keys instead of c).
    // salts is scale-ADAPTIVE: ~4 slices per core over the c cells,
    // 1 when c already saturates the cores (targetCellSize builds),
    // capped at 64 so the query-side replication stays bounded.
    val salts = math.max(1L, math.min(64L,
      corpus.sparkSession.sparkContext.defaultParallelism.toLong * 4L /
        math.max(1, cEff)))
    // The corpus side REPARTITIONS onto the (salted) join key before
    // the join: the scoring stage's width must come from the JOIN's
    // fan-out, not from the input's byte count — a compact columnar
    // corpus slice scans in a handful of input splits
    // (maxPartitionBytes), and when the planner then broadcasts the
    // (estimate-small) query side, the whole n·nprobe·cellsize pair
    // explosion runs inside those few scan tasks (measured: ~2 active
    // tasks / ~2 busy cores through an 85 s stage on the 10x corpus).
    // One extra exchange of n rows buys a scoring stage that is
    // hash-spread over c·salts keys — the pair work dominates the
    // extra shuffle at every scale. The partition count is EXPLICIT
    // (2 slices per core, scale-adaptive via defaultParallelism, not
    // a constant): AQE's coalescing sizes partitions by their INPUT
    // bytes and cannot see the cellsize× join fan-out, so it squeezed
    // the keyed repartition back to ~4 tasks (measured: 23 s stage on
    // the 10x corpus); an explicit count is respected.
    val p = 2 * corpus.sparkSession.sparkContext.defaultParallelism
    val scored =
      (if (salts <= 1L)
         cells.repartition(p, col("cell")).join(qAssign, Seq("cell"))
       else {
         val cellsS = cells.withColumn("__salt",
           pmod(xxhash64(col("id")), lit(salts)))
         val qS = qAssign.withColumn("__salt",
           explode(typedLit((0L until salts).toSeq)))
         cellsS.repartition(p, col("cell"), col("__salt"))
           .join(qS, Seq("cell", "__salt"))
       })
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(Vectors.cosine(col("vec"), col("qvec")), 6).as("sim"))
    topKPerQuery(scored, k)
  }

  /** NEIGHBOR-DIVERSIFIED edge selection — the α-RNG pruning rule of
    * the HNSW select-neighbors heuristic family (Malkov & Yashunin
    * 2018, Algorithm 4; the α-relaxation is DiskANN's RobustPrune,
    * Subramanya et al., NeurIPS 2019 — both public algorithms),
    * re-expressed as a deterministic, engine-replayable relational
    * pipeline: rank each query's candidates by (sim DESC, id ASC),
    * PRUNE candidate e when some higher-ranked candidate r is closer
    * to e than the query is (by factor α on distances:
    * α·(1 − sim(e,r)) ≤ 1 − sim(q,e), exact long micros), then
    * BACKFILL pruned candidates in rank order until degree k (the
    * keepPrunedConnections trade — a node never ends up under-linked
    * because its whole neighborhood was dense).
    *
    * Why: a raw kNN edge list on clustered corpora points every edge
    * into the same tight ball — the walk re-scores the same
    * neighborhood each hop and recall stalls (RECALL_r11's clustered
    * equal-budget block: graph 0.32 vs IVF 0.99). Diversified edges
    * span the neighborhood's DIRECTIONS instead of its nearest
    * members, so each hop extends the frontier — the published
    * mechanism that buys recall per edge, now at both graph build and
    * NSW append (this round's top verdict ask).
    *
    * Variant note (documented, deliberate): the prune check runs
    * against ALL higher-ranked candidates, not just the accepted
    * prefix — the relative-neighborhood-graph form, which is
    * order-free and therefore expressible as one anti-join instead of
    * a sequential fold (the backfill restores any over-pruning).
    * Deterministic end-to-end: sims are 6-dp-rounded before
    * comparison, candidate rank breaks ties, so the SQL twin
    * (EntryHelpers.diversifyCtes) replays bit-identically.
    *
    * Scale shape: candidates are ≤ kCand per query, so the pairwise
    * prune join is O(n·kCand²) rows co-keyed on query_id — one keyed
    * shuffle, no corpus² term; the vector join is one keyed shuffle of
    * (id → vec). `scored`: (query_id, neighbor_id, sim); `vecs`:
    * (id, vec) covering every candidate id. Output: (query_id,
    * neighbor_id, sim, rank ≤ k), rank = selection order (kept by
    * diversity first, backfilled by candidate rank after). */
  private[graft] def diversifyNeighbors(scored: DataFrame, vecs: DataFrame,
                                        kCand: Int, k: Int,
                                        alphaMicro: Long): DataFrame = {
    require(k >= 1 && kCand >= k && alphaMicro >= 1000000L,
      s"need 1 <= k <= kCand and alpha >= 1, got k=$k kCand=$kCand alphaMicro=$alphaMicro")
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val cand = scored
      .withColumn("__crank", row_number().over(w))
      .where(col("__crank") <= kCand)
    val nv = vecs.select(col("id").as("neighbor_id"),
      transform(col("vec"), _.cast("double")).as("__nv"))
    val cv = cand.join(nv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("__crank"), col("__nv"))
    val e = cv.select(col("query_id"), col("neighbor_id"), col("sim"),
      col("__crank"), col("__nv").as("__ev"))
    val r = cv.select(col("query_id"), col("__crank").as("__rrank"),
      col("__nv").as("__rv"))
    val eMicro = round(col("sim") * 1e6).cast("long")
    val erMicro = round(
      round(graft.plans.native.cosineSim(col("__ev"), col("__rv")), 6) * 1e6)
      .cast("long")
    val pruned = e.join(r, Seq("query_id"))
      .where(col("__rrank") < col("__crank"))
      .where(lit(alphaMicro) * (lit(1000000L) - erMicro) <=
        lit(1000000L) * (lit(1000000L) - eMicro))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val flagged = cand.join(
      pruned.withColumn("__p", lit(1)), Seq("query_id", "neighbor_id"), "left")
    val w2 = Window.partitionBy("query_id")
      .orderBy(coalesce(col("__p"), lit(0)).asc, col("__crank").asc)
    flagged.withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** [[knnGraph]] with α-RNG diversified edges: probe a kCand-deep
    * candidate list per vector, then [[diversifyNeighbors]] down to k.
    * Same output contract as knnGraph (rank ≤ k, deterministic), but
    * rank is SELECTION order, not similarity order — the edge set is
    * the point. kCand bounds the extra probe cost (kCand/k more
    * scored candidates at build; the search-time graph is the same
    * size and shape as an undiversified one). */
  def knnGraphDiverse(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, kCand: Int, c: Int = 16, nprobe: Int = 2,
                      portableHash: Boolean = false, alpha: Double = 1.0,
                      targetCellSize: Int = 0): DataFrame = {
    val cand = knnGraph(corpus, idCol, vecCol, kCand, c, nprobe,
      portableHash, targetCellSize)
      .select("query_id", "neighbor_id", "sim")
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"))
    diversifyNeighbors(cand, vecs, kCand, k, math.round(alpha * 1e6))
  }

  /** Greedy BEAM SEARCH over a precomputed kNN graph — the
    * navigable-small-world search pattern (Malkov & Yashunin 2018,
    * "Efficient and robust approximate nearest neighbor search using
    * hierarchical navigable small world graphs"; this is the
    * single-layer NSW core, public algorithm): start every query at
    * a deterministic ENTRY node (the smallest id), then `hops` times
    * expand the beam's out-neighbors through the graph, score
    * candidates against the query (6-dp cosine, the gate-portable
    * rounding), and keep the best `beam` nodes by (sim DESC, node
    * ASC). The final beam answers top-k. Completes the ANN family:
    * brute force scans everything, IVF probes cells, THIS walks the
    * neighborhood graph — the shape that wins when the graph is
    * already materialized (e.g. [[knnGraph]]'s output kept for
    * hard-negative mining).
    *
    * Scale shape: per hop ONE broadcast expansion of the beam against
    * the edge list and ONE broadcast scoring join (beam rows =
    * queries×beam, never corpus-scale) — no windows, no shuffles; the
    * beam itself is driver-carried between hops (round 16, the
    * [[beamSearchIndexed]] discipline), so merge and top-beam trim
    * fold on the driver. Deterministic end-to-end, so the oracle
    * unrolls the same hops as CTEs. Output: (query_id, neighbor_id,
    * sim, rank ≤ k), the query itself excluded from the answer (it
    * may still navigate through the beam). */
  def searchGraph(edges: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, queries: DataFrame, queryIdCol: String,
                  queryVecCol: String, beam: Int, hops: Int,
                  k: Int): DataFrame = {
    require(beam >= 1 && hops >= 0 && k >= 1,
      s"need beam/hops/k sane, got beam=$beam hops=$hops k=$k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val vecs = corpus.select(col(idCol).cast("long").as("node"),
        transform(col(vecCol), _.cast("double")).as("nvec"))
      .persist(lvl)
    val q = broadcast(queries.select(
      col(queryIdCol).cast("long").as("qid"),
      transform(col(queryVecCol), _.cast("double")).as("qvec")))
    val e = edges.select(col("query_id").cast("long").as("src"),
        col("neighbor_id").cast("long").as("dst"))
      .persist(lvl)
    val entry = vecs.agg(min("node")).head().getLong(0)
    // driver-carried beam (round 16 — the [[beamSearchIndexed]]
    // discipline on the in-memory walk): per hop one expansion job +
    // one scoring job, both shuffle-free broadcast joins; merge and
    // trim fold on the driver over the metadata-scale beam.
    def scoreCollect(nodes: DataFrame): LocalBeam =
      collectBeam(nodes
        .join(vecs, Seq("node"))
        .join(q, Seq("qid"))
        .select(col("qid"), col("node"),
          round(graft.plans.native.cosineSim(col("nvec"), col("qvec")), 6)
            .as("sim")))
    var beamLoc: LocalBeam =
      scoreCollect(q.select(col("qid"), lit(entry).as("node")))
    var h = 0
    while (h < hops && beamLoc.nonEmpty) {
      h += 1
      val srcDf = beamToDf(spark, beamLoc)
        .select(col("qid"), col("node").as("src"))
      val cand = broadcast(srcDf).join(e, Seq("src"))
        .select(col("qid"), col("dst").as("node"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
      val scored: LocalBeam =
        if (cand.isEmpty) Array.empty
        else scoreCollect(broadcast(cand.toSeq.toDF("qid", "node")))
      beamLoc = trimLocal(mergeMaxLocal(beamLoc ++ scored), beam)
    }
    val fin = beamToDf(spark, beamLoc).where(col("node") =!= col("qid"))
      .select(col("qid").as("query_id"), col("node").as("neighbor_id"),
        col("sim"))
    vecs.unpersist(false)
    e.unpersist(false)
    topKPerQuery(fin, k)
  }

  /** Deterministic GEOMETRIC LAYER LEVEL from the id hash — the HNSW
    * layer assignment (Malkov & Yashunin 2018 draw `⌊-ln U · mL⌋`; a
    * hash-derived level keeps the same geometric distribution while
    * staying reproducible across engines and runs): the largest
    * `l ≤ maxLayer` with `hash(id) mod 4^l == 0`, so
    * P(level ≥ l) = 4^{-l} (base 4 ≈ mL = 1/ln 4, the paper's
    * recommended density for k-regular layers). md5 mode replays in
    * SQL as a CASE over `h % 4^l`. */
  private[graft] def levelOf(idCol: Column, maxLayer: Int,
                             portableHash: Boolean): Column = {
    val h =
      if (portableHash) graft.functions.Hashes.md5Hash64(idCol)
      else xxhash64(idCol)
    (1 to maxLayer).foldLeft(lit(0)) { (acc, l) =>
      when(pmod(h, lit(1L << (2 * l))) === 0L, lit(l)).otherwise(acc)
    }
  }

  /** Graph-store meta with pre-r11 backward compatibility (round-12
    * advice): stores written before the layered rework carry only
    * (k, buckets) — default the missing fields (layers = 0, portable
    * = false) from a schema check, the same graceful posture the
    * missing-deletes fallback already takes, instead of throwing on
    * getAs. */
  private[graft] case class GraphMeta(k: Int, buckets: Int, layers: Int,
                                      portable: Boolean,
                                      alphaMicro: Long, kCand: Int)

  private def readGraphMeta(spark: SparkSession, path: String): GraphMeta = {
    val df = spark.read.parquet(s"$path/meta")
    val names = df.schema.fieldNames.toSet
    val row = df.head()
    GraphMeta(
      row.getAs[Int]("k"),
      row.getAs[Int]("buckets"),
      if (names("layers")) row.getAs[Int]("layers") else 0,
      if (names("portable")) row.getAs[Boolean]("portable") else false,
      // pre-r12 stores carry no diversification fields → 0 = off, the
      // same graceful default posture as layers/portable above
      if (names("alphamicro")) row.getAs[Long]("alphamicro") else 0L,
      if (names("kcand")) row.getAs[Int]("kcand") else 0)
  }

  /** The store tables of one persisted graph index, each read ONCE
    * per operator call (round 15, guide §6: every `spark.read.parquet`
    * pays driver-side file listing + footer schema inference, and the
    * hop/layer loops previously re-read edges/nodes/entries/deletes on
    * EVERY hop of EVERY layer). The loops filter these shared frames,
    * so (layer, bucket) partition pruning is unchanged — pruning
    * happens at each action's planning — while the InMemoryFileIndex
    * and the tombstone-emptiness probe (one job) are paid once.
    * Callers must construct this BEFORE any write of the same call
    * (the append's read-then-write phase discipline already
    * guarantees that). */
  private[operators] final case class GraphFrames(
      edges: DataFrame, nodes: DataFrame, entries: DataFrame,
      del: DataFrame, hasDel: Boolean, codes: Option[DataFrame],
      delIds: Set[Long])

  /** Driver-carried beam state (round 16, r15 verdict ask #2): the
    * walk's beam is (qid, node, sim) rows bounded by queries × beam —
    * metadata-scale by the broadcast-small-queries contract
    * ([[bruteForce]]) — so it lives on the driver between hops. That
    * makes every per-hop bucket set a driver-side map (ZERO collect
    * jobs where round 15 ran one blocking `distinct().collect()` per
    * scan per hop), and the merge + top-beam trim a driver fold (no
    * per-hop groupBy Exchange, no per-hop localCheckpoint block churn).
    * The corpus-scale work — the (layer, bucket)-pruned edge expansion
    * and node/codes scoring scans — stays distributed; each hop is now
    * exactly two shuffle-free scan jobs (guide §8: decide with small
    * rows, keep the heavy bytes in one distributed pass). */
  private[operators] type LocalBeam = Array[(Long, Long, Double)]

  /** EXACTLY [[TopKAggregator]]'s order: (sim DESC, node ASC) — same
    * total Ordering[Double] (NaN greatest), so a driver-side trim is
    * value-identical to the round-15 aggregator trim. */
  private val beamOrd: Ordering[(Double, Long)] =
    Ordering.by((t: (Double, Long)) => (-t._1, t._2))

  /** Per-query top-n, [[TopKAggregator]] semantics; output sorted
    * (qid, rank) for deterministic LocalRelation construction. */
  private def trimLocal(rows: Iterable[(Long, Long, Double)],
                        n: Int): LocalBeam =
    rows.groupBy(_._1).toArray.sortBy(_._1).flatMap { case (qid, g) =>
      g.map(t => (t._3, t._2)).toArray.sorted(beamOrd).take(n)
        .map { case (s, node) => (qid, node, s) }
    }

  /** (qid, node)-dedup keeping MAX(sim) — the hop-merge aggregate
    * (`groupBy(qid, node).agg(max sim)`) as a driver fold. Scala's
    * default Ordering[Double].max and Spark's MAX agree on NaN
    * (greatest), so the fold is value-identical. */
  private def mergeMaxLocal(rows: Iterable[(Long, Long, Double)])
      : Iterable[(Long, Long, Double)] =
    rows.groupBy(t => (t._1, t._2)).map { case ((q, n), g) =>
      (q, n, g.map(_._3).max)
    }

  private def beamToDf(spark: SparkSession, b: LocalBeam): DataFrame = {
    import spark.implicits._
    b.toSeq.toDF("qid", "node", "sim")
  }

  private def collectBeam(df: DataFrame): LocalBeam =
    df.select(col("qid"), col("node"), col("sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  private def bucketsOf(ids: Iterable[Long], buckets: Int): Seq[Int] =
    ids.map(id => java.lang.Math.floorMod(id, buckets.toLong).toInt)
      .toSeq.distinct.sorted

  /** The graph store's delete-log component (the id-keyed stores'
    * [[StoreKernel.Tombstones]]). */
  private val GraphDeletes = "deletes"

  /** Raw tombstoned graph ids; empty when the store predates them. */
  private def graphDeletes(spark: SparkSession, path: String): DataFrame =
    StoreKernel.parquetIfExists(spark, s"$path/$GraphDeletes")
      .map(_.select("id"))
      .getOrElse {
        import spark.implicits._
        Seq.empty[Long].toDF("id")
      }

  private def graphFrames(spark: SparkSession, path: String,
                          withCodes: Boolean = false): GraphFrames = {
    val delDf = graphDeletes(spark, path)
    // tombstones collected once per operator call (broadcast-scale by
    // the delete contract): the set drives the walks' driver-side
    // candidate filtering AND replaces the round-15 emptiness probe
    // (same one job, full ids instead of a limit-1 scan)
    val delIds: Set[Long] = delDf.collect().map(_.getLong(0)).toSet
    GraphFrames(
      spark.read.parquet(s"$path/edges"),
      spark.read.parquet(s"$path/nodes"),
      spark.read.parquet(s"$path/entries"),
      broadcast(delDf), delIds.nonEmpty,
      if (withCodes) Some(spark.read.parquet(s"$path/codes")) else None,
      delIds)
  }

  /** Build a PERSISTED kNN-graph (NSW / HNSW) index — the
    * build-once/probe-many store the graph ANN member was missing
    * (every other family — IVF/PQ/RQ/SQ8, inverted, trigram, Minhash —
    * already has one; round-9 verdict ask #1; `layers` added round 11).
    * Layout:
    *
    *   path/meta       one row (k, buckets, layers) — the
    *                   append/search params
    *   path/centroids  (cell, cvec) — the IVF-cell frame, kept for
    *                   append-time assignment and entry maintenance
    *   path/entries    (layer, cell, node, nvec) — ONE ENTRY SEED PER
    *                   IVF CELL PER LAYER (min node id among the
    *                   layer's members; vector inlined so search never
    *                   scans for it). Multi-seed starts fix the
    *                   single-global-entry recall hazard on clustered
    *                   corpora: a query lands in its own region even
    *                   when the graph is disconnected across clusters.
    *   path/nodes      (id, vec) partitionBy(bucket = id mod buckets)
    *   path/edges      (src, dst, sim) partitionBy(layer, bucket =
    *                   src mod buckets) — layer 0 holds every node's
    *                   kNN edges; layer l ≥ 1 holds a kNN graph over
    *                   ONLY the nodes with [[levelOf]] ≥ l (a 4^-l
    *                   sample), the HNSW express lanes whose longer
    *                   average hop length cuts the walk's effective
    *                   diameter.
    *
    * Bucketing is the probe's pruning handle: each search hop touches
    * only the beam's (layer, bucket) directories (edges) and the
    * candidates' buckets (nodes) — directory-pruned parquet reads
    * (PartitionFilters), so a hop reads O(beam-neighborhood), never
    * the corpus. Edges come from [[knnGraph]] (same k/c/nprobe
    * semantics, sims 6-dp) run per layer over that layer's members.
    * `layers` is clamped to the deepest level that actually has nodes
    * (an empty top layer would strand search seeds); meta records the
    * clamped value. */
  def writeGraphIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, k: Int, c: Int = 16, nprobe: Int = 2,
                      buckets: Int = 32,
                      portableHash: Boolean = false,
                      targetCellSize: Int = 0,
                      layers: Int = 0,
                      alpha: Double = 0.0,
                      kCand: Int = 0,
                      keep: Seq[String] = Nil): Unit = {
    require(k >= 1 && buckets >= 1 && c >= 1 && layers >= 0,
      s"need k/buckets/c >= 1 and layers >= 0, got k=$k buckets=$buckets c=$c layers=$layers")
    // α-RNG edge diversification (round 12): alpha > 0 turns it on —
    // each layer's edge list is selected via [[diversifyNeighbors]]
    // from a kCand-deep candidate pool (default 2k). Recorded in meta
    // so appendGraphIndex keeps the build's selection discipline.
    val alphaMicro = if (alpha > 0) math.round(alpha * 1e6) else 0L
    val kCandEff =
      if (alphaMicro == 0L) 0
      else if (kCand > 0) { require(kCand >= k); kCand }
      else 2 * k
    val spark = corpus.sparkSession
    import spark.implicits._
    // ONE canonical id for every level derivation (round-12 advice):
    // xxhash64 is type-sensitive (xxhash64(int 1) != xxhash64(1L)), so
    // leveling the raw idCol here while append/compact level the
    // long-cast id would give edge layers and entry layers DIFFERENT
    // member sets on any non-bigint id column. Everything below — the
    // topEff clamp, the per-layer subsets, the centroid sample, the
    // graph builds — derives from this long-cast frame, matching
    // appendGraphIndex/compactGraphStore exactly. (md5 portable mode
    // casts to string and was already immune; the cast is a value
    // no-op there, so every gate oracle replays unchanged.)
    // `keep` (round 13, the q345 convention on the graph member):
    // attribute columns ride path/nodes beside (id, vec) — the
    // filtered-search handle ([[searchGraphIndexFiltered]]); the
    // edge/entry builds below ignore them.
    val canon = corpus.select(col(idCol).cast("long").as("id") +:
      col(vecCol).as("vec") +: keep.map(col): _*)
    // bounded-cell auto-sizing (see knnGraph): one count, then the
    // SAME cEff for the entry-cell frame and the graph build
    val cEff =
      if (targetCellSize > 0) {
        val n = canon.count()
        math.max(c.toLong, (n + targetCellSize - 1) / targetCellSize)
          .min(Int.MaxValue).toInt
      } else c
    // clamp to the deepest non-empty level — one metadata-scale agg
    val topEff =
      if (layers == 0) 0
      else math.min(layers,
        canon.agg(max(levelOf(col("id"), layers, portableHash)))
          .head().getInt(0))
    // ONE unioned write per store table instead of one write per layer
    // (round 15, guide §2.6/§1.2): the per-layer kNN builds are
    // independent subtrees, so unioning them under a single write job
    // lets Spark schedule their stages CONCURRENTLY (previously each
    // layer's build+write ran to completion before the next started,
    // leaving the tail of every layer's stages under-parallelized) and
    // collapses 2×(layers+1) write jobs to 2. Same rows, same
    // (layer, bucket) directories — value-identical store. The
    // partitioned tables overwrite STATICALLY (whole table, whatever
    // the session default): a rebuild at an existing path must not
    // keep stale partitions.
    // The five independent table writes (meta, deletes, centroids,
    // nodes, edges — distinct paths, no read of each other) overlap
    // from a driver pool ([[Overlap.awaitAll]]) so the tiny
    // writes' commit latency hides under the edge build; only the
    // entry table, which reads centroids and nodes back, waits.
    Overlap.awaitAll(Seq(
      () => Seq((k, buckets, topEff, portableHash, alphaMicro, kCandEff))
        .toDF("k", "buckets", "layers", "portable", "alphamicro", "kcand")
        .write.mode("overwrite").parquet(s"$path/meta"),
      // empty tombstone table — the delete/compact lifecycle handle
      // (same convention as every other persisted store)
      () => Seq.empty[Long].toDF("id")
        .write.mode("overwrite").parquet(s"$path/$GraphDeletes"),
      () => sampleCentroids(canon, "id", "vec", cEff, portableHash)
        .write.mode("overwrite").parquet(s"$path/centroids"),
      () => StoreKernel.staticOverwrite(canon.select(col("id") +:
          transform(col("vec"), _.cast("double")).as("vec") +:
          keep.map(col): _*)
        .withColumn("bucket", pmod(col("id"), lit(buckets.toLong)).cast("int")))
        .partitionBy("bucket").parquet(s"$path/nodes"),
      () => StoreKernel.staticOverwrite((0 to topEff).map { l =>
          val sub =
            if (l == 0) canon
            else canon.where(levelOf(col("id"), topEff, portableHash) >= l)
          val layerEdges =
            if (alphaMicro > 0)
              knnGraphDiverse(sub, "id", "vec", k, kCandEff, cEff, nprobe,
                portableHash, alpha)
            else knnGraph(sub, "id", "vec", k, cEff, nprobe, portableHash)
          layerEdges
            .select(col("query_id").cast("long").as("src"),
              col("neighbor_id").cast("long").as("dst"), col("sim"))
            .withColumn("layer", lit(l))
            .withColumn("bucket",
              pmod(col("src"), lit(buckets.toLong)).cast("int"))
        }.reduce(_ unionByName _))
        .partitionBy("layer", "bucket").parquet(s"$path/edges")))
    val cents = spark.read.parquet(s"$path/centroids")
    val writtenNodes = spark.read.parquet(s"$path/nodes") // read-back once
    val allEntries = (0 to topEff).map { l =>
      val subNodes = writtenNodes
        .where(if (l == 0) lit(true)
               else levelOf(col("id"), topEff, portableHash) >= l)
      assignCells(subNodes, "id", "vec", cents)
        .groupBy("cell")
        .agg(min_by(struct(col("id"), col("vec")), col("id")).as("m"))
        .select(lit(l).as("layer"), col("cell"), col("m.id").as("node"),
          col("m.vec").as("nvec"))
    }.reduce(_ unionByName _)
    allEntries.write.mode("overwrite").parquet(s"$path/entries")
  }

  /** NSW INSERT maintenance for a persisted graph index (round-9
    * verdict ask #7; layer-aware since round 11): every new node
    * beam-searches the PRE-append graph for its k out-neighbors (k
    * from the index meta), then the graph gains both directions —
    * (new → hit) and (hit → new) — and every touched source is
    * re-trimmed to its best k edges by (sim DESC, dst ASC), so degree
    * stays bounded at k per node and appended nodes are REACHABLE
    * (findable as top hits, not just able to search). On a layered
    * store the same insert runs per layer for the batch nodes whose
    * [[levelOf]] reaches it (levels above the store's recorded top are
    * capped at the top — appends never create new layers; that is a
    * rebuild decision, the standard HNSW maintenance trade).
    * Reachability is the standard NSW/HNSW probabilistic property,
    * not a hard invariant: a reverse edge (hit → new) competes in the
    * hit's re-trim, so a new node keeps an in-edge unless ALL k of
    * its nearest targets already hold k strictly-closer neighbors —
    * vanishingly rare off adversarially dense clusters, and the same
    * trade Malkov & Yashunin's shrink step makes. BATCH semantics:
    * the whole batch searches the pre-append graph and lands in one
    * append pass — no intra-batch edges, no sequential dependency, so
    * the append parallelizes like any other bulk write (and the
    * oracle replays it as plain SQL). Ids must be new (same contract
    * as every other store's append).
    *
    * Physical: only the TOUCHED edge partitions rewrite (dynamic
    * partition overwrite — new-node (layer, bucket)s plus the
    * reverse-edge targets'); untouched directories are never read or
    * written. Entries update by (layer, cell)-min over (old entries ∪
    * new nodes) — metadata-scale. CRASH SEMANTICS (not a
    * transaction): all reads precede all writes, and nodes append
    * BEFORE the edge overwrite, so an interrupted append can leave
    * the batch present-but-unlinked (degraded recall for those ids)
    * but never an edge referencing a node absent from path/nodes;
    * re-running the append with the same batch is NOT idempotent
    * (duplicate node rows) unless `skipExisting` is set: then the
    * batch is anti-joined against the store's node ids (bucket-pruned
    * read of only the batch's buckets) and already-present ids drop
    * out, making a replayed batch a no-op — the knob that upgrades
    * [[ingestGraphStream]] from at-least-once to effectively-once on
    * replays. */
  def appendGraphIndex(batch: DataFrame, idCol: String, vecCol: String,
                       path: String, beam: Int, hops: Int,
                       skipExisting: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val GraphMeta(k, buckets, layers, portable, alphaMicro, kCand) =
      readGraphMeta(spark, path)
    // every store table read once for the whole append (all Phase-1
    // reads strictly precede the Phase-2 writes, so the shared file
    // index is never stale within this call)
    val fr = graphFrames(spark, path)
    // kept attribute columns (a `keep` store): the batch must carry
    // the same attributes the store's node table holds — schema
    // discovery from path/nodes, so appends stay schema-consistent
    // without a new meta field
    val extras = fr.nodes.schema.fieldNames
      .filterNot(Set("id", "vec", "bucket")).toSeq
    val incoming = batch.select(col(idCol).cast("long").as("id") +:
      transform(col(vecCol), _.cast("double")).as("vec") +:
      extras.map(col): _*)
    val deduped =
      if (!skipExisting) incoming
      else {
        // prune the node read to the batch's own buckets before the
        // anti-join — a replayed batch touches O(batch) directories
        val bks = incoming
          .select(pmod(col("id"), lit(buckets.toLong)).cast("int").as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val existing = fr.nodes
          .where(col("bucket").isin(bks: _*)).select("id")
        incoming.join(existing, Seq("id"), "left_anti")
      }
    val newNodes = deduped.localCheckpoint(true)
    if (skipExisting && newNodes.isEmpty) {
      graft.plans.Blocks.free(newNodes)
      return
    }
    val topk = TopKAggregator.udaf(k)
    // Phase 1 — READS: per-layer re-trimmed edge deltas, each
    // checkpointed so no later write invalidates its lineage.
    // The layers are MUTUALLY INDEPENDENT (every one beam-searches
    // the same PRE-append store), so they run from a driver pool
    // ([[Overlap.awaitAll]]) and overlap their many small jobs;
    // kept sequential under countCandidates (the probe-budget
    // accumulator is not an atomic counter) — that flag is
    // instrumentation-only, never set in gate/bench paths.
    def layerDelta(l: Int): Option[DataFrame] = {
      val sub =
        if (l == 0) newNodes
        else newNodes.where(levelOf(col("id"), layers, portable) >= l)
      if (l > 0 && sub.isEmpty) None
      else {
        // out-edges: beam search of the layer's new nodes over the
        // existing graph AT THIS LAYER (driver-carried beam, round 16)
        val found = beamSearchIndexed(spark, fr, buckets,
          sub.select(col("id").as("qid"), col("vec").as("qvec")),
          beam, hops, layer = l)
        // out-edges: on a diversified store (meta alphamicro > 0) the
        // new node's k edges are α-RNG-selected from its beam
        // candidates — the build's selection discipline carried into
        // maintenance (candidate vectors via one bucket-pruned node
        // read, cbks driver-derived); otherwise the plain top-k, which
        // is a driver fold over the carried beam (TopKAggregator
        // order — zero jobs where round 15 ran the topKPerQuery
        // aggregate + delta checkpoint + touched-bucket collect)
        val outRows: LocalBeam =
          if (alphaMicro > 0) {
            val cbks = bucketsOf(found.map(_._2), buckets)
            val cvecs = fr.nodes
              .where(col("bucket").isin(cbks: _*))
              .select(col("id"), col("vec"))
            val foundScored = beamToDf(spark, found)
              .select(col("qid").as("query_id"),
                col("node").as("neighbor_id"), col("sim"))
            diversifyNeighbors(foundScored, cvecs, kCand, k, alphaMicro)
              .select(col("query_id"), col("neighbor_id"), col("sim"))
              .collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          } else trimLocal(found, k)
        // delta = out-edges ∪ reverse links, assembled on the driver
        // (≤ 2·batch·k rows)
        val delta: LocalBeam =
          outRows ++ outRows.map(t => (t._2, t._1, t._3))
        // re-trim ONLY the touched buckets (driver-derived); untouched
        // sources inside them re-trim to their identical ≤k edge set
        // (deterministic identity)
        val touched = bucketsOf(delta.map(_._1), buckets)
        val deltaDf = {
          import spark.implicits._
          delta.toSeq.toDF("src", "dst", "sim")
        }
        val existing = fr.edges
          .where(col("layer") === l && col("bucket").isin(touched: _*))
          .select("src", "dst", "sim")
        // DEDUP the merged candidate set on (src, dst) before any
        // re-trim (round-13 advice): a candidate edge can arrive twice
        // with identical sim — e.g. a re-appended previously-deleted id
        // whose old edge still sits in `existing` while `rev` re-adds
        // it. Under the α-rule a duplicate PRUNES ITS TWIN
        // (cos(v,v)=1 always satisfies the condition) and the prune
        // flag joins back on (src, dst), demoting BOTH copies behind
        // every unpruned candidate; under the plain top-k it eats two
        // of the k slots. One keyed aggregate over ≤ (k+Δ) rows per
        // touched source; identity when no duplicates exist.
        // MAX(sim) contract (r13 advice, documented): if an id is
        // RE-APPENDED with a DIFFERENT vector (skipExisting=false), a
        // sim computed from the old vector can win this merge and
        // drive the re-trim — the SQL oracle twin folds the same MAX,
        // so the engines agree, but id reuse with a changed vector is
        // out of contract: delete + compactGraphStore first, then
        // append the new vector.
        val merged0 = existing.unionByName(deltaDf)
          .groupBy("src", "dst").agg(max("sim").as("sim"))
        // re-trim: diversified stores re-select each touched source's
        // k edges with the SAME α-RNG rule over the merged candidate
        // set (all candidates considered — no kCand cap here; the set
        // is ≤ k existing + delta per source), matching the HNSW
        // shrink step; dst vectors come from one bucket-pruned node
        // read unioned with the in-flight batch (its nodes land in
        // Phase 2, after all reads)
        val trimmed =
          if (alphaMicro > 0) {
            val scored = merged0.select(col("src").as("query_id"),
              col("dst").as("neighbor_id"), col("sim"))
            val dbks = scored
              .select(pmod(col("neighbor_id"), lit(buckets.toLong))
                .cast("int").as("b"))
              .distinct().collect().map(_.getInt(0)).toSeq
            val dvecs = fr.nodes
              .where(col("bucket").isin(dbks: _*))
              .select(col("id"), col("vec"))
              .unionByName(newNodes.select(col("id"), col("vec")))
            diversifyNeighbors(scored, dvecs, Int.MaxValue, k, alphaMicro)
              .select(col("query_id").as("src"),
                col("neighbor_id").as("dst"), col("sim"))
          } else merged0
            .groupBy(col("src").as("qid"))
            .agg(topk(col("dst"), col("sim")).as("top"))
            .select(col("qid").as("src"), explode(col("top")).as("s"))
            .select(col("src"), col("s._2").as("dst"), col("s._1").as("sim"))
        val merged = trimmed
          .withColumn("layer", lit(l))
          .withColumn("bucket",
            pmod(col("src"), lit(buckets.toLong)).cast("int"))
          .localCheckpoint(true) // break lineage off the overwrite path
        Some(merged)
      }
    }
    val mergedPerLayer: Seq[DataFrame] =
      if (countCandidates) (0 to layers).flatMap(layerDelta)
      else Overlap.awaitAll((0 to layers).map(l => () => layerDelta(l))).flatten
    // Phase 2 — WRITES, nodes FIRST (round-11 advice): an interrupted
    // append leaves unlinked nodes, never dangling edges.
    newNodes
      .withColumn("bucket", pmod(col("id"), lit(buckets.toLong)).cast("int"))
      .write.mode("append").partitionBy("bucket").parquet(s"$path/nodes")
    // CODES SIDECAR maintenance (round 13, r12 verdict ask #1): a
    // store with a [[writeGraphCodes]] sidecar encodes the batch's
    // codes in the SAME append — a pure projection through the stored
    // books, touching only the batch's buckets — so appended vectors
    // stay visible to the ADC walk with no manual re-encode.
    // Immediately after the node write: an interruption between the
    // two leaves a countable nodes/codes mismatch that
    // [[searchGraphIndexAdc]]'s staleness guard turns into an error,
    // never a silent recall hole.
    readGraphBooks(spark, path).foreach { books =>
      newNodes.select(col("id"),
          pmod(col("id"), lit(buckets.toLong)).cast("int").as("bucket"),
          Pq.codesColumn(col("vec"), books).as("codes"))
        .write.mode("append").partitionBy("bucket").parquet(s"$path/codes")
    }
    if (mergedPerLayer.nonEmpty) {
      StoreKernel.dynamicOverwrite(mergedPerLayer.reduce(_ unionByName _))
        .partitionBy("layer", "bucket").parquet(s"$path/edges")
      mergedPerLayer.foreach(graft.plans.Blocks.free)
    }
    val cents = spark.read.parquet(s"$path/centroids")
    val newAssigned = assignCells(newNodes, "id", "vec", cents)
      .withColumn("lv", levelOf(col("id"), layers, portable))
      .select(explode(sequence(lit(0), col("lv"))).as("layer"),
        col("cell"), col("id"), col("vec"))
    val newEntries = fr.entries
      .select(col("layer"), col("cell"), col("node").as("id"),
        col("nvec").as("vec"))
      .unionByName(newAssigned)
      .groupBy("layer", "cell")
      .agg(min_by(struct(col("id"), col("vec")), col("id")).as("m"))
      .select(col("layer"), col("cell"), col("m.id").as("node"),
        col("m.vec").as("nvec"))
      .localCheckpoint(true)
    newEntries.write.mode("overwrite").parquet(s"$path/entries")
    graft.plans.Blocks.free(newEntries)
    graft.plans.Blocks.free(newNodes)
  }

  /** TOMBSTONE delete for a persisted graph index (round 11 — the
    * delete/compact lifecycle every OTHER store already carries;
    * the graph member was the last without one): ids append to
    * `path/deletes`, and every subsequent search drops tombstoned
    * nodes from its entry seeds and candidate expansions BEFORE
    * scoring (the EmbeddingStore pre-top-k discipline — a masked hit
    * must not eat a rank slot). A cell whose entry seed is
    * tombstoned contributes no seed until [[compactGraphStore]]
    * recomputes entries — the documented tombstone-vs-compacted
    * difference (soft deletes degrade seeding, never correctness).
    * Tombstone contract in [[StoreKernel]]. */
  def deleteFromGraphIndex(ids: DataFrame, idCol: String,
                           path: String): Unit =
    StoreKernel.appendTombstones(
      ids.select(col(idCol).cast("long").as("id")), "id", path, GraphDeletes)

  /** MATERIALIZE deletions: nodes and edges drop every tombstoned id
    * (an edge loses either endpoint → the edge goes; surviving
    * degree may fall below k — re-linking is a rebuild decision, the
    * standard soft-delete trade), entries recompute per (layer, cell)
    * as the min surviving id (levels re-derived from the meta's hash
    * mode), the meta layer count RE-CLAMPS to the deepest surviving
    * level (an emptied top layer must not strand descent seeds), and
    * the tombstone table resets. Only rewrites what a compaction must:
    * each table reads, checkpoints (lineage off the overwrite path),
    * and lands once — the partitioned tables under a static overwrite
    * ([[StoreKernel.staticOverwrite]]), so fully-tombstoned partitions'
    * old files are replaced, not kept. */
  def compactGraphStore(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val GraphMeta(k, buckets, layers, portable, alphaMicro, kCand) =
      readGraphMeta(spark, path)
    // pre-r11 stores have no deletes table — compacting one is a no-op
    // rewrite, not an error (same fallback the walk takes)
    val del = broadcast(graphDeletes(spark, path))
    val nodes2 = spark.read.parquet(s"$path/nodes")
      .join(del, Seq("id"), "left_anti")
      .localCheckpoint(true)
    val edges2 = spark.read.parquet(s"$path/edges")
      .join(del.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(del.select(col("id").as("dst")), Seq("dst"), "left_anti")
      .select("src", "dst", "sim", "layer", "bucket")
      .localCheckpoint(true)
    // RE-CLAMP the layer count to the deepest SURVIVING level (round-12
    // advice): if compaction removes every top-layer node, a search
    // descending from the recorded top would seed an empty beam — the
    // same "empty top layer would strand seeds" hazard the build-time
    // clamp guards against. Level sets are nested (level >= l implies
    // level >= l-1), so the max surviving level IS the deepest
    // populated layer. One metadata-scale agg over survivors; an empty
    // store re-clamps to 0.
    val newLayers =
      if (layers == 0) 0
      else {
        val row = nodes2.agg(max(levelOf(col("id"), layers, portable))).head()
        if (row.isNullAt(0)) 0 else math.min(layers, row.getInt(0))
      }
    // repartition by the partition key → one file per directory:
    // compaction coalesces the per-append file accretion (round 15 —
    // [[maintainGraphStore]]'s files-per-bucket trigger relies on
    // this resetting the count)
    StoreKernel.staticOverwrite(nodes2.repartition(col("bucket")))
      .partitionBy("bucket").parquet(s"$path/nodes")
    // codes sidecar follows the survivors (round 13): re-project the
    // compacted node table through the stored books so the ADC walk's
    // staleness guard holds post-compaction.
    readGraphBooks(spark, path).foreach { books =>
      StoreKernel.staticOverwrite(nodes2.select(col("id"),
          pmod(col("id"), lit(buckets.toLong)).cast("int").as("bucket"),
          Pq.codesColumn(col("vec"), books).as("codes"))
        .repartition(col("bucket")))
        .partitionBy("bucket").parquet(s"$path/codes")
    }
    StoreKernel.staticOverwrite(edges2.repartition(col("layer"), col("bucket")))
      .partitionBy("layer", "bucket").parquet(s"$path/edges")
    graft.plans.Blocks.free(edges2)
    val cents = spark.read.parquet(s"$path/centroids")
    val survivors = nodes2.select(col("id"), col("vec"))
    val entries = (0 to newLayers).map { l =>
      val sub =
        if (l == 0) survivors
        else survivors.where(levelOf(col("id"), layers, portable) >= l)
      assignCells(sub, "id", "vec", cents)
        .groupBy("cell")
        .agg(min_by(struct(col("id"), col("vec")), col("id")).as("m"))
        .select(lit(l).as("layer"), col("cell"), col("m.id").as("node"),
          col("m.vec").as("nvec"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    entries.write.mode("overwrite").parquet(s"$path/entries")
    graft.plans.Blocks.free(entries)
    graft.plans.Blocks.free(nodes2)
    Seq((k, buckets, newLayers, portable, alphaMicro, kCand))
      .toDF("k", "buckets", "layers", "portable", "alphamicro", "kcand")
      .write.mode("overwrite").parquet(s"$path/meta")
    Seq.empty[Long].toDF("id")
      .write.mode("overwrite").parquet(s"$path/$GraphDeletes")
  }

  /** Maintenance dashboard for a persisted GRAPH store (round 15, r14
    * verdict ask #4 — [[ivfStoreStats]]'s twin; the graph family had
    * delete/compact but no stats or policy operator): per (layer,
    * bucket), the live layout facts a compaction/rebuild policy
    * reads — member count (nodes whose derived level reaches the
    * layer; layer 0 = every node), out-edge count, and tombstone
    * backlog. Column-pruned scans of the id/bucket and edge-key
    * columns joined to the broadcast tombstone set; no vectors are
    * read. Skewed buckets or degree collapse → rebuild; tombstone
    * fraction past budget → [[compactGraphStore]] (that is
    * [[maintainGraphStore]]'s loop). */
  def graphStoreStats(spark: SparkSession, path: String): DataFrame = {
    val GraphMeta(_, _, layers, portable, _, _) = readGraphMeta(spark, path)
    val del = StoreKernel.tombstones(spark, path, GraphDeletes)
      .map(_.withColumn("__t", lit(1L)))
    val nodes = spark.read.parquet(s"$path/nodes").select("id", "bucket")
    val tagged = del.fold(nodes.withColumn("__t", lit(0L)))(d =>
      nodes.join(broadcast(d), Seq("id"), "left")
        .withColumn("__t", coalesce(col("__t"), lit(0L))))
    val perLayer = (0 to layers).map { l =>
      val sub =
        if (l == 0) tagged
        else tagged.where(levelOf(col("id"), layers, portable) >= l)
      sub.groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"), sum("__t").as("n_tombstoned"))
        .select(lit(l).as("layer"), col("bucket").cast("long").as("bucket"),
          col("n_nodes"), col("n_tombstoned"))
    }.reduce(_ unionByName _)
    val edges = spark.read.parquet(s"$path/edges")
      .groupBy(col("layer"), col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_edges"))
    perLayer.join(edges, Seq("layer", "bucket"), "left")
      .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
  }

  /** Threshold-driven GRAPH store maintenance (round 15 —
    * [[maintainIvfStore]]'s twin, completing the policy matrix):
    * compact when the distinct tombstone-table count exceeds
    * `maxTombstoneFrac` of stored nodes (the FULL table, orphan
    * tombstones included — they ride every walk's pre-top-k anti-join
    * whether or not they match a node, the same broadcast-hygiene
    * bound as the IVF policy), or when any nodes bucket directory has
    * accreted more than `maxFilesPerBucket` files (0 disables — the
    * [[ingestGraphStream]] small-file bound; [[compactGraphStore]]
    * rewrites every table under static overwrite, which coalesces).
    * Returns Some(manifest: tombstones_applied, nodes_live) when a
    * compaction ran, None when the store is within budget. */
  def maintainGraphStore(spark: SparkSession, path: String,
                         maxTombstoneFrac: Double = 0.1,
                         maxFilesPerBucket: Int = 0): Option[DataFrame] = {
    import spark.implicits._
    require(maxTombstoneFrac >= 0.0,
      s"need maxTombstoneFrac >= 0, got $maxTombstoneFrac")
    val nodes = spark.read.parquet(s"$path/nodes").select("id").count()
    val nDel = StoreKernel.tombstones(spark, path, GraphDeletes)
      .map(_.count()).getOrElse(0L)
    val filesOver = maxFilesPerBucket > 0 &&
      !StoreKernel.storeFileStats(spark, path, "nodes")
        .where(col("n_files") > maxFilesPerBucket).isEmpty
    if ((nodes > 0 && nDel.toDouble / nodes > maxTombstoneFrac) ||
        filesOver) {
      compactGraphStore(spark, path)
      val live = spark.read.parquet(s"$path/nodes").count()
      Some(Seq(("tombstones_applied", nDel), ("nodes_live", live))
        .toDF("component", "rows"))
    } else None
  }

  /** PQ codes SIDECAR for a persisted graph index (round 12 — the
    * DiskANN memory layout: Subramanya et al., NeurIPS 2019 keep
    * compressed vectors in memory for walk-time scoring and read full
    * vectors only for the final re-rank; public algorithm): every
    * store node's m-subspace PQ codes land at `path/codes`,
    * partitionBy(bucket) — the SAME pruning handle as nodes/edges, so
    * a coded walk's per-hop scan reads m bytes per candidate instead
    * of dim×4 (32× less I/O at dim=64/m=8, which is what makes the
    * walk memory-resident at 100 TB). Codes are a pure projection of
    * path/nodes (deterministic argmin-L2 encode); the books land
    * beside them at `path/codes_books` (round 13), so
    * [[appendGraphIndex]] / [[ingestGraphStream]] / [[compactGraphStore]]
    * maintain the sidecar themselves — appended vectors encode in the
    * same append, compaction re-projects survivors — and
    * [[searchGraphIndexAdc]] can HARD-FAIL on a stale sidecar instead
    * of silently skipping un-coded nodes. */
  def writeGraphCodes(spark: SparkSession, path: String,
                      books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    val nodes = spark.read.parquet(s"$path/nodes")
    (for (s <- books.indices; c <- books(s).indices)
      yield (s, c, books(s)(c).toSeq))
      .toDF("s", "c", "cw")
      .write.mode("overwrite").parquet(s"$path/codes_books")
    StoreKernel.staticOverwrite(nodes.select(col("id"), col("bucket"),
        Pq.codesColumn(col("vec"), books).as("codes")))
      .partitionBy("bucket").parquet(s"$path/codes")
  }

  /** The [[writeGraphCodes]] books, read back from the store — the
    * maintenance handle: append/compact re-encode THROUGH the stored
    * books, so the sidecar stays a pure projection of path/nodes no
    * matter which process wrote it last. None when the store has no
    * coded sidecar (the common case — every maintenance call probes
    * this first). */
  private def readGraphBooks(spark: SparkSession,
                             path: String): Option[Array[Array[Array[Double]]]] =
    StoreKernel.parquetIfExists(spark, s"$path/codes_books").map { df =>
      val rows = df.select("s", "c", "cw").collect()
      val m = rows.map(_.getInt(0)).max + 1
      val k = rows.map(_.getInt(1)).max + 1
      val books = Array.ofDim[Array[Double]](m, k)
      rows.foreach { r =>
        books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      books
    }

  /** CODED beam walk over a persisted graph index + exact re-rank —
    * the DiskANN search recipe on the [[writeGraphCodes]] sidecar:
    * seeds and every hop candidate score by ADC (per-query dot tables
    * against the broadcast codebooks, AdcScore kernel over the
    * bucket-pruned CODES scan — the 32×-smaller read), the walk
    * navigates on approximate similarities, and only the FINAL beam's
    * ids read their full vectors for the exact 6-dp cosine re-rank
    * (queries × beam rows — driver-bounded). On a layered store the
    * walk DESCENDS HNSW-style (top layer seeded from its entries,
    * each lower layer seeded by the beam above — all on ADC scores);
    * a layers = 0 store is exactly the flat coded walk. Tombstones
    * honored pre-top-k (same live() discipline). Deterministic: ADC
    * sims are bit-identical ordered
    * folds in both engines (the q51 contract), ties → node ASC, so
    * the gate oracle replays every hop. Output contract matches
    * [[searchGraphIndex]]: (query_id, neighbor_id, sim, rank ≤ k),
    * self excluded, sim = EXACT re-ranked cosine. */
  def searchGraphIndexAdc(spark: SparkSession, path: String,
                          books: Array[Array[Array[Double]]],
                          queries: DataFrame, queryIdCol: String,
                          queryVecCol: String, beam: Int, hops: Int,
                          k: Int): DataFrame = {
    require(beam >= 1 && hops >= 0 && k >= 1,
      s"need beam/hops/k sane, got beam=$beam hops=$hops k=$k")
    val GraphMeta(_, buckets, layers, _, _, _) = readGraphMeta(spark, path)
    val fr = graphFrames(spark, path, withCodes = true)
    // STALENESS GUARD (round 13, r12 verdict ask #1; TIGHTENED round
    // 14 per r13 advice, and again round 15 per r14 advice): the walk
    // scans path/codes for every hop candidate, so a node without a
    // codes row is INVISIBLE to it — a silent recall hole — and a
    // node with DUPLICATE codes rows is scored twice, letting one
    // candidate occupy multiple beam slots. One column-pruned
    // id-aggregate job catches both: union-tag the two id scans,
    // group by id, and fail on any id that has node rows but zero
    // codes rows (uncoded) or more than one codes row (duplicate).
    // (Codes rows without a node are harmless: candidates only ever
    // arrive via edges, which reference nodes.)
    val badIds = fr.nodes.select("id")
      .withColumn("__c", lit(0L))
      .unionByName(fr.codes.get.select("id")
        .withColumn("__c", lit(1L)))
      .groupBy("id")
      .agg(sum("__c").as("n_codes"), count(lit(1)).as("n_all"))
      .where((col("n_all") > col("n_codes") && col("n_codes") === 0L) ||
        col("n_codes") > 1L)
    require(badIds.isEmpty,
      s"stale codes sidecar at $path/codes: some nodes have no codes " +
        "row, or have duplicate codes rows. Re-run writeGraphCodes " +
        "(appends through appendGraphIndex/ingestGraphStream maintain " +
        "the sidecar automatically when codes_books is present).")
    val m = books.length
    val subDim = books(0)(0).length
    // per-query ADC tables (the Pq.search construction): tables[s][c]
    // = dot(q_sub_s, cw_c), ordered folds — broadcast with the query
    val tableCol = array((0 until m).map { s =>
      val qSub = slice(transform(col("qvec"), _.cast("double")),
        s * subDim + 1, subDim)
      transform(typedLit(books(s).map(_.toSeq).toSeq), cw =>
        aggregate(zip_with(qSub, cw, (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v))
    }: _*)
    val q = broadcast(queries
      .select(col(queryIdCol).cast("long").as("qid"),
        transform(col(queryVecCol), _.cast("double")).as("qvec"))
      .withColumn("tabs", tableCol))
    // HNSW descent on ADC scores (round 12, flat-store-only before):
    // walk the top layer seeded from its entries, hand each lower
    // layer the beam above — the searchGraphIndex shape with every
    // score an ADC lookup
    var beamLoc = beamSearchCoded(spark, fr, buckets, q, books,
      beam, hops, layer = layers)
    for (l <- layers - 1 to 0 by -1)
      beamLoc = beamSearchCoded(spark, fr, buckets, q, books,
        beam, hops, layer = l, seed = Some(beamLoc))
    // exact re-rank: full vectors read ONLY for the final beam's ids —
    // the bucket set and the beam itself are driver-local (round 16:
    // the fbks collect job is gone)
    val fbks = bucketsOf(beamLoc.map(_._2), buckets)
    val nodes = fr.nodes
      .where(col("bucket").isin(fbks: _*))
      .select(col("id").as("node"), col("vec").as("nvec"))
    val exact = broadcast(beamToDf(spark, beamLoc)
      .select(col("qid"), col("node"))
      .where(col("node") =!= col("qid")))
      .join(nodes, Seq("node")).join(q, Seq("qid"))
      .select(col("qid").as("query_id"), col("node").as("neighbor_id"),
        round(graft.plans.native.cosineSim(col("nvec"), col("qvec")), 6)
          .as("sim"))
    topKPerQuery(exact, k)
  }

  /** One LAYER of the coded walk — [[beamSearchIndexed]]'s shape with
    * every score an ADC table lookup over the [[writeGraphCodes]]
    * sidecar: seed from the layer's entries (codes derived on the fly
    * from the inlined entry vector — identical to the stored codes) or
    * from the layer above's beam (`seed`, the HNSW descent handoff;
    * empty-beam fallback to own entries), then `hops` (layer, bucket)-
    * pruned expand/score/trim rounds where the candidate scan is
    * (id, codes) — m bytes/node. Tombstones pre-top-k. `q` carries
    * (qid, qvec, tabs). */
  private def beamSearchCoded(spark: SparkSession, fr: GraphFrames,
                              buckets: Int, q: DataFrame,
                              books: Array[Array[Array[Double]]],
                              beam: Int, hops: Int, layer: Int = 0,
                              seed: Option[LocalBeam] = None): LocalBeam = {
    // store reads + tombstone collect hoisted to [[graphFrames]] —
    // once per operator call (round 15, guide §6); beam state
    // driver-carried, two shuffle-free jobs per hop (round 16 — see
    // [[beamSearchIndexed]])
    def live(df: DataFrame): DataFrame =
      if (!fr.hasDel) df
      else df.join(fr.del.select(col("id").as("node")), Seq("node"),
        "left_anti")
    def entrySeed(): LocalBeam = {
      val entries = broadcast(live(
        fr.entries.where(col("layer") === layer)))
      // seed scoring counts into the probe budget (round-13 advice):
      // beamSearchIndexed already charges queries × entries — an
      // equal-budget cand/q comparison must see the same accounting
      // here or the ADC walk under-reports its scan volume.
      if (countCandidates)
        lastScored += q.count() * entries.count()
      trimLocal(collectBeam(
        q.join(entries)
          .select(col("qid"), col("node"),
            graft.plans.native.adcScore(
              Pq.codesColumn(col("nvec"), books), col("tabs")).as("sim"))),
        beam)
    }
    var beamLoc: LocalBeam = seed.filter(_.nonEmpty).getOrElse(entrySeed())
    var h = 0
    while (h < hops && beamLoc.nonEmpty) {
      h += 1
      val bks = bucketsOf(beamLoc.map(_._2), buckets)
      val srcDf = beamToDf(spark, beamLoc)
        .select(col("qid"), col("node").as("src"))
      val expanded = broadcast(srcDf)
        .join(fr.edges
          .where(col("layer") === layer && col("bucket").isin(bks: _*))
          .select(col("src"), col("dst")), Seq("src"))
        .select(col("qid"), col("dst").as("node"))
      val cand = expanded.collect().map(r => (r.getLong(0), r.getLong(1)))
        .distinct.filter(t => !fr.delIds.contains(t._2))
      if (countCandidates) lastScored += cand.length
      val scored: LocalBeam =
        if (cand.isEmpty) Array.empty
        else {
          import spark.implicits._
          val nbks = bucketsOf(cand.map(_._2), buckets)
          val candDf = cand.toSeq.toDF("qid", "node")
          // the coded hop: the scan is (id, codes) — m bytes/node
          val codes = fr.codes.get
            .where(col("bucket").isin(nbks: _*)) // partition pruning
            .select(col("id").as("node"), col("codes"))
          collectBeam(broadcast(candDf)
            .join(codes, Seq("node")).join(q, Seq("qid"))
            .select(col("qid"), col("node"),
              graft.plans.native.adcScore(col("codes"), col("tabs"))
                .as("sim")))
        }
      beamLoc = trimLocal(mergeMaxLocal(beamLoc ++ scored), beam)
    }
    beamLoc
  }

  /** Continuous NSW ingest — the streaming twin every other persisted
    * store already has (MinhashStore/CcStore convention): each
    * micro-batch of (id, vec) rows lands via [[appendGraphIndex]]'s
    * atomic batch insert (the batch beam-searches the pre-append
    * graph, reverse links, touched-bucket re-trim), so the on-disk
    * graph stays searchable between batches with degree ≤ k
    * throughout. foreachBatch because the append is a multi-write
    * SEQUENCE (nodes, then edges, then entries — see
    * [[appendGraphIndex]]'s crash semantics: interruption can leave
    * the batch present-but-unlinked, never a dangling edge), not a
    * row sink. Exactly-once caveat is the standard foreachBatch one:
    * a replayed batch re-inserts its ids — either feed this from a
    * source with unique ids per batch (the batch append's contract)
    * or set `skipExisting`, which anti-joins each batch against the
    * store's node ids (bucket-pruned) so replays become no-ops —
    * effectively-once at the cost of one pruned node read per
    * batch. */
  def ingestGraphStream(batches: DataFrame, idCol: String, vecCol: String,
                        path: String, checkpoint: String, beam: Int,
                        hops: Int, skipExisting: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) appendGraphIndex(batch, idCol, vecCol, path,
          beam, hops, skipExisting)
        ()
      }
      .start()

  /** Probe a persisted graph index: [[searchGraph]]'s beam walk, but
    * against the on-disk store — per-cell MULTI-SEED starts (every
    * query scores the TOP layer's entry seeds and keeps the best
    * `beam`), then the beam DESCENDS the layers HNSW-style (each
    * lower layer re-walks `hops` rounds seeded by the layer above's
    * final beam — upper layers are 4^-l samples whose edges span
    * longer distances, so the walk crosses the corpus in few hops and
    * spends layer 0 refining locally), with (layer, bucket)-pruned
    * edge/node scans per hop. On a `layers = 0` store this is exactly
    * the single-layer walk. Same output contract as [[searchGraph]]:
    * (query_id, neighbor_id, sim, rank ≤ k), the query id itself
    * excluded from answers. Queries must be broadcast-small (the
    * [[bruteForce]] contract). */
  def searchGraphIndex(spark: SparkSession, path: String,
                       queries: DataFrame, queryIdCol: String,
                       queryVecCol: String, beam: Int, hops: Int,
                       k: Int): DataFrame = {
    require(beam >= 1 && hops >= 0 && k >= 1,
      s"need beam/hops/k sane, got beam=$beam hops=$hops k=$k")
    val GraphMeta(_, buckets, layers, _, _, _) = readGraphMeta(spark, path)
    val fr = graphFrames(spark, path)
    val q = queries.select(col(queryIdCol).cast("long").as("qid"),
      transform(col(queryVecCol), _.cast("double")).as("qvec"))
    var fin = beamSearchIndexed(spark, fr, buckets, q, beam, hops,
      layer = layers)
    for (l <- layers - 1 to 0 by -1)
      fin = beamSearchIndexed(spark, fr, buckets, q, beam, hops,
        layer = l, seed = Some(fin))
    topKPerQuery(beamToDf(spark, fin).where(col("node") =!= col("qid"))
      .select(col("qid").as("query_id"), col("node").as("neighbor_id"),
        col("sim")), k)
  }

  /** FILTERED search over a persisted graph index (round 13 — the
    * graph-family twin of [[searchIvfFiltered]]): the walk itself is
    * UNCHANGED and navigates through non-matching nodes (filtering
    * navigation would disconnect the graph under selective predicates
    * — the standard filtered-graph-ANN design), and `pred` evaluates
    * over the store's `keep` attribute columns on the FINAL beam,
    * before the top-k ranking — a filtered-out candidate never eats a
    * rank slot. The attribute read is one bucket-pruned scan of the
    * beam's ids (queries × beam rows). Post-filtering semantics: at
    * most `beam` candidates per query survive to the filter, so a
    * selective predicate wants `beam` ≫ k (the q345 nprobe guidance,
    * graph-shaped). */
  def searchGraphIndexFiltered(spark: SparkSession, path: String,
                               queries: DataFrame, queryIdCol: String,
                               queryVecCol: String, beam: Int, hops: Int,
                               k: Int, pred: Column): DataFrame = {
    require(beam >= 1 && hops >= 0 && k >= 1,
      s"need beam/hops/k sane, got beam=$beam hops=$hops k=$k")
    val GraphMeta(_, buckets, layers, _, _, _) = readGraphMeta(spark, path)
    val fr = graphFrames(spark, path)
    val q = queries.select(col(queryIdCol).cast("long").as("qid"),
      transform(col(queryVecCol), _.cast("double")).as("qvec"))
    var fin = beamSearchIndexed(spark, fr, buckets, q, beam, hops,
      layer = layers)
    for (l <- layers - 1 to 0 by -1)
      fin = beamSearchIndexed(spark, fr, buckets, q, beam, hops,
        layer = l, seed = Some(fin))
    // bucket set driver-derived from the carried beam (round 16: the
    // fbks collect job is gone)
    val fbks = bucketsOf(fin.map(_._2), buckets)
    val attrs = fr.nodes
      .where(col("bucket").isin(fbks: _*)) // partition pruning
      .drop("vec").withColumnRenamed("id", "node")
    topKPerQuery(broadcast(beamToDf(spark, fin)
      .where(col("node") =!= col("qid")))
      .join(attrs, Seq("node"))
      .where(pred)
      .select(col("qid").as("query_id"), col("node").as("neighbor_id"),
        col("sim")), k)
  }

  /** Formatted plans of the LAST indexed hop's candidate expansion and
    * scoring (edge scan + node scan) — the returned beam is
    * checkpointed, so its own plan no longer shows the bucket-pruned
    * scans; specs assert the pruning here (diagnostics only, one
    * string, no job). Captured only when [[capturePlans]] is set
    * (round 15, guide §1.2: building two formatted explain strings
    * per hop is pure driver work in the walk's hot loop — the
    * pruning spec flips the flag, production walks skip it). */
  @volatile private[graft] var lastHopPlan: String = ""

  /** When true, each indexed hop records [[lastHopPlan]]. Off by
    * default — plan capture costs a full analyze/optimize/plan pass
    * of the hop's candidate and merge frames per hop. */
  @volatile private[graft] var capturePlans: Boolean = false

  /** When true, each [[beamSearchIndexed]] walk adds its scored-
    * candidate count (seed scorings + per-hop candidate pairs) to
    * [[lastScored]] — the probe-budget readout the recall artifact
    * reports so index families compare at EQUAL candidate budgets.
    * Off by default: counting costs one tiny job per hop. */
  @volatile private[graft] var countCandidates: Boolean = false
  @volatile private[graft] var lastScored: Long = 0L

  /** The shared indexed beam walk at one LAYER: seed from the layer's
    * per-cell entry rows (or from `seed`, a layer-above beam already
    * scored as (qid, node, sim) — the HNSW descent handoff), then
    * `hops` (layer, bucket)-pruned expand/score/trim rounds. Returns
    * the final beam (qid, node, sim) — `beam` rows per query, self
    * NOT excluded (callers decide; append wants self-free ids by
    * construction, search filters).
    *
    * Round 16 (r15 verdict ask #2): beam state is DRIVER-CARRIED
    * ([[LocalBeam]], metadata-scale by the broadcast-small-queries
    * contract). Each hop is exactly TWO shuffle-free jobs — the
    * bucket-pruned edge expansion and the bucket-pruned node scoring
    * scan, both broadcast-joined against driver-local frames — where
    * round 15 ran four blocking driver round-trips per hop (two
    * `distinct().collect()` bucket probes + two localCheckpoint
    * materializations with groupBy Exchanges). Dedup, tombstone
    * filtering, the MAX(sim) merge and the (sim DESC, node ASC) trim
    * fold on the driver over the ≤ queries·beam·k-row candidate set —
    * value-identical semantics (see [[trimLocal]]/[[mergeMaxLocal]]). */
  private def beamSearchIndexed(spark: SparkSession, fr: GraphFrames,
                                buckets: Int, queries: DataFrame,
                                beam: Int, hops: Int, layer: Int = 0,
                                seed: Option[LocalBeam] = None): LocalBeam = {
    val q = broadcast(queries)
    // tombstones (deleteFromGraphIndex): drop deleted nodes from
    // seeds and candidate expansions BEFORE scoring — a masked hit
    // must never eat a rank slot. Broadcast-scale by the store's
    // delete contract; pre-r11 stores have no table → empty. The read
    // (one collect) lives in [[graphFrames]] — paid once per OPERATOR
    // call, not once per layer walk (round 15, guide §6).
    def live(df: DataFrame): DataFrame =
      if (!fr.hasDel) df
      else df.join(fr.del.select(col("id").as("node")), Seq("node"),
        "left_anti")
    def entrySeed(): LocalBeam = {
      val entries = broadcast(live(
        fr.entries.where(col("layer") === layer)))
      if (countCandidates)
        lastScored += queries.count() * entries.count()
      // one broadcast-join job; the per-query trim folds on the driver
      trimLocal(collectBeam(
        q.join(entries)
          .select(col("qid"), col("node"),
            round(graft.plans.native.cosineSim(col("nvec"), col("qvec")), 6)
              .as("sim"))), beam)
    }
    // a handed-down beam can be EMPTY (every top-layer entry seed
    // tombstoned, or a pre-re-clamp store whose top layer compacted
    // away): fall back to this layer's own entry seeds instead of
    // propagating the empty beam to layer 0 and returning zero rows
    // for every query — soft deletes degrade seeding, never
    // correctness (round-12 advice).
    var beamLoc: LocalBeam = seed.filter(_.nonEmpty).getOrElse(entrySeed())
    var h = 0
    // an empty beam stays empty through every remaining hop (the
    // round-15 joins produced empty frames); exit instead of running
    // empty jobs — same result
    while (h < hops && beamLoc.nonEmpty) {
      h += 1
      // the beam's bucket set is a driver map over the carried beam —
      // zero collect jobs (round 15 ran one per hop)
      val bks = bucketsOf(beamLoc.map(_._2), buckets)
      val srcDf = beamToDf(spark, beamLoc)
        .select(col("qid"), col("node").as("src"))
      val expanded = broadcast(srcDf)
        .join(fr.edges
          .where(col("layer") === layer && col("bucket").isin(bks: _*))
          .select(col("src"), col("dst")), Seq("src"))
        .select(col("qid"), col("dst").as("node"))
      if (capturePlans)
        lastHopPlan = expanded.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      // dedup + tombstone filter fold on the driver over the
      // ≤ queries·beam·k candidate pairs (was: distinct + anti-join +
      // localCheckpoint + a second bucket collect)
      val cand = expanded.collect().map(r => (r.getLong(0), r.getLong(1)))
        .distinct.filter(t => !fr.delIds.contains(t._2))
      if (countCandidates) lastScored += cand.length
      val scored: LocalBeam =
        if (cand.isEmpty) Array.empty
        else {
          import spark.implicits._
          val nbks = bucketsOf(cand.map(_._2), buckets)
          val candDf = cand.toSeq.toDF("qid", "node")
          val nodes = fr.nodes
            .where(col("bucket").isin(nbks: _*)) // partition pruning
            .select(col("id").as("node"), col("vec").as("nvec"))
          val scoredDf = broadcast(candDf)
            .join(nodes, Seq("node")).join(q, Seq("qid"))
            .select(col("qid"), col("node"),
              round(graft.plans.native.cosineSim(col("nvec"), col("qvec")), 6)
                .as("sim"))
          if (capturePlans)
            lastHopPlan += scoredDf.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          collectBeam(scoredDf)
        }
      beamLoc = trimLocal(mergeMaxLocal(beamLoc ++ scored), beam)
    }
    beamLoc
  }

  /** Greedy k-CENTER coreset selection (farthest-first traversal —
    * the 2-approximation of Gonzalez 1985, used as the coreset
    * data-selection recipe of Sener & Savarese, ICLR 2018): seed with
    * the smallest id, then k−1 times add the point FARTHEST (max over
    * rows of min over centers of cosine distance) from the current
    * centers — the diversity-maximizing subset that covers the
    * embedding space with k balls of minimal radius (within 2×).
    *
    * CACHED MIN-DISTANCE form (the standard O(k·n) greedy): the frame
    * carries a `dmin` column — each round folds in ONE cosine against
    * the newest center (`least(dmin, 1 − round(sim, 6))`, identical to
    * recomputing `1 − max sim` because round() distributes over max),
    * materialized under an eager localCheckpoint (pagerankIntRounds
    * pattern, previous round's blocks freed), then one TakeOrdered
    * argmax picks the farthest point — 2 O(n) jobs per pick instead of
    * the previous 3 jobs with an O(i·n) recompute against ALL prior
    * centers (O(k²·n) total; measured at sf0.01 k=12: 2.0 s → 1.1 s,
    * same rows). Picked rows leave the frame, so no exclusion-list
    * scan. Distances use 6-dp-rounded cosine (ties → smallest id) so
    * every pick replays bit-identically in the oracle. If k exceeds
    * the number of distinct vectors the result is short (all points),
    * not an error. Output: (rank 1..k, id, dist_micro = the pick's
    * distance to the centers before it; seed row carries 0). */
  def kCenterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"))
    val seedRow = base.orderBy(col("id").asc).limit(1).head()
    val seed = seedRow.getLong(0)
    var centerVec = seedRow.getSeq[Float](1)
    val out = scala.collection.mutable.ArrayBuffer((1L, seed, 0L))
    // dmin vs the seed only; later rounds fold in one least() each.
    var state = base.where(col("id") =!= seed)
      .withColumn("dmin", lit(1.0) -
        round(Vectors.cosine(col("vec"), typedLit(centerVec.toArray)), 6))
      .localCheckpoint(true)
    var i = 2
    var done = i > k
    while (!done) {
      val pick = state.orderBy(col("dmin").desc, col("id").asc)
        .limit(1).head(1).headOption
      pick match {
        case None => done = true // k > distinct vectors: short result
        case Some(row) =>
          val id = row.getLong(0)
          out += ((i.toLong, id, math.round(row.getDouble(2) * 1e6)))
          centerVec = row.getSeq[Float](1)
          i += 1
          if (i > k) done = true
          else {
            val prev = state
            state = state.where(col("id") =!= id)
              .withColumn("dmin", least(col("dmin"), lit(1.0) -
                round(Vectors.cosine(col("vec"),
                  typedLit(centerVec.toArray)), 6)))
              .localCheckpoint(true)
            graft.plans.Blocks.free(prev)
          }
      }
    }
    graft.plans.Blocks.free(state)
    out.toSeq.toDF("rank", "id", "dist_micro")
  }

  /** HARD-NEGATIVE mining for contrastive training (the DPR /
    * sentence-transformers recipe; Karpukhin et al., EMNLP 2020):
    * per anchor, the neighbors ranked `kLo`..`kHi` in the approximate
    * kNN graph — close enough to be informative, far enough to be
    * (presumed) non-positives. Rank 1..kLo−1 is reserved as the
    * presumed-positive band the caller filters against labels; the
    * band is exact within the graph ([[knnGraph]]'s deterministic
    * (sim desc, id asc) ranking). One graph pass, no extra shuffle
    * beyond the graph's own. Output: (query_id, neighbor_id, sim,
    * rank) with kLo ≤ rank ≤ kHi. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    kLo: Int, kHi: Int, c: Int = 16, nprobe: Int = 2,
                    portableHash: Boolean = false): DataFrame = {
    require(kLo >= 1 && kHi >= kLo, s"need 1 <= kLo <= kHi, got $kLo..$kHi")
    knnGraph(corpus, idCol, vecCol, kHi, c, nprobe, portableHash)
      .where(col("rank") >= kLo)
  }

  /** Margin-based neighbor scoring (Artetxe & Schwenk, ACL 2019 —
    * margin criterion for parallel-corpus mining with multilingual
    * sentence embeddings; public algorithm): per directed kNN edge
    * (x → y),
    *
    *   margin = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)
    *
    * — raw cosine corrected for HUBNESS: a vector whose whole
    * neighborhood is uniformly close (a hub / boilerplate embedding)
    * has a high denominator and scores low, while a genuinely
    * exceptional pair stands out. The standard mining criterion for
    * bitext pairs and the same correction SemDeDup-style pipelines
    * use to rank near-dup candidates.
    *
    * Built ON the [[knnGraph]] edges (one graph pass; margins for
    * pairs outside the kNN graph are by definition below their
    * endpoints' neighborhood average, so forward-kNN mining loses
    * nothing of rank ≤ k). Neighborhood sums ride integer micros
    * (sims are 6-dp rounded, so ×10⁶ is exact) — order-independent
    * exact longs; the margin is ONE fixed-order float expression over
    * them → bit-stable micros the oracle replays. Edges whose
    * neighbor has no neighborhood of its own (isolated cell) drop
    * with the inner join — no denominator, no margin.
    * Output: (query_id, neighbor_id, sim, rank, margin_micro). */
  def marginPairs(corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int, c: Int = 16, nprobe: Int = 2,
                  portableHash: Boolean = false): DataFrame = {
    val g = knnGraph(corpus, idCol, vecCol, k, c, nprobe, portableHash)
      .localCheckpoint(false)
    val simMicro = round(col("sim") * 1e6).cast("long")
    val deg = g.groupBy(col("query_id").as("id"))
      .agg(sum(simMicro).as("s"), count(lit(1)).as("n"))
    val margin = round(
      simMicro.cast("double") /
        ((col("s_q").cast("double") / col("n_q").cast("double") +
          col("s_n").cast("double") / col("n_n").cast("double")) / lit(2.0))
        * 1e6).cast("long")
    // deg is corpus-cardinality (one row per vector) — NOT broadcast;
    // both joins are keys-plus-two-longs shuffles on the id (AQE may
    // still broadcast at gate scale)
    g.join(deg.select(col("id").as("query_id"),
        col("s").as("s_q"), col("n").as("n_q")), Seq("query_id"))
      .join(deg.select(col("id").as("neighbor_id"),
        col("s").as("s_n"), col("n").as("n_n")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"),
        margin.as("margin_micro"))
  }

  /** Matryoshka-truncation retrieval audit (Kusupati et al. 2022,
    * "Matryoshka representation learning", arXiv:2205.13147): per
    * query, the exact cosine top-k under the FULL embedding vs under
    * its `prefixDims`-dimensional prefix, and the overlap — the
    * recall@k readout that decides how short MRL embeddings can be
    * truncated for the cheap first retrieval stage (prefix ANN +
    * full-dim rerank).
    *
    * Both rankings ride [[bruteForce]] (broadcast queries, bounded
    * TopK heaps, corpus never shuffles); truncation is an in-scan
    * `slice` projection. Deterministic: sims round to micros with id
    * tie-breaks before ranking, so the two top-k SETS — and therefore
    * the overlap count — replay exactly in any engine.
    *
    * Output: (query_id, k, hits) — hits = |full-top-k ∩ prefix-top-k|,
    * one row per query. */
  def matryoshkaRecall(corpus: DataFrame, idCol: String, vecCol: String,
                       queries: DataFrame, queryIdCol: String,
                       queryVecCol: String, k: Int,
                       prefixDims: Int): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    val full = bruteForce(corpus, idCol, vecCol,
      queries, queryIdCol, queryVecCol, k)
    val pre = bruteForce(
      corpus.select(col(idCol),
        slice(col(vecCol), 1, prefixDims).as(vecCol)),
      idCol, vecCol,
      queries.select(col(queryIdCol),
        slice(col(queryVecCol), 1, prefixDims).as(queryVecCol)),
      queryIdCol, queryVecCol, k)
    full.select(col("query_id"), col("neighbor_id"))
      .join(pre.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .select(col("query_id"), lit(k.toLong).as("k"), col("hits"))
  }
}
