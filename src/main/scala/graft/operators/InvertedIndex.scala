package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Overlap

/** Persisted inverted index with bucket-pruned BM25 search — the
  * build-once/query-many form of [[TextAnalytics.bm25Scores]] (which
  * re-scans the corpus per query), the same shift writeIvfIndex makes
  * over brute-force KNN: pay one indexing pass, then every search
  * reads only the term buckets it probes.
  *
  * Layout: `path/postings/bucket=<b>/` holds (term, doc_id, tf, dl,
  * df) rows partitioned by `bucket = pmod(xxhash64(term), buckets)`;
  * `path/_stats` holds one row (n_docs, total_tokens, buckets). The
  * per-doc length dl and per-term df are DENORMALIZED into the
  * postings (the classic search-engine trick: postings carry their
  * norms) so a search touches NOTHING but the probed buckets — no
  * side join against a corpus-scale lengths table, no second pass.
  * 8 extra bytes/posting buys a search plan whose bytes are
  * O(query-term postings), not O(corpus).
  *
  * At 100 TB: the build is two corpus shuffles (the (doc, term) TF
  * count and the term-keyed df join) done once; each bucket directory
  * is a hash slice of the VOCABULARY, so buckets stay balanced no
  * matter how skewed document lengths are (a hot term makes a big
  * bucket — raise `buckets` or split hot terms by doc-range within a
  * bucket; df stays correct since it rides each row). Search reads
  * ~|terms|/buckets of the index via parquet partition pruning
  * (PartitionFilters on bucket, spec-asserted), scores in one
  * projection, and cuts top-k with a bounded TakeOrdered — per-
  * partition truncation, no full sort, no window.
  */
object InvertedIndex {

  private def toks(textCol: String) =
    filter(graft.plans.native.wordShingles(col(textCol), 1), t => t =!= "")

  /** Build the index at `path` (overwrites). Tokenization matches
    * bm25Scores: lowercased whitespace tokens, empties dropped. */
  def write(df: DataFrame, idCol: String, textCol: String, path: String,
            buckets: Int = 256): Unit = {
    require(buckets >= 1, "buckets must be >= 1")
    val tk = df.select(col(idCol).as("doc_id"), toks(textCol).as("tk"))
    val lens = tk.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
    val postings = tk
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    // postings and _stats are independent writes — overlap (guide §2.6)
    Overlap.awaitAll(Seq(
      () => postings.join(dfreq, Seq("term"))
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets.toLong)))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings"),
      () => lens.agg(count(lit(1)).as("n_docs"),
          coalesce(sum("dl"), lit(0L)).as("total_tokens"),
          lit(buckets.toLong).as("buckets"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats")))
  }

  /** Character trigrams of a string column: substr positions 1 ..
    * len-2, empty for strings shorter than 3 (an explicit guard —
    * Spark's sequence(1, 0) DESCENDS rather than yielding empty). */
  private def charTrigrams(name: String) =
    when(length(col(name)) < 3, array().cast("array<string>"))
      .otherwise(expr(s"transform(sequence(1, length($name) - 2)," +
        s" i -> substr($name, i, 3))"))

  /** Build a TRIGRAM index for substring search — the pg_trgm idea
    * re-expressed as a bucket-partitioned postings table: every
    * distinct character 3-gram of each doc becomes a (trigram,
    * doc_id) row, partitioned by pmod(xxhash64(trigram), buckets).
    * This is what makes `WHERE contains(text, needle)` tractable at
    * 100 TB: the full-corpus scan becomes a read of the needle's
    * ~|needle| trigram buckets. Postings are O(total characters) —
    * the known, accepted pg_trgm cost, same class as the BM25
    * postings. */
  def writeTrigram(df: DataFrame, idCol: String, textCol: String,
                   path: String, buckets: Int = 64): Unit = {
    require(buckets >= 1, "buckets must be >= 1")
    import df.sparkSession.implicits._
    // trigram postings and _stats are independent writes — overlap
    Overlap.awaitAll(Seq(
      () => df.select(col(idCol).as("doc_id"),
          explode(array_distinct(charTrigrams(textCol))).as("tri"))
        .withColumn("bucket", pmod(xxhash64(col("tri")), lit(buckets.toLong)))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/trigrams"),
      () => Seq(buckets.toLong).toDF("buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats")))
  }

  /** Append new docs' trigram postings to an existing index — sound
    * WITHOUT rebuild because trigram postings carry no corpus-level
    * stats (unlike the BM25 postings, whose denormalized df/avgdl go
    * stale on append and need a rebuild): search semantics are
    * per-doc set membership, so old and new postings just coexist in
    * the same bucket directories. Caller owns id uniqueness across
    * batches (duplicate ids would double-count toward the
    * all-trigrams candidate test). */
  def appendTrigram(df: DataFrame, idCol: String, textCol: String,
                    path: String): Unit = {
    val spark = df.sparkSession
    val buckets = spark.read.parquet(s"$path/_stats").head().getLong(0)
    df.select(col(idCol).as("doc_id"),
        explode(array_distinct(charTrigrams(textCol))).as("tri"))
      .withColumn("bucket", pmod(xxhash64(col("tri")), lit(buckets)))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/trigrams")
  }

  /** Exact substring search through the trigram index: candidate docs
    * are those containing EVERY trigram of the needle (a guaranteed
    * SUPERSET of true matches — a substring occurrence contains all
    * its trigrams; contiguity is what the candidates can lie about),
    * then one verification semi-join + `contains` filter against the
    * corpus makes the result EXACTLY equal to the direct
    * `corpus.where(contains(text, needle))` scan. The index read
    * touches only the needle's trigram buckets (PartitionFilters,
    * spec-asserted) and stays keys-only until the final semi-join;
    * the corpus is touched only for candidate rows. Needles shorter
    * than 3 chars have no trigrams — fall back to the direct scan. */
  def searchSubstring(spark: SparkSession, path: String, corpus: DataFrame,
                      idCol: String, textCol: String,
                      needle: String): DataFrame = {
    require(needle.length >= 3,
      "needle must be >= 3 chars (shorter: scan directly)")
    val buckets = spark.read.parquet(s"$path/_stats").head().getLong(0)
    val tris = needle.sliding(3).toSeq.distinct
    import spark.implicits._
    val bks = tris.toDF("tri")
      .select(pmod(xxhash64(col("tri")), lit(buckets)).as("b"))
      .collect().map(_.getLong(0)).distinct.toSeq
    val candidates = spark.read.parquet(s"$path/trigrams")
      .where(col("bucket").isin(bks: _*) && col("tri").isin(tris: _*))
      .groupBy("doc_id").agg(count_distinct(col("tri")).as("n"))
      .where(col("n") === tris.size)
      .select(col("doc_id").as(idCol))
    corpus.join(candidates, Seq(idCol), "left_semi")
      .where(col(textCol).contains(needle))
  }

  /** Positional postings index — the third index sibling: BM25 ranks
    * bags of words, trigrams answer substrings, POSITIONS answer
    * exact multi-word PHRASES without a corpus scan. Layout:
    * `path/postings/bucket=<b>/` rows (term, doc_id, positions
    * ARRAY<pos>) partitioned by `bucket = pmod(xxhash64(term),
    * buckets)`; `path/_stats` one row (buckets). Tokenization matches
    * the BM25 index (lowercase, \s+ split, empties dropped), so a
    * position is an index into that token list.
    *
    * Build is one corpus shuffle (the (doc, term) positions collect);
    * postings are vocabulary-hash-sliced like the BM25 layout, so
    * bucket balance follows the vocabulary, not document skew. */
  def writePositional(df: DataFrame, idCol: String, textCol: String,
                      path: String, buckets: Int = 64): Unit = {
    require(buckets >= 1, "buckets must be >= 1")
    import df.sparkSession.implicits._
    // positional postings and _stats are independent writes — overlap
    // (round 16, guide §2.6: the same discipline write/writeTrigram
    // already apply; the tiny _stats commit hides under the postings
    // shuffle's tail)
    Overlap.awaitAll(Seq(
      () => df.select(col(idCol).as("doc_id"),
          posexplode(toks(textCol)).as(Seq("pos", "term")))
        .groupBy("doc_id", "term")
        .agg(sort_array(collect_list("pos")).as("positions"))
        .withColumn("bucket",
          pmod(xxhash64(col("term")), lit(buckets.toLong)))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings"),
      () => Seq(buckets.toLong).toDF("buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats")))
  }

  /** Exact phrase search through the positional index: for phrase
    * tokens t₀..t_{m−1}, a doc matches at anchor p iff every tᵢ has
    * a posting at p+i — the classic position-intersection, expressed
    * relationally: each (term, offset) pair explodes its positions
    * SHIFTED by −offset, and an (doc, anchor) cell holding all m
    * offsets is one occurrence. Reads only the probed buckets
    * (partition pruning, the searchBm25 posture); repeated phrase
    * terms are handled (each offset counts separately). EXACTLY
    * equals the direct scan's whitespace-token phrase count.
    * Output: (doc_id, n_occurrences), matches only. */
  def searchPhrase(spark: SparkSession, path: String,
                   phrase: String): DataFrame = {
    val terms = phrase.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    require(terms.size >= 2, "phrase must have >= 2 tokens")
    val buckets = spark.read.parquet(s"$path/_stats").head().getLong(0)
    import spark.implicits._
    val offsets = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }
    val distinctTerms = terms.distinct
    val bks = distinctTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(buckets)).as("b"))
      .collect().map(_.getLong(0)).distinct.toSeq
    val posts = spark.read.parquet(s"$path/postings")
      .where(col("bucket").isin(bks: _*) &&
        col("term").isin(distinctTerms: _*))
    posts.join(broadcast(offsets.toDF("term", "off")), Seq("term"))
      .select(col("doc_id"), col("off"),
        explode(col("positions")).as("p"))
      .select(col("doc_id"), (col("p") - col("off")).as("anchor"),
        col("off"))
      .groupBy("doc_id", "anchor")
      .agg(count_distinct(col("off")).as("n"))
      .where(col("n") === lit(offsets.size.toLong))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
  }

  /** Top-`k` docs by BM25 over the query `terms`, reading ONLY the
    * buckets those terms hash into. Scores are integer MICRO-units
    * with bm25Scores' exact operation order (same oracle replay);
    * only docs matching >= 1 term appear; ties cut by doc_id asc.
    * Output: (rank, doc_id, score_micro). */
  def searchBm25(spark: SparkSession, path: String, terms: Seq[String],
                 k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k >= 1, "k must be >= 1")
    val st = spark.read.parquet(s"$path/_stats").head()
    val n = st.getLong(st.fieldIndex("n_docs"))
    val buckets = st.getLong(st.fieldIndex("buckets"))
    require(n > 0, "empty index")
    val avgdl = st.getLong(st.fieldIndex("total_tokens")).toDouble / n
    val termsL = terms.map(_.toLowerCase).distinct
    // bucket ids via the SAME Spark expression the writer used —
    // metadata-scale local evaluation, no engine drift
    import spark.implicits._
    val bks = termsL.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(buckets)).as("b"))
      .collect().map(_.getLong(0)).distinct.toSeq
    val post = spark.read.parquet(s"$path/postings")
      .where(col("bucket").isin(bks: _*) && col("term").isin(termsL: _*))
    val idf = log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") + lit(k1) *
      (lit(1.0 - b) + lit(b) * (col("dl") / lit(avgdl)))
    val pairMicro = round(lit(1e6) *
      (idf * ((col("tf") * lit(k1 + 1.0)) / denom))).cast("long")
    val scored = post.select(col("doc_id"), pairMicro.as("m"))
      .groupBy("doc_id").agg(sum("m").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    // row_number over the <= k collected rows — metadata-scale window
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("score_micro"))
  }

  /** Roaring-style bitmap index over a low-cardinality column: one row
    * per (value, word_idx) holding a 32-bit membership word (packed in
    * a BIGINT — bit b set ⇔ row id word_idx·32 + b carries the value).
    * The set-algebra primitive behind fast categorical filters: AND/OR
    * two values' bitmaps word-by-word with an equi-join on word_idx
    * instead of re-scanning rows, cardinality via bit_count.
    *
    * 32-bit words in a 64-bit lane keep every word positive — no
    * sign-bit shifts, so the arithmetic replays identically on any
    * engine. One map-side-combined aggregate on (value, word_idx);
    * ids must be non-negative. Output: (value, word_idx, word, bits)
    * with bits = popcount(word). */
  def bitmapIndex(df: DataFrame, idCol: String, valCol: String): DataFrame = {
    val id = col(idCol).cast("long")
    df.where(id >= 0 && col(valCol).isNotNull)
      .select(col(valCol).cast("string").as("value"),
        shiftrightunsigned(id, 5).as("word_idx"),
        pmod(id, lit(32L)).cast("int").as("__sh"))
      .select(col("value"), col("word_idx"),
        expr("shiftleft(1L, __sh)").as("bit"))
      .groupBy("value", "word_idx")
      .agg(bit_or(col("bit")).as("word"))
      .withColumn("bits", bit_count(col("word")).cast("long"))
  }

  /** Set algebra over a [[bitmapIndex]]: exact |A∩B|, |A∪B|, and
    * Jaccard micros for every value pair, computed word-by-word with
    * ONE equi-join on word_idx — never a rescan of the indexed rows.
    * AND popcounts come from the shared-word join; OR is derived
    * exactly as |A| + |B| − |A∩B| from the per-value totals (a word
    * present on one side only can contribute nothing to AND, so the
    * inner join loses nothing). The pair spine is the value domain
    * crossed with itself (categorical-scale, broadcast), so
    * non-overlapping pairs still emit with n_and = 0. Jaccard by
    * integer division (non-negative); NULL when both sides are empty.
    * Output: (value_a, value_b, n_and, n_or, jaccard_micro),
    * value_a < value_b. */
  def bitmapAlgebra(index: DataFrame): DataFrame = {
    val totals = index.groupBy("value").agg(sum("bits").as("tot"))
    val spine = totals.select(col("value").as("value_a"),
        col("tot").as("tot_a"))
      .crossJoin(broadcast(totals.select(col("value").as("value_b"),
        col("tot").as("tot_b"))))
      .where(col("value_a") < col("value_b"))
    val a = index.select(col("value").as("value_a"), col("word_idx"),
      col("word").as("wa"))
    val b = index.select(col("value").as("value_b"), col("word_idx"),
      col("word").as("wb"))
    val ands = a.join(b, Seq("word_idx"))
      .where(col("value_a") < col("value_b"))
      .groupBy("value_a", "value_b")
      .agg(sum(bit_count(col("wa").bitwiseAND(col("wb"))).cast("long"))
        .as("n_and"))
    spine.join(ands, Seq("value_a", "value_b"), "left")
      .select(col("value_a"), col("value_b"),
        coalesce(col("n_and"), lit(0L)).as("n_and"),
        (col("tot_a") + col("tot_b")
          - coalesce(col("n_and"), lit(0L))).as("n_or"))
      .select(col("value_a"), col("value_b"), col("n_and"), col("n_or"),
        when(col("n_or") > 0, expr("(n_and * 1000000L) div n_or"))
          .as("jaccard_micro"))
  }

  /** Exact distinct ids per key through the bitmap lane — the scale
    * alternative to count_distinct when ids repeat heavily: the
    * shuffle carries (key, word_idx) cells (ids/32 words, deduped
    * map-side by the partial bit_or) instead of every raw id, then
    * popcounts sum per key. Same contract as [[bitmapIndex]]: ids
    * non-negative. Output: (key, n_distinct). */
  def bitmapDistinct(df: DataFrame, keyCol: String,
                     idCol: String): DataFrame =
    bitmapIndex(df, idCol, keyCol)
      .groupBy(col("value").as("key"))
      .agg(sum("bits").as("n_distinct"))
}
