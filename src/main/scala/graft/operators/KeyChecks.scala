package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks mirroring the reference's integrity gate
  * (ref: /root/reference/R/ffiec_manifest.R:378 check_pk_and_non_null,
  * /root/reference/R/ffiec_make_long_pqs.R:131 assert_no_dups).
  *
  * Both checks are single-shuffle aggregations that only materialize
  * violations (usually zero rows), so they are safe to run inline in a
  * 100 TB pipeline; the NULL scan is one pass with map-side partial
  * counts (no shuffle of data rows at all).
  */
object KeyChecks {

  private val jobGroupSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `body` over `items` on a bounded thread pool, each branch
    * tagged with a shared Spark JOB GROUP. Unlike a bare
    * `Await.result(…, Duration.Inf)` per future (the round-8 form):
    * (a) the wait is FINITE — a wedged executor surfaces as a
    * TimeoutException instead of hanging the driver thread forever —
    * and (b) on ANY failure (timeout or a failed branch) the whole
    * job group is cancelled (`interruptOnCancel`), so sibling futures
    * stop submitting work instead of racing on after
    * `pool.shutdown()`. Used by [[compositeKeys]] / [[inclusionDeps]];
    * `Future.sequence` fails fast on the first error. */
  private def runBoundedJobs[A, B](
      spark: org.apache.spark.sql.SparkSession, items: Seq[A],
      parallelism: Int,
      timeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(1, "hour"))(
      body: A => B): Seq[B] = {
    val sc = spark.sparkContext
    val groupId = s"graft-keychecks-${jobGroupSeq.incrementAndGet()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, items.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val fs = items.map { a =>
        scala.concurrent.Future {
          sc.setJobGroup(groupId, groupId, interruptOnCancel = true)
          try body(a) finally sc.clearJobGroup()
        }
      }
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs), timeout)
      catch {
        case e: Throwable =>
          sc.cancelJobGroup(groupId)
          throw e
      }
    } finally pool.shutdown()
  }

  /** Duplicate key groups: rows per `cols` combination having count>1. */
  def pkViolations(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1)

  /** Per-column NULL counts in long form (column, n_na), only columns
    * with at least one NULL. One job, one row of partial aggregates. */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val counted = df.select(
      cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(c)): _*)
    counted
      .unpivot(Array.empty, cols.map(col).toArray, "column", "n_na")
      .where(col("n_na") > 0)
  }

  /** True iff `cols` form a non-NULL primary key of `df`. Both verdicts
    * come from one aggregation (one SQL execution, one row collected):
    * key groups with more than one row, and key groups with a NULL key
    * part — a NULL key part reaches every row of its group. */
  def checkPkAndNonNull(df: DataFrame, cols: Seq[String]): Boolean = {
    val verdict = df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(
        count(when(col("n") > 1, 1)).as("dups"),
        count(when(cols.map(c => col(c).isNull).reduce(_ || _), 1)).as("nulls"))
      .head()
    verdict.getLong(0) == 0 && verdict.getLong(1) == 0
  }

  /** Throw if duplicates exist on the key (the reference's hard gate
    * before writing long parquet). */
  def assertNoDups(df: DataFrame, cols: Seq[String]): Unit =
    requireNoDups(pkViolations(df, cols).count(), cols)

  /** The duplicate-key verdict for `n` duplicate key groups on `cols`,
    * shared by [[assertNoDups]] and gates that count the groups on
    * their own pass (FfiecPipeline's long write). */
  def requireNoDups(n: Long, cols: Seq[String]): Unit =
    require(n == 0, s"Found $n duplicate key groups on {${cols.mkString(", ")}}")

  /** ANALYZE-style column profile in ONE corpus pass: for each listed
    * column — rows, nulls, exact distincts, min/max (rendered as
    * strings so heterogeneous columns share one long schema). The
    * multi-COUNT(DISTINCT) plans as the q43 Expand (a cols× row
    * multiplier before the partial aggregate — the standard price of
    * one-pass multi-distinct); at 100 TB swap `exact = false` to get
    * HLL approx_count_distinct and a plain single aggregate. min/max
    * string rendering is engine-portable for int/string/date columns
    * (floats format differently across engines — profile those via a
    * decimal cast). Output: (col_name, n_rows, n_null, n_distinct,
    * min_val, max_val), one row per column. */
  /** Key-skew report — the "measure before you salt" companion to
    * [[Sampling.saltedAgg]] and AQE skew-join tuning: the `topK`
    * heaviest values of a join/aggregation key with each one's share
    * of the table in integer micro-units. A 900000-micro top key says
    * "salt this or let AQE split it"; a flat report says the plain
    * hash partition is fine. One keyed count (map-side partial) →
    * bounded TakeOrdered for the top-K (no full sort) → one collected
    * scalar for the total; key cardinality never hits the driver.
    * Output: (key string, n_rows, share_micro, rank). */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK > 0, "topK must be positive")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum("n_rows")).head().getLong(0)
    counts.orderBy(col("n_rows").desc, col("key").asc).limit(topK)
      .withColumn("share_micro",
        expr(s"(n_rows * 1000000) div ${math.max(1L, total)}L"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_rows").desc, col("key").asc)).cast("long"))
  }

  /** Snapshot drift report — the data-quality regression alarm
    * between two versions of the same table (yesterday's crawl shard
    * vs today's, pre- vs post-migration): per column, both sides'
    * [[analyze]] stats joined with integer deltas and min/max change
    * flags. A pipeline asserts on this output (row_delta bounds,
    * null_delta == 0, distinct drift %) instead of eyeballing
    * dashboards. Two single-pass aggregates (one per snapshot,
    * metadata-scale output) + a |cols|-row join — corpus size only
    * enters through the scans. */
  def statsDrift(a: DataFrame, b: DataFrame, cols: Seq[String],
                 exact: Boolean = true): DataFrame = {
    val sa = analyze(a, cols, exact)
    val sb = analyze(b, cols, exact)
    def side(df: DataFrame, s: String) = df.select(
      col("col_name"),
      col("n_rows").as(s"n_rows_$s"), col("n_null").as(s"n_null_$s"),
      col("n_distinct").as(s"n_distinct_$s"),
      col("min_val").as(s"min_$s"), col("max_val").as(s"max_$s"))
    side(sa, "a").join(side(sb, "b"), Seq("col_name"))
      .select(col("col_name"),
        col("n_rows_a"), col("n_rows_b"),
        (col("n_rows_b") - col("n_rows_a")).as("row_delta"),
        col("n_null_a"), col("n_null_b"),
        (col("n_null_b") - col("n_null_a")).as("null_delta"),
        col("n_distinct_a"), col("n_distinct_b"),
        (col("n_distinct_b") - col("n_distinct_a")).as("distinct_delta"),
        (!(col("min_b") <=> col("min_a"))).as("min_changed"),
        (!(col("max_b") <=> col("max_a"))).as("max_changed"))
  }

  /** Row-level snapshot diff — [[statsDrift]]'s per-row sibling:
    * WHICH ids were added, removed, or content-changed between two
    * versions of a table (yesterday's crawl vs today's), the
    * incremental-ingest planner's input (re-embed/re-dedup only the
    * `added`+`changed` slice instead of the full corpus).
    *
    * Each side reduces to (id, md5-of-content) BEFORE the join — the
    * full-outer join ships 16-byte digests, never the payload, and is
    * id-co-keyed (one shuffle per side, AQE-balanced). `unchanged`
    * rows — the overwhelming bulk of a healthy snapshot pair — are
    * filtered before anything leaves the join, so output is
    * change-scale, not corpus-scale. The digest never crosses engines
    * (status is derived in-engine), so only injectivity matters, not
    * digest equality. NULL content cells are skipped by concat_ws on
    * both engines; a NULL↔'' flip therefore reads as `unchanged` —
    * normalize upstream if that distinction is load-bearing.
    * Output: (id, status in added|removed|changed). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "contentCols must be non-empty")
    def digest(df: DataFrame, hc: String) = df.select(col(idCol).as("id"),
      md5(concat_ws("\u0001", contentCols.map(col): _*)).as(hc))
    digest(oldDf, "h_old").join(digest(newDf, "h_new"), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
      .where(col("status") =!= "unchanged")
  }

  /** Equal-width histogram of a numeric column — the profiling
    * complement to [[Sampling.quantiles]] (equal-frequency): `bins`
    * fixed-width buckets over [min, max] with exact counts, the
    * distribution-shape report behind outlier screens and binning
    * decisions. Values are scaled to integers (round(v·scale)) FIRST,
    * so bin assignment is pure integer arithmetic — ((v - min) · bins)
    * div (range + 1) — and replays exactly across engines (the q135
    * micro-unit discipline; `scale` = 100 for 2-dp money columns, 1e6
    * for generic doubles). One metadata-scale min/max aggregate
    * (collected, inlined as plan literals) + one map-side-combined
    * count per bin; NULLs are dropped. Output: (bin, n_rows); empty
    * bins emit no row (join against sequence(0, bins-1) to densify). */
  def histogram(df: DataFrame, valueCol: String, bins: Int,
                scale: Long = 1000000L): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    require(scale >= 1, "scale must be >= 1")
    val v = round(col(valueCol).cast("double") * lit(scale.toDouble)).cast("long")
    val mm = df.where(col(valueCol).isNotNull)
      .agg(min(v).as("mn"), max(v).as("mx")).head()
    if (mm.isNullAt(0))
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("bin"), lit(0L).as("n_rows")).limit(0)
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    df.where(col(valueCol).isNotNull)
      .select(v.as("__v"))
      .select(expr(s"((__v - ${mn}L) * ${bins}L) div ${mx - mn + 1}L").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_rows"))
  }

  /** Referential-integrity orphans: child rows whose foreign key has
    * no matching parent key, grouped by the dangling value — the
    * cross-table sibling of [[pkViolations]] (a broken ingest usually
    * shows up as a block of FK values, not scattered rows, so the
    * grouped report is the actionable one). One key-co-keyed LEFT ANTI
    * join (parent side prunes to its key column; AQE broadcasts a
    * dimension-scale parent) + a map-side-combined count. NULL foreign
    * keys are excluded (SQL semantics: NULL matches nothing, but it is
    * a [[nullCounts]] finding, not an orphan). Output: (fk value
    * column named after `childKey`, n_rows). */
  def fkOrphans(child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame =
    child.where(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey), "left_anti")
      .groupBy(childKey).agg(count(lit(1)).as("n_rows"))

  def analyze(df: DataFrame, cols: Seq[String],
              exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "analyze needs at least one column")
    val aggs = count(lit(1)).as("__n_rows") +: cols.flatMap { c =>
      Seq(
        sum(col(c).isNull.cast("long")).as(s"__null__$c"),
        (if (exact) count_distinct(col(c))
         else approx_count_distinct(col(c))).as(s"__dist__$c"),
        min(col(c)).cast("string").as(s"__min__$c"),
        max(col(c)).cast("string").as(s"__max__$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("__n_rows").as("n_rows"),
        col(s"__null__$c").as("n_null"),
        col(s"__dist__$c").as("n_distinct"),
        col(s"__min__$c").as("min_val"),
        col(s"__max__$c").as("max_val"))): _*)).as("s"))
      .select(col("s.*"))
  }

  /** Functional-dependency audit: groups of `lhs` whose `rhs` takes
    * more than one value — the violations of the dependency lhs → rhs
    * (schema-inference and silver-layer conformance checks run exactly
    * this). Emits one row per violating lhs group with the row count,
    * the number of distinct rhs values, and the min/max offending rhs
    * as witness examples.
    *
    * Shape: a single exact-distinct aggregation (two shuffles on lhs —
    * Spark expands count_distinct; violations-only output is usually
    * tiny). No row data beyond (lhs, rhs) ever shuffles. */
  def fdViolations(df: DataFrame, lhs: Seq[String], rhs: String): DataFrame = {
    require(lhs.nonEmpty, "fdViolations needs at least one lhs column")
    df.groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col(rhs)).as("n_distinct_rhs"),
        min(col(rhs)).cast("string").as("rhs_min"),
        max(col(rhs)).cast("string").as("rhs_max"))
      .where(col("n_distinct_rhs") > 1)
  }

  /** Pearson chi-square contingency table between two categorical
    * columns — the dependence screen feature-selection and drift
    * checks start from. Emits the full cell table: observed count,
    * expected count (micro-scaled), and the cell's chi-square
    * contribution (micro-scaled), plus the row/col totals the caller
    * needs for degrees of freedom.
    *
    * Exactness discipline: expected = rowTot·colTot/N and the
    * contribution (o·N − rowTot·colTot)²·1e6 / (rowTot·colTot·N) are
    * evaluated as integer-exact DECIMAL(38,0) ratios with floor
    * division — no float accumulation, so any engine replays the
    * numbers bit-identically (the cross-product trick
    * [[Stats.ksFromCounts]] uses). The numerator (o·N − rt·ct)²·1e6
    * stays within DECIMAL(38) up to ~10¹⁵ rows.
    *
    * Shape: one groupBy (a,b) for cells, two keys-only re-aggregations
    * for the margins, broadcast-joined back (margins are
    * cardinality(a)+cardinality(b) rows). */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rowTot = cells.groupBy("a").agg(sum("o").as("row_total"))
    val colTot = cells.groupBy("b").agg(sum("o").as("col_total"))
    val n = cells.groupBy().agg(sum("o").as("n"))
    // `div` (IntegralDivide) on DECIMAL operands returns the exact
    // integral quotient as BIGINT — decimal `/` would round HALF_UP at
    // its result scale BEFORE a floor() could run, off-by-one on
    // quotients like 4.9999999. All quantities are non-negative so
    // truncation == floor; DuckDB's HUGEINT `//` replays it.
    val out = cells
      .join(broadcast(rowTot), Seq("a"))
      .join(broadcast(colTot), Seq("b"))
      .crossJoin(broadcast(n))
      .withColumn("__dev",
        col("o").cast(dec) * col("n").cast(dec) -
          col("row_total").cast(dec) * col("col_total").cast(dec))
      .withColumn("__eNum",
        col("row_total").cast(dec) * col("col_total").cast(dec) *
          lit(1000000L).cast(dec))
      .withColumn("__cNum", col("__dev") * col("__dev") * lit(1000000L).cast(dec))
      .withColumn("__cDen",
        col("row_total").cast(dec) * col("col_total").cast(dec) *
          col("n").cast(dec))
      .select(col("a"), col("b"), col("o"), col("row_total"), col("col_total"),
        expr("CAST((__eNum div n) AS BIGINT)").as("e_micro"),
        expr("CAST((__cNum div __cDen) AS BIGINT)").as("contrib_micro"))
    // cell table is cardinality(a)×cardinality(b) — materialize the
    // (equally small) result, then release the intermediate cache
    val cached = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    cells.unpersist(false)
    cached
  }

  /** Add-one-smoothed categorical KL divergence D(a ‖ b) over a
    * column's value distribution, emitted as the per-value term table
    * (the drift diagnosis wants WHICH values moved, not just the
    * total — Σ kl_term_micro is the statistic). The classic
    * mixture-shift screen between two corpus snapshots.
    *
    * Smoothing: p = (c + 1)/(N + V) over the UNION domain (V values),
    * so absent values are defined on both sides and the divergence is
    * finite. Counts are exact long aggregates; the float term
    * p_a·ln(p_a/p_b) runs per value-row in the FIXED order
    * ((c_a+1)/(N_a+V)) / ((c_b+1)/(N_b+V)) — the [[Stats.giniByKey]]
    * replay discipline; ln is the one libm call, same as the green
    * PMI/DSIR gates. The three totals (N_a, N_b, V) are driver
    * scalars embedded as plan literals.
    *
    * Shape: one groupBy per side (keys only), a value-keyed full
    * outer join at domain scale. Output: (v, c_a, c_b,
    * kl_term_micro) — micro-nats. */
  def categoricalKl(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val ca = a.groupBy(col(valueCol).cast("string").as("v"))
      .agg(count(lit(1)).as("c_a"))
    val cb = b.groupBy(col(valueCol).cast("string").as("v"))
      .agg(count(lit(1)).as("c_b"))
    val joined = ca.join(cb, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = joined.agg(sum("c_a"), sum("c_b"), count(lit(1))).head()
    val (na, nb, vCard) = (totals.getLong(0), totals.getLong(1), totals.getLong(2))
    val pa = (col("c_a").cast("double") + lit(1.0)) / lit((na + vCard).toDouble)
    val pb = (col("c_b").cast("double") + lit(1.0)) / lit((nb + vCard).toDouble)
    val out = joined.select(col("v"), col("c_a"), col("c_b"),
      round(lit(1e6) * pa * log(pa / pb)).cast("long").as("kl_term_micro"))
    val cached = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    joined.unpersist(false)
    cached
  }

  /** Jensen–Shannon divergence between two categorical distributions,
    * reported as per-value terms (Σ = JS in nats·10⁻⁶) —
    * [[categoricalKl]]'s SYMMETRIC, always-finite sibling (KL needs
    * smoothing to survive a zero; JS's mixture M = (P+Q)/2 absorbs
    * zeros by the 0·ln 0 = 0 limit, so probabilities here are the
    * raw unsmoothed counts). Per value v:
    *   term = ½·p_a·ln(p_a/m) + ½·p_b·ln(p_b/m),  m = (p_a+p_b)/2
    * with each half dropped when its count is zero. Counts exact
    * (full-outer join of two map-side-combined aggregates); the term
    * is ONE fixed-order float expression over identical integers →
    * bit-stable micros. Output: (v, c_a, c_b, js_term_micro). */
  def jsDivergenceCells(a: DataFrame, b: DataFrame,
                        valueCol: String): DataFrame = {
    val ca = a.groupBy(col(valueCol).cast("string").as("v"))
      .agg(count(lit(1)).as("c_a"))
    val cb = b.groupBy(col(valueCol).cast("string").as("v"))
      .agg(count(lit(1)).as("c_b"))
    val joined = ca.join(cb, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = joined.agg(
      coalesce(sum("c_a"), lit(0L)), coalesce(sum("c_b"), lit(0L))).head()
    val (na, nb) = (totals.getLong(0), totals.getLong(1))
    val pa = col("c_a").cast("double") / lit(math.max(1L, na).toDouble)
    val pb = col("c_b").cast("double") / lit(math.max(1L, nb).toDouble)
    val m = (pa + pb) / lit(2.0)
    val term =
      when(col("c_a") > 0, pa * log(pa / m)).otherwise(lit(0.0)) * lit(0.5) +
      when(col("c_b") > 0, pb * log(pb / m)).otherwise(lit(0.0)) * lit(0.5)
    val out = joined.select(col("v"), col("c_a"), col("c_b"),
      round(term * 1e6).cast("long").as("js_term_micro"))
    val cached = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    joined.unpersist(false)
    cached
  }

  /** Mutual information between two categorical columns, reported as
    * per-cell terms (Σ = MI in nats·10⁻⁶) — the dependence screen
    * beside [[chiSquareCells]]'s deviation view: does `source` carry
    * information about `lang`? All counts exact ((a, b) cells +
    * broadcast margins — the chiSquareCells shuffle shape); the term
    *   (c_ab/N)·ln(c_ab·N / (c_a·c_b))
    * is ONE fixed-order float expression per cell over identical
    * integers → bit-stable micros. Only observed cells emit (absent
    * cells contribute 0 to MI by limit). Output: (a, b, c_ab, c_a,
    * c_b, n, mi_term_micro). */
  def mutualInformationCells(df: DataFrame, aCol: String,
                             bCol: String): DataFrame = {
    val base = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
    val cells = base.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ma = cells.groupBy("a").agg(sum("c_ab").as("c_a"))
    val mb = cells.groupBy("b").agg(sum("c_ab").as("c_b"))
    val n = cells.agg(sum("c_ab")).head().getLong(0)
    def d(c: String) = col(c).cast("double")
    val term = (d("c_ab") / lit(n.toDouble)) *
      log(d("c_ab") * lit(n.toDouble) / (d("c_a") * d("c_b")))
    val out = cells
      .join(broadcast(ma), Seq("a"))
      .join(broadcast(mb), Seq("b"))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        lit(n).as("n"),
        round(term * 1e6).cast("long").as("mi_term_micro"))
    val cached = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    cells.unpersist(false)
    cached
  }

  /** Theil's uncertainty coefficient U(a|b) (Theil 1970) — the
    * NORMALIZED, asymmetric readout over [[mutualInformationCells]]:
    * U = I(a;b)/H(a) ∈ [0,1], "what fraction of a's uncertainty does
    * knowing b remove?" — unlike raw MI it is comparable across
    * features, the standard feature-association screen in profiling
    * suites. Per-cell MI terms and per-margin entropy terms each
    * micro-round in one fixed float order and integer-sum (the
    * q199/ljungBox discipline), then one division. Output: one row
    * (n, mi_micro, h_a_micro, u_micro — NULL when H(a) = 0), ALWAYS
    * one row — empty/all-null input returns (0, 0, 0, NULL). */
  def theilU(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
    val cells = base.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(false)
    val ma = cells.groupBy("a").agg(sum("c_ab").as("c_a"))
      .localCheckpoint(false)
    val mb = cells.groupBy("b").agg(sum("c_ab").as("c_b"))
    val n = cells.agg(coalesce(sum("c_ab"), lit(0L))).head().getLong(0)
    if (n == 0) {
      // Empty input still honors the one-row contract (round-9
      // advice: .limit(0) broke callers doing .head() on the
      // documented single row): n=0, zero MI/entropy, NULL U.
      val spark = df.sparkSession
      import spark.implicits._
      return Seq((0L, 0L, 0L, Option.empty[Long]))
        .toDF("n", "mi_micro", "h_a_micro", "u_micro")
    }
    def d(c: String) = col(c).cast("double")
    val miT = round((d("c_ab") / lit(n.toDouble)) *
      log(d("c_ab") * lit(n.toDouble) / (d("c_a") * d("c_b"))) * 1e6)
      .cast("long")
    val mi = cells
      .join(broadcast(ma), Seq("a"))
      .join(broadcast(mb), Seq("b"))
      .agg(coalesce(sum(miT), lit(0L)).as("mi_micro"))
    val haT = round((d("c_a") / lit(n.toDouble)) *
      log(lit(n.toDouble) / d("c_a")) * 1e6).cast("long")
    val ha = ma.agg(coalesce(sum(haT), lit(0L)).as("h_a_micro"))
    mi.crossJoin(ha)
      .select(lit(n).as("n"), col("mi_micro"), col("h_a_micro"),
        when(col("h_a_micro") > 0,
          round(col("mi_micro").cast("double")
            / col("h_a_micro").cast("double") * 1e6).cast("long"))
          .as("u_micro"))
  }

  /** Declarative expectation-suite audit — the "great-expectations"
    * contract check a pipeline runs before publishing a table: each
    * rule is a (name, predicate Column) pair that every row SHOULD
    * satisfy; the audit returns, per rule, the total row count, the
    * violation count (predicate false OR NULL — an unevaluable rule
    * is a violation, not a pass), and the violation rate in integer
    * micros. ALL rules evaluate in ONE scan (a single aggregate of
    * conditional sums — no per-rule passes, no shuffle beyond the
    * one-row aggregate), so auditing 50 rules costs the same scan as
    * auditing one. Output: (rule, n, n_violations, rate_micro),
    * one row per rule in the given order. */
  def ruleAudit(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val spark = df.sparkSession
    import spark.implicits._
    // coalesce: sum over an empty input is NULL — getLong would NPE.
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case ((_, pred), i) =>
        coalesce(sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)),
          lit(0L)).as(s"__v$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    rules.zipWithIndex.map { case ((name, _), i) =>
      val v = row.getLong(i + 1)
      (name, n, v, if (n > 0) v * 1000000L / n else 0L)
    }.toDF("rule", "n", "n_violations", "rate_micro")
  }

  /** Candidate-key discovery across a column list — the schema-
    * inference step before declaring primary keys or bucketing
    * layouts: per column, exact distinct count, null count, and
    * whether it is a candidate key (distinct == rows with zero
    * nulls). All columns profile in ONE aggregate (Spark expands a
    * multi-count-distinct into one grouped pass — column-count
    * bounded, never a per-column scan). Output: (column, n,
    * n_distinct, n_nulls, is_key), one row per input column in the
    * given order. */
  def candidateKeys(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    // coalesce: sum over an empty input is NULL — getLong would NPE.
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(count_distinct(col(c)).as(s"__d_$c"),
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"__m_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    cols.zipWithIndex.map { case (c, i) =>
      val d = row.getLong(1 + 2 * i)
      val m = row.getLong(2 + 2 * i)
      (c, n, d, m, d == n && m == 0L)
    }.toDF("column", "n", "n_distinct", "n_nulls", "is_key")
  }

  /** k-anonymity / l-diversity audit over a quasi-identifier tuple —
    * the re-identification screen a release pipeline runs before
    * publishing: every equivalence class (distinct quasi-identifier
    * combination) with its row count, its distinct-sensitive-value
    * count, and the two risk flags (risky_k: fewer than k rows share
    * the combination; risky_l: fewer than l distinct sensitive values,
    * so the class leaks the attribute even at size ≥ k). NULL
    * quasi-values form their own class (NULL-safe grouping — a null
    * zip code is itself identifying).
    *
    * Scale: one map-side-combined aggregate on the quasi tuple;
    * distinct-sensitive is exact count_distinct (a second partial
    * within the same shuffle). No windows, no joins. Output: quasi
    * cols + (n, n_sensitive, risky_k, risky_l). */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, k: Long, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1 && l >= 1, s"need k, l >= 1, got k=$k l=$l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        count_distinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("risky_k", col("n") < k)
      .withColumn("risky_l", col("n_sensitive") < l)
  }

  /** ENTROPY l-diversity audit (Machanavajjhala et al., "l-Diversity:
    * Privacy Beyond k-Anonymity", TKDD 2007 — the refinement of the
    * distinct-count check [[kAnonymity]] reports): a quasi-identifier
    * group passes entropy-l iff the Shannon entropy of its sensitive
    * distribution is ≥ ln l — distinct counting alone misses a group
    * where one sensitive value dominates (99 cancer + 1 flu has l=2
    * but near-zero entropy, still a disclosure). Counts are exact;
    * each value's −p·ln p term quantizes to integer MICROS before the
    * group sum, so the entropy is an order-independent exact long
    * (the mutualInformationCells discipline). Output per group:
    * (quasi cols..., n, n_values, entropy_micro, risky = entropy <
    * ln l, threshold ln(l)·10⁶ as a column for replay). */
  def entropyLDiversity(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, s"need l >= 2, got $l")
    val lnLMicro = math.round(math.log(l.toDouble) * 1e6)
    val qs = quasiCols.map(col)
    val cells = df
      .where(col(sensitiveCol).isNotNull)
      .groupBy(qs :+ col(sensitiveCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*)
    // per-value micro term over exact integers, one fixed float order
    val p = col("__c").cast("double") / col("__n").cast("double")
    cells
      .withColumn("__n", sum("__c").over(wAll))
      .withColumn("__t", round(-p * log(p) * 1e6).cast("long"))
      .groupBy(qs: _*)
      .agg(max("__n").as("n"), count(lit(1)).as("n_values"),
        sum("__t").as("entropy_micro"))
      .withColumn("risky", col("entropy_micro") < lnLMicro)
      .withColumn("threshold_micro", lit(lnLMicro))
  }

  /** Composite candidate-key discovery over the column-subset lattice
    * up to `maxArity` — the schema-inference step [[candidateKeys]]
    * can't do: it finds SINGLE-column keys only, while real tables
    * (the reference's composite PKs in check_pk_and_non_null,
    * reference R/ffiec_manifest.R) key on tuples.
    *
    * Keyness here is NULL-SAFE tuple uniqueness (NULLs compare equal —
    * `dropDuplicates` semantics): a subset S is a key iff the number
    * of distinct S-tuples equals the row count. Under that definition
    * every superset of a key is a key, which gives the lattice prune:
    * levels run in arity order, ONE single-scan aggregate per level
    * (all that level's count_distincts share the scan), and any
    * subset containing an already-discovered key is IMPLIED — emitted
    * with is_key = true, is_minimal = false and the -1 sentinel for
    * its unscanned stats, never costing distinct-count state. With a
    * unique id column in a 20-column list, arity 2 scans 171 pairs
    * instead of 190 — and the prune compounds at arity 3+.
    *
    * Scale: one aggregate pass per arity level (subset count is
    * authoring-bounded); count_distinct state is per-subset
    * tuple-cardinality bounded, the usual exact-distinct cost. Output
    * (one row per subset, ordered by (arity, columns)): (columns
    * comma-joined, arity, n, n_distinct, n_nulls = rows with any null
    * component, is_key, is_minimal_key); implied rows carry -1 for
    * n_distinct / n_nulls. */
  def compositeKeys(df: DataFrame, cols: Seq[String],
                    maxArity: Int = 2): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(maxArity >= 1 && maxArity <= cols.length,
      s"maxArity must be in [1, ${cols.length}], got $maxArity")
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    var keys = Seq.empty[Set[String]]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long, Boolean, Boolean)]
    for (arity <- 1 to maxArity) {
      val level = cols.combinations(arity).toSeq
      val (implied, scan) =
        level.partition(s => keys.exists(_.subsetOf(s.toSet)))
      implied.foreach { s =>
        out += ((s.mkString(","), arity.toLong, n, -1L, -1L, true, false))
      }
      if (scan.nonEmpty) {
        // CONCURRENT per-combo jobs instead of one multi-distinct
        // aggregate (round 8): Spark plans k distinct groups in one
        // agg as an Expand that copies every input row k+1 times
        // through the map side — measured 3.3× slower than k
        // independent jobs at the q249 gate. Per-combo jobs also
        // column-prune their parquet scan to exactly the combo's
        // columns and shuffle only that combo's partial-deduped keys;
        // a bounded pool keeps concurrent scheduler pressure sane and
        // the cluster's scan parallelism shared fairly. Pruning
        // semantics are untouched — levels stay sequential so found
        // keys still imply away supersets before they scan.
        val results = runBoundedJobs(spark, scan, 8) { s =>
          val anyNull = s.map(col(_).isNull).reduce(_ || _)
          val r = df.agg(
            count_distinct(struct(s.map(col): _*)).as("__d"),
            coalesce(sum(when(anyNull, 1L).otherwise(0L)), lit(0L))
              .as("__m")).head()
          (s, r.getLong(0), r.getLong(1))
        }
        val found = results.flatMap { case (s, d, m) =>
          val isKey = d == n
          out += ((s.mkString(","), arity.toLong, n, d, m, isKey, isKey))
          if (isKey) Some(s.toSet) else None
        }
        keys ++= found
      }
    }
    out.sortBy(r => (r._2, r._1)).toSeq
      .toDF("columns", "arity", "n", "n_distinct", "n_nulls",
        "is_key", "is_minimal_key")
  }

  /** Unary inclusion-dependency profile — the cross-table sibling of
    * [[fkOrphans]] and the discovery primitive behind schema-level
    * profilers (Papenbrock et al. 2015, "Divide & conquer-based
    * inclusion dependency discovery", VLDB — the SPIDER/Metanome
    * family): for each candidate `child.col ⊆ parent.col` pair, the
    * exact distinct-value counts on both sides, how many child values
    * are missing from the parent, and whether the IND holds.
    *
    * Scale shape: each pair reduces to DISTINCT value sets (keys-only
    * aggregates — row volume never shuffles) left-joined for the miss
    * count; pairs run as CONCURRENT bounded-pool jobs assembled
    * driver-side (the compositeKeys level-scan pattern — p pairs stay
    * at a per-pair exchange budget instead of a p-wide union plan).
    * NULLs are ignored on both sides (SQL IND semantics).
    *
    * Output: (pair, n_child_distinct, n_parent_distinct, n_missing,
    * holds), input order preserved via the pair label. */
  def inclusionDeps(
      pairs: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one candidate pair")
    val spark = pairs.head._2.sparkSession
    import spark.implicits._
    // concurrent per-pair jobs, driver-assembled (compositeKeys
    // rationale): each pair's plan column-prunes its two scans to one
    // column each and shuffles only distinct keys; a union-of-branches
    // single plan would multiply the exchange count by the pair count
    val rows = runBoundedJobs(spark, pairs, 8) {
      case (label, child, childCol, parent, parentCol) =>
        val c = child.where(col(childCol).isNotNull)
          .select(col(childCol).cast("string").as("v")).distinct()
        val p = parent.where(col(parentCol).isNotNull)
          .select(col(parentCol).cast("string").as("v")).distinct()
        val r = c.join(p.withColumn("__in", lit(1)), Seq("v"), "left")
          .agg(count(lit(1)).as("n_child_distinct"),
            coalesce(sum(when(col("__in").isNull, 1L).otherwise(0L)),
              lit(0L)).as("n_missing"))
          .crossJoin(p.agg(count(lit(1)).as("n_parent_distinct")))
          .head()
        (label, r.getLong(0), r.getLong(2), r.getLong(1),
          r.getLong(1) == 0L)
    }
    rows.toDF("pair", "n_child_distinct", "n_parent_distinct",
      "n_missing", "holds")
  }

  /** Approximate functional-dependency error — the g₃ measure
    * (Kivinen & Mannila 1995, "Approximate inference of functional
    * dependencies from relations"): the minimum FRACTION of rows
    * whose removal makes X → Y hold exactly,
    *   g₃ = (n − Σ_x max_y |rows(x, y)|) / n.
    * [[fdViolations]] LISTS the violating groups; g₃ ranks near-FDs
    * by how close they are — the score schema-discovery sweeps sort
    * candidates with. Rows with NULL in X or Y are excluded (SQL FD
    * semantics).
    *
    * Exact integers end-to-end: (X, Y) cell counts, per-X keeper via
    * MAX over the cell counts (an aggregate with map-side combine —
    * never a row-scale window), and the ratio in ppm via
    * non-negative integer division. Output: one row (n, n_keep,
    * n_remove, g3_ppm, holds). */
  def fdError(df: DataFrame, lhs: Seq[String], rhs: String): DataFrame = {
    require(lhs.nonEmpty, "lhs must be non-empty")
    val ok = lhs.map(col(_).isNotNull).reduce(_ && _) &&
      col(rhs).isNotNull
    val cells = df.where(ok)
      .groupBy(lhs.map(col) :+ col(rhs): _*)
      .agg(count(lit(1)).as("c"))
    val perX = cells.groupBy(lhs.map(col): _*)
      .agg(max("c").as("mx"), sum("c").as("nx"))
    perX.agg(sum("nx").as("n"), sum("mx").as("n_keep"))
      .select(col("n"), col("n_keep"),
        (col("n") - col("n_keep")).as("n_remove"),
        expr("(n - n_keep) * 1000000L div n").as("g3_ppm"),
        (col("n_keep") === col("n")).as("holds"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007, ICDE) — the
    * third leg of the privacy triad beside [[kAnonymity]] and
    * [[entropyLDiversity]]: per quasi-identifier group, the Earth
    * Mover's Distance between the group's sensitive-value distribution
    * and the GLOBAL one, over an ordered numeric sensitive attribute
    * (ordinal EMD = mean |cumulative difference|). A group whose
    * distribution sits far from the table's leaks the attribute even
    * when it is k-anonymous and l-diverse.
    *
    * Exact-replay discipline: cumulative differences are kept as
    * EXACT integers on the common denominator n_g·N —
    *   D_j = Σ_{i≤j} (c_i·N − C_i·n_g)
    * — so Σ|D_j| is a BIGINT any engine reproduces; ONE double
    * division closes EMD_micro = round(Σ|D_j| / (n_g·N·(m−1)) · 1e6).
    *
    * Scale shape: two keyed aggregates (group×value cells — the only
    * row-scale exchange — and value cells), then a groups×values grid
    * (bounded by quasi-group count × value-domain size; callers
    * pre-bucket continuous sensitive columns) with a cell-scale
    * cumulative window. Output: (quasi..., n, m, emd_micro, risky)
    * where risky ⇔ emd_micro > tMicro; m = 1 → EMD 0. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, tMicro: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi column")
    val v = col(sensitiveCol).cast("long").as("v")
    val base = df.where(col(sensitiveCol).isNotNull)
      .select(quasiCols.map(col) :+ v: _*)
    val groupCells = base
      .groupBy(quasiCols.map(col) :+ col("v"): _*)
      .agg(count(lit(1)).as("c"))
    val globalCells = base.groupBy("v").agg(count(lit(1)).as("cg"))
    val groups = groupCells.groupBy(quasiCols.map(col): _*)
      .agg(sum("c").as("n"))
    val total = globalCells.agg(sum("cg").as("nn"),
      count(lit(1)).as("m"))
    val grid = groups
      .crossJoin(broadcast(globalCells.select(col("v"), col("cg"))))
      .join(groupCells, quasiCols :+ "v", "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(total))
      .withColumn("d", col("c") * col("nn") - col("cg") * col("n"))
      .withColumn("cum", sum("d").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(quasiCols.map(col): _*).orderBy("v")))
    val emd = round(col("sabs").cast("double") /
      (col("n").cast("double") * col("nn").cast("double") *
        (col("m").cast("double") - lit(1.0))) * 1e6).cast("long")
    grid.groupBy(quasiCols.map(col): _*)
      .agg(max("n").as("n"), max("m").as("m"), max("nn").as("nn"),
        sum(abs(col("cum"))).as("sabs"))
      .select(quasiCols.map(col) ++ Seq(col("n"), col("m"),
        when(col("m") <= 1, lit(0L)).otherwise(emd).as("emd_micro")): _*)
      .withColumn("risky", col("emd_micro") > lit(tMicro))
  }
}
