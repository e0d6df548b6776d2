package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CombinePartsSpec extends SparkSpec {
  test("full-outer combine coalesces overlapping columns left-to-right") {
    val s = spark
    import s.implicits._
    val p1 = Seq((1, Some("a"), 10), (2, None, 20)).toDF("IDRSSD", "name", "x")
    val p2 = Seq((2, Some("b"), 1.5), (3, Some("c"), 2.5)).toDF("IDRSSD", "name", "y")
    val out = CombineParts.combine(Seq(p1, p2))
      .orderBy("IDRSSD").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val names = out.map(r => r.getAs[String]("name")).toSeq
    assert(names == Seq("a", "b", "c")) // 2: p1 null → p2 wins; 3: p2 only
    assert(out(2).isNullAt(out(2).fieldIndex("x"))) // key 3 has no part-1 cols
  }

  test("resolveNParts validates multipart structure like the reference") {
    assert(CombineParts.resolveNParts(Seq(Some(1), Some(2)), Seq(Some(2), Some(2)), "t") == 2)
    intercept[IllegalArgumentException] { // claimed ≠ found
      CombineParts.resolveNParts(Seq(Some(1)), Seq(Some(2)), "t")
    }
    intercept[IllegalArgumentException] { // non-contiguous
      CombineParts.resolveNParts(Seq(Some(1), Some(3)), Seq(None, None), "t")
    }
    intercept[IllegalArgumentException] { // duplicate part numbers
      CombineParts.resolveNParts(Seq(Some(1), Some(1)), Seq(None, None), "t")
    }
  }
}

class LongPivotSpec extends SparkSpec {
  test("long/wide roundtrip preserves values") {
    val s = spark
    import s.implicits._
    val wide = Seq((1, java.sql.Date.valueOf("2024-03-31"), Some(10.0), Some(20.0)),
                   (2, java.sql.Date.valueOf("2024-03-31"), Some(30.0), None))
      .toDF("IDRSSD", "date", "RCFD0010", "RCFD0020")
    val long = LongPivot.long(wide, Seq("IDRSSD", "date"), DoubleType)
    assert(long.count() == 3) // the NULL is dropped
    val back = LongPivot.wide(long, Seq("IDRSSD", "date"), "item", "value",
      items = Seq("RCFD0010", "RCFD0020"))
    val r = back.orderBy("IDRSSD").collect()
    assert(r(0).getDouble(2) == 10.0 && r(0).getDouble(3) == 20.0)
    assert(r(1).getDouble(2) == 30.0 && r(1).isNullAt(3))
  }

  test("itemSchedules aggregates sorted schedule lists") {
    val s = spark
    import s.implicits._
    val si = Seq(("rc", "RCFD0010"), ("rcb", "RCFD0010"), ("rc", "RCFD0020"))
      .toDF("schedule", "item")
    val m = LongPivot.itemSchedules(si).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(m("RCFD0010") == Seq("rc", "rcb"))
    assert(m("RCFD0020") == Seq("rc"))
  }
}

class KeyChecksSpec extends SparkSpec {
  test("pkViolations / nullCounts / assertNoDups") {
    val s = spark
    import s.implicits._
    val df = Seq((1, Some("a")), (1, Some("b")), (2, None)).toDF("k", "v")
    val dupes = KeyChecks.pkViolations(df, Seq("k")).collect()
    assert(dupes.length == 1 && dupes(0).getInt(0) == 1 && dupes(0).getLong(1) == 2)
    val nulls = KeyChecks.nullCounts(df, Seq("k", "v")).collect()
    assert(nulls.length == 1 && nulls(0).getString(0) == "v" && nulls(0).getLong(1) == 1)
    assert(!KeyChecks.checkPkAndNonNull(df, Seq("k")))
    assert(KeyChecks.checkPkAndNonNull(df.where(col("k") === 2), Seq("k")))
    // a NULL key part fails the gate on its own, and alongside a duplicate
    assert(!KeyChecks.checkPkAndNonNull(df.where(col("k") === 2), Seq("k", "v")))
    val both = Seq((Some(1), "a"), (Some(1), "b"), (None, "c")).toDF("k", "v")
    assert(!KeyChecks.checkPkAndNonNull(both, Seq("k")))
    assert(!KeyChecks.checkPkAndNonNull(both.where(col("k").isNull), Seq("k")))
    assert(!KeyChecks.checkPkAndNonNull(both, Seq("k", "v")))
    assert(KeyChecks.checkPkAndNonNull(both.where(col("k").isNotNull), Seq("k", "v")))
    // an empty frame has no violation
    assert(KeyChecks.checkPkAndNonNull(both.where(lit(false)), Seq("k", "v")))
    intercept[IllegalArgumentException] {
      KeyChecks.assertNoDups(df, Seq("k"))
    }
  }

  test("keySkew surfaces a planted hot key with its exact share") {
    val s = spark
    import s.implicits._
    // 5000 rows on "hot", 100 keys with 10 rows each
    val df = ((1 to 5000).map(_ => "hot") ++
      (1 to 100).flatMap(k => Seq.fill(10)(s"k$k"))).toDF("key")
    val got = KeyChecks.keySkew(df, "key", topK = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 5)
    assert(got(0)._1 == "hot" && got(0)._2 == 5000L && got(0)._4 == 1L)
    assert(got(0)._3 == 5000L * 1000000L / 6000L)  // exact micro share
    // runners-up tie at 10 rows, key-asc order deterministic
    assert(got.drop(1).forall(_._2 == 10L))
    assert(got.drop(1).map(_._1).toList == got.drop(1).map(_._1).sorted.toList)
  }

  test("statsDrift: planted drift surfaces, identical snapshots are silent") {
    val s = spark
    import s.implicits._
    val a = (1L to 100L).map(i => (i, s"name$i", i % 5)).toDF("id", "name", "grp")
    val b = (1L to 100L).filter(_ % 10 != 0)
      .map(i => (i, if (i % 4 == 0) null else s"name$i", i % 5))
      .toDF("id", "name", "grp")
    val d = KeyChecks.statsDrift(a, b, Seq("id", "name", "grp"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(d("id").getAs[Long]("row_delta") == -10L)
    assert(d("name").getAs[Long]("null_delta") > 0)
    assert(d("id").getAs[Boolean]("max_changed"))   // 100 dropped (100 % 10 == 0)
    assert(!d("grp").getAs[Boolean]("min_changed") &&
      !d("grp").getAs[Boolean]("max_changed"))
    // identical snapshots: zero deltas, no flags
    val same = KeyChecks.statsDrift(a, a, Seq("id", "name", "grp")).collect()
    same.foreach { r =>
      assert(r.getAs[Long]("row_delta") == 0 && r.getAs[Long]("null_delta") == 0
        && r.getAs[Long]("distinct_delta") == 0)
      assert(!r.getAs[Boolean]("min_changed") && !r.getAs[Boolean]("max_changed"))
    }
  }

  test("histogram: exact counts, extremes in end bins, NULLs dropped, constant column") {
    val s = spark
    import s.implicits._
    val vals = Seq(0.0, 0.25, 0.5, 0.75, 1.0, 1.0, null.asInstanceOf[Any])
      .map(v => Tuple1(Option(v).map(_.asInstanceOf[Double])))
      .toDF("x")
    val h = KeyChecks.histogram(vals, "x", bins = 4, scale = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // scaled range [0,100], width (101/4): 0->b0, 25->b0, 50->b1, 75->b2, 100x2->b3
    assert(h == Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 2L), h.toString)
    assert(h.values.sum == 6, "NULL must be dropped, not binned")
    // max value lands in the last bin, never bins (the +1 range guard)
    assert(h.keys.max == 3L)
    // constant column: everything in bin 0
    val const = Seq(5.0, 5.0, 5.0).toDF("x")
    val hc = KeyChecks.histogram(const, "x", bins = 8, scale = 100L).collect()
    assert(hc.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 3L)))
  }

  test("fkOrphans: dangling groups surface with counts, NULL fks excluded, clean is empty") {
    val s = spark
    import s.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), Some(9L), Some(9L), Some(8L), None)
      .toDF("fk")
    val got = KeyChecks.fkOrphans(child, "fk", parent, "pk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(9L -> 3L, 8L -> 1L), got.toString)
    // fully-covered child: zero orphan rows
    val clean = Seq(1L, 2L, 2L).toDF("fk")
    assert(KeyChecks.fkOrphans(clean, "fk", parent, "pk").count() == 0)
  }

  test("snapshotDiff: added/removed/changed exact, unchanged silent, boundary-injective") {
    val s = spark
    import s.implicits._
    val old = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
      .toDF("id", "t", "src")
    val neu = Seq((2L, "b", "y"), (3L, "c2", "z"), (4L, "d", "w"))
      .toDF("id", "t", "src")
    val got = KeyChecks.snapshotDiff(old, neu, "id", Seq("t", "src"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 3L -> "changed", 4L -> "added"), got.toString)
    // identical snapshots diff empty
    assert(KeyChecks.snapshotDiff(old, old, "id", Seq("t", "src")).count() == 0)
    // column-boundary injectivity: ("ab","c") must differ from ("a","bc")
    val l = Seq((1L, "ab", "c")).toDF("id", "t", "src")
    val r = Seq((1L, "a", "bc")).toDF("id", "t", "src")
    val shifted = KeyChecks.snapshotDiff(l, r, "id", Seq("t", "src")).collect()
    assert(shifted.map(x => (x.getLong(0), x.getString(1))).toSeq ==
      Seq((1L, "changed")), "boundary shift must read as changed")
  }

  test("entropyLDiversity: balanced group passes, dominated group " +
    "fails despite same distinct count (the homogeneity attack)") {
    val s = spark
    import s.implicits._
    // both groups have TWO distinct sensitive values (distinct-l = 2
    // passes for both) — only entropy separates them
    val df = (Seq.fill(50)(("bal", "a")) ++ Seq.fill(50)(("bal", "b")) ++
      Seq.fill(99)(("dom", "a")) ++ Seq(("dom", "b")))
      .toDF("g", "v")
    val got = KeyChecks.entropyLDiversity(df, Seq("g"), "v", l = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    def term(c: Long, n: Long): Long = {
      val p = c.toDouble / n.toDouble
      math.round(-p * math.log(p) * 1e6)
    }
    val lnL = math.round(math.log(2.0) * 1e6)
    assert(got("bal") == ((100L, 2L, term(50, 100) * 2, false)))
    assert(got("dom")._3 == term(99, 100) + term(1, 100))
    assert(got("dom")._4, "dominated group must be risky")
    assert(got("bal")._3 >= lnL && got("dom")._3 < lnL)
  }

  test("jsDivergenceCells: hand-replayed terms, zeros absorbed, " +
    "Σ bounded by ln 2, disjoint supports hit the bound") {
    val s = spark
    import s.implicits._
    val a = Seq("x", "x", "y").toDF("v")
    val b = Seq("y", "z").toDF("v")
    val got = KeyChecks.jsDivergenceCells(a, b, "v")
      .as[(String, Long, Long, Long)].collect
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def term(ca: Long, cb: Long): Long = {
      val pa = ca.toDouble / 3.0; val pb = cb.toDouble / 2.0
      val m = (pa + pb) / 2.0
      val t = (if (ca > 0) pa * math.log(pa / m) else 0.0) * 0.5 +
        (if (cb > 0) pb * math.log(pb / m) else 0.0) * 0.5
      math.round(t * 1e6)
    }
    assert(got == Map("x" -> ((2L, 0L, term(2, 0))),
      "y" -> ((1L, 1L, term(1, 1))), "z" -> ((0L, 1L, term(0, 1)))),
      got.toString)
    // Σ terms = JS ∈ [0, ln 2]
    val js = got.values.map(_._3).sum
    assert(js > 0 && js <= math.round(math.log(2.0) * 1e6), s"js=$js")
    // disjoint supports: JS = ln 2 exactly (micro-rounded per term)
    val d1 = Seq("p", "q").toDF("v"); val d2 = Seq("r").toDF("v")
    val disjoint = KeyChecks.jsDivergenceCells(d1, d2, "v")
      .as[(String, Long, Long, Long)].collect.map(_._4).sum
    assert(math.abs(disjoint - math.round(math.log(2.0) * 1e6)) <= 2,
      s"disjoint js=$disjoint")
  }
}

class TheilUSpec extends SparkSpec {
  import spark.implicits._

  test("theilU: a perfect predictor removes all uncertainty (U = 1), " +
    "a constant one removes none (U = 0)") {
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x"), ("z", "z"))
      .toDF("a", "b")
    val g1 = graft.operators.KeyChecks.theilU(perfect, "a", "b")
      .as[(Long, Long, Long, Option[Long])].collect.head
    assert(g1._1 == 4L && g1._2 == g1._3 && g1._4 == Some(1000000L), g1)
    val const = Seq(("x", "k"), ("y", "k"), ("z", "k")).toDF("a", "b")
    val g2 = graft.operators.KeyChecks.theilU(const, "a", "b")
      .as[(Long, Long, Long, Option[Long])].collect.head
    assert(g2._2 == 0L && g2._4 == Some(0L), g2)
    // constant TARGET: H(a) = 0 → NULL
    val constA = Seq(("k", "x"), ("k", "y")).toDF("a", "b")
    assert(graft.operators.KeyChecks.theilU(constA, "a", "b")
      .as[(Long, Long, Long, Option[Long])].collect.head._4.isEmpty)
  }

  test("theilU: empty and all-null inputs honor the one-row contract " +
    "(round-10 fix)") {
    val empty = Seq.empty[(String, String)].toDF("a", "b")
    val g1 = graft.operators.KeyChecks.theilU(empty, "a", "b")
      .as[(Long, Long, Long, Option[Long])].collect.toSeq
    assert(g1 == Seq((0L, 0L, 0L, None)), g1)
    val nulls = Seq((Option.empty[String], Option("x")),
      (Option("y"), Option.empty[String])).toDF("a", "b")
    val g2 = graft.operators.KeyChecks.theilU(nulls, "a", "b")
      .as[(Long, Long, Long, Option[Long])].collect.toSeq
    assert(g2 == Seq((0L, 0L, 0L, None)), g2)
  }
}

class DedupSpec extends SparkSpec {
  private def corpus = {
    val s = spark
    import s.implicits._
    // 30 distinct words — periodic text collapses to ~10 distinct
    // shingles and makes the MinHash estimate too coarse to test.
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    Seq(
      (1L, base),
      (2L, base), // exact dup of 1
      (3L, base.replace("word4", "WORD4")), // case variant → normalized dup
      (4L, base.replace("word15", "word15 extra")), // near-dup of 1
      (5L, "completely different text about spark engines and parquet files"),
      (6L, "another unrelated document mentioning lakes and tables")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups normalized-identical docs") {
    val groups = Dedup.exact(corpus, "doc_id", "text").collect()
    val byId = groups.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dupes")).toMap
    assert(byId(1L) == 3) // 1, 2, 3 fold together; survivor is min id
    assert(groups.length == 4)
  }

  test("ngram jaccard finds the planted near-dup, not the unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("paragraph dedup keeps the globally-first copy and reassembles in order") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha\n\nshared footer\n\nbeta"),
      (2L, "gamma\n\nshared footer"),
      (3L, "shared footer\n\ndelta\n\ndelta"),
      (4L, "epsilon")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(out(0) == ((1L, "alpha\n\nshared footer\n\nbeta", 3, 0))) // first copy survives
    assert(out(1) == ((2L, "gamma", 2, 1)))
    assert(out(2) == ((3L, "delta", 3, 2))) // footer dropped AND the repeated delta
    assert(out(3) == ((4L, "epsilon", 1, 0)))
  }

  test("minhash LSH surfaces the same clusters") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._2 == 5L || p._2 == 6L))
  }

  test("minhash LSH excludes shingle-less docs instead of pairing them") {
    val s = spark
    import s.implicits._
    // two docs too short to shingle (n=3) plus one real near-dup pair
    val docs = Seq(
      (1L, "tiny"), (2L, "also tiny"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "the quick brown fox jumps over the lazy dog again and again!")
    ).toDF("doc_id", "text")
    for (portable <- Seq(false, true)) {
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", tau = 0.5,
        portableHash = portable)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((3L, 4L)),
        s"portable=$portable: empty docs must not band together")
    }
  }

  test("simhash pairs within hamming radius") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 5L && p._2 == 6L))
  }

  test("embedding pairs brute-force and LSH-bucketed agree on high-sim pairs") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.98f, 0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
    val brute = Dedup.embeddingPairs(vecs, "vec_id", "embedding", tau = 0.95, planes = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute == Set((1L, 2L), (3L, 4L)))
    val lsh = Dedup.embeddingPairs(vecs, "vec_id", "embedding", tau = 0.95,
      planes = 4, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute)) // LSH may miss, must not invent
  }

  test("multi-probe LSH: probes=0 degenerates to embeddingPairs, probing " +
    "only adds candidates, and the probe list flips least-|dot| planes " +
    "(round 12)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(83)
    val vecs = (0L until 120L).map { i =>
      val c = (i % 4).toInt
      val v = Array.fill(8)(0.3f * rnd.nextGaussian().toFloat)
      v(c) += 2.0f
      (i, v)
    }.toDF("vec_id", "embedding")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairSet(Dedup.embeddingPairs(vecs, "vec_id", "embedding",
      tau = 0.45, planes = 4, dim = 8, seed = 7L, tables = 2))
    val p0 = pairSet(Dedup.embeddingPairsMultiProbe(vecs, "vec_id",
      "embedding", tau = 0.45, planes = 4, dim = 8, seed = 7L,
      tables = 2, probes = 0))
    assert(p0 == plain, "probes=0 must equal embeddingPairs")
    val p2 = pairSet(Dedup.embeddingPairsMultiProbe(vecs, "vec_id",
      "embedding", tau = 0.45, planes = 4, dim = 8, seed = 7L,
      tables = 2, probes = 2))
    assert(plain.subsetOf(p2), "probing must only add candidates")
    assert(p2.size > plain.size, "fixture drift: probing added nothing")
    // brute truth: every probed pair is a true pair (tau filter exact)
    val brute = pairSet(Dedup.embeddingPairs(vecs, "vec_id", "embedding",
      tau = 0.45, planes = 0))
    assert(p2.subsetOf(brute), "multi-probe invented a pair")
    // cross-corpus twin: probes=0 == embeddingPairsAcross; probing
    // only adds, never invents (brute truth check)
    val lft = vecs.where(col("vec_id") % 2 === 0)
    val rgt = vecs.where(col("vec_id") % 2 === 1)
    def xSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val xPlain = xSet(Dedup.embeddingPairsAcross(lft, "vec_id", "embedding",
      rgt, "vec_id", "embedding", tau = 0.45, planes = 4, dim = 8,
      seed = 7L, tables = 2))
    val x0 = xSet(Dedup.embeddingPairsAcrossMultiProbe(lft, "vec_id",
      "embedding", rgt, "vec_id", "embedding", tau = 0.45, planes = 4,
      dim = 8, seed = 7L, tables = 2, probes = 0))
    assert(x0 == xPlain, "across probes=0 must equal embeddingPairsAcross")
    val x2 = xSet(Dedup.embeddingPairsAcrossMultiProbe(lft, "vec_id",
      "embedding", rgt, "vec_id", "embedding", tau = 0.45, planes = 4,
      dim = 8, seed = 7L, tables = 2, probes = 2))
    assert(xPlain.subsetOf(x2), "across probing must only add candidates")
    val xBrute = xSet(Dedup.embeddingPairsAcross(lft, "vec_id", "embedding",
      rgt, "vec_id", "embedding", tau = 0.45, planes = 0))
    assert(x2.subsetOf(xBrute), "across multi-probe invented a pair")
    // kernel contract on a hand geometry: plane 1 has the smallest
    // |dot| for a vector nearly ON it, so probe 1 flips bit 1
    val planes = Array(Array(1.0, 0.0), Array(0.01, 1.0))
    val out = Seq((1L, Array(1.0f, -0.012f))).toDF("id", "v")
      .select(graft.plans.native.hyperplaneProbes(col("v"), planes, 2)
        .as("pb"))
      .head().getSeq[Long](0)
    // dots: plane0 = 1.0 (bit 0 set), plane1 = 0.01 - 0.012 = -0.002
    // (bit 1 clear) → bucket = 1; probes flip plane 1 first (|−0.002|
    // < |1.0|) then plane 0
    assert(out == Seq(1L, 3L, 0L), out.toString)
  }

  test("embeddingPairsAcross finds cross-corpus twins, never within-side pairs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(59)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val vecs = Seq(
      (0L, base),                                  // left
      (2L, Array.fill(16)(rnd.nextGaussian().toFloat)), // left noise
      (1L, base.map(x => x * 1.001f)),             // right: twin of 0
      (3L, Array.fill(16)(rnd.nextGaussian().toFloat))  // right noise
    ).toDF("vec_id", "embedding")
    val left = vecs.where(col("vec_id") % 2 === 0)
    val right = vecs.where(col("vec_id") % 2 === 1)
    // brute force (planes=0): the planted twin is the only pair
    val bf = Dedup.embeddingPairsAcross(left, "vec_id", "embedding",
      right, "vec_id", "embedding", tau = 0.95, planes = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf == Set((0L, 1L)), bf)
    // LSH-bucketed with OR-amplification finds it too
    val lsh = Dedup.embeddingPairsAcross(left, "vec_id", "embedding",
      right, "vec_id", "embedding", tau = 0.95, planes = 4, dim = 16, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((0L, 1L)), lsh)
  }

  test("semanticDedup marks epsilon-ball dups within clusters, honors maxCell") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(0.6f, 0.6f, 0f, 0f)), // cos(1,2) = cos(2,3) ≈ 0.707
      (3L, Array(0f, 1.0f, 0f, 0f)),   // cos(1,3) = 0
      (4L, Array(0f, 0f, 1.0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding", tau = 0.7, c = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // one-shot epsilon-ball: doc 3 is marked via doc 2 even though doc 2
    // is itself removed — SemDeDup's non-transitive marking
    assert(out == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false))
    val capped = Dedup.semanticDedup(vecs, "vec_id", "embedding", tau = 0.7,
      c = 1, maxCell = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(capped.keySet == Set(1L, 2L, 3L, 4L))
    assert(capped.values.forall(_ == false), // oversized cell never pairs
      s"maxCell-excluded cell produced dups: $capped")
  }

  test("dedupCorpus keeps one representative per near-dup cluster") {
    val out = Dedup.dedupCorpus(corpus, "doc_id", "text", tau = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out.contains(1L))                  // cluster representative
    assert(!out.contains(2L) && !out.contains(3L)) // dups dropped
    assert(out.contains(5L) && out.contains(6L))   // uniques untouched
  }

  test("dedupCorpusKeepBest keeps the top-scoring member, not the min id") {
    val s = spark
    import s.implicits._
    // score doc 4 (near-dup of 1/2/3) above the rest of its cluster:
    // keep-best must select 4 where dedupCorpus would keep 1
    val scored = corpus.withColumn("score",
      when(col("doc_id") === 4L, 10L).otherwise(col("doc_id")))
    val out = Dedup.dedupCorpusKeepBest(scored, "doc_id", "text", "score",
      tau = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out.contains(4L), s"best-scoring member dropped: $out")
    assert(!out.contains(1L) && !out.contains(2L) && !out.contains(3L), out)
    assert(out.contains(5L) && out.contains(6L)) // uniques untouched
    // tie on score → min id wins (deterministic)
    val flat = corpus.withColumn("score", lit(1L))
    val tied = Dedup.dedupCorpusKeepBest(flat, "doc_id", "text", "score",
      tau = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(tied.contains(1L) && !tied.contains(2L), tied)
  }

  test("lshGridEval: more bands raise recall, longer rows raise precision") {
    val s = spark
    import s.implicits._
    // clusters of near-dups at varying similarity + unrelated noise
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (Seq(
      (1L, base),
      (2L, base.replace("tok7", "tok7x")),            // very similar to 1
      (3L, base.replace("tok7 tok8 tok9", "a b c")),  // moderately similar
      (10L, "one completely unrelated document about glaciers and fjords"),
      (11L, "another standalone text mentioning volcanoes and basalt")
    ) ++ (20L to 40L).map(i =>
      (i, (1 to 40).map(j => s"w${i}_$j").mkString(" ")))).toDF("doc_id", "text")
    val grid = Dedup.lshGridEval(docs, "doc_id", "text", tau = 0.5,
      configs = Seq((16, 4), (4, 16), (32, 2)))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    val (_, nTruth, _, _, rec16x4) = grid((16, 4))
    assert(nTruth >= 1L) // ground truth found the planted cluster
    // 32 bands of 2 rows: collision-happy → recall at least as high
    val rec32x2 = grid((32, 2))._5
    assert(rec32x2 >= rec16x4, s"$grid")
    // 4 bands of 16 rows: strict → no spurious candidates on noise docs
    val (cand4x16, _, hits4x16, prec4x16, _) = grid((4, 16))
    assert(cand4x16 == hits4x16 && (cand4x16 == 0 || prec4x16 == 1.0),
      s"strict banding produced false candidates: $grid")
    // every metric is internally consistent
    grid.values.foreach { case (c, t, h, p, r) =>
      assert(h <= c && h <= t)
      assert(p >= 0 && p <= 1 && r >= 0 && r <= 1)
    }
  }

  test("containmentPairs flags truncations Jaccard misses, direction-correct") {
    val s = spark
    import s.implicits._
    val full = (1 to 50).map(i => s"tok$i").mkString(" ")
    val truncated = (1 to 12).map(i => s"tok$i").mkString(" ") // first 24%
    val docs = Seq(
      (1L, full),
      (2L, truncated),
      (3L, "a completely different document about something else entirely")
    ).toDF("doc_id", "text")
    // Jaccard between 1 and 2 is ~10/48 ≈ 0.2 — invisible at tau 0.5
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
    assert(jac.collect().isEmpty, "jaccard must miss the truncation")
    jac.unpersist(false)
    // containment of 2-in-1 is 1.0 (every shingle of 2 appears in 1)
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, tau = 0.9)
    val got = cont.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(got == List((2L, 1L, 1.0)), got.toString)
    cont.unpersist(false)
    // mutual containment on exact dups: both directions emitted
    val dup = Seq((1L, full), (2L, full)).toDF("doc_id", "text")
    val both = Dedup.containmentPairs(dup, "doc_id", "text", n = 3, tau = 0.9)
    assert(both.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 1L)))
    both.unpersist(false)
  }

  test("linkRecords: typo pairs inside blocks, blocking bounds scope, hot blocks drop") {
    val s = spark
    import s.implicits._
    val recs = Seq(
      (1L, "acme corporation", "ac"),
      (2L, "acme corporatiom", "ac"),   // 1 substitution from #1
      (3L, "acme corp", "ac"),          // 7 edits from #1
      (4L, "acme corporation", "zz"),   // identical to #1 but other block
      (5L, "zenith labs", "ze"),
      (6L, "zenith lab", "ze")          // 1 deletion from #5
    ).toDF("id", "name", "blk")
    val pairs = Dedup.linkRecords(recs, "id", "name", col("blk"), maxDist = 1)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // typo pairs found with their exact distances; the cross-block
    // identical record (#4) is never compared — blocking IS the scope
    assert(pairs.toList == List((1L, 2L, 1L), (5L, 6L, 1L)), pairs.toList.toString)
    // maxDist widens the net within blocks only
    val wide = Dedup.linkRecords(recs, "id", "name", col("blk"), maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)))
    // a hot block (> maxBlock rows) is dropped whole by the anti-join
    val hot = (1L to 5L).map(i => (i, s"name$i", "hot")) :+ (10L, "solo", "ok") :+
      (11L, "solp", "ok")
    val capped = Dedup.linkRecords(hot.toDF("id", "name", "blk"), "id", "name",
      col("blk"), maxDist = 1, maxBlock = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((10L, 11L)), s"hot block must drop whole: $capped")
    // NULL blocking keys never pair
    val withNull = Seq((1L, "same", null.asInstanceOf[String]),
      (2L, "same", null.asInstanceOf[String])).toDF("id", "name", "blk")
    assert(Dedup.linkRecords(withNull, "id", "name", col("blk"), 1).count() == 0)
  }

  test("linkRecords composes with phonetic blocking: soundex groups sound-alike typos") {
    val s = spark
    import s.implicits._
    // "smith"/"smyth" share soundex S530; "jones" is J520 — prefix
    // blocking would split smith/smyth (different 3rd char), phonetic
    // blocking pairs them without any corpus-wide comparison
    val recs = Seq(
      (1L, "smith consulting"),
      (2L, "smyth consulting"),
      (3L, "jones consulting")
    ).toDF("id", "name")
    val pairs = Dedup.linkRecords(recs, "id", "name",
      soundex(substring_index(col("name"), " ", 1)), maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(pairs.toSeq == Seq((1L, 2L, 1L)), pairs.toSeq.toString)
  }

  test("linkScoreFs: FS weights sum exactly, NULL fields contribute zero, thresholds cut") {
    val s = spark
    import s.implicits._
    val (nameA, nameD) = Dedup.fsWeightsMicro(0.9, 0.001)
    val (cityA, cityD) = Dedup.fsWeightsMicro(0.8, 0.2)
    val a = Seq(
      (1L, "ann lee", "york", "b1"),
      (2L, "bo chan", "rome", "b1"),
      (3L, "cy drew", null.asInstanceOf[String], "b1")
    ).toDF("id", "name", "city", "blk")
    val b = Seq(
      (11L, "ann lee", "york", "b1"),  // full twin of 1
      (12L, "bo chan", "pisa", "b1"),  // city disagrees with 2
      (13L, "cy drew", "oslo", "b1")   // 3's city NULL -> no info
    ).toDF("id", "name", "city", "blk")
    val fields = Seq(("name", "name", 0.9, 0.001), ("city", "city", 0.8, 0.2))
    val all = Dedup.linkScoreFs(a, b, "id", "id", col("blk"), col("blk"),
      fields, upperMicro = nameA + cityA, lowerMicro = 0L, keepNonMatches = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    // exact integer sums of the driver-computed weights
    assert(all((1L, 11L)) == ((nameA + cityA, "match")))
    assert(all((2L, 12L)) == ((nameA + cityD, "possible")))
    assert(all((3L, 13L)) == ((nameA, "possible")))  // NULL city = +0
    assert(all((1L, 12L))._1 == nameD + cityD)       // full disagree
    assert(all.size == 9, "3x3 block must yield 9 scored pairs")
    // default drops non-matches
    val kept = Dedup.linkScoreFs(a, b, "id", "id", col("blk"), col("blk"),
      fields, upperMicro = nameA + cityA, lowerMicro = 0L).collect()
    assert(kept.forall(_.getString(3) != "non_match") && kept.length == 3)
    // hot-block guard counts BOTH sides (3+3 > 5 drops the block)
    val capped = Dedup.linkScoreFs(a, b, "id", "id", col("blk"), col("blk"),
      fields, upperMicro = nameA + cityA, lowerMicro = 0L, maxBlock = 5,
      keepNonMatches = true)
    assert(capped.count() == 0, "union-side block count must trigger the cap")
  }

  test("prototypePrune drops the most-central fraction per cell, floor on tiny cells") {
    val s = spark
    import s.implicits._
    // 2-D unit vectors at increasing angles; with c=1 every doc lands
    // in the single centroid's cell and prototypicality = cosine to it
    val n = 10
    val rows = (0 until n).map { i =>
      val theta = i * 0.15
      (i.toLong, Array(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cvec = Knn.sampleCentroids(df, "vec_id", "embedding", 1)
      .collect()(0).getSeq[Float](1).map(_.toDouble).toArray
    val expectedOrder = rows.map { case (id, v) =>
      val dot = v(0) * cvec(0) + v(1) * cvec(1)
      val cos = dot / (math.sqrt(v(0) * v(0) + v(1) * v(1)) *
        math.sqrt(cvec(0) * cvec(0) + cvec(1) * cvec(1)))
      id -> BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sortBy { case (id, c) => (-c, id) }.map(_._1)
    val got = Dedup.prototypePrune(df, "vec_id", "embedding",
      c = 1, dropPermille = 300)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4)))
    val byRank = got.sortBy(_._2).map(_._1).toList
    assert(byRank == expectedOrder.toList, byRank.toString)
    // floor(10 * 0.3) = 3 most-prototypical pruned, 7 kept
    assert(got.count(!_._3) == 3)
    assert(got.filter(!_._3).map(_._2).toSet == Set(1L, 2L, 3L))
    // dropPermille=0 keeps everything
    assert(Dedup.prototypePrune(df, "vec_id", "embedding", c = 1,
      dropPermille = 0).where(!col("keep")).count() == 0)
    // singleton cells (c >= n: every vector its own centroid) keep all
    assert(Dedup.prototypePrune(df, "vec_id", "embedding", c = 100,
      dropPermille = 300).where(!col("keep")).count() == 0)
  }

  test("pickLshConfig: cheapest banding meeting the recall target; empty when none") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (Seq(
      (1L, base),
      (2L, base.replace("tok7", "tok7x")),
      (3L, base.replace("tok7 tok8 tok9", "a b c"))
    ) ++ (20L to 40L).map(i =>
      (i, (1 to 40).map(j => s"w${i}_$j").mkString(" ")))).toDF("doc_id", "text")
    val configs = Seq((16, 4), (4, 16), (32, 2))
    val grid = Dedup.lshGridEval(docs, "doc_id", "text", tau = 0.5, configs)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(6)))
    val eligible = grid.filter(_._4 >= 0.5)
    assume(eligible.nonEmpty, "fixture must have a config at recall >= 0.5")
    val want = eligible.minBy { case (b, r, c, _) => (c, b, r) }
    val got = Dedup.pickLshConfig(docs, "doc_id", "text", tau = 0.5,
      configs, targetRecall = 0.5).collect()
    assert(got.length == 1)
    assert((got(0).getInt(0), got(0).getInt(1)) == ((want._1, want._2)), got.mkString)
    // unreachable target → empty pick, not a wrong one
    assert(Dedup.pickLshConfig(docs, "doc_id", "text", tau = 0.5,
      configs, targetRecall = 1.1).collect().isEmpty)
  }

  test("decontaminate drops corpus docs near-dup'ing any eval doc") {
    val s = spark
    import s.implicits._
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val train = Seq(
      (1L, base),                                    // leaks: dups eval 100
      (2L, base.replace("word9", "word9 extra")),    // leaks: near-dups 100
      (3L, "a completely unrelated clean document about engines"),
      (4L, "another clean text mentioning rivers and lakes")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, base)).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, "doc_id", "text",
      eval, "doc_id", "text", tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L), s"kept=$kept")
  }

  test("nfc normalization: decomposed == precomposed, idempotent") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "cafe\u0301 au lait"), // decomposed
      (2L, "caf\u00e9 au lait"),   // precomposed
      (3L, "plain ascii"),
      (4L, "")
    ).toDF("id", "t")
    val out = rows.select(col("id"),
        graft.functions.Text.normalizeNfc(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == out(2L), s"${out(1L)} != ${out(2L)}")
    assert(out(1L) == "caf\u00e9 au lait")
    assert(out(3L) == "plain ascii" && out(4L) == "")
    // idempotent
    val twice = rows.select(graft.functions.Text.normalizeNfc(
        graft.functions.Text.normalizeNfc(col("t"))).as("n2"))
      .collect().map(_.getString(0)).toSeq
    assert(twice == rows.select(graft.functions.Text.normalizeNfc(col("t")))
      .collect().map(_.getString(0)).toSeq)
  }

  test("linearQualityScore: hand-computed integer logit and threshold") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat, happily!"), // 7 toks, 32 chars, 2 punct, 3 stops
      (2L, ""),                                 // all-zero features → logit = bias
      (3L, "!!!! ???? ;;;;")                    // punct-only → negative
    ).toDF("doc_id", "text")
    val got = TextAnalytics.linearQualityScore(docs, "doc_id", "text",
      wTokens = 100000L, wChars = 1000L, wPunct = -200000L,
      wStopwords = 50000L, biasMicro = -500000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6)))).toMap
    // doc 1: -500000 + 7·100000 + 32·1000 + 2·(-200000) + 3·50000 = 16000? no:
    //   700000 + 32000 - 400000 + 150000 - 500000 = -18000 → keep=false
    assert(got(1L) == ((7L, 32L, 2L, 3L, -18000L, false)), got(1L).toString)
    assert(got(2L) == ((0L, 0L, 0L, 0L, -500000L, false)))
    val (t3, c3, p3, s3, l3, k3) = got(3L)
    assert(t3 == 3L && p3 == 12L && !k3 && l3 < -1000000L,
      s"punct-only doc: ${got(3L)}")
    assert(c3 == 14L && s3 == 0L)
  }

  test("canonicalize maps chains to the cluster minimum") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.canonicalize(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L))
    assert(labels(11L) == 10L)
    // regression for the round-4 under-merge: node 2's smallest
    // neighbor (3) is LARGER than itself, so pure pointer-chasing
    // strands rep(2)=2; the edge-relaxation step must pull 1 through 3
    val vee = Seq((2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val veeLabels = Dedup.canonicalize(vee).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(veeLabels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), veeLabels.toString)
  }

  test("duplicatedWindowFraction scores planted boilerplate exactly") {
    val s = spark
    import s.implicits._
    // doc 1 and 2 share the passage "a b c d"; doc 3 is fully unique
    val docs = Seq(
      (1L, "a b c d x1 y1 z1"),   // windows: abc bcd cdx1 dx1y1 x1y1z1 (5)
      (2L, "a b c d x2 y2 z2"),   // shares abc, bcd with doc 1
      (3L, "p q r s t u v")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedWindowFraction(docs, "doc_id", "text", n = 3, minDf = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // docs 1/2: 2 of 5 windows ("a b c", "b c d") are corpus-duplicated
    assert(out(1L) == 0.4 && out(2L) == 0.4, s"got $out")
    assert(out(3L) == 0.0)
  }

  test("canonicalizeCc collapses arbitrarily deep chains and matches label propagation") {
    val s = spark
    import s.implicits._
    // a 100-node chain: beyond label propagation's 2^5 reach, trivial
    // for the star algorithm
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val reps = Dedup.canonicalizeCc(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps.size == 100)
    assert(reps.values.forall(_ == 1L), s"chain not fully collapsed: $reps")
    // shallow random clusters: must agree with the propagation form
    val rnd = new scala.util.Random(83)
    val pairs = (1 to 120).map { _ =>
      val cluster = rnd.nextInt(10) * 100L
      (cluster + rnd.nextInt(8), cluster + rnd.nextInt(8))
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val cc = Dedup.canonicalizeCc(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lp = Dedup.canonicalize(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == lp, s"cc=$cc\nlp=$lp")
  }

  test("canonicalizeCc: local-finish union-find == pure star loop, " +
    "including a mid-loop threshold crossing") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // mixed shape: a deep chain + random clusters + an isolated pair
    val edges = ((1L until 60L).map(i => (i, i + 1)) ++
      (1 to 80).map { _ =>
        val c = 1000L + rnd.nextInt(6) * 50L
        (c + rnd.nextInt(9), c + rnd.nextInt(9))
      } ++ Seq((9000L, 9001L)))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = asMap(Dedup.canonicalizeCc(edges)) // default: local finish
    val star = asMap(Dedup.canonicalizeCc(edges, localFinishEdges = 0L))
    assert(fast == star, s"fast=$fast\nstar=$star")
    // threshold crossing MID-loop: start above, contract below
    val mid = asMap(Dedup.canonicalizeCc(edges, localFinishEdges = 90L))
    assert(mid == star, s"mid=$mid\nstar=$star")
  }

  test("canonicalizeCc: string ids bypass the local-finish path " +
    "(type-generic contract survives the default threshold)") {
    val s = spark
    import s.implicits._
    // the round-7 fast path cast ids to long: string ids became null
    // and the decode threw; this pins the type-generic contract
    val pairs = Seq(("doc-b", "doc-a"), ("doc-c", "doc-b"),
      ("url-2", "url-9"), ("url-9", "url-5")).toDF("id_a", "id_b")
    val cc = Dedup.canonicalizeCc(pairs) // default localFinishEdges=4M
    assert(cc.schema("id").dataType ==
      org.apache.spark.sql.types.StringType)
    val m = cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "url-2" -> "url-2", "url-5" -> "url-2",
      "url-9" -> "url-2"), s"got $m")
    // integral-but-narrow ids keep their type through the fast path
    val ints = Seq((2, 1), (3, 2), (10, 11)).toDF("id_a", "id_b")
    val cci = Dedup.canonicalizeCc(ints)
    assert(cci.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val mi = cci.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(mi == Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10),
      s"got $mi")
  }

  test("removeDomainBoilerplate: domain chrome vanishes everywhere, " +
    "organic lines survive, tiny domains untouched, all-chrome doc empties") {
    val s = spark
    import s.implicits._
    val nav = "NAV home about"; val foot = "(c) example"
    val docs = Seq(
      // domain A: 4 docs, nav+foot on all → chrome at share 1.0
      (1L, "A", s"$nav\nalpha body one\n$foot"),
      (2L, "A", s"$nav\nbeta body two\n$foot"),
      (3L, "A", s"$nav\ngamma body three\n$foot"),
      (4L, "A", s"$nav\n$foot"), // all chrome → empties
      // domain B: nav present in 1 of 3 docs (share 1/3 < 0.6) → kept
      (5L, "B", s"$nav\ndelta"),
      (6L, "B", "epsilon\nzeta"),
      (7L, "B", "eta"),
      // domain C: below minDocs → untouched even at share 1.0
      (8L, "C", s"$nav\ntheta"),
      (9L, "C", s"$nav\niota"))
      .toDF("id", "dom", "text")
    val out = Dedup.removeDomainBoilerplate(docs, "id", "dom", "text",
      minShare = 0.6, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(1L) == (("alpha body one", 3, 2)))
    assert(out(4L) == (("", 2, 2))) // all-chrome doc survives as a row
    assert(out(5L) == ((s"$nav\ndelta", 2, 0))) // under share in B
    assert(out(8L) == ((s"$nav\ntheta", 2, 0))) // under minDocs in C
    assert(out.size == 9)
  }

  test("removeDuplicatedSpans cuts shared passages, keeps one canonical copy") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d x1 y1 z1"),
      (2L, "a b c d x2 y2 z2"),
      (3L, "p q r s t u v"),
      (4L, "a b")                     // shorter than n → untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", n = 3, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    // duplicated windows: "a b c" and "b c d" (docs 1+2). keepOne
    // exempts doc 1's occurrences (min id), so doc 1 is untouched and
    // doc 2 loses tokens 0..3 ("a b c d")
    assert(out(1L) == ("a b c d x1 y1 z1", 7, 0), out.toString)
    assert(out(2L) == ("x2 y2 z2", 7, 4), out.toString)
    assert(out(3L) == ("p q r s t u v", 7, 0))
    assert(out(4L) == ("a b", 2, 0))
    // aggressive mode removes every occurrence, doc 1 included
    val all = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", n = 3,
      minDf = 2, keepOne = false)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all(1L) == "x1 y1 z1" && all(2L) == "x2 y2 z2")
  }

  test("excisePassages cuts needle spans, leaves the rest of the doc") {
    val s = spark
    import s.implicits._
    val needles = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x y a b c z w"),       // one trigram hit ("a b c") → cut 3
      (2L, "x a b c d y"),         // overlapping hits "a b c"+"b c d" → cut 4
      (3L, "p q r s t"),           // no match → untouched
      (4L, "a b")                  // shorter than n → untouched
    ).toDF("doc_id", "text")
    val out = Dedup.excisePassages(corpus, "doc_id", "text",
      needles, "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(1L) == ("x y z w", 7, 3), out.toString)
    assert(out(2L) == ("x y", 6, 4), out.toString)
    assert(out(3L) == ("p q r s t", 5, 0))
    assert(out(4L) == ("a b", 2, 0))
  }

  test("minhashLshPairsAcross finds only cross-corpus near-dups") {
    val s = spark
    import s.implicits._
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val train = Seq(
      (1L, base),                                 // near-dup of eval 101
      (2L, base),                                 // ALSO near-dup of 1 — but intra-train pairs must not emit
      (3L, "unrelated text about spark engines and columnar files")
    ).toDF("doc_id", "text")
    val evalDocs = Seq(
      (101L, base.replace("word15", "word15x")),  // near-dup of train 1/2
      (102L, "totally distinct evaluation prompt set")
    ).toDF("doc_id", "text")
    for (portable <- Seq(false, true)) {
      val pairs = Dedup.minhashLshPairsAcross(train, "doc_id", "text",
        evalDocs, "doc_id", "text", tau = 0.5, portableHash = portable)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 101L)) && pairs.contains((2L, 101L)),
        s"portable=$portable missed the planted leak: $pairs")
      // direction: left ids are train, right ids are eval — never (1,2)
      assert(pairs.forall { case (l, r) => l < 100L && r >= 100L },
        s"portable=$portable emitted a same-side pair: $pairs")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 102L))
    }
  }
}

class KnnSpec extends SparkSpec {
  test("kCenterCoreset: farthest-first picks one point per cluster, " +
    "radius non-increasing, no repeats") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // three tight clusters on orthogonal axes + jitter; k=3 must
    // land exactly one pick per cluster (greedy 2-approx behavior)
    val emb = Seq(
      (1L, v(1, 0, 0)), (2L, v(1, 0, 0.02)), (3L, v(1, 0, 0.04)),
      (10L, v(0, 1, 0)), (11L, v(0, 1, 0.02)),
      (20L, v(0, 0.02, 1)), (21L, v(0, 0.04, 1))
    ).toDF("vec_id", "embedding")
    val out = Knn.kCenterCoreset(emb, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val ids = out.map(_._2)
    assert(ids.distinct.length == 3)
    assert(ids(0) == 1L) // seed = min id
    // one pick per cluster: the three picks are pairwise far
    val clusters = ids.map(i => if (i <= 3) 0 else if (i <= 11) 1 else 2)
    assert(clusters.distinct.length == 3, s"picks $ids")
    // selection distance is non-increasing after the seed
    assert(out(1)._3 >= out(2)._3, out.toSeq.toString)
  }

  test("searchGraph: the beam walks the kNN graph to the true " +
    "neighborhood; hops=0 stays at the entry") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(53)
    // one connected gaussian cloud (a kNN graph over well-SEPARATED
    // clusters is disconnected — the walk can't cross, correctly; the
    // spec exercises navigation, so the graph must be navigable)
    val emb = (0L until 60L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val g = Knn.knnGraph(emb, "vec_id", "embedding", k = 6, c = 8,
      nprobe = 2)
    val queries = emb.where(col("vec_id") >= 50)
    val got = Knn.searchGraph(g, emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", beam = 12, hops = 6, k = 3)
    val exact = Knn.bruteForce(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
    val recalls = (50L until 60L).map { qid =>
      val e = exact.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      val p = got.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      (e & p).size.toDouble / e.size
    }
    assert(recalls.sum / recalls.size >= 0.5,
      s"beam search failed to navigate: $recalls")
    // hops = 0: the beam never leaves the entry node
    val frozen = Knn.searchGraph(g, emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", beam = 12, hops = 0, k = 3)
      .collect()
    assert(frozen.forall(_.getAs[Long]("neighbor_id") == 0L),
      frozen.mkString(","))
  }

  test("kCenterCoreset: k beyond the corpus returns all points, " +
    "short, in pick order — not an exception") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq((1L, v(1, 0)), (2L, v(0, 1)), (3L, v(1, 0.1)))
      .toDF("vec_id", "embedding")
    val out = Knn.kCenterCoreset(emb, "vec_id", "embedding", k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 3, out.toSeq.toString)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_._2).toSet == Set(1L, 2L, 3L))
    assert(out(0)._2 == 1L) // seed = min id
    assert(out(1)._2 == 2L) // farthest from seed = the orthogonal axis
  }

  test("marginPairs: margin replays from the kNN graph exactly and " +
    "demotes hub neighborhoods") {
    val s = spark
    import s.implicits._
    // a tight hub cluster (ids 1-4, nearly identical vectors) and an
    // exceptional isolated pair (10, 11): raw cosine ranks both ~1,
    // the margin criterion must score the isolated pair higher
    // because the hub's denominator (its neighborhood average) is
    // itself ~1 while the pair's neighborhoods include the far hub
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq(
      (1L, v(1, 0, 0.00)), (2L, v(1, 0, 0.01)),
      (3L, v(1, 0, 0.02)), (4L, v(1, 0, 0.03)),
      (10L, v(0, 1, 0.00)), (11L, v(0, 1, 0.012))
    ).toDF("vec_id", "embedding")
    val out = Knn.marginPairs(emb, "vec_id", "embedding",
      k = 3, c = 1, nprobe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(4))).toMap
    // replay the margin from the graph the operator itself builds
    val g = Knn.knnGraph(emb, "vec_id", "embedding", k = 3, c = 1,
      nprobe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val deg = g.groupBy(_._1).view.mapValues { es =>
      (es.map(e => math.round(e._3 * 1e6)).sum, es.size.toLong)
    }.toMap
    g.foreach { case (a, b, sim) =>
      val (sa, na) = deg(a); val (sb, nb) = deg(b)
      val want = math.round(math.round(sim * 1e6).toDouble /
        ((sa.toDouble / na + sb.toDouble / nb) / 2.0) * 1e6)
      assert(out((a, b))._2 == want, s"($a,$b): ${out((a, b))._2} vs $want")
    }
    // hubness correction: the isolated pair's margin beats every
    // intra-hub margin even though raw sims are all ≈ 1
    val pairMargin = out((10L, 11L))._2
    val hubMargins = out.collect {
      case ((a, b), (_, m)) if a <= 4 && b <= 4 => m }
    assert(hubMargins.nonEmpty && hubMargins.forall(_ < pairMargin),
      s"pair=$pairMargin hub=${hubMargins.toSeq.sorted}")
  }

  test("groupCentroids production/ordered agree; centroidContrast geometry") {
    val s = spark
    import s.implicits._
    // two groups on known axes: a → (1,0,..), b → (0,1,..) with one
    // perturbed member each so the mean is non-trivial
    val dim = 4
    def v(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(dim)(0f); parts.foreach { case (i, x) => a(i) = x }; a
    }
    val df = Seq(
      (1L, "a", v(0 -> 1f)), (2L, "a", v(0 -> 3f)),
      (3L, "b", v(1 -> 2f)), (4L, "b", v(1 -> 4f)),
      (5L, "c", v(0 -> 1f, 1 -> 1f))
    ).toDF("id", "grp0", "vec")
    val ordered = Knn.groupCentroids(df, "id", "vec", "grp0", dim, ordered = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Double](2).toArray)).toMap
    assert(ordered("a")._1 == 2L && ordered("a")._2.sameElements(Array(2.0, 0, 0, 0)))
    assert(ordered("b")._2.sameElements(Array(0, 3.0, 0, 0)))
    // parallel aggregator path agrees to fp noise
    val prod = Knn.groupCentroids(df, "id", "vec", "grp0", dim)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](2).toArray).toMap
    ordered.foreach { case (g, (_, cv)) =>
      cv.zip(prod(g)).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12) }
    }
    // contrast: a⊥b → 0, c at 45° to both → cos 0.707107; pairs a<b only
    val con = Knn.centroidContrast(
        Knn.groupCentroids(df, "id", "vec", "grp0", dim, ordered = true))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(con.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(con(("a", "b"))._3 == 0.0)
    assert(con(("a", "c"))._3 == 0.707107 && con(("b", "c"))._3 == 0.707107)
    assert(con(("a", "b"))._1 == 2L && con(("a", "b"))._2 == 2L)
  }

  test("bruteForce returns exact ranked neighbors; ivf recall is sane") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    val exact = Knn.bruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val perQuery = exact.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == 10))
    // rank 1 must be the global argmax similarity (spot-check query 0)
    val q0 = exact.where(col("query_id") === 0 && col("rank") === 1).collect()(0)
    val exactSet = exact.where(col("query_id") === 0)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val ivf = Knn.ivf(vecs, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 10, c = 8, nprobe = 4)
    val ivfSet = ivf.where(col("query_id") === 0)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val recall = (exactSet & ivfSet).size.toDouble / exactSet.size
    assert(recall >= 0.3, s"IVF recall collapsed: $recall (q0 top=${q0.getLong(1)})")
    assert(ivfSet.size <= 10)
    // k-means-refined cells must not collapse recall either
    val refined = Knn.ivf(vecs, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 10, c = 8, nprobe = 4, refineIters = 2)
      .where(col("query_id") === 0)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val refinedRecall = (exactSet & refined).size.toDouble / exactSet.size
    assert(refinedRecall >= 0.3, s"refined IVF recall collapsed: $refinedRecall")
  }

  test("knnGraph links cluster-mates and shuffles (not broadcasts) the cell join") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    // 4 tight clusters around orthogonal axes: true neighbors share a cluster
    val vecs = (0L until 200L).map { i =>
      val base = Array.fill(8)(0.05f * rnd.nextGaussian().toFloat)
      base((i % 4).toInt) = 1.0f
      (i, base)
    }.toDF("vec_id", "embedding")
    val g = Knn.knnGraph(vecs, "vec_id", "embedding", k = 3, c = 8, nprobe = 2)
      .collect()
    val byQuery = g.groupBy(_.getLong(0))
    assert(byQuery.size == 200, s"every vector must emit edges: ${byQuery.size}")
    byQuery.values.foreach { rows =>
      assert(rows.length <= 3 &&
        rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
    }
    // rank-1 neighbors overwhelmingly share the query's cluster
    val sameCluster = g.filter(_.getInt(3) == 1)
      .count(r => r.getLong(0) % 4 == r.getLong(1) % 4)
    assert(sameCluster >= 180, s"cluster structure lost: $sameCluster/200")
    // with broadcast off (the 100 TB regime — both sides corpus-scale)
    // the cell join must plan as a shuffle join, and the probe
    // assignment must add no join at all
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Knn.knnGraph(vecs, "vec_id", "embedding", k = 3, c = 8, nprobe = 2)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"corpus side must not broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a co-keyed shuffle join:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ingestGraphStream: micro-batches NSW-insert into the persisted " +
    "graph; inserted nodes searchable between batches (round 10)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(47)
    def point(center: Int, noise: Float): Array[Float] = {
      val v = Array.fill(8)(noise * rnd.nextGaussian().toFloat)
      v(center) += 5.0f
      v
    }
    val base = (0L until 60L).map(i => (i, point((i % 3).toInt, 0.5f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_ing").toString
    Knn.writeGraphIndex(base, "vec_id", "embedding", dir,
      k = 6, c = 8, nprobe = 2, buckets = 8)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = Knn.ingestGraphStream(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir,
      java.nio.file.Files.createTempDirectory("graph_ing_ck").toString,
      beam = 8, hops = 2)
    try {
      input.addData((1000L, point(0, 0.02f)), (1001L, point(1, 0.02f)))
      q.processAllAvailable()
      // first batch landed and is findable mid-stream
      val hit1 = Knn.searchGraphIndex(spark, dir,
        Seq((900000L, point(0, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", beam = 8, hops = 3, k = 3)
        .where(col("neighbor_id") === 1000L).count()
      assert(hit1 == 1, "batch-1 node not reachable")
      input.addData((1002L, point(2, 0.02f)))
      q.processAllAvailable()
      val edges = spark.read.parquet(s"$dir/edges")
      assert(edges.groupBy("src").count().agg(max("count"))
        .head().getLong(0) <= 6, "degree bound broken by streaming ingest")
      val srcs = edges.where(col("src") >= 1000L)
        .select("src").distinct().count()
      assert(srcs == 3, s"appended sources: $srcs")
    } finally q.stop()
  }

  test("diversifyNeighbors: α-RNG prune keeps the diverse candidate " +
    "over the redundant closer one, and backfill restores degree k " +
    "(round 12)") {
    val s = spark
    import s.implicits._
    // query along e0; a = nearest, b = nearly coincident with a
    // (redundant: closer to a than to q → pruned), c = a different
    // direction (diverse: closer to q than to a → kept)
    def unit(xs: Double*): Array[Float] = {
      val n = math.sqrt(xs.map(x => x * x).sum)
      xs.map(x => (x / n).toFloat).toArray
    }
    val q = unit(1, 0, 0, 0)
    val vecs = Seq(
      (1L, unit(0.95, 0.30, 0, 0)), // a: sim(q,a) ~ 0.954
      (2L, unit(0.93, 0.35, 0, 0)), // b: sim(q,b) ~ 0.936, sim(a,b) ~ 0.999
      (3L, unit(0.80, 0, 0.60, 0))  // c: sim(q,c) = 0.8,   sim(a,c) ~ 0.76
    ).toDF("id", "vec")
    def cos6(x: Array[Float], y: Array[Float]): Double = {
      val d = x.zip(y).map { case (u, v) => u.toDouble * v }.sum
      val nx = math.sqrt(x.map(u => u.toDouble * u).sum)
      val ny = math.sqrt(y.map(u => u.toDouble * u).sum)
      math.round(d / (nx * ny) * 1e6) / 1e6
    }
    val byId = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val scored = Seq(1L, 2L, 3L).map(i => (0L, i, cos6(q, byId(i))))
      .toDF("query_id", "neighbor_id", "sim")
    // k=2: the redundant b is pruned, the diverse c takes rank 2
    val k2 = Knn.diversifyNeighbors(scored, vecs, kCand = 3, k = 2,
        alphaMicro = 1000000L)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(k2.toSeq == Seq((1L, 1), (3L, 2)), k2.mkString(","))
    // k=3: backfill brings the pruned b back at the LAST rank
    val k3 = Knn.diversifyNeighbors(scored, vecs, kCand = 3, k = 3,
        alphaMicro = 1000000L)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(k3.toSeq == Seq((1L, 1), (3L, 2), (2L, 3)), k3.mkString(","))
    // a large α relaxes the rule until nothing prunes: pure rank order
    val loose = Knn.diversifyNeighbors(scored, vecs, kCand = 3, k = 3,
        alphaMicro = 100000000L)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(loose.toSeq == Seq((1L, 1), (2L, 2), (3L, 3)), loose.mkString(","))
  }

  test("knnGraphDiverse: edges are a subset of the kCand candidate " +
    "pool, degree stays k, and rank 1 is always the nearest candidate " +
    "(round 12)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(61)
    val emb = (0L until 80L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val cand = Knn.knnGraph(emb, "vec_id", "embedding", k = 8, c = 8,
        nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    val candSet = cand.map(t => (t._1, t._2)).toSet
    val nearest = cand.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    val div = Knn.knnGraphDiverse(emb, "vec_id", "embedding", k = 4,
        kCand = 8, c = 8, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(div.forall(t => candSet((t._1, t._2))),
      "diversified edge outside the candidate pool")
    val deg = div.groupBy(_._1).view.mapValues(_.size).toMap
    assert(deg.values.forall(_ <= 4), s"degree bound broken: $deg")
    div.filter(_._3 == 1).foreach { case (q, n, _) =>
      assert(nearest(q) == n, s"rank-1 edge of $q is not the nearest") }
  }

  test("diversified graph store: build + NSW append keep the α-RNG " +
    "selection (meta roundtrip through compact), appended nodes stay " +
    "reachable (round 12)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(67)
    def point(center: Int, noise: Float): Array[Float] = {
      val v = Array.fill(8)(noise * rnd.nextGaussian().toFloat)
      v(center) += 5.0f
      v
    }
    val base = (0L until 60L).map(i => (i, point((i % 3).toInt, 0.5f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_div").toString
    Knn.writeGraphIndex(base, "vec_id", "embedding", dir,
      k = 4, c = 8, nprobe = 2, buckets = 8, alpha = 1.0, kCand = 8)
    val meta = spark.read.parquet(s"$dir/meta").head()
    assert(meta.getAs[Long]("alphamicro") == 1000000L)
    assert(meta.getAs[Int]("kcand") == 8)
    val d0 = spark.read.parquet(s"$dir/edges")
      .groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(d0 <= 4, s"build degree bound broken: $d0")
    Knn.appendGraphIndex(Seq((1000L, point(1, 0.02f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      beam = 8, hops = 2)
    val d1 = spark.read.parquet(s"$dir/edges")
      .groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(d1 <= 4, s"append degree bound broken: $d1")
    val hit = Knn.searchGraphIndex(spark, dir,
      Seq((900000L, point(1, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", beam = 8, hops = 3, k = 3)
      .where(col("neighbor_id") === 1000L).count()
    assert(hit == 1, "appended node not reachable on the diversified store")
    Knn.deleteFromGraphIndex(Seq(5L).toDF("vec_id"), "vec_id", dir)
    Knn.compactGraphStore(spark, dir)
    val meta2 = spark.read.parquet(s"$dir/meta").head()
    assert(meta2.getAs[Long]("alphamicro") == 1000000L,
      "compaction dropped the diversification meta")
  }

  test("coded graph walk (ADC + exact re-rank): finds the true " +
    "neighborhood through PQ-scored hops, returned sims are the exact " +
    "cosines (round 12)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(71)
    def point(center: Int, noise: Float): Array[Float] = {
      val v = Array.fill(16)(noise * rnd.nextGaussian().toFloat)
      v(center) += 5.0f
      v
    }
    val base = (0L until 80L).map(i => (i, point((i % 2).toInt, 0.6f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_adc").toString
    Knn.writeGraphIndex(base, "vec_id", "embedding", dir,
      k = 6, c = 8, nprobe = 2, buckets = 8)
    val books = graft.entry.EntryHelpers.pqBooks(m = 4, k = 16,
      subDim = 4, seed = 13L)
    Knn.writeGraphCodes(spark, dir, books)
    // sidecar is bucket-partitioned (the walk's pruning handle)
    assert(new java.io.File(s"$dir/codes").listFiles()
      .exists(_.getName.startsWith("bucket=")), "codes not bucketed")
    val queries = base.where(col("vec_id") >= 70)
    val got = Knn.searchGraphIndexAdc(spark, dir, books, queries,
      "vec_id", "embedding", beam = 10, hops = 3, k = 3)
    val rows = got.collect()
    assert(rows.length == 10 * 3, s"expected 30 rows, got ${rows.length}")
    // re-ranked sims must be the EXACT 6-dp cosines, not ADC scores
    val vecs = base.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    rows.foreach { r =>
      val (qid, nid, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (a, b) = (vecs(qid), vecs(nid))
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      assert(math.abs(sim - math.round(dot / (na * nb) * 1e6) / 1e6) < 1e-9,
        s"sim of ($qid,$nid) is not the exact cosine")
    }
    // the coded walk navigates: decent recall vs brute force
    val exact = Knn.bruteForce(base, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
    val recalls = (70L until 80L).map { qid =>
      val e = exact.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      val p = rows.filter(_.getLong(0) == qid).map(_.getLong(1)).toSet
      (e & p).size.toDouble / e.size
    }
    assert(recalls.sum / recalls.size >= 0.5,
      s"coded walk failed to navigate: $recalls")
  }

  test("codes sidecar lifecycle (round 13): append encodes the batch " +
    "through the stored books (appended vector ADC-visible as a top " +
    "hit), compaction re-projects survivors, and a stale sidecar " +
    "fails loudly instead of silently dropping nodes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(73)
    def point(center: Int, noise: Float): Array[Float] = {
      val v = Array.fill(16)(noise * rnd.nextGaussian().toFloat)
      v(center) += 5.0f
      v
    }
    val base = (0L until 80L).map(i => (i, point((i % 2).toInt, 0.6f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_capp").toString
    Knn.writeGraphIndex(base, "vec_id", "embedding", dir,
      k = 6, c = 8, nprobe = 2, buckets = 8)
    // data-trained books: random-gaussian codewords quantize the
    // center-spike structure away and ADC ties then trim by node ASC —
    // the appended (large) id would lose its beam slot to quantization
    // noise, not to a maintenance bug
    val books = Pq.trainCodebooks(base, "vec_id", "embedding",
      m = 4, k = 16, dim = 16)
    Knn.writeGraphCodes(spark, dir, books)
    // 1) append maintains the sidecar: the new vector's codes land in
    // the same append, so the ADC walk finds it with NO manual
    // re-encode (pre-r13: silently invisible)
    val appVec = point(1, 0.02f)
    Knn.appendGraphIndex(Seq((1000L, appVec))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      beam = 8, hops = 2)
    assert(spark.read.parquet(s"$dir/codes").count() == 81,
      "append did not extend the codes sidecar")
    val hit = Knn.searchGraphIndexAdc(spark, dir, books,
      Seq((900000L, appVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", beam = 12, hops = 3, k = 3)
      .where(col("neighbor_id") === 1000L).count()
    assert(hit == 1, "appended vector not ADC-visible")
    // 2) compaction re-projects the survivors' codes
    Knn.deleteFromGraphIndex(Seq(5L).toDF("vec_id"), "vec_id", dir)
    Knn.compactGraphStore(spark, dir)
    assert(spark.read.parquet(s"$dir/codes").count() == 80,
      "compaction left the tombstoned row in the sidecar")
    assert(Knn.searchGraphIndexAdc(spark, dir, books,
      Seq((900000L, appVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", beam = 12, hops = 3, k = 3).count() == 3)
    // 3) a pre-r13-style store (codes but no books sidecar) appended
    // to goes STALE — the guard must error, not degrade recall
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(s"$dir/codes_books"))
    Knn.appendGraphIndex(Seq((2000L, point(0, 0.02f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      beam = 8, hops = 2)
    val err = intercept[IllegalArgumentException] {
      Knn.searchGraphIndexAdc(spark, dir, books,
        Seq((900001L, point(0, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", beam = 8, hops = 3, k = 3)
    }
    assert(err.getMessage.contains("stale codes sidecar"))
  }

  test("ADC staleness guard rejects DUPLICATE codes rows (round 15): " +
    "a double-coded node would be scored twice and eat two beam slots") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(74)
    def point(center: Int, noise: Float): Array[Float] = {
      val v = Array.fill(16)(noise * rnd.nextGaussian().toFloat)
      v(center) += 5.0f
      v
    }
    val base = (0L until 40L).map(i => (i, point((i % 2).toInt, 0.6f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_cdup").toString
    Knn.writeGraphIndex(base, "vec_id", "embedding", dir,
      k = 4, c = 4, nprobe = 2, buckets = 4)
    val books = Pq.trainCodebooks(base, "vec_id", "embedding",
      m = 4, k = 16, dim = 16)
    Knn.writeGraphCodes(spark, dir, books)
    val q = Seq((900L, point(0, 0.0f))).toDF("vec_id", "embedding")
    assert(Knn.searchGraphIndexAdc(spark, dir, books, q,
      "vec_id", "embedding", beam = 6, hops = 2, k = 3).count() == 3)
    // hand-maintained sidecar gone wrong: one node's codes row lands
    // twice (same cardinality trick as the r13 count-check bypass —
    // the id-level union audit must still fail loudly)
    val one = spark.read.parquet(s"$dir/codes").limit(1)
      .localCheckpoint(true)
    one.write.mode("append").partitionBy("bucket").parquet(s"$dir/codes")
    val err = intercept[IllegalArgumentException] {
      Knn.searchGraphIndexAdc(spark, dir, books, q,
        "vec_id", "embedding", beam = 6, hops = 2, k = 3)
    }
    assert(err.getMessage.contains("duplicate codes"))
  }

  test("graphStoreStats + maintainGraphStore (round 15): the stats " +
    "dashboard and the tombstone / files-per-bucket policy loop") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(75)
    def point(center: Int): Array[Float] = {
      val v = Array.fill(8)(0.4f * rnd.nextGaussian().toFloat)
      v(center) += 4.0f
      v
    }
    val base = (0L until 40L).map(i => (i, point((i % 2).toInt)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_maint").toString
    Knn.writeGraphIndex(base, "vec_id", "embedding", dir,
      k = 3, c = 4, nprobe = 2, buckets = 4)
    // dashboard: every node counted once at layer 0, edges grouped by
    // src bucket, zero backlog on a fresh store
    val st0 = Knn.graphStoreStats(spark, dir).collect()
    assert(st0.map(_.getLong(2)).sum == 40L, s"n_nodes: ${st0.toSeq}")
    assert(st0.map(_.getLong(4)).sum ==
      spark.read.parquet(s"$dir/edges").count(), s"n_edges: ${st0.toSeq}")
    assert(st0.forall(_.getLong(3) == 0L), "fresh store has no backlog")
    assert(Knn.maintainGraphStore(spark, dir,
      maxTombstoneFrac = 0.2).isEmpty, "fresh store must be in budget")
    // 8 live + 1 orphan tombstones = 9/40 > 0.2 -> compacts
    Knn.deleteFromGraphIndex(
      ((0L until 40L by 5L) :+ 999L).toDF("vec_id"), "vec_id", dir)
    val st1 = Knn.graphStoreStats(spark, dir)
      .agg(sum("n_tombstoned")).head().getLong(0)
    assert(st1 == 8L, s"live backlog: $st1")
    val m = Knn.maintainGraphStore(spark, dir, maxTombstoneFrac = 0.2)
    assert(m.nonEmpty, "9/40 tombstones over a 0.2 budget must compact")
    val mm = m.get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mm("tombstones_applied") == 9L && mm("nodes_live") == 32L, s"$mm")
    assert(Knn.graphStoreStats(spark, dir)
      .agg(sum("n_tombstoned")).head().getLong(0) == 0L,
      "compaction must clear the backlog")
    // appends accrete node files; the files budget coalesces them
    def maxFiles() = StoreKernel.storeFileStats(spark, dir, "nodes")
      .agg(max("n_files")).head().getLong(0)
    Knn.appendGraphIndex((100L to 103L).map(i => (i, point((i % 2).toInt)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      beam = 4, hops = 2)
    assert(maxFiles() > 1, s"append did not accrete files: ${maxFiles()}")
    val m2 = Knn.maintainGraphStore(spark, dir,
      maxTombstoneFrac = 1.0, maxFilesPerBucket = 1)
    assert(m2.nonEmpty, "over-accreted store must compact")
    assert(maxFiles() == 1L, s"compaction did not coalesce: ${maxFiles()}")
    assert(spark.read.parquet(s"$dir/nodes").count() == 36L)
  }

  test("filtered IVF search (round 13): predicate evaluates pre-top-k " +
    "(filtered-out rows never eat a rank slot), kept attributes ride " +
    "the cell directories, range search matches the brute threshold") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    def point(center: Int): Array[Float] = {
      val v = Array.fill(8)(0.3f * rnd.nextGaussian().toFloat)
      v(center) += 4.0f
      v
    }
    val corpus = (0L until 120L).map { i =>
      (i, point((i % 4).toInt), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "grp")
    val dir = java.nio.file.Files.createTempDirectory("ivf_filt").toString
    Knn.writeIvfIndex(corpus, "vec_id", "embedding", dir, c = 4,
      keep = Seq("grp"))
    val queries = corpus.where(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding"))
    // nprobe = c: every cell probed, so the filtered search must EQUAL
    // brute force over the predicate-satisfying subset — the rank
    // slots are all spent on grp=1 rows
    val got = Knn.searchIvfFiltered(spark, dir, queries,
      "vec_id", "embedding", k = 5, pred = col("grp") === 1, nprobe = 4)
    val want = Knn.bruteForce(corpus.where(col("grp") === 1),
      "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
    assert(got.select("query_id", "neighbor_id", "sim", "rank")
        .collect().map(_.toString).sorted.toSeq ==
      want.select("query_id", "neighbor_id", "sim", "rank")
        .collect().map(_.toString).sorted.toSeq,
      "filtered search != brute force over the filtered subset")
    // every hit satisfies the predicate
    val grpOf = corpus.select("vec_id", "grp").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.collect().foreach(r =>
      assert(grpOf(r.getAs[Long]("neighbor_id")) == 1, "pred violated"))
    // range search at full probe coverage = the brute-force threshold
    val tau = 0.6
    val gotR = Knn.searchIvfRange(spark, dir, queries,
        "vec_id", "embedding", tau = tau, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val wantR = (for {
      q <- 0L until 4L; n <- 0L until 120L
      if n != q && math.round(cos(vecs(q), vecs(n)) * 1e6) / 1e6 >= tau
    } yield (q, n)).toSet
    assert(gotR == wantR, s"range mismatch: ${gotR.size} vs ${wantR.size}")
  }

  test("filtered graph search (round 13): predicate holds on every " +
    "hit, always-true pred equals the unfiltered search, and appends " +
    "carry the kept attributes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(47)
    def point(center: Int): Array[Float] = {
      val v = Array.fill(8)(0.4f * rnd.nextGaussian().toFloat)
      v(center) += 4.0f
      v
    }
    val corpus = (0L until 100L).map { i =>
      (i, point((i % 4).toInt), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "grp")
    val dir = java.nio.file.Files.createTempDirectory("graph_filt").toString
    Knn.writeGraphIndex(corpus, "vec_id", "embedding", dir, k = 4, c = 8,
      nprobe = 2, buckets = 8, keep = Seq("grp"))
    val queries = corpus.where(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding"))
    val got = Knn.searchGraphIndexFiltered(spark, dir, queries,
      "vec_id", "embedding", beam = 10, hops = 3, k = 3,
      pred = col("grp") === 1)
    val grpOf = corpus.select("vec_id", "grp").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.collect()
    assert(rows.nonEmpty, "filtered search returned nothing")
    rows.foreach(r =>
      assert(grpOf(r.getAs[Long]("neighbor_id")) == 1, "pred violated"))
    // identity: an always-true predicate must EQUAL the plain search
    val all = Knn.searchGraphIndexFiltered(spark, dir, queries,
        "vec_id", "embedding", beam = 10, hops = 3, k = 3,
        pred = lit(true))
      .collect().map(_.toString).sorted.toSeq
    val plain = Knn.searchGraphIndex(spark, dir, queries,
        "vec_id", "embedding", beam = 10, hops = 3, k = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(all == plain, "always-true pred diverged from plain search")
    // appends carry the kept attribute (schema discovered from the
    // store) and the appended node filters correctly
    Knn.appendGraphIndex(Seq((500L, point(1), 1))
      .toDF("vec_id", "embedding", "grp"), "vec_id", "embedding", dir,
      beam = 8, hops = 2)
    val post = Knn.searchGraphIndexFiltered(spark, dir,
      Seq((900000L, point(1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", beam = 10, hops = 3, k = 5,
      pred = col("grp") === 1)
    assert(post.where(col("neighbor_id") === 500L).count() == 1,
      "appended keep-store node not findable under the predicate")
  }

  test("late-interaction MaxSim (round 13): score equals the " +
    "hand-computed sum-of-maxes, duplicate query tokens each count, " +
    "self-doc excluded") {
    val s = spark
    import s.implicits._
    // doc 1: tokens aligned to axes 0 and 1; doc 2: axes 2 and 3;
    // query 10: tokens on axes 0 and 2 (one best match in EACH doc)
    def axis(i: Int): Array[Float] = {
      val v = Array.fill(4)(0.0f); v(i) = 1.0f; v
    }
    val docs = Seq(
      (1L, 100L, axis(0)), (1L, 101L, axis(1)),
      (2L, 200L, axis(2)), (2L, 201L, axis(3)),
      (10L, 900L, axis(0))
    ).toDF("doc_id", "tok", "vec")
    val queries = Seq(
      (10L, 1L, axis(0)), (10L, 2L, axis(2)),
      (10L, 3L, axis(0)) // duplicate of token 1 — must count twice
    ).toDF("doc_id", "tok", "vec")
    val got = Knn.lateInteractionTopK(docs, "doc_id", "vec",
        queries, "doc_id", "tok", "vec", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq.sortBy(r => (r._1, r._4))
    // doc 1: tok1 max = cos(a0,a0)=1, tok2 max = cos(a2,a1)=0,
    // tok3 max = 1 -> 2e6; doc 2: tok2 max = 1, others 0 -> 1e6
    assert(got == Seq((10L, 1L, 2000000L, 1), (10L, 2L, 1000000L, 2)),
      s"MaxSim mismatch: $got")
    // self-doc 10 excluded even though its token matches perfectly
    assert(!got.exists(_._2 == 10L))
  }

  test("PLAID composition (round 14): poolTokens is the exact integer " +
    "sum, and rerank over a candidate set covering the true top-k " +
    "equals the brute-force baseline") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(47)
    // 12 docs × 4 tokens of 8-dim vectors
    val docs = (0L until 48L).map { t =>
      (t / 4, t, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("doc_id", "tok", "vec")
    val pooled = Knn.poolTokens(docs, "doc_id", "vec")
    // exactness: pooled component = sum of per-token rounded millis
    val expect = docs.collect().map { r =>
      (r.getLong(0), r.getSeq[Float](2).map(x =>
        math.round(x.toDouble * 1000).toDouble).toArray)
    }.groupBy(_._1).view.mapValues(_.map(_._2)
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })).toMap
    pooled.collect().foreach { r =>
      assert(r.getSeq[Double](1).toArray.sameElements(expect(r.getLong(0))),
        s"pooled mismatch for doc ${r.getLong(0)}")
    }
    // rerank over ALL candidate pairs == brute-force MaxSim
    val queries = docs.where(col("doc_id") < 3)
    val allPairs = queries.select(col("doc_id").as("query_id")).distinct()
      .crossJoin(docs.select(col("doc_id")).distinct())
    val rr = Knn.lateInteractionRerank(docs, "doc_id", "vec",
        queries, "doc_id", "tok", "vec", allPairs, k = 4)
      .collect().map(_.toString).sorted.toSeq
    val bf = Knn.lateInteractionTopK(docs, "doc_id", "vec",
        queries, "doc_id", "tok", "vec", k = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(rr == bf, "full-candidate rerank must equal brute force")
    // and a RESTRICTED candidate set only ever returns its own docs
    val narrow = Knn.lateInteractionRerank(docs, "doc_id", "vec",
        queries, "doc_id", "tok", "vec",
        allPairs.where(col("doc_id") < 6), k = 4)
      .collect().map(r => r.getLong(1)).toSet
    assert(narrow.forall(_ < 6L), "rerank scored outside the shortlist")
  }

  test("mmrSelect (round 13): the greedy trace picks relevance first, " +
    "then diversity over a near-duplicate of the first pick; " +
    "lambda=1 degenerates to plain top-k") {
    val s = spark
    import s.implicits._
    // candidates for query 1: ids 10 and 11 are near-identical twins
    // (both highly relevant), id 20 is orthogonal and less relevant
    val v0 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val v0b = Array(0.999f, 0.04f, 0.0f, 0.0f) // cos ~ 0.999 to v0
    val v1 = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val cand = Seq(
      (1L, 10L, 990000L, v0), (1L, 11L, 980000L, v0b),
      (1L, 20L, 600000L, v1)
    ).toDF("query_id", "id", "rel", "vec")
    val got = Knn.mmrSelect(cand, "query_id", "id", "rel", "vec",
        k = 2, lambdaMicro = 500000L)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq.sortBy(_._2)
    // round 1: argmax rel = 10. round 2 at lambda=.5:
    //   11: .5*980000 - .5*999199 < 0;  20: .5*600000 - .5*0 > 0
    assert(got == Seq((10L, 1), (20L, 2)),
      s"MMR did not diversify: $got")
    val plain = Knn.mmrSelect(cand, "query_id", "id", "rel", "vec",
        k = 2, lambdaMicro = 1000000L)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq.sortBy(_._2)
    assert(plain == Seq((10L, 1), (11L, 2)),
      s"lambda=1 is not plain top-k: $plain")
  }

  test("knnGraph targetCellSize bounds cell cardinality: auto-sized c " +
    "equals the explicit c, and grows with n (round-10 scale fix)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 320L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    // n=320, targetCellSize=40 → cEff = max(16, 8) = 16 (floor keeps
    // the explicit minimum); targetCellSize=5 → cEff = 64
    val auto = Knn.knnGraph(vecs, "vec_id", "embedding", k = 3,
        c = 16, nprobe = 2, targetCellSize = 5)
      .collect().map(_.toString).sorted.toSeq
    val explicit = Knn.knnGraph(vecs, "vec_id", "embedding", k = 3,
        c = 64, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(auto == explicit, "auto-sized c must equal the explicit c")
    // and the floor: a large cell target degrades to the explicit c
    val floored = Knn.knnGraph(vecs, "vec_id", "embedding", k = 3,
        c = 16, nprobe = 2, targetCellSize = 400)
      .collect().map(_.toString).sorted.toSeq
    val base = Knn.knnGraph(vecs, "vec_id", "embedding", k = 3,
        c = 16, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(floored == base)
  }

  test("persisted IVF index probes with partition pruning") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toFile
    Knn.writeIvfIndex(vecs, "vec_id", "embedding", dir.getAbsolutePath, c = 8)
    // cells live as one directory per cell value
    val cellDirs = new java.io.File(dir, "cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cellDirs.length > 1 && cellDirs.length <= 8)

    val hits = Knn.searchIvf(spark, dir.getAbsolutePath, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)
    val exact = Knn.bruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val exactSet = exact.where(col("query_id") === 0)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val hitSet = hits.where(col("query_id") === 0)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert((exactSet & hitSet).size.toDouble / exactSet.size >= 0.3)

    // the probe scan must prune to the probed cell directories
    val plan = hits.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      "probe scan lost its partition filter")
  }

  test("persisted kNN-graph index: build/search/append lifecycle — " +
    "multi-seed recall, bucket pruning, bounded degree, appended nodes " +
    "findable as top hits") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    // three well-separated clusters — the shape where a single global
    // entry node strands whole regions and multi-seed must not
    def point(center: Int, noise: Float = 0.5f): Array[Float] = {
      val base = Array.fill(8)(noise * rnd.nextGaussian().toFloat)
      base(center) += 5.0f
      base
    }
    val corpus = (0L until 90L).map(i => (i, point((i % 3).toInt)))
    val df = corpus.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_idx").toFile
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir.getAbsolutePath,
      k = 6, c = 8, nprobe = 2, buckets = 8)
    // layout: (layer, bucket)-partitioned edges + bucketed nodes,
    // per-(layer, cell) entries with vectors (layer 0 only here)
    val edgeDirs = new java.io.File(new java.io.File(dir, "edges"),
        "layer=0").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName)
    assert(edgeDirs.length == 8, edgeDirs.toSeq.toString)
    val entries = spark.read.parquet(s"${dir.getAbsolutePath}/entries")
    assert(entries.count() <= 8 && entries.columns.toSet ==
      Set("layer", "cell", "node", "nvec"))

    val queries = df.where(col("vec_id") % 30 === 1) // one per cluster
    // plan capture is opt-in since round 15 (building two formatted
    // explains per hop is pure driver cost in production walks)
    Knn.capturePlans = true
    val hits = try Knn.searchGraphIndex(spark, dir.getAbsolutePath, queries,
      "vec_id", "embedding", beam = 6, hops = 2, k = 4)
    finally Knn.capturePlans = false
    // the returned frame is checkpointed — the hop's pruned scans live
    // in the captured hop plan (edge expansion + node scoring)
    val plan = Knn.lastHopPlan
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      "graph probe lost its bucket partition filter")
    // every query's hits come from ITS cluster (multi-seed start —
    // a single global entry cannot reach the other clusters' regions)
    val got = hits.collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("neighbor_id")
      assert(q % 3 == n % 3, s"query $q got cross-cluster neighbor $n")
    }
    // deterministic: a second probe returns the identical rows
    val again = Knn.searchGraphIndex(spark, dir.getAbsolutePath, queries,
      "vec_id", "embedding", beam = 6, hops = 2, k = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(again == got.map(_.toString).sorted.toSeq)

    // append: new nodes near each cluster center, NSW insert
    // near-center vectors: systematically closer to every cluster
    // member than members are to each other → reverse edges survive
    val batch = (1000L until 1006L)
      .map(i => (i, point((i % 3).toInt, noise = 0.02f)))
      .toDF("vec_id", "embedding")
    Knn.appendGraphIndex(batch, "vec_id", "embedding",
      dir.getAbsolutePath, beam = 8, hops = 2)
    val edgesAfter = spark.read.parquet(s"${dir.getAbsolutePath}/edges")
    // degree stays bounded at k for EVERY source, old and new
    val deg = edgesAfter.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max("d")).head()
    assert(deg.getLong(0) <= 6, s"max degree ${deg.getLong(0)} > k")
    // appended nodes have out-edges of their own AND keep at least one
    // in-edge through the reverse-link re-trim (what findability rides
    // on — probabilistic in general, deterministic in this config)
    val newSrc = edgesAfter
      .where(col("src") >= 1000L).select("src").distinct().count()
    assert(newSrc == 6, s"appended sources with edges: $newSrc")
    val newIn = edgesAfter
      .where(col("dst") >= 1000L).select("dst").distinct().count()
    assert(newIn == 6, s"appended nodes with an in-edge: $newIn")
    // an appended node is FINDABLE: querying its exact vector (fresh
    // query id) returns it as the top hit via reverse edges
    val probe = batch.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val found = Knn.searchGraphIndex(spark, dir.getAbsolutePath, probe,
      "vec_id", "embedding", beam = 8, hops = 3, k = 2)
      .where(col("rank") === 1).collect()
    assert(found.length == 6)
    found.foreach { r =>
      val want = r.getAs[Long]("query_id") - 100000L
      assert(r.getAs[Long]("neighbor_id") == want,
        s"query ${r.getAs[Long]("query_id")} top hit " +
          s"${r.getAs[Long]("neighbor_id")}, want $want")
      assert(r.getAs[Double]("sim") == 1.0, r.toString)
    }
  }

  test("graph store delete/compact: tombstoned ids vanish from results " +
    "pre-top-k, compaction materializes (no deleted id anywhere, " +
    "entries recomputed), post-compact search deterministic (round 11)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(71)
    def point(center: Int, noise: Float = 0.5f): Array[Float] = {
      val base = Array.fill(8)(noise * rnd.nextGaussian().toFloat)
      base(center) += 5.0f
      base
    }
    val df = (0L until 90L).map(i => (i, point((i % 3).toInt)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_del").toString
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir,
      k = 6, c = 8, nprobe = 2, buckets = 8)
    // the exact top hit for a probe of vector 3's own position
    val probe = Seq((900000L, point(0, 0.0f))).toDF("vec_id", "embedding")
    val before = Knn.searchGraphIndex(spark, dir, probe,
      "vec_id", "embedding", beam = 8, hops = 3, k = 5)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(before.nonEmpty)
    val victims = before.take(2).toSeq
    Knn.deleteFromGraphIndex(victims.toDF("vec_id"), "vec_id", dir)
    // tombstone search: victims gone, k slots still filled by LIVE
    // neighbors (pre-top-k exclusion, not post-ranking masking)
    val tomb = Knn.searchGraphIndex(spark, dir, probe,
      "vec_id", "embedding", beam = 8, hops = 3, k = 5)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(victims.forall(v => !tomb.contains(v)), tomb.mkString(","))
    assert(tomb.length == 5, s"masked hit ate a rank slot: ${tomb.length}")
    Knn.compactGraphStore(spark, dir)
    // materialized: no deleted id in any table, tombstones reset
    val nodes = spark.read.parquet(s"$dir/nodes")
    val edges = spark.read.parquet(s"$dir/edges")
    val entries = spark.read.parquet(s"$dir/entries")
    victims.foreach { v =>
      assert(nodes.where(col("id") === v).count() == 0)
      assert(edges.where(col("src") === v || col("dst") === v).count() == 0)
      assert(entries.where(col("node") === v).count() == 0)
    }
    assert(spark.read.parquet(s"$dir/deletes").count() == 0)
    // entries recomputed: every (layer, cell) entry is a live min id
    assert(entries.join(nodes.select(col("id").as("node")), Seq("node"))
      .count() == entries.count())
    // post-compact search: deterministic and victim-free
    val after = Knn.searchGraphIndex(spark, dir, probe,
      "vec_id", "embedding", beam = 8, hops = 3, k = 5)
      .collect().map(_.toString).sorted.toSeq
    val again = Knn.searchGraphIndex(spark, dir, probe,
      "vec_id", "embedding", beam = 8, hops = 3, k = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(after == again)
    assert(!after.exists(r => victims.exists(v => r.contains(s"[$v,"))))
  }

  test("appendGraphIndex skipExisting: a replayed batch is a no-op, a " +
    "mixed batch inserts only the new ids (round 11 — the " +
    "effectively-once knob for streaming ingest)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(67)
    def point(center: Int, noise: Float = 0.5f): Array[Float] = {
      val base = Array.fill(8)(noise * rnd.nextGaussian().toFloat)
      base(center) += 5.0f
      base
    }
    val df = (0L until 60L).map(i => (i, point((i % 3).toInt)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_idem").toString
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir,
      k = 6, c = 8, nprobe = 2, buckets = 8)
    val batch = Seq((1000L, point(0, 0.02f)), (1001L, point(1, 0.02f)))
      .toDF("vec_id", "embedding")
    Knn.appendGraphIndex(batch, "vec_id", "embedding", dir,
      beam = 8, hops = 2, skipExisting = true)
    def snap() = (
      spark.read.parquet(s"$dir/nodes").count(),
      spark.read.parquet(s"$dir/edges").collect()
        .map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$dir/entries").collect()
        .map(_.toString).sorted.toSeq)
    val after1 = snap()
    assert(after1._1 == 62)
    // REPLAY the same batch: byte-identical store
    Knn.appendGraphIndex(batch, "vec_id", "embedding", dir,
      beam = 8, hops = 2, skipExisting = true)
    assert(snap() == after1, "replayed batch mutated the store")
    // mixed batch: only the genuinely-new id lands
    val mixed = Seq((1001L, point(1, 0.02f)), (1002L, point(2, 0.02f)))
      .toDF("vec_id", "embedding")
    Knn.appendGraphIndex(mixed, "vec_id", "embedding", dir,
      beam = 8, hops = 2, skipExisting = true)
    val after2 = snap()
    assert(after2._1 == 63)
    assert(spark.read.parquet(s"$dir/nodes")
      .where(col("id") === 1001L).count() == 1, "dup id re-inserted")
    assert(spark.read.parquet(s"$dir/edges")
      .where(col("src") === 1002L).count() > 0, "new id not linked")
  }

  test("layered HNSW graph index: geometric levels, per-layer edges and " +
    "entries, descent search finds the right cluster, layered append " +
    "maintains the upper layers (round 11)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(59)
    def point(center: Int, noise: Float = 0.5f): Array[Float] = {
      val base = Array.fill(8)(noise * rnd.nextGaussian().toFloat)
      base(center) += 5.0f
      base
    }
    val df = (0L until 240L).map(i => (i, point((i % 3).toInt)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_hnsw").toFile
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir.getAbsolutePath,
      k = 6, c = 8, nprobe = 2, buckets = 8, layers = 2)
    val meta = spark.read.parquet(s"${dir.getAbsolutePath}/meta").head()
    val top = meta.getAs[Int]("layers")
    assert(top >= 1, s"240 ids should populate at least layer 1, got $top")
    // every upper-layer edge endpoint carries the hash level the layer
    // demands — the membership invariant the descent relies on
    val edges = spark.read.parquet(s"${dir.getAbsolutePath}/edges")
    for (l <- 1 to top) {
      val members = df
        .where(Knn.levelOf(col("vec_id"), top, portableHash = false) >= l)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
      assert(members.nonEmpty)
      val lsrc = edges.where(col("layer") === l)
        .select("src", "dst").collect()
      assert(lsrc.nonEmpty, s"layer $l has no edges")
      lsrc.foreach { r =>
        assert(members(r.getLong(0)) && members(r.getLong(1)),
          s"layer $l edge ${r.getLong(0)}->${r.getLong(1)} off-layer")
      }
      // layers thin geometrically: strictly fewer sources than below
      val below = edges.where(col("layer") === (l - 1))
        .select("src").distinct().count()
      val here = edges.where(col("layer") === l)
        .select("src").distinct().count()
      assert(here < below, s"layer $l ($here) not thinner than ${l - 1} ($below)")
    }
    // entries exist per layer; upper entries are layer members
    val entries = spark.read.parquet(s"${dir.getAbsolutePath}/entries")
    assert((0 to top).forall(l =>
      entries.where(col("layer") === l).count() > 0))
    // descent search: right cluster, deterministic
    val queries = df.where(col("vec_id") % 80 === 1)
    val hits = Knn.searchGraphIndex(spark, dir.getAbsolutePath, queries,
      "vec_id", "embedding", beam = 6, hops = 2, k = 4)
    val got = hits.collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("query_id") % 3 ==
        r.getAs[Long]("neighbor_id") % 3, r.toString)
    }
    val again = Knn.searchGraphIndex(spark, dir.getAbsolutePath, queries,
      "vec_id", "embedding", beam = 6, hops = 2, k = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(again == got.map(_.toString).sorted.toSeq)
    // layered append: pick batch ids whose hash level >= 1 exists by
    // construction (scan candidate ids for one of each level)
    val lvlOf = (id: Long) => spark.range(1)
      .select(Knn.levelOf(lit(id), top, portableHash = false))
      .head().getInt(0)
    val idL1 = (2000L until 2400L).find(i => lvlOf(i) >= 1).get
    val idL0 = (2000L until 2400L).find(i => lvlOf(i) == 0).get
    val batch = Seq((idL1, point(0, 0.02f)), (idL0, point(1, 0.02f)))
      .toDF("vec_id", "embedding")
    Knn.appendGraphIndex(batch, "vec_id", "embedding",
      dir.getAbsolutePath, beam = 8, hops = 2)
    val after = spark.read.parquet(s"${dir.getAbsolutePath}/edges")
    // the level>=1 node joined layer 1's graph; the level-0 node did not
    assert(after.where(col("layer") === 1 && col("src") === idL1)
      .count() > 0, s"append missed layer 1 for id $idL1")
    assert(after.where(col("layer") > 0 &&
      (col("src") === idL0 || col("dst") === idL0)).count() == 0,
      s"level-0 id $idL0 leaked into an upper layer")
    // degree bound holds per (layer, src) after the append
    val maxDeg = after.groupBy("layer", "src").agg(count(lit(1)).as("d"))
      .agg(max("d")).head().getLong(0)
    assert(maxDeg <= 6, s"max per-layer degree $maxDeg > k")
    // both appended nodes findable as the top hit at their exact vector
    val probe = batch.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val found = Knn.searchGraphIndex(spark, dir.getAbsolutePath, probe,
      "vec_id", "embedding", beam = 8, hops = 3, k = 2)
      .where(col("rank") === 1).collect()
    assert(found.length == 2)
    found.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") ==
        r.getAs[Long]("query_id") - 100000L, r.toString)
    }
  }

  test("graph store on a non-bigint id column (xxhash64 levels): edge " +
    "layers and entry layers share one member set, search returns hits " +
    "(round 12 — levels derive from the long-cast id everywhere)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(83)
    def point(center: Int): Array[Float] = {
      val base = Array.fill(8)(0.5f * rnd.nextGaussian().toFloat)
      base(center) += 5.0f
      base
    }
    // INT ids — xxhash64(int 1) != xxhash64(1L), the round-11 hazard:
    // leveling the raw column here while append/search level the
    // long-cast id would split the member sets
    val df = (0 until 240).map(i => (i, point(i % 3)))
      .toDF("vec_id", "embedding")
    assert(df.schema("vec_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val dir = java.nio.file.Files.createTempDirectory("graph_intid").toString
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir,
      k = 6, c = 8, nprobe = 2, buckets = 8, layers = 2)
    val top = spark.read.parquet(s"$dir/meta").head().getAs[Int]("layers")
    assert(top >= 1, s"240 ids should populate at least layer 1, got $top")
    // the membership invariant: every layer-l edge endpoint and every
    // layer-l entry node carries levelOf(long id) >= l — the SAME set
    // append/compact/search derive
    val edges = spark.read.parquet(s"$dir/edges")
    val entries = spark.read.parquet(s"$dir/entries")
    for (l <- 1 to top) {
      val members = df
        .where(Knn.levelOf(col("vec_id").cast("long"), top,
          portableHash = false) >= l)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
      val lsrc = edges.where(col("layer") === l).select("src", "dst").collect()
      assert(lsrc.nonEmpty, s"layer $l has no edges")
      lsrc.foreach(r => assert(members(r.getLong(0)) && members(r.getLong(1)),
        s"layer $l edge ${r.getLong(0)}->${r.getLong(1)} off-layer"))
      val lent = entries.where(col("layer") === l)
      assert(lent.count() > 0, s"layer $l has no entry seeds")
      lent.select("node").collect().foreach(r =>
        assert(members(r.getLong(0)), s"layer $l entry ${r.getLong(0)} off-layer"))
    }
    val hits = Knn.searchGraphIndex(spark, dir,
      df.where(col("vec_id") % 80 === 1), "vec_id", "embedding",
      beam = 6, hops = 2, k = 4).collect()
    assert(hits.nonEmpty, "int-id store returned zero rows")
    hits.foreach(r => assert(r.getAs[Long]("query_id") % 3 ==
      r.getAs[Long]("neighbor_id") % 3, r.toString))
  }

  test("graph store descent survives a dead top layer: tombstoned top " +
    "seeds fall back to the lower layer's own entries; compaction " +
    "re-clamps meta layers to the deepest surviving level (round 12)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(89)
    def point(center: Int): Array[Float] = {
      val base = Array.fill(8)(0.5f * rnd.nextGaussian().toFloat)
      base(center) += 5.0f
      base
    }
    val df = (0L until 240L).map(i => (i, point((i % 3).toInt)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_deadtop").toString
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir,
      k = 6, c = 8, nprobe = 2, buckets = 8, layers = 2)
    val top = spark.read.parquet(s"$dir/meta").head().getAs[Int]("layers")
    assert(top >= 1)
    // tombstone EVERY member of the top layer — its entry seeds all
    // die, so the handed-down beam would be empty without the fallback
    val topMembers = df
      .where(Knn.levelOf(col("vec_id"), top, portableHash = false) >= top)
      .select(col("vec_id"))
    val nTop = topMembers.count()
    assert(nTop > 0)
    Knn.deleteFromGraphIndex(topMembers, "vec_id", dir)
    val probe = df.where(col("vec_id") % 80 === 1)
    val hits = Knn.searchGraphIndex(spark, dir, probe,
      "vec_id", "embedding", beam = 6, hops = 2, k = 4).collect()
    assert(hits.nonEmpty,
      "search returned zero rows through a fully-tombstoned top layer")
    val topSet = topMembers.collect().map(_.getLong(0)).toSet
    hits.foreach { r =>
      assert(!topSet(r.getAs[Long]("neighbor_id")),
        s"tombstoned id surfaced: $r")
      assert(r.getAs[Long]("query_id") % 3 ==
        r.getAs[Long]("neighbor_id") % 3, r.toString)
    }
    // compaction re-clamps: the emptied top layer leaves meta
    Knn.compactGraphStore(spark, dir)
    val metaAfter = spark.read.parquet(s"$dir/meta").head()
    assert(metaAfter.getAs[Int]("layers") < top,
      s"meta still claims layer $top after its members compacted away")
    val entriesAfter = spark.read.parquet(s"$dir/entries")
    assert(entriesAfter.agg(max("layer")).head().getInt(0) ==
      metaAfter.getAs[Int]("layers"))
    val after = Knn.searchGraphIndex(spark, dir, probe,
      "vec_id", "embedding", beam = 6, hops = 2, k = 4).collect()
    assert(after.nonEmpty)
    after.foreach(r => assert(!topSet(r.getAs[Long]("neighbor_id"))))
  }

  test("graph store under a dynamic-overwrite session + pre-r11 meta " +
    "compatibility: compaction does not resurrect a fully-tombstoned " +
    "bucket; (k, buckets)-only meta defaults layers/portable (round 12)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(97)
    def point(center: Int): Array[Float] = {
      val base = Array.fill(8)(0.5f * rnd.nextGaussian().toFloat)
      base(center) += 5.0f
      base
    }
    val df = (0L until 60L).map(i => (i, point((i % 3).toInt)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_dyn").toString
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic") // hostile session default
    try {
      Knn.writeGraphIndex(df, "vec_id", "embedding", dir,
        k = 6, c = 8, nprobe = 2, buckets = 4)
      // kill bucket 3 outright: every id ≡ 3 (mod 4)
      Knn.deleteFromGraphIndex(
        df.where(col("vec_id") % 4 === 3).select("vec_id"), "vec_id", dir)
      Knn.compactGraphStore(spark, dir)
      // under dynamic semantics the emptied bucket partition would be
      // absent from the compacted frame and its old files would
      // survive — the static pin replaces the whole table
      assert(spark.read.parquet(s"$dir/nodes")
        .where(col("id") % 4 === 3).count() == 0, "deleted bucket resurrected")
      assert(spark.read.parquet(s"$dir/edges")
        .where(col("src") % 4 === 3 || col("dst") % 4 === 3).count() == 0)
      assert(spark.conf.get(key) == "dynamic", "session conf not restored")
    } finally spark.conf.set(key, prev)
    // pre-r11 meta: only (k, buckets) — search/append/compact default
    // layers = 0, portable = false instead of throwing
    Seq((6, 4)).toDF("k", "buckets")
      .write.mode("overwrite").parquet(s"$dir/meta")
    val hits = Knn.searchGraphIndex(spark, dir,
      df.where(col("vec_id") === 1L), "vec_id", "embedding",
      beam = 6, hops = 2, k = 3).collect()
    assert(hits.nonEmpty, "pre-r11 meta store unreadable")
    Knn.appendGraphIndex(
      Seq((5000L, point(0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, beam = 6, hops = 2)
    assert(spark.read.parquet(s"$dir/nodes")
      .where(col("id") === 5000L).count() == 1)
    Knn.compactGraphStore(spark, dir)
    assert(spark.read.parquet(s"$dir/meta").head().getAs[Int]("layers") == 0)
  }

  test("SQ8: codes stay in [0,255], dequant error <= scale/2, recall near brute force") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(37)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    val (mins, maxs) = Pq.sq8Train(vecs, "embedding", 16)
    assert(mins.length == 16 && mins.indices.forall(d => mins(d) <= maxs(d)))
    val enc = Pq.sq8Encode(vecs, "vec_id", "embedding", mins, maxs)
    val rows = enc.collect()
    assert(rows.forall(_.getSeq[Int](2).forall(c => c >= 0 && c <= 255)))
    // per-dim dequantization error is bounded by half a grid step
    rows.foreach { r =>
      val v = r.getSeq[Float](1); val c = r.getSeq[Int](2)
      (0 until 16).foreach { d =>
        val sc = (maxs(d) - mins(d)) / 255.0
        val deq = mins(d) + c(d) * sc
        assert(math.abs(deq - v(d)) <= sc / 2 + 1e-9,
          s"dim $d: v=${v(d)} deq=$deq sc=$sc")
      }
    }
    // asymmetric search tracks exact dot-product ranking closely at 4x
    // compression (top-10 of 300 random vectors)
    val exact = Knn.bruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val sq = Pq.searchSq8(enc, queries, "vec_id", "embedding", mins, maxs, k = 10)
    val recalls = (0L until 5L).map { qid =>
      val e = exact.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      val p = sq.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      (e & p).size.toDouble / e.size
    }
    // brute force ranks by cosine, SQ8 by raw dot — overlap is high but
    // not 1.0 on gaussian data where norms vary
    assert(recalls.sum / recalls.size >= 0.5, s"SQ8 recall collapsed: $recalls")
  }

  test("BQ: sign bits pack portably (63 bits/word, never bit 63), " +
    "Hamming search is exact on hand vectors, recall sane at scale") {
    val s = spark
    import s.implicits._
    // hand case: dim 2, thresholds (0.5, 0.5)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val tiny = Seq((1L, v(1, 0)), (2L, v(0, 1)), (3L, v(1, 1)))
      .toDF("vec_id", "embedding")
    val th = Array(0.5, 0.5)
    val enc = Pq.bqEncode(tiny, "vec_id", "embedding", th)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(enc(1L) == Seq(1L) && enc(2L) == Seq(2L) && enc(3L) == Seq(3L),
      enc.toString)
    // sim(1,3) = 2 − popcount(1^3) = 1; sim(1,2) = 2 − popcount(3) = 0
    val res = Pq.searchBq(Pq.bqEncode(tiny, "vec_id", "embedding", th),
        tiny.where(col("vec_id") === 1), "vec_id", "embedding", th, k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(res.toSeq == Seq((3L, 1.0), (2L, 0.0)), res.toSeq.toString)
    // dim 64 spans two words with bit 63 of word 0 never set
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val (mins, maxs) = Pq.sq8Train(vecs, "embedding", 64)
    val th64 = Pq.bqThresholds(mins, maxs)
    val enc64 = Pq.bqEncode(vecs, "vec_id", "embedding", th64).collect()
    assert(enc64.forall(_.getSeq[Long](1).length == 2))
    assert(enc64.forall(r => (r.getSeq[Long](1).head & Long.MinValue) == 0L),
      "bit 63 must never be set (portable-shift contract)")
    // recall vs brute force stays non-degenerate at 32x compression
    val queries = vecs.where(col("vec_id") < 5)
    val exact = Knn.bruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val bq = Pq.searchBq(Pq.bqEncode(vecs, "vec_id", "embedding", th64),
      queries, "vec_id", "embedding", th64, k = 10)
    val recalls = (0L until 5L).map { qid =>
      val e = exact.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      val p = bq.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      (e & p).size.toDouble / e.size
    }
    assert(recalls.sum / recalls.size >= 0.2,
      s"BQ recall collapsed: $recalls")
  }

  test("PQ codes compress 32x and ADC+rerank recall tracks brute force") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    val books = Pq.trainCodebooks(vecs, "vec_id", "embedding", m = 8, k = 16, dim = 64)
    assert(books.length == 8 && books(0).length <= 16 && books(0)(0).length == 8)
    assert(Pq.compressionRatio(64, 8) == 32.0)

    val encoded = Pq.encode(vecs, "vec_id", "embedding", books)
    val codes = encoded.select("codes").collect()
    assert(codes.forall(_.getSeq[Int](0).forall(c => c >= 0 && c < books(0).length)))
    // encoding is deterministic
    val again = Pq.encode(vecs, "vec_id", "embedding", books)
      .orderBy("id").select("codes").collect().map(_.getSeq[Int](0))
    assert(encoded.orderBy("id").select("codes").collect()
      .map(_.getSeq[Int](0)).toSeq == again.toSeq)

    val exact = Knn.bruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val pq = Pq.search(encoded, queries, "vec_id", "embedding", books,
      k = 10, shortlist = 50)
    val recalls = (0L until 5L).map { qid =>
      val e = exact.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      val p = pq.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      (e & p).size.toDouble / e.size
    }
    assert(recalls.sum / recalls.size >= 0.4,
      s"PQ+rerank mean recall collapsed: $recalls")
  }

  test("PqCodes/AdcScore kernels match the HOF formulations bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(43)
    val vecs = (0L until 100L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val books = Pq.trainCodebooks(vecs, "vec_id", "embedding", m = 8, k = 16, dim = 64)
    val kernel = vecs.select(col("vec_id"),
        Pq.codesColumn(col("embedding"), books).as("c"))
      .orderBy("vec_id").collect().map(_.getSeq[Int](1))
    val hof = vecs.select(col("vec_id"),
        Pq.codesColumnHof(col("embedding"), books).as("c"))
      .orderBy("vec_id").collect().map(_.getSeq[Int](1))
    assert(kernel.toSeq == hof.toSeq)
    // adc_score = Σ_s tables[s][codes[s]]
    val df = Seq((Seq(0, 1), Seq(Seq(1.5, 2.5), Seq(10.0, 20.0))))
      .toDF("codes", "tables")
    assert(df.select(graft.plans.native.adcScore(col("codes"), col("tables")))
      .collect()(0).getDouble(0) == 21.5)
  }

  test("k-means codebook training reduces quantization distortion") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 400L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val sampled = Pq.trainCodebooks(vecs, "vec_id", "embedding", m = 8, k = 16, dim = 64)
    val trained = Pq.trainCodebooksKmeans(vecs, "vec_id", "embedding",
      m = 8, k = 16, dim = 64, iters = 2)
    // mean quantization distortion = Σ_s min_c ||sub - cw_c||², averaged
    // over the corpus; Lloyd rounds must not increase it
    val data = vecs.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def distortion(books: Array[Array[Array[Double]]]): Double = {
      val subDim = 8
      data.map { v =>
        (0 until 8).map { sIdx =>
          val sub = v.slice(sIdx * subDim, (sIdx + 1) * subDim)
          books(sIdx).map(cw =>
            sub.zip(cw).map { case (x, y) => (x - y) * (x - y) }.sum).min
        }.sum
      }.sum / data.length
    }
    val d0 = distortion(sampled)
    val d1 = distortion(trained)
    assert(d1 < d0, s"k-means did not improve distortion: $d0 -> $d1")
    // trained books still encode/search end-to-end
    val encoded = Pq.encode(vecs, "vec_id", "embedding", trained)
    val queries = vecs.where(col("vec_id") < 3)
    val hits = Pq.search(encoded, queries, "vec_id", "embedding", trained,
      k = 5, shortlist = 40)
    assert(hits.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
  }

  test("refineCodebooksOrdered matches a driver-side single Lloyd round") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val books = Pq.trainCodebooks(vecs, "vec_id", "embedding", m = 8, k = 16, dim = 64)
    val got = Pq.refineCodebooksOrdered(vecs, "vec_id", "embedding", books)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
      .toMap
    assert(got.size == 8 * 16 * 8)
    // reference: encode every vector with the kernel's argmin, mean the
    // members per (s, code) in id order, keep sampled values for empty
    // codewords
    val data = vecs.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val subDim = 8
    for (sIdx <- 0 until 8; code <- 0 until 16; d <- 0 until subDim) {
      val members = data.filter { case (_, v) =>
        val sub = v.slice(sIdx * subDim, (sIdx + 1) * subDim)
        val c = books(sIdx).indices.minBy { c =>
          var acc = 0.0; var i = 0
          while (i < subDim) {
            val diff = sub(i) - books(sIdx)(c)(i); acc += diff * diff; i += 1
          }
          acc
        }
        c == code
      }
      val want =
        if (members.isEmpty) books(sIdx)(code)(d)
        else members.map(_._2(sIdx * subDim + d)).sum / members.length
      val gotMu = got((sIdx, code, d + 1))
      assert(math.abs(gotMu - want) < 1e-6,
        s"(s=$sIdx, code=$code, d=$d): got $gotMu want $want")
    }
  }

  test("residual PQ: finer reconstruction than one level, same search contract") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(47)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val single = Pq.trainCodebooks(vecs, "vec_id", "embedding", m = 8, k = 16, dim = 64)
    val (b1, b2) = Pq.trainResidualCodebooks(vecs, "vec_id", "embedding",
      m = 8, k = 16, dim = 64)
    assert(b1.length == 8 && b2.length == 8)

    // reconstruction distortion: two levels must beat one
    val data = vecs.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val subDim = 8
    def argmin(cws: Array[Array[Double]], target: Array[Double]): Int =
      cws.indices.minBy { c =>
        cws(c).zip(target).map { case (y, x) => (x - y) * (x - y) }.sum
      }
    var d1 = 0.0; var d2 = 0.0
    data.foreach { v =>
      (0 until 8).foreach { sIdx =>
        val sub = v.slice(sIdx * subDim, (sIdx + 1) * subDim)
        val c1s = argmin(single(sIdx), sub)
        d1 += sub.zip(single(sIdx)(c1s)).map { case (x, y) => (x - y) * (x - y) }.sum
        val c1 = argmin(b1(sIdx), sub)
        val r = sub.zip(b1(sIdx)(c1)).map { case (x, y) => x - y }
        val c2 = argmin(b2(sIdx), r)
        d2 += r.zip(b2(sIdx)(c2)).map { case (x, y) => (x - y) * (x - y) }.sum
      }
    }
    assert(d2 < d1, s"residual level did not refine: $d1 -> $d2")

    // end-to-end search: interleaved codes/tables through the shared
    // AdcScore kernel, recall at least as sane as single-level PQ
    val queries = vecs.where(col("vec_id") < 5)
    val exact = Knn.bruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val encoded = Pq.encodeResidual(vecs, "vec_id", "embedding", b1, b2)
    assert(encoded.select("codes").collect()
      .forall(_.getSeq[Int](0).length == 16)) // 2 codes per subspace
    val hits = Pq.searchResidual(encoded, queries, "vec_id", "embedding",
      b1, b2, k = 10, shortlist = 50)
    val recalls = (0L until 5L).map { qid =>
      val e = exact.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      val p = hits.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      (e & p).size.toDouble / e.size
    }
    assert(recalls.sum / recalls.size >= 0.4,
      s"residual PQ recall collapsed: $recalls")
  }

  test("IVF+RQ index: interleaved two-level codes search through the shared ADC core") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("ivfrq").toFile
    val (b1, b2) = Pq.writeIvfRqIndex(vecs, "vec_id", "embedding",
      dir.getAbsolutePath, c = 8, m = 8, k = 16, dim = 64)
    // two-level codebooks round-trip through parquet
    val (r1, r2) = Pq.loadResidualCodebooks(spark, dir.getAbsolutePath)
    assert(r1(0)(0).toSeq == b1(0)(0).toSeq && r2(0)(0).toSeq == b2(0)(0).toSeq)
    // cells carry interleaved 2m codes
    val codes = spark.read.parquet(s"$dir/cells").select("codes").collect()
    assert(codes.forall(_.getSeq[Int](0).length == 16))

    val hits = Pq.searchIvfRq(spark, dir.getAbsolutePath, queries,
      "vec_id", "embedding", k = 10, nprobe = 6, shortlist = 60)
    val exact = Knn.bruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val exactSet = exact.where(col("query_id") === 0)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val hitSet = hits.where(col("query_id") === 0)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert((exactSet & hitSet).size.toDouble / exactSet.size >= 0.3)
    // probe scan still prunes to the probed cell directories
    val plan = hits.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("cell"))
  }

  test("append to persisted IVF / IVF+PQ: new batch searchable, layout intact") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(71)
    def mk(ids: Range) = ids.map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val corpus = mk(0 until 200)
    val batch = mk(1000 until 1100)

    val ivfDir = java.nio.file.Files.createTempDirectory("ivf_append").toFile
    Knn.writeIvfIndex(corpus, "vec_id", "embedding", ivfDir.getAbsolutePath, c = 8)
    Knn.appendIvfIndex(batch, "vec_id", "embedding", ivfDir.getAbsolutePath)
    // query = an appended vector: its twin must be the top hit, proving
    // appended rows land in the probed cell layout
    val q = batch.where(col("vec_id") === 1000L)
      .select(col("vec_id") + 1000000L, col("embedding"))
      .toDF("vec_id", "embedding")
    val hits = Knn.searchIvf(spark, ivfDir.getAbsolutePath, q,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val top = hits.where(col("rank") === 1).collect()(0)
    assert(top.getAs[Long]("neighbor_id") == 1000L)
    assert(top.getAs[Double]("sim") == 1.0)
    val plan = hits.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("cell"))

    val pqDir = java.nio.file.Files.createTempDirectory("ivfpq_append").toFile
    Pq.writeIvfPqIndex(corpus, "vec_id", "embedding",
      pqDir.getAbsolutePath, c = 8, m = 8, k = 16, dim = 64)
    Pq.appendIvfPqIndex(batch, "vec_id", "embedding", pqDir.getAbsolutePath)
    val pqHits = Pq.searchIvfPq(spark, pqDir.getAbsolutePath, q,
      "vec_id", "embedding", k = 3, nprobe = 3, shortlist = 40)
    val pqTop = pqHits.where(col("rank") === 1).collect()(0)
    assert(pqTop.getAs[Long]("neighbor_id") == 1000L)
    assert(pqTop.getAs[Double]("sim") == 1.0)
    // appended files keep per-file id-sorted order (row-group stats)
    val cellDir = new java.io.File(pqDir, "cells").listFiles()
      .filter(_.getName.startsWith("cell=")).head
    cellDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"append broke id order in ${f.getName}")
    }
  }

  test("IVF+SQ8 append: drifted batch values clamp to the grid, dup findable") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(43)
    val base = (0L until 200L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    val vecs = base.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8_app").toFile
    Pq.writeIvfSq8Index(vecs, "vec_id", "embedding", dir.getAbsolutePath,
      c = 8, dim = 16)
    // batch: an exact copy of vec 7 plus a wildly out-of-range vector
    // (10x the training range — codes must clamp, not crash the probe)
    val batch = Seq(
      (1000L, base(7)._2),
      (1001L, Array.fill(16)(10f * rnd.nextGaussian().toFloat))
    ).toDF("vec_id", "embedding")
    Pq.appendIvfSq8Index(batch, "vec_id", "embedding", dir.getAbsolutePath)
    val q = vecs.where(col("vec_id") === 7)
    val hits = Pq.searchIvfSq8(spark, dir.getAbsolutePath, q,
      "vec_id", "embedding", k = 3, nprobe = 8, shortlist = 40)
    val top = hits.where(col("rank") === 1).collect()(0)
    assert(top.getAs[Long]("neighbor_id") == 1000L)
    assert(top.getAs[Double]("sim") == 1.0)
    // every stored code in [0, 255] including the drifted batch
    val codes = spark.read.parquet(s"${dir.getAbsolutePath}/cells")
      .select("codes").collect().flatMap(_.getSeq[Int](0))
    assert(codes.forall(c => c >= 0 && c <= 255))
  }

  test("IVF+SQ8 index: pruned probe matches flat SQ8 ranking, ranges round-trip") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8").toFile
    val (mins, maxs) = Pq.writeIvfSq8Index(vecs, "vec_id", "embedding",
      dir.getAbsolutePath, c = 8, dim = 64)
    val (rm, rx) = Pq.loadSq8Ranges(spark, dir.getAbsolutePath)
    assert(rm.toSeq == mins.toSeq && rx.toSeq == maxs.toSeq)
    val hits = Pq.searchIvfSq8(spark, dir.getAbsolutePath, queries,
      "vec_id", "embedding", k = 10, nprobe = 8, shortlist = 300)
    // with every cell probed and an unbounded shortlist, the pruned
    // index must reproduce the flat searchSq8 ranking exactly...
    val flat = Pq.searchSq8(Pq.sq8Encode(vecs, "vec_id", "embedding", mins, maxs),
      queries, "vec_id", "embedding", mins, maxs, k = 10)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    // ...up to re-rank: flat ranks by dequantized dot, the index
    // re-ranks the full shortlist by exact cosine — compare member
    // SETS per query instead of positions
    val hitSets = hits.collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val exact = Knn.bruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val recalls = (0L until 5L).map { qid =>
      val e = exact.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      (e & hitSets(qid)).size.toDouble / e.size
    }
    // full probe + exact re-rank over an all-corpus shortlist ≈ brute force
    assert(recalls.sum / recalls.size >= 0.9,
      s"IVF+SQ8 full-probe recall collapsed: $recalls")
    assert(key(flat).nonEmpty) // flat path exercised
    // partial probe still prunes: partition filters reach the scan
    val partial = Pq.searchIvfSq8(spark, dir.getAbsolutePath, queries,
      "vec_id", "embedding", k = 5, nprobe = 2, shortlist = 20)
    val plan = partial.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("cell"))
  }

  test("IVF+PQ index: codes-only ADC over pruned cells, vec only at re-rank") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(37)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toFile
    val books = Pq.writeIvfPqIndex(vecs, "vec_id", "embedding",
      dir.getAbsolutePath, c = 8, m = 8, k = 16, dim = 64)
    // codebooks round-trip through parquet
    val reloaded = Pq.loadCodebooks(spark, dir.getAbsolutePath)
    assert(reloaded.length == books.length &&
      reloaded(0)(0).toSeq == books(0)(0).toSeq)

    val hits = Pq.searchIvfPq(spark, dir.getAbsolutePath, queries,
      "vec_id", "embedding", k = 10, nprobe = 6, shortlist = 60)
    val exact = Knn.bruteForce(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
    val recalls = (0L until 5L).map { qid =>
      val e = exact.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      val p = hits.where(col("query_id") === qid)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
      (e & p).size.toDouble / e.size
    }
    assert(recalls.sum / recalls.size >= 0.3,
      s"IVF+PQ mean recall collapsed: $recalls")
    // the ADC scan carries partition filters on cell
    val plan = hits.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("cell"))
    // the re-rank vec scan carries a PUSHED id filter (the collected
    // shortlist), which the sorted-by-id cell files turn into row-group
    // pruning — full-width vectors are decoded only where a shortlisted
    // id can live, making the "vec touched only for the shortlist"
    // claim a plan property, not prose
    val scanBlocks = plan.split("\\(\\d+\\) Scan parquet").toSeq
    val vecScans = scanBlocks.filter(b =>
      b.contains("vec") && b.contains("PushedFilters"))
    assert(vecScans.exists(b =>
      b.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("id"))),
      s"no pushed id filter on the vec re-rank scan:\n$plan")
    // cells are written sorted by id (row-group stats monotone)
    val cellDir = new java.io.File(dir, "cells").listFiles()
      .filter(_.getName.startsWith("cell=")).head
    val ids = spark.read.parquet(cellDir.getAbsolutePath)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids == ids.sorted, "cell rows are not id-sorted")
  }

  test("matryoshkaRecall: prefix retrieval misses exactly the neighbor " +
    "whose tail carries the signal") {
    val s = spark
    import s.implicits._
    // query [1,0,1,0]: full top2 = {1, 2} (sims 1.0, 0.866);
    // 2-dim prefix [1,0]: top2 = {1, 3} (sims 1.0, 1.0 — vector 2's
    // prefix only scores 0.707) → hits = 1
    val corpus = Seq(
      (1L, Array(1f, 0f, 1f, 0f)),
      (2L, Array(0.5f, 0.5f, 1f, 0f)),
      (3L, Array(1f, 0f, -0.5f, 0f))).toDF("id", "vec")
    val q = Seq((99L, Array(1f, 0f, 1f, 0f))).toDF("id", "vec")
    val got = Knn.matryoshkaRecall(corpus, "id", "vec", q, "id", "vec",
      k = 2, prefixDims = 2)
      .as[(Long, Long, Long)].collect.toSeq
    assert(got == Seq((99L, 2L, 1L)), got)
    // prefix = full dims → recall is perfect by construction
    val full = Knn.matryoshkaRecall(corpus, "id", "vec", q, "id", "vec",
      k = 2, prefixDims = 4)
      .as[(Long, Long, Long)].collect.toSeq
    assert(full == Seq((99L, 2L, 2L)), full)
  }
}
