package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.LongTable
import graft.sources.Scan

/** Seeded analyst queries over a parquet tree `processAll` wrote, each
  * checked against generator truth: a `LongTable` pivot of an item list
  * on one date, one bank's item history across quarters, a
  * `Scan.unionByName` aggregate over one schedule across dates, and a
  * `checkKeys` gate. About `repeatShare` of the item lists reuse an
  * earlier query's list. */
final class FfiecQueries(seed: Long, gen: FfiecGen) {
  val repeatShare = 0.3
  /** Query kinds of one block, in a fixed mix (the seed only orders them
    * and picks their arguments), so every block costs alike. */
  private val blockMix: IndexedSeq[Int] =
    IndexedSeq.fill(8)(0) ++ IndexedSeq.fill(5)(1) ++ IndexedSeq.fill(4)(2) ++ IndexedSeq.fill(3)(3)
  val perBlock: Int = blockMix.size
  val kinds: Seq[String] = Seq("pivot", "history", "schedule", "keys")

  private val floatItems = gen.allItems.filter { case (_, it) => gen.dtype(it) == "float" }
  private val intItems = gen.allItems.filter { case (_, it) => gen.dtype(it) == "int" }
  private val byCode = gen.allItems.map { case (s, it) => it.code -> (s, it) }.toMap

  private sealed trait Query
  private case class Pivot(items: Seq[String], q: Int) extends Query
  private case class History(bank: Int, item: String) extends Query
  private case class Schedule(s: Int, item: String) extends Query
  private case class Keys(items: Seq[String]) extends Query

  private def itemList(j: Int): Seq[String] =
    if (j > 0 && H.unit(seed, 101, j) < repeatShare) itemList(H.below(j, seed, 103, j))
    else {
      val n = 3 + H.below(4, seed, 107, j)
      (0 until n).map(k => floatItems(H.below(floatItems.size, seed, 109, j, k))._2.code).distinct
    }

  /** The i-th query of the seeded stream. */
  private def query(i: Int): Query = {
    val order = blockMix.indices.sortBy(k => H.hash(seed, 113, i / perBlock, k))
    blockMix(order(i % perBlock)) match {
      case 0 => Pivot(itemList(i), H.below(gen.p.quarters, seed, 127, i))
      case 1 =>
        val pool = if (H.unit(seed, 131, i) < 0.5) floatItems else intItems
        History(H.below(gen.p.banks, seed, 137, i), pool(H.below(pool.size, seed, 139, i))._2.code)
      case 2 =>
        val s = H.below(gen.p.schedules, seed, 149, i)
        val its = gen.items(s).filter(it => gen.dtype(it) == "float" && it.part == 1)
        Schedule(s, its(H.below(its.size, seed, 151, i)).code)
      case _ => Keys(itemList(i))
    }
  }

  private def isoDate(q: Int): String = {
    val d = gen.dates(q)
    s"${d.substring(0, 4)}-${d.substring(4, 6)}-${d.substring(6)}"
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** One query of each kind, the first of each in block `b`. */
  def warmUp(spark: SparkSession, c: Client, tree: String, b: Int): Unit =
    (b * perBlock until (b + 1) * perBlock).map(i => query(i))
      .groupBy(_.getClass).values.map(_.head).foreach(q => run(spark, c, tree, q))

  /** Run block `b` of the stream over `tree`, one query in flight. */
  def runBlock(spark: SparkSession, c: Client, tree: String, b: Int): Unit =
    (b * perBlock until (b + 1) * perBlock).foreach(i => run(spark, c, tree, query(i)))

  private def run(spark: SparkSession, c: Client, tree: String, q: Query): Unit = q match {
    case Pivot(items, qi) =>
      c.op("pivot", "longtable") {
        LongTable.scan(spark, tree, "float").forItems(items)
          .forDates(isoDate(qi), isoDate(qi)).pivot(items).collect()
      }.foreach { rs =>
        val want = gen.bankIds.indices.flatMap { b =>
          val vals = items.map { code =>
            val (s, it) = byCode(code)
            if (gen.files(b, s, it.part, qi)) gen.truthValue(b, s, it, qi) else None
          }
          if (vals.exists(_.isDefined)) Some(gen.bankIds(b) -> vals) else None
        }.toMap
        val got = rs.map(r => r.getInt(0) -> items.indices.map(k => Option(r.get(2 + k)))).toMap
        c.expect(got.keySet == want.keySet && want.forall { case (b, vs) =>
          vs.zip(got(b)).forall {
            case (Some(x: Double), Some(y: Double)) => close(y, x)
            case (None, None) => true
            case _ => false
          }
        }, s"pivot of ${items.mkString(",")} on ${gen.dates(qi)}")
      }
    case History(b, code) =>
      val (s, it) = byCode(code)
      c.op("history", "longtable") {
        LongTable.scan(spark, tree, gen.dtype(it)).df
          .where(col("IDRSSD") === gen.bankIds(b) && col("item") === code)
          .select(date_format(col("date"), "yyyyMMdd"), col("value")).collect()
      }.foreach { rs =>
        val want = gen.dates.indices.flatMap { qi =>
          (if (gen.files(b, s, it.part, qi)) gen.truthValue(b, s, it, qi) else None)
            .map(v => gen.dates(qi) -> v)
        }.toMap
        val got = rs.map(r => r.getString(0) -> r.get(1)).toMap
        c.expect(got.keySet == want.keySet && want.forall {
          case (d, x: Double) => close(got(d).asInstanceOf[Double], x)
          case (d, x) => got(d) == x
        }, s"history of bank ${gen.bankIds(b)} item $code")
      }
    case Schedule(s, code) =>
      val sched = gen.schedule(s).toLowerCase
      c.op("schedule", "sources") {
        Scan.unionByName(spark, s"$tree/ffiec_${sched}_*.parquet")
          .groupBy(date_format(col("date"), "yyyyMMdd").as("d"))
          .agg(count(lit(1)), sum(col(code))).collect()
      }.foreach { rs =>
        val it = byCode(code)._2
        val want = gen.dates.indices.map { qi =>
          val filers = gen.bankIds.indices.filter(b =>
            (1 to gen.nParts(s)).exists(part => gen.files(b, s, part, qi)))
          val total = filers.flatMap(b => gen.truthValue(b, s, it, qi))
            .map(_.asInstanceOf[Double]).sum
          gen.dates(qi) -> (filers.size.toLong, total)
        }.toMap
        val got = rs.map((r: Row) => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        c.expect(got.keySet == want.keySet && want.forall { case (d, (n, t)) =>
          got(d)._1 == n && math.abs(got(d)._2 - t) <= 1e-6 * math.max(1.0, math.abs(t))
        }, s"schedule $sched across dates")
      }
    case Keys(items) =>
      c.op("keys", "longtable") {
        LongTable.scan(spark, tree, "float").forItems(items).checkKeys()
      }.foreach(k => c.expect(k, s"checkKeys on ${items.mkString(",")}"))
  }
}
