package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{KeyChecks, LongPivot}

/** User-facing facade over the long-format FFIEC tables — the Spark
  * twin of the reference's DuckDB-lazy workflow
  * (`ffiec_scan_pqs` → filter → `ffiec_pivot` → collect):
  *
  * {{{
  * val t = LongTable.scan(spark, "/data/ffiec", dtype = "float")
  * val wide = t.forItems(Seq("RCFD2170", "RCON2170")).pivot()
  * t.checkKeys()   // PK + non-NULL gate
  * }}}
  *
  * Everything stays a lazy DataFrame until an action; item filters
  * reach the parquet scan as pushed predicates (item is a regular
  * column on the long layout — this is why the reference stores long).
  *
  * The layout is fixed by the writer ([[graft.pipeline.FfiecPipeline]]):
  * (IDRSSD int, date date, item string, value of the dtype's type, see
  * [[LongTable.dtypes]]). `scan` reads with that declared schema, so it
  * launches no schema-inference or schema-merge job; a file whose
  * column types do not match the long layout fails when it is read.
  */
final case class LongTable(df: DataFrame,
                           idCols: Seq[String] = Seq("IDRSSD", "date")) {

  def forItems(items: Seq[String]): LongTable =
    copy(df = df.where(col("item").isin(items: _*)))

  def forDates(from: String, to: String): LongTable =
    copy(df = df.where(col("date") >= lit(from) && col("date") <= lit(to)))

  /** Wide frame with one column per item. `valuesFn` as in the
    * reference's ffiec_pivot. With `items = null` the distinct item set
    * is collected to the driver — bounded by `maxItems` (MDRM item
    * codes are a few thousand; a runaway cardinality would otherwise
    * OOM the driver AND produce an absurd pivot schema). */
  def pivot(items: Seq[String] = null, valuesFn: String = "first",
            maxItems: Int = 100000): DataFrame = {
    val its = Option(items).getOrElse {
      val sample = df.select("item").distinct().limit(maxItems + 1)
        .collect().map(_.getString(0))
      require(sample.length <= maxItems,
        s"pivot item cardinality exceeds $maxItems; pass an explicit item list")
      sample.sorted.toSeq
    }
    LongPivot.wide(df, idCols, "item", "value", its, valuesFn)
  }

  /** True iff (idCols + item) is a non-NULL primary key. */
  def checkKeys(): Boolean =
    KeyChecks.checkPkAndNonNull(df, idCols :+ "item")

  def assertNoDups(): Unit =
    KeyChecks.assertNoDups(df, idCols :+ "item")
}

object LongTable {
  /** The long tables, one per dtype name, with their value type (the
    * reference's make_long_pq arrow types). */
  val dtypes: Seq[(String, DataType)] = Seq(
    "float" -> DoubleType, "int" -> IntegerType, "str" -> StringType,
    "date" -> DateType, "bool" -> BooleanType)

  /** The declared long layout of dtype `dtype`. */
  private def schema(dtype: String): StructType = {
    val value = dtypes.collectFirst { case (`dtype`, t) => t }
    require(value.isDefined,
      s"unknown long-table dtype: $dtype (one of ${dtypes.map(_._1).mkString(", ")})")
    StructType(Seq(StructField("IDRSSD", IntegerType), StructField("date", DateType),
      StructField("item", StringType), StructField("value", value.get)))
  }

  /** Scan `{prefix}{dtype}_*.parquet` under `dataDir` with the declared
    * long layout of `dtype`. */
  def scan(spark: SparkSession, dataDir: String, dtype: String = "float",
           prefix: String = "ffiec_"): LongTable =
    LongTable(spark.read.schema(schema(dtype)).parquet(s"$dataDir/$prefix${dtype}_*.parquet"))
}
