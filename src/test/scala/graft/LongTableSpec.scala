package graft

import org.apache.spark.sql.functions._

class LongTableSpec extends SparkSpec {

  test("scan → filter → pivot → validate round trip") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("longtable").toFile
    Seq(
      (37, java.sql.Date.valueOf("2024-03-31"), "RCFD0010", 1.5),
      (37, java.sql.Date.valueOf("2024-03-31"), "RCFD0020", 2.5),
      (38, java.sql.Date.valueOf("2024-03-31"), "RCFD0010", 3.5))
      .toDF("IDRSSD", "date", "item", "value")
      .write.parquet(s"$dir/ffiec_float_20240331.parquet")
    Seq((37, java.sql.Date.valueOf("2024-06-30"), "RCFD0010", 9.5))
      .toDF("IDRSSD", "date", "item", "value")
      .write.parquet(s"$dir/ffiec_float_20240630.parquet")

    val t = LongTable.scan(spark, dir.getAbsolutePath)
    assert(t.df.count() == 4) // union across dates
    assert(t.checkKeys())

    val wide = t.forItems(Seq("RCFD0010", "RCFD0020"))
      .pivot(Seq("RCFD0010", "RCFD0020"))
      .orderBy("date", "IDRSSD").collect()
    assert(wide.length == 3)
    assert(wide(0).getDouble(2) == 1.5 && wide(0).getDouble(3) == 2.5)
    assert(wide(1).getDouble(2) == 3.5 && wide(1).isNullAt(3))

    val q1 = t.forDates("2024-01-01", "2024-03-31")
    assert(q1.df.count() == 3)

    // duplicate key must trip the gate
    val dup = LongTable(t.df.union(t.df))
    assert(!dup.checkKeys())
    intercept[IllegalArgumentException](dup.assertNoDups())

    // implicit pivot item list works but is cardinality-guarded
    val auto = t.pivot().orderBy("date", "IDRSSD").collect()
    assert(auto.length == 3)
    intercept[IllegalArgumentException](t.pivot(maxItems = 1))

    // the scan declares the long layout: an unknown dtype is refused, and
    // a file whose value type differs from its dtype fails when read
    intercept[IllegalArgumentException](LongTable.scan(spark, dir.getAbsolutePath, "decimal"))
    Seq((37, java.sql.Date.valueOf("2024-03-31"), "RCON9999", "x"))
      .toDF("IDRSSD", "date", "item", "value")
      .write.parquet(s"$dir/ffiec_int_20240331.parquet")
    intercept[org.apache.spark.SparkException](
      LongTable.scan(spark, dir.getAbsolutePath, "int").df.collect())
  }

  test("multimodal resize + audio windows stubs keep shape") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "0123456789abcdef")).toDF("doc_id", "text")
    val media = multimodal.Binary.syntheticMedia(docs, "doc_id", "text")
    val resized = multimodal.Binary.resizeStub(media, 32, 32).collect()(0)
    assert(resized.width == 32 && resized.height == 32 && resized.features.length == 8)
    val wins = multimodal.Binary.audioWindows(media, windowBytes = 8, hopBytes = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(wins.toSeq == Seq((0L, 8L), (4L, 12L), (8L, 16L)))
  }
}
