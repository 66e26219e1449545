package graft

import java.sql.Date

import graft.ops.Relational.{dayClassKey, dayOfKey, isHiKey}
import org.apache.spark.sql.functions.{col, datediff, lit, to_date}

/** q339's one-long (day, class) group key round-trips for any order date,
  * pre-1970 (negative epoch days) included.
  */
class DayClassKeySpec extends SparkSpec {
  import spark.implicits._

  test("day·2 + hi-bit decodes back to its day and class before and after 1970") {
    val rows = for {
      d <- Seq("1969-01-01", "1969-12-31", "1970-01-01", "1995-06-15")
      hi <- Seq(true, false)
    } yield (Date.valueOf(d), hi)
    val out = rows.toDF("date", "hi")
      .withColumn("key", dayClassKey(col("date"), col("hi")))
      .select(datediff(col("date"), to_date(lit("1970-01-01"))).cast("long").as("day"),
        col("hi"), dayOfKey(col("key")).as("d"), isHiKey(col("key")).as("h"))
      .as[(Long, Boolean, Long, Boolean)].collect()
    assert(out.length == 8 && out.exists(_._1 < 0))
    out.foreach { case (day, hi, d, h) => assert(d == day && h == hi, s"day $day hi $hi") }
  }
}
