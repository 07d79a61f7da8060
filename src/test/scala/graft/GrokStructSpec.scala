package graft

import org.apache.spark.sql.functions._
import graft.functions._

class GrokStructSpec extends SparkSpec {
  import spark.implicits._

  // vehicle-trace-shaped pattern (semantics of
  // parse_vehicle_trace2trace/parser.go:37, fresh regex)
  private val vehiclePattern =
    """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3})\s+(\d+)\s+(\d+)\s+([a-zA-Z]+)\s+(.*):\s*##MSG##\s*\[(\w*)\]\s*\[(\w*)\]\s*\[(\w*)\]"""
  private val vehicleFields = Seq("time", "pid", "tid", "level", "tag", "trace_id", "span_id", "parent_span_id")

  test("one-pass multi-group extraction") {
    val line = "2024-01-01 10:00:00.123 412 413 I vehicle.can: ##MSG## [abc] [s1] [p1] body here"
    val df = Seq(line).toDF("text")
      .select(grok_struct(col("text"), vehiclePattern, vehicleFields).as("g"))
      .select("g.*")
    val r = df.collect()(0)
    assert(r.getAs[String]("time") == "2024-01-01 10:00:00.123")
    assert(r.getAs[String]("pid") == "412")
    assert(r.getAs[String]("level") == "I")
    assert(r.getAs[String]("tag") == "vehicle.can")
    assert(r.getAs[String]("trace_id") == "abc")
    assert(r.getAs[String]("_match").endsWith("[p1]"))
  }

  test("level letter translates via level_translate map literal") {
    val df = Seq("I", "E", "Z").toDF("lvl").select(level_translate(col("lvl")).as("level"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("INFO", "ERROR", "Z"))
  }

  test("level_translate passes an unknown letter through under ANSI mode") {
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val df = Seq("W", "Q").toDF("lvl").select(level_translate(col("lvl")).as("level"))
      assert(df.collect().map(_.getString(0)).toSeq == Seq("WARN", "Q"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("no match → null struct") {
    val df = Seq("garbage").toDF("text")
      .select(grok_struct(col("text"), vehiclePattern, vehicleFields).as("g"))
    assert(df.collect()(0).isNullAt(0))
  }
}
