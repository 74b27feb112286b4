package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.QueryPlan

import graft.functions.FromJsonUtf8
import graft.sources.{JsonEvents, StreamSource}

/** The ingest projections parse the envelope with the one native
  * expression: their analyzed plans hold `FromJsonUtf8` and no
  * `JsonToStructs`, so neither the per-record reader of `from_json`
  * nor the SQL parser its schema string needs can come back unseen.
  * Their executed plans parse each record once: the optimizer does
  * not copy the parse into the Filter that drops dead events. */
class IngestParseSpec extends SparkSpec {

  private def count[T <: QueryPlan[T]](plan: T, p: Any => Boolean): Int =
    plan.collect { case n => n }.flatMap(_.expressions)
      .map(_.collect { case e if p(e) => e }.size).sum

  private def frames(raw: DataFrame): Seq[(String, DataFrame)] = {
    val (clean, dead) = JsonEvents.parse(raw)
    val (oClean, oDead, _) = JsonEvents.parseObserved(raw)
    Seq("compatPoints" -> StreamSource.compatPoints(spark, raw).toDF(),
      "events" -> StreamSource.events(spark, raw),
      "parse.clean" -> clean, "parse.dead" -> dead,
      "parseObserved.clean" -> oClean, "parseObserved.dead" -> oDead)
  }

  test("analyzed ingest plans parse with FromJsonUtf8, never JsonToStructs") {
    import spark.implicits._
    val raw = Seq(("""{"Timestamp":"2026-01-01T00:00:00Z"}""", 0L)).toDF("value", "seq")
    frames(raw).foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed
      assert(count(plan, _.isInstanceOf[JsonToStructs]) == 0, s"$name:\n$plan")
      assert(count(plan, _.isInstanceOf[FromJsonUtf8]) == 1, s"$name:\n$plan")
    }
  }

  test("executed ingest plans parse each record once") {
    import spark.implicits._
    val raw = spark.sparkContext.parallelize(Seq(
      ("""{"Timestamp":"2026-01-01T00:00:00Z","SessionId":"s","Values":["1","2"]}""", 0L),
      ("""{"Timestamp":"garbage"""", 1L)), 2).toDF("value", "seq")
    frames(raw).foreach { case (name, df) =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(count(plan, _.isInstanceOf[FromJsonUtf8]) == 1, s"$name:\n$plan")
    }
    assert(StreamSource.compatPoints(spark, raw).collect().map(_.key).toSeq == Seq("s:2"))
  }
}
