package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** `report_funnel` (one scan, one user_id aggregate over the view time
  * and the click and purchase time lists) against the three-join
  * formulation it replaced, kept here as the reference: on the fixture
  * and on a hand-built `events` frame holding each edge case. */
class ReportFunnelSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  /** The three chained aggregates and equi-joins of the oracle SQL. */
  private def threeJoins(events: DataFrame): Row = {
    val ev = events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min(col("us")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    Row(v.count(), c.count(), p.count())
  }

  private def funnel(dir: String): Row =
    SparkEntry.queries("report_funnel")(spark, dir).collect().toSeq match {
      case Seq(r) => Row(r.getLong(0), r.getLong(1), r.getLong(2))
      case rows => fail(s"expected one row, got $rows")
    }

  test("equals the three-join formulation on the fixture") {
    assert(funnel(sf) == threeJoins(T.events(spark, sf)))
  }

  test("equals the three-join formulation on each edge case") {
    val ts = (s: Any) => s match {
      case n: Int => new Timestamp(1704067200000L + n * 1000L)
      case _ => null
    }
    val u: Any => Any = { case n: Int => n.toLong; case _ => null }
    // (user, event_type, seconds after 2024-01-01 or null)
    val ev = Seq(
      (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
      // a null user_id: viewed, never converts
      (null, "view", 5), (null, "click", 10), (null, "purchase", 15),
      // null timestamps: a view with no time still counts as viewed; a
      // click or purchase with no time never qualifies
      (2, "view", null), (2, "click", 20),
      (3, "view", 10), (3, "click", null), (3, "click", 30), (3, "purchase", null),
      // a click before the first view
      (4, "click", 5), (4, "view", 10),
      (5, "click", 5), (5, "view", 10), (5, "click", 15), (5, "purchase", 20),
      // a purchase between the view and the click
      (6, "view", 10), (6, "purchase", 15), (6, "click", 20),
      // repeated events
      (7, "view", 10), (7, "view", 10), (7, "view", 12), (7, "click", 20),
      (7, "click", 20), (7, "purchase", 25), (7, "purchase", 25),
      // no view; a click at the view's own time; another event type
      (8, "click", 20), (8, "purchase", 30),
      (9, "view", 10), (9, "click", 10), (9, "signup", 20))
    val rows = ev.zipWithIndex.map { case ((user, kind, at), i) =>
      Row(i.toLong, ts(at), u(user), kind, 1.0, "{}") }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    val dir = new java.io.File("target/tmp/funnel_edges").getAbsolutePath
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = funnel(dir)
    assert(got == threeJoins(T.events(spark, dir)))
    // viewed: null, 1, 2, 3, 4, 5, 6, 7, 9; clicked after: 1, 3, 5, 6, 7;
    // purchased after: 1, 5, 7
    assert(got == Row(9L, 5L, 3L))
  }
}
