package graft.ops

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.1 sinks/sources beyond plain scans: the INSERT OVERWRITE
  * PARTITION(dt) idiom (day-partitioned parquet, the reference's lake
  * layout), a JSON-lines round trip (ODS raw-ingest idiom), and a CSV
  * report sink (t2=N). Writes land under target/tmp in the working
  * directory.
  *
  * At 100 TB the partitioned write is the scale-critical piece: one
  * directory per dt keeps reads partition-pruned, and the write shuffles
  * by dt (repartition on the partition column) so each task writes one
  * file per partition instead of ~32 small files per day.
  */
object SourcesSinks {
  import T._

  private def tmp(d: String, name: String): String =
    s"target/tmp/${name}_${d.replaceAll("[^a-zA-Z0-9]", "_")}"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sink_parquet_partitioned" -> ((s, d) => {
      val path = tmp(d, "sink_parquet_partitioned")
      T.events(s, d)
        .withColumn("dt", col("ts").cast(DateType))
        .repartition(col("dt"))
        .write.partitionBy("dt").mode(SaveMode.Overwrite).parquet(path)
      s.read.parquet(path)
        .groupBy("dt").agg(count(lit(1)).as("cnt"),
          money(sum(dec(col("value")))).as("sum_val"))
        .orderBy("dt")
    }),

    "source_jsonlines" -> ((s, d) => {
      val path = tmp(d, "source_jsonlines")
      T.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), tsSec(col("ts")).as("ts_s"))
        .write.mode(SaveMode.Overwrite).json(path)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("ts_s", TimestampType)))
      s.read.schema(schema).json(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          money(sum(dec(col("value")))).as("sum_val"),
          min(col("ts_s")).as("min_ts"), max(col("ts_s")).as("max_ts"))
        .orderBy("event_type")
    }),

    // t2=N: CSV report sink — no hashable relational oracle; the read-back
    // row count is the driver's weaker check, ScalaTest asserts content.
    "sink_csv" -> ((s, d) => {
      val path = tmp(d, "sink_csv")
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), money(sum(dec(col("o_totalprice")))).as("total"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("o_orderpriority STRING, cnt BIGINT, total DOUBLE")
        .csv(path)
        .orderBy("o_orderpriority")
    })
  )

  val oracles: Map[String, String] = Map(
    "sink_parquet_partitioned" ->
      (s"SELECT CAST(ts AS DATE) AS dt, CAST(COUNT(*) AS BIGINT) AS cnt, " +
        s"${oMoney(s"SUM(${oDec("value")})")} AS sum_val " +
        "FROM events GROUP BY 1 ORDER BY dt"),
    "source_jsonlines" ->
      (s"SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt, " +
        s"${oMoney(s"SUM(${oDec("value")})")} AS sum_val, " +
        s"MIN(${oTsSec("ts")}) AS min_ts, MAX(${oTsSec("ts")}) AS max_ts " +
        "FROM events GROUP BY event_type ORDER BY event_type")
  )
}
