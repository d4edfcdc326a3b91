package graft.ops

import graft.T
import graft.T.dround
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Round-2 operator additions: exact percentiles, window distribution
  * functions, the min_by/max_by "latest value" binlog idiom, and an
  * approximate-percentile variant (t2=N). */
object MoreOps {
  import T._

  /** Collision-free BIGINT event-order key: µs offset from 2024-01-01
    * shifted 20 bits + event_id. Monotone in (us, event_id) and exact on
    * both engines (max value ~2.7e18 < 2^63). */
  private val orderKey = "(us - 1704067200000000) * 1048576 + event_id"

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    queries1 ++ queries2

  private def queries1: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact interpolated percentiles (SQL percentile_cont semantics).
    "agg_percentile" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("li_pct")
      s.sql("""
        SELECT l_returnflag,
               CAST(ROUND(percentile(l_quantity, 0.5), 4) AS DOUBLE) AS p50,
               CAST(ROUND(percentile(l_quantity, 0.9), 4) AS DOUBLE) AS p90,
               CAST(ROUND(percentile(l_extendedprice, 0.99), 4) AS DOUBLE) AS p99_price
        FROM li_pct GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // t2=N: approximate percentile sketch (no cross-engine contract);
    // ScalaTest bounds its error against the exact percentile.
    "agg_percentile_approx" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("p50_approx"))
        .orderBy("l_returnflag")),

    "win_dist_pack" -> ((s, d) => {
      val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice"), col("p_partkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "part").select(
          col("p_brand"), col("p_partkey"),
          dround(cume_dist().over(w), 6).as("cd"),
          nth_value(col("p_partkey"), 3).over(wf).as("third_cheapest"))
        .orderBy("p_brand", "p_partkey")
    }),

    // Ordered funnel (view → click → purchase): each stage is the user's
    // earliest qualifying event STRICTLY AFTER the previous stage — the
    // event-analytics conversion idiom. One scan and one user_id
    // aggregate: t1 = the first view, the click and purchase times as
    // lists, t2 = the first click after t1, t3 = the first purchase after
    // t2; one global count finishes (no joins, one hash exchange). As in
    // the three-join form (the oracle), a null user_id group counts as
    // viewed but never converts, and null timestamps never qualify.
    "report_funnel" -> ((s, d) => {
      val us = unix_micros(col("ts"))
      def at(kind: String) = when(col("event_type") === kind, us)
      T.events(s, d)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(bool_or(col("event_type") === "view").as("has_view"),
          min(at("view")).as("t1"),
          collect_list(at("click")).as("clicks"),
          collect_list(at("purchase")).as("buys"))
        .withColumn("t2", array_min(filter(col("clicks"), _ > col("t1"))))
        .withColumn("t3", array_min(filter(col("buys"), _ > col("t2"))))
        .agg(count_if(col("has_view")).as("viewed"),
          count_if(col("user_id").isNotNull && col("t2").isNotNull)
            .as("clicked_after"),
          count_if(col("user_id").isNotNull && col("t3").isNotNull)
            .as("purchased_after"))
    }),

    // Skew-mitigated join through Graft.saltedJoin: event_type has only 5
    // values (each key holds ~20% of the fact table — the classic hot-key
    // shape), so the build side is exploded into 8 salted replicas and
    // the probe side scatters deterministically. Semantics = plain inner
    // join, which is exactly what the oracle executes.
    "join_skew_salted" -> ((s, d) => {
      val ev = T.events(s, d).select("event_id", "event_type", "value")
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("type_n"))
      graft.Graft.saltedJoin(ev, dim, "event_type", "event_id", 8)
        .groupBy("event_type", "type_n")
        .agg(count(lit(1)).as("cnt"),
          money(sum(dec(col("value")))).as("sum_val"))
        .orderBy("event_type")
    }),

    // Column profiling (the data-quality sweep every ingest runs): one
    // aggregation pass computes per-column null counts, ranges, and
    // distincts — a single shuffle regardless of column count.
    "agg_profile_columns" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_tax").isNull, 1).otherwise(0)).as("null_tax"),
        countDistinct(col("l_orderkey")).as("d_orderkey"),
        countDistinct(col("l_returnflag")).as("d_returnflag"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
        money(sum(dec(col("l_extendedprice")))).as("sum_price"),
        min(col("l_shipdate")).cast(DateType).as("min_ship"),
        max(col("l_shipdate")).cast(DateType).as("max_ship"))),

    // Edit-distance near-dup (the character-level member of the dedup
    // family): Levenshtein between each doc and its doc_id-successor on a
    // bounded slice — O(len²) per pair, so candidates must come from a
    // bucketed generator (LSH/SimHash) at scale; this is the verifier.
    "text_editdist_neighbors" -> ((s, d) => {
      val w = Window.orderBy("doc_id")
      t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .withColumn("next_text", lead(col("text"), 1).over(w))
        .filter(col("next_text").isNotNull)
        .select(col("doc_id"),
          levenshtein(col("text"), col("next_text")).as("edit_dist"),
          (length(col("text")) - length(col("next_text"))).as("len_delta"))
        .orderBy("doc_id")
    }),

    // Deterministic stratified sample: within each lang stratum, order by
    // a content-independent hash (md5 of the key) and keep the first 20%
    // — reproducible train/eval splits at any scale, no RNG state. One
    // window shuffle keyed by the stratum.
    "sample_stratified" -> ((s, d) => {
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        .filter(col("rn") <= ceil(col("n") * 0.2))
        .select(col("doc_id"), col("lang"), col("rn").cast(IntegerType).as("rn"))
        .orderBy("doc_id")
    }),

    // Quality-aware near-dup pruning: group by token-set fingerprint and
    // keep the "best" member (longest text, then lowest doc_id) in ONE
    // aggregation pass — max_by on a struct key, no window, no self-join.
    "text_dedup_keep_best" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
            .as("fp"))
        .groupBy("fp")
        .agg(expr("max_by(doc_id, struct(n_chars, -doc_id))").as("keep_id"),
          count(lit(1)).as("grp_n"))
        .orderBy("fp")),

    // TPC-H Q2/Q5-flavor supplier enrichment: fact side shuffles only on
    // the group keys; both dims broadcast (no shuffle on nation/region).
    "join_supplier_enrich" -> ((s, d) =>
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_supp"),
          money(sum(dec(col("s_acctbal")))).as("total_bal"),
          money(max(dec(col("s_acctbal")))).as("max_bal"))
        .orderBy("r_name", "n_name")),

    // Binlog "latest value per key" via max_by/min_by on a unique
    // monotone key (no window needed — single aggregation pass).
    "agg_latest_by" -> ((s, d) =>
      T.events(s, d).withColumn("us", unix_micros(col("ts")))
        .groupBy("user_id")
        .agg(
          expr(s"max_by(event_type, $orderKey)").as("last_type"),
          expr(s"max_by(value, $orderKey)").as("last_value"),
          expr(s"min_by(event_type, $orderKey)").as("first_type"),
          max(col("us")).as("last_us"),
          count(lit(1)).as("n"))
        .orderBy("user_id"))
  )

  private def queries2: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SCD1/upsert MERGE semantics, relationally: base snapshot FULL OUTER
    // changelog, coalesce per column, row-status audit column. This is
    // the DWD-layer "apply binlog to snapshot" idiom; at scale both
    // sides shuffle once on the merge key.
    "cdc_merge_upsert" -> ((s, d) => {
      val base = t(s, d, "customer").select(
        col("c_custkey").as("key"), col("c_acctbal").as("base_bal"))
      val changes = t(s, d, "orders").groupBy("o_custkey")
        .agg(sum(dec(col("o_totalprice"))).as("delta_dec"),
          count(lit(1)).as("n_orders"))
        .select(col("o_custkey").as("ckey"), col("delta_dec"), col("n_orders"))
      base.join(changes, col("key") === col("ckey"), "full")
        .select(
          coalesce(col("key"), col("ckey")).as("key"),
          money(coalesce(dec(col("base_bal")), lit(0).cast(DecimalType(18, 2)))
            + coalesce(col("delta_dec"), lit(0).cast(DecimalType(18, 2))))
            .as("new_bal"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          when(col("key").isNull, "insert")
            .when(col("ckey").isNull, "unchanged")
            .otherwise("update").as("merge_action"))
        .orderBy("key")
    }),

    // APP-layer report (the reference's DWS/report shape): daily GMV by
    // nation with a month rollup — the INSERT OVERWRITE ... PARTITION(dt)
    // report body, minus the write (covered by sink_parquet_partitioned).
    "report_daily_gmv" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-04-01")))
        .groupBy(col("o_orderdate").cast(DateType).as("dt"), col("n_name"))
        .agg(count(lit(1)).as("orders"),
          money(sum(dec(col("o_totalprice")))).as("gmv"),
          countDistinct(col("o_custkey")).as("buyers"))
        .orderBy("dt", "n_name")),

    // D1/D7 retention over the event stream: of users active on day D,
    // the share active again on D+1 / D+7 (distinct user-days self-join
    // — shuffles on user_id, the retention idiom at any scale).
    "report_retention" -> ((s, d) => {
      val days = T.events(s, d)
        .select(col("user_id"), col("ts").cast(DateType).as("day")).distinct()
      val base = days.select(col("user_id").as("u"), col("day").as("d0"))
      base
        .join(days.select(col("user_id").as("u1"), col("day").as("d1")),
          col("u") === col("u1") && col("d1") === date_add(col("d0"), 1), "left")
        .join(days.select(col("user_id").as("u7"), col("day").as("d7")),
          col("u") === col("u7") && col("d7") === date_add(col("d0"), 7), "left")
        .groupBy(col("d0").as("day"))
        .agg(count(lit(1)).as("active"),
          count(col("u1")).as("retained_d1"),
          count(col("u7")).as("retained_d7"),
          dround(count(col("u1")).cast(DoubleType) / count(lit(1)), 4).as("d1_rate"),
          dround(count(col("u7")).cast(DoubleType) / count(lit(1)), 4).as("d7_rate"))
        .orderBy("day")
    }),

    // Pivot: event_type counts to columns (explicit value list keeps the
    // output schema static — required for a stable oracle and the only
    // scalable form: implicit pivot collects distinct values to the
    // driver first).
    "agg_pivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = T.events(s, d).groupBy("user_id")
        .pivot("event_type", types).agg(count(lit(1)))
      p.select(col("user_id") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    }),

    // Unpivot/melt: wide per-flag metrics back to long (metric, value).
    "agg_unpivot" -> ((s, d) => {
      val wide = t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(money(sum(dec(col("l_quantity")))).as("sum_qty"),
          money(sum(dec(col("l_extendedprice")))).as("sum_price"))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")), "metric", "value")
        .orderBy("l_returnflag", "metric")
    }),

    // Scalar + correlated subqueries through SQL (Catalyst
    // RewritePredicateSubquery / decorrelation — SURVEY §4.2). The oracle
    // is the IDENTICAL SQL: both engines speak this dialect.
    "sub_scalar_avg" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_sub")
      s.sql("SELECT o_orderkey, o_custkey, " +
        "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 4) AS DOUBLE) AS price " +
        "FROM orders_sub WHERE o_totalprice > " +
        "(SELECT 1.8 * AVG(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders_sub) " +
        "ORDER BY o_orderkey")
    }),

    "sub_correlated_exists" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_sub")
      t(s, d, "orders").createOrReplaceTempView("orders_sub2")
      s.sql("SELECT c_custkey, c_name FROM customer_sub c " +
        "WHERE EXISTS (SELECT 1 FROM orders_sub2 o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 450000) " +
        "AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer_sub) " +
        "ORDER BY c_custkey")
    }),

    // Synthetic range source (dimension/date-spine generation idiom).
    "source_range" -> ((s, d) =>
      s.range(0, 1000, 7)
        .select(col("id"),
          (col("id") % 10).as("bucket"),
          pmod(col("id") * 2654435761L, lit(1000000007L)).as("h"))
        .orderBy("id")),

    // explode_outer: rows with empty arrays survive with NULL.
    "fn_explode_outer" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 300)
        .withColumn("rare", expr("filter(split(text, ' '), x -> x = 'spark')"))
        .select(col("doc_id"), explode_outer(col("rare")).as("tok"))
        .orderBy(col("doc_id"), col("tok").asc_nulls_first)),

    // Bitwise ops + cryptographic hashes (content addressing at scale).
    "fn_hash_bits_pack" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        (col("o_orderkey").bitwiseAND(lit(255L))).as("band"),
        (col("o_orderkey").bitwiseOR(lit(16L))).as("bor"),
        (col("o_orderkey").bitwiseXOR(lit(0x5aL))).as("bxor"),
        shiftleft(col("o_orderkey"), 3).as("shl"),
        shiftright(col("o_orderkey"), 2).as("shr"),
        bitwise_not(col("o_orderkey")).as("bnot"),
        md5(col("o_orderstatus")).as("h_md5"),
        sha2(col("o_orderpriority"), 256).as("h_sha256"))
        .orderBy("o_orderkey")),

    // Struct build/access/serialize (named_struct surface).
    "fn_struct_pack" -> ((s, d) =>
      t(s, d, "customer")
        .withColumn("st", struct(col("c_custkey").as("k"),
          col("c_mktsegment").as("seg")))
        .select(col("c_custkey"),
          col("st").getField("k").as("k2"),
          upper(col("st").getField("seg")).as("seg_u"),
          to_json(col("st")).as("js"))
        .orderBy("c_custkey"))
  )

  val oracles: Map[String, String] = Map(
    "report_funnel" ->
      ("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        "v AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN v ON e.user_id = v.user_id " +
        "WHERE event_type = 'click' AND us > t1 GROUP BY 1), " +
        "p AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN c ON e.user_id = c.user_id " +
        "WHERE event_type = 'purchase' AND us > t2 GROUP BY 1) " +
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS viewed, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS clicked_after, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS purchased_after"),
    "join_skew_salted" ->
      ("WITH dim AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_n " +
        "FROM events GROUP BY 1) " +
        "SELECT e.event_type, d.type_n, CAST(COUNT(*) AS BIGINT) AS cnt, " +
        s"${oMoney(s"SUM(${oDec("e.value")})")} AS sum_val " +
        "FROM events e JOIN dim d ON e.event_type = d.event_type " +
        "GROUP BY 1, 2 ORDER BY e.event_type"),
    "agg_profile_columns" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_tax, " +
        "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d_orderkey, " +
        "CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS d_returnflag, " +
        "MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty, " +
        s"${oMoney(s"SUM(${oDec("l_extendedprice")})")} AS sum_price, " +
        "CAST(MIN(l_shipdate) AS DATE) AS min_ship, CAST(MAX(l_shipdate) AS DATE) AS max_ship " +
        "FROM lineitem"),
    "text_editdist_neighbors" ->
      ("WITH w AS (SELECT doc_id, text, LEAD(text, 1) OVER (ORDER BY doc_id) AS next_text " +
        "FROM documents WHERE doc_id < 200) " +
        "SELECT doc_id, CAST(levenshtein(text, next_text) AS INT) AS edit_dist, " +
        "CAST(length(text) - length(next_text) AS INT) AS len_delta " +
        "FROM w WHERE next_text IS NOT NULL ORDER BY doc_id"),
    "sample_stratified" ->
      ("WITH r AS (SELECT doc_id, lang, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY lang) AS n FROM documents) " +
        "SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM r " +
        "WHERE rn <= ceil(n * 0.2) ORDER BY doc_id"),
    "text_dedup_keep_best" ->
      ("WITH f AS (SELECT doc_id, n_chars, " +
        "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp " +
        "FROM documents), " +
        "r AS (SELECT fp, doc_id, ROW_NUMBER() OVER (PARTITION BY fp " +
        "ORDER BY n_chars DESC, doc_id ASC) AS rn, " +
        "CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS grp_n FROM f) " +
        "SELECT fp, CAST(doc_id AS BIGINT) AS keep_id, grp_n " +
        "FROM r WHERE rn = 1 ORDER BY fp"),
    "join_supplier_enrich" ->
      ("SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_supp, " +
        s"${oMoney(s"SUM(${oDec("s_acctbal")})")} AS total_bal, " +
        s"${oMoney(s"MAX(${oDec("s_acctbal")})")} AS max_bal " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name"),
    "cdc_merge_upsert" ->
      ("WITH base AS (SELECT c_custkey AS key, c_acctbal AS base_bal FROM customer), " +
        s"chg AS (SELECT o_custkey AS ckey, SUM(${oDec("o_totalprice")}) AS delta_dec, " +
        "CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders GROUP BY o_custkey) " +
        "SELECT COALESCE(key, ckey) AS key, " +
        s"CAST(ROUND(COALESCE(${oDec("base_bal")}, 0) + COALESCE(delta_dec, 0), 4) AS DOUBLE) AS new_bal, " +
        "COALESCE(n_orders, 0) AS n_orders, " +
        "CASE WHEN key IS NULL THEN 'insert' WHEN ckey IS NULL THEN 'unchanged' " +
        "ELSE 'update' END AS merge_action " +
        "FROM base FULL JOIN chg ON key = ckey ORDER BY key"),
    "report_daily_gmv" ->
      (s"SELECT CAST(o_orderdate AS DATE) AS dt, n_name, CAST(COUNT(*) AS BIGINT) AS orders, " +
        s"${oMoney(s"SUM(${oDec("o_totalprice")})")} AS gmv, " +
        "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS buyers " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00' " +
        "GROUP BY 1, 2 ORDER BY dt, n_name"),
    "report_retention" ->
      ("WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events) " +
        "SELECT b.day, CAST(COUNT(*) AS BIGINT) AS active, " +
        "CAST(COUNT(d1.user_id) AS BIGINT) AS retained_d1, " +
        "CAST(COUNT(d7.user_id) AS BIGINT) AS retained_d7, " +
        "round(CAST(COUNT(d1.user_id) AS DOUBLE) / COUNT(*), 4) AS d1_rate, " +
        "round(CAST(COUNT(d7.user_id) AS DOUBLE) / COUNT(*), 4) AS d7_rate " +
        "FROM days b " +
        "LEFT JOIN days d1 ON b.user_id = d1.user_id AND d1.day = b.day + 1 " +
        "LEFT JOIN days d7 ON b.user_id = d7.user_id AND d7.day = b.day + 7 " +
        "GROUP BY b.day ORDER BY b.day"),
    "agg_pivot" ->
      ("SELECT user_id, " +
        "CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click, " +
        "CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error, " +
        "CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase, " +
        "CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup, " +
        "CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    "agg_unpivot" ->
      (s"WITH w AS (SELECT l_returnflag, ${oMoney(s"SUM(${oDec("l_quantity")})")} AS sum_qty, " +
        s"${oMoney(s"SUM(${oDec("l_extendedprice")})")} AS sum_price FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w " +
        "UNION ALL SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM w " +
        "ORDER BY l_returnflag, metric"),
    "sub_scalar_avg" ->
      ("SELECT o_orderkey, o_custkey, " +
        "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 4) AS DOUBLE) AS price " +
        "FROM orders WHERE o_totalprice > " +
        "(SELECT 1.8 * AVG(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders) " +
        "ORDER BY o_orderkey"),
    "sub_correlated_exists" ->
      ("SELECT c_custkey, c_name FROM customer c " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 450000) " +
        "AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer) " +
        "ORDER BY c_custkey"),
    "source_range" ->
      ("SELECT id, id % 10 AS bucket, (id * 2654435761) % 1000000007 AS h " +
        "FROM (SELECT unnest(range(0, 1000, 7)) AS id) ORDER BY id"),
    "fn_explode_outer" ->
      ("WITH r AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x = 'spark') AS rare " +
        "FROM documents WHERE doc_id < 300) " +
        "SELECT doc_id, unnest(CASE WHEN len(rare) = 0 THEN [NULL] ELSE rare END) AS tok " +
        "FROM r ORDER BY doc_id, tok NULLS FIRST"),
    "fn_hash_bits_pack" ->
      ("SELECT o_orderkey, o_orderkey & 255 AS band, o_orderkey | 16 AS bor, " +
        "xor(o_orderkey, 90) AS bxor, o_orderkey << 3 AS shl, o_orderkey >> 2 AS shr, " +
        "~o_orderkey AS bnot, md5(o_orderstatus) AS h_md5, " +
        "sha256(o_orderpriority) AS h_sha256 " +
        "FROM orders ORDER BY o_orderkey"),
    "fn_struct_pack" ->
      ("SELECT c_custkey, c_custkey AS k2, upper(c_mktsegment) AS seg_u, " +
        "to_json(struct_pack(k := c_custkey, seg := c_mktsegment))::VARCHAR AS js " +
        "FROM customer ORDER BY c_custkey"),
    "agg_percentile" ->
      ("SELECT l_returnflag, " +
        "CAST(ROUND(quantile_cont(l_quantity, 0.5), 4) AS DOUBLE) AS p50, " +
        "CAST(ROUND(quantile_cont(l_quantity, 0.9), 4) AS DOUBLE) AS p90, " +
        "CAST(ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS DOUBLE) AS p99_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "win_dist_pack" ->
      ("SELECT p_brand, p_partkey, round(CUME_DIST() OVER w, 6) AS cd, " +
        "NTH_VALUE(p_partkey, 3) OVER wf AS third_cheapest FROM part " +
        "WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey), " +
        "wf AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY p_brand, p_partkey"),
    "agg_latest_by" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us FROM events) " +
        s"SELECT user_id, arg_max(event_type, $orderKey) AS last_type, " +
        s"arg_max(value, $orderKey) AS last_value, " +
        s"arg_min(event_type, $orderKey) AS first_type, " +
        "MAX(us) AS last_us, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM e GROUP BY user_id ORDER BY user_id")
  )
}
