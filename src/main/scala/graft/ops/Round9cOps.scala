package graft.ops

import graft.T
import graft.T.dround
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 third batch: pointer-jumping list rank (the parallel
  * "sequential scan" primitive), fixed-horizon EWMA smoothing, corpus
  * perplexity bucketing, ordered listagg, and the trained PQ codebook
  * (per-subspace k-means) completing the PQ training story.
  *
  * Determinism canon per SURVEY §7.2: exact integer/decimal
  * accumulators everywhere order matters, shared IEEE expression trees
  * mirrored term-for-term in the oracle for the double arithmetic,
  * round(_, 6) finalization, total ORDER BY on unique keys.
  */
object Round9cOps {
  import T._

  /** Pointer-jumping list rank over the per-customer order chains of
    * `orders`. Returns (node, o_custkey, ptr=null, d=depth). The loop runs
    * on a cloned small-parallelism session with per-round
    * localCheckpoint; round count is ceil(log2(maxChain)), known up
    * front from one max-chain agg (no per-round convergence actions). */
  private[graft] def listRank(s: SparkSession,
      orders: DataFrame): DataFrame = {
    // One aggregation job yields both sizing facts: per-chain counts
    // roll up to (max = longest chain, sum = node count) — no separate
    // full-scan count() for loopParts
    val sizes = orders.groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .agg(max(col("n")), sum(col("n"))).head()
    val maxChain = sizes.getLong(0)
    val nNodes = sizes.getLong(1)
    val loopParts = math.max(1L, math.min(
      s.conf.get("spark.sql.shuffle.partitions").toLong,
      nNodes / 50000 + 1)).toString
    val ranked = graft.Graft.withLoopConf(s,
      "spark.sql.shuffle.partitions" -> loopParts,
      "spark.sql.adaptive.enabled" -> "false") { s2 =>
      val o2 = graft.Graft.rebind(orders, s2)
      val w = Window.partitionBy("o_custkey").orderBy("node")
      var pd = o2
        .select(col("o_custkey"), col("o_orderkey").as("node"))
        .withColumn("ptr", lag(col("node"), 1).over(w))
        .select(col("node"), col("o_custkey"), col("ptr"),
          when(col("ptr").isNotNull, 1L).otherwise(0L).as("d"))
        .localCheckpoint()
      // the round count is KNOWN up front: after k doublings every
      // pointer has jumped 2^k hops, so ceil(log2(maxChain)) rounds
      // resolve everything — one upfront max-chain agg replaces a
      // convergence count per round (half the actions per iteration)
      val rounds =
        if (maxChain <= 1) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(maxChain - 1)
      var it = 0
      while (it < rounds) {
        val p2 = pd.select(col("node").as("pnode"),
          col("ptr").as("pptr"), col("d").as("pd"))
        // left join: a null ptr never matches → (pptr, pd) = (null, 0)
        // keeps finished rows fixed; a non-null ptr always matches, so
        // pptr is the grandparent (or null at the head) and pd the
        // parent's accumulated distance
        pd = pd.hint("shuffle_hash")
          .join(p2, col("ptr") === col("pnode"), "left")
          .select(col("node"), col("o_custkey"),
            col("pptr").as("ptr"),
            (col("d") + coalesce(col("pd"), lit(0L))).as("d"))
          .localCheckpoint()
        it += 1
      }
      val remaining = pd.filter(col("ptr").isNotNull).count()
      if (remaining > 0) throw new IllegalStateException(
        s"graph_list_rank: $remaining pointers unresolved after " +
          s"$rounds doubling rounds — the chain-length bound was " +
          "violated; raise the cap rather than return wrong depths")
      pd
    }
    graft.Graft.rebind(ranked, s)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // List ranking by pointer jumping (Wyllie): each node's hop depth
    // from the head of its per-customer order chain. A sequential scan
    // is O(chain) DEPTH; pointer doubling (d += d[ptr]; ptr = ptr[ptr])
    // finishes in ceil(log2(maxChain)) join rounds — the only shape
    // that works when one chain is millions of rows on a cluster (the
    // classic parallel list-ranking problem; same iterative contract as
    // graph_components' hook+jump). All arithmetic is exact integer →
    // partition-invariant; the loop runs on a cloned session with tiny
    // fixed shuffle parallelism and per-round localCheckpoint to keep
    // the analyzer from re-walking a doubling plan tree. The oracle
    // exploits the chain structure's closed form (row_number - 1) —
    // an independent formulation, not a mirror.
    "graph_list_rank" -> ((s, d) =>
      listRank(s, t(s, d, "orders"))
        .select(col("node").as("o_orderkey"), col("o_custkey"),
          col("d").as("depth"))
        .orderBy("o_orderkey")),

    // Fixed-horizon EWMA (8 observations, α = 0.5) of daily revenue per
    // order priority — the smoothing primitive of every monitoring
    // dashboard. The base series is exact decimal (hash-stable doubles
    // after money()); the EWMA itself is 8 lag terms folded LEFT in a
    // fixed order with exact-binary weights (0.5^j), the identical IEEE
    // tree in both engines — deterministic without decimal gymnastics.
    // Leading rows shorten the window: absent lags contribute 0 to both
    // numerator and the weight sum. Lags are over OBSERVED days (gap
    // semantics owned by the gap-fill operators). One window over the
    // pre-aggregated daily table — |priorities| × |days| rows, never the
    // fact table.
    "ts_ewma_daily" -> ((s, d) => {
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          col("o_orderdate").as("day"))
        .agg(money(sum(dec(col("o_totalprice")))).as("rev"))
      val w = Window.partitionBy("prio").orderBy("day")
      val terms = (0 until 8).map { j =>
        val l = if (j == 0) col("rev") else lag(col("rev"), j).over(w)
        val wj = lit(math.pow(0.5, j)) // exact binary doubles
        (when(l.isNotNull, l * wj).otherwise(lit(0.0)),
          when(l.isNotNull, wj).otherwise(lit(0.0)))
      }
      val num = terms.map(_._1).reduceLeft(_ + _)
      val den = terms.map(_._2).reduceLeft(_ + _)
      daily
        .select(col("prio"), col("day"), col("rev"),
          dround(num / den, 6).as("ewma_rev"))
        .orderBy("prio", "day")
    }),

    // Perplexity-bucket curation (the CCNet recipe): rank every doc by
    // its unigram avg surprisal (the text_unigram_logprob pipeline —
    // already proven hash-identical cross-engine) and split the corpus
    // into 10 quality deciles; report per-bucket sizes and surprisal
    // ranges. The decile assignment orders on the ROUNDED surprisal
    // (6 dp, bit-identical across engines) with doc_id tie-break, so
    // ntile is deterministic. Round 22: exact deciles need a total
    // order, but NOT a single-partition window — the old global ntile
    // put every per-doc row on one task (VERDICT r21 item 1). Now a
    // distributed range-sort rank pass (DistNtile.withNtile) computes
    // the bit-identical decile; at 100 TB the same report can also use
    // approx_percentile boundaries — this key stays the exact recall
    // oracle for that tier. Bucket means accumulate in exact decimal
    // (order-independent).
    "text_perplexity_bucket" -> ((s, d) => {
      // surprisal arithmetic lives in ONE place (Round5Ops.docSurprisal)
      // so this exact tier, the approx tier, and the oracle-hashed
      // text_unigram_logprob can never drift apart
      val perDoc = Round5Ops.docSurprisal(s, d)
        .select(col("doc_id"), col("avg_surprisal"))
      DistNtile.withNtile(perDoc, 10,
          col("avg_surprisal"), false, col("doc_id"), "bucket")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          dround(min(col("avg_surprisal")), 6).as("min_surprisal"),
          dround(max(col("avg_surprisal")), 6).as("max_surprisal"),
          dround(sum(col("avg_surprisal").cast(DecimalType(18, 6)))
            .cast(DoubleType) / count(lit(1)), 6).as("mean_surprisal"))
        .orderBy("bucket")
    }),

    // Ordered string aggregation (Spark 4's listagg WITHIN GROUP — the
    // SQL-standard form): nations per region as a comma-joined sorted
    // list. The WITHIN GROUP sort is per-group (never global), and the
    // groups here are broadcast-small; for wide groups the same result
    // shape comes from agg_collect_sorted's array form.
    "agg_listagg_ordered" -> ((s, d) => {
      val n = t(s, d, "nation")
      val r = t(s, d, "region")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")
            .as("nations"))
        .orderBy("r_name")
    }),

    // SQL pipe syntax (Spark 4's |> operators): the Q1 aggregation
    // written as a linear FROM → WHERE → EXTEND → AGGREGATE → ORDER BY
    // pipeline — the readability surface replacing nested subqueries.
    // Pure syntax: Catalyst plans the identical Aggregate, so the
    // exact-decimal money canon carries over verbatim; the oracle is
    // the classic ANSI form of the same query.
    "sql_pipe_syntax" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("graft_pipe_lineitem")
      s.sql("""
        FROM graft_pipe_lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> EXTEND CAST(l_extendedprice AS DECIMAL(12,2)) *
                  (1 - CAST(l_discount AS DECIMAL(4,2))) AS disc_price
        |> AGGREGATE count(*) AS n,
                     CAST(ROUND(SUM(disc_price), 4) AS DOUBLE) AS revenue
             GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
      """)
    }),

    // SQL session variables + named-parameter queries (Spark 4):
    // DECLARE/SET VAR for session-scoped thresholds and
    // spark.sql(text, args) named parameters — the two
    // safe-parameterization surfaces a dashboard/ETL user relies on
    // (no string interpolation). The oracle inlines the same literals;
    // money stays in the exact-decimal canon.
    "sql_session_variables" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("graft_var_orders")
      s.sql("DECLARE OR REPLACE VARIABLE graft_min_total DOUBLE")
      s.sql("SET VAR graft_min_total = 150000.0")
      s.sql(
        """SELECT o_orderpriority,
                  count(*) AS n,
                  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 4)
                       AS DOUBLE) AS revenue
           FROM graft_var_orders
           WHERE o_totalprice > graft_min_total
             AND o_orderstatus = :status
           GROUP BY o_orderpriority
           ORDER BY o_orderpriority""",
        Map("status" -> "O"))
    }),

    // Real multimodal resize (the north-star op list's "resize",
    // upgraded from dimension arithmetic to actual pixel resampling):
    // JDK-decoded PNG → nearest-neighbor 8×8 RGB thumbnail →
    // deterministic integer stats. t2=N rows-only; Round9cSpec
    // recomputes every checksum from the synthetic gradient's
    // closed-form pixel formula with no codec, an end-to-end proof of
    // the decode→resample path.
    "mm_resize_thumbnail" -> ((s, d) =>
      Multimodal.resizeThumbnail(s, d).orderBy("doc_id")),

    // Theta-sketch set algebra (the DataSketches audience-overlap
    // primitive): per-month user sketches for two event types, then
    // union / intersection / difference ESTIMATES from the sketches
    // alone. This is the capability HLL lacks (HLL unions but cannot
    // intersect); at 100 TB the per-(month,type) sketches are the
    // stored artifact (~KBs) and every overlap query is sketch algebra,
    // never a re-scan or an exact distinct join. Sketches are
    // set-semantic (retained min-k hashes) → order/partition-invariant;
    // t2=N rows-only (a sketch estimate has no SQL oracle), Round9cSpec
    // bounds every estimate against the exact set sizes and checks the
    // inclusion-exclusion identity.
    "agg_theta_setops" -> ((s, d) => {
      val sk = T.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(date_format(col("ts"), "yyyy-MM").as("month"),
          col("event_type"), col("user_id"))
        .groupBy("month", "event_type")
        .agg(expr("theta_sketch_agg(user_id)").as("sk"))
      sk.groupBy("month")
        .agg(expr("max(CASE WHEN event_type = 'click' THEN sk END)").as("skc"),
          expr("max(CASE WHEN event_type = 'purchase' THEN sk END)").as("skp"))
        .filter(col("skc").isNotNull && col("skp").isNotNull)
        .select(col("month"),
          expr("theta_sketch_estimate(skc)").as("n_click"),
          expr("theta_sketch_estimate(skp)").as("n_purchase"),
          expr("theta_sketch_estimate(theta_union(skc, skp))").as("n_either"),
          expr("theta_sketch_estimate(theta_intersection(skc, skp))")
            .as("n_both"),
          expr("theta_sketch_estimate(theta_difference(skc, skp))")
            .as("n_click_only"))
        .orderBy("month")
    }),

    // The approx tier text_perplexity_bucket's comment promises: decile
    // boundaries from approx_percentile (one small agg → 9 doubles),
    // broadcast to a map-side bucket assignment (aggregate-HOF count of
    // boundaries below each doc's surprisal) and one final group-by.
    // NO global-order window anywhere — this is the shape that runs at
    // 100 TB, with the exact-ntile key as its recall oracle (Round9cSpec
    // compares bucket populations). t2=N rows-only: approx_percentile
    // boundaries have no cross-engine SQL oracle. Caveat, by design:
    // approx_percentile's QuantileSummaries are exact (hence
    // partition-invariant) only while per-partition input stays under
    // the accuracy parameter (10000 rows here); past that, compression
    // makes the 9 boundary doubles partitioning-dependent — acceptable
    // for an approx-tier bucketing whose recall oracle is the exact
    // key, but NOT for any oracle-hashed or invariance-gated use.
    // That is why this key is rows-only while its exact twin carries
    // the determinism contract.
    "text_perplexity_bucket_approx" -> ((s, d) => {
      val perDoc = Round5Ops.docSurprisal(s, d)
        .select(col("doc_id"), col("avg_surprisal"))
      val bounds = perDoc.agg(expr(
        "approx_percentile(avg_surprisal, " +
          "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D), 10000)")
        .as("bs"))
      perDoc.crossJoin(broadcast(bounds))
        .select(col("doc_id"), col("avg_surprisal"),
          expr("1 + aggregate(bs, 0, (a, b) -> " +
            "a + CASE WHEN avg_surprisal > b THEN 1 ELSE 0 END)")
            .cast(LongType).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          dround(min(col("avg_surprisal")), 6).as("min_surprisal"),
          dround(max(col("avg_surprisal")), 6).as("max_surprisal"))
        .orderBy("bucket")
    }),

    // Recursive CTE (Spark 4's WITH RECURSIVE): a compounding
    // multiplicative-additive recurrence along each customer's order
    // chain — balance_t = balance_{t-1} * 1.01 + price_t. Genuinely
    // recursive: a multiply-accumulate chain is NOT window-expressible
    // (no sum/product frame computes it), so this exercises the
    // recursion executor, not window sugar. Both engines run the SAME
    // linear recursion — each step one join of the frontier against the
    // rn+1 successor — so the double arithmetic replays the identical
    // IEEE sequence per chain. Restricted to 1 in 10 customers: the
    // semantics live in the DEPTH of the recursion (full chains kept),
    // not the customer count; the full-corpus variant of a linear
    // recurrence at 100 TB is graph_list_rank-style pointer doubling
    // with (product, sum) pairs, since a recursive CTE's step count is
    // the chain length.
    "sql_recursive_chain" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("graft_rec_orders")
      s.sql("""
        WITH RECURSIVE seq0 AS (
          SELECT o_custkey, o_orderkey,
                 CAST(o_totalprice AS DOUBLE) AS price,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderkey) AS rn
          FROM graft_rec_orders
          WHERE o_custkey % 10 = 0
        ),
        seq AS (SELECT * FROM seq0 WHERE rn <= 8),
        bal (o_custkey, rn, o_orderkey, balance) AS (
          SELECT o_custkey, rn, o_orderkey, price FROM seq WHERE rn = 1
          UNION ALL
          SELECT s.o_custkey, s.rn, s.o_orderkey,
                 b.balance * CAST(1.01 AS DOUBLE) + s.price
          FROM bal b JOIN seq s
            ON s.o_custkey = b.o_custkey AND s.rn = b.rn + 1
        )
        SELECT o_custkey, rn, o_orderkey, balance
        FROM bal ORDER BY o_custkey, rn
      """)
    }),

    // XML scalar pack: build an XML doc per nation, then extract with
    // xpath_string/xpath_int, parse with from_xml into a typed struct,
    // and round-trip a to_xml artifact back through xpath — the oracle
    // states the identity (every extraction reconstructs the source
    // column), the fn_crypto_pack pattern. Inputs are alphabetic
    // fixture strings (no XML-escaping hazard; a production pack wraps
    // user text in CDATA).
    "fn_xml_pack" -> ((s, d) => {
      t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          concat(lit("<nation><name>"), col("n_name"), lit("</name><rk>"),
            col("n_regionkey"), lit("</rk></nation>")).as("xml"))
        .select(col("n_nationkey"),
          expr("xpath_string(xml, '/nation/name')").as("xname"),
          expr("xpath_int(xml, '/nation/rk')").as("xrk"),
          expr("from_xml(xml, 'name STRING, rk INT').name").as("rt_name"),
          expr("xpath_string(to_xml(named_struct('name', n_name)), " +
            "'/ROW/name')").as("rt2_name"))
        .orderBy("n_nationkey")
    }),

    // Trained PQ codebook: per-subspace Lloyd k-means (4 subspaces ×
    // 16 dims × k=8) to the assignment fixpoint — the training step
    // vec_pq_codes/vec_pq_adc_topk quantize against (their fixture init
    // is exactly this trainer's iteration 0). Each subspace trains
    // via the FUSED pqTrain loop — all 4 subspaces assign and
    // accumulate in ONE treeAggregate per iteration, so the corpus is
    // scanned once per round no matter how many subspaces train (the
    // 100 TB posture; Round9cSpec proves fused == independent
    // per-subspace training, same exact-decimal accumulators →
    // partition-invariant, only M×k×16 doubles ever reach the
    // driver). Rows-only key (iterative fixpoint, not one SQL
    // statement — the vec_kmeans_train contract); Round9cSpec asserts
    // determinism, member conservation and monotone inertia.
    "vec_pq_train" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val trained = Round9Ops.pqTrain(e, m = 4, subDim = 16, maxIters = 12)
      val rows = trained.zipWithIndex.flatMap { case ((cents, inertias, iters), m) =>
        cents.map { case (cid, v, nMem) =>
          // sequential fold over the 16 dims — fixed order, deterministic
          val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
          (m, cid, nMem, norm, inertias.last, iters)
        }
      }
      import s.implicits._
      rows.toDF("subspace", "cid", "n_members", "c_norm_raw",
          "inertia_raw", "iters")
        .select(col("subspace"), col("cid"), col("n_members"),
          dround(col("c_norm_raw"), 6).as("c_norm"),
          dround(col("inertia_raw"), 4).as("final_inertia"), col("iters"))
        .orderBy("subspace", "cid")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Independent closed form: depth in a chain ordered by orderkey IS
    // row_number - 1 — no pointer semantics needed on the oracle side.
    "graph_list_rank" ->
      ("SELECT o_orderkey, o_custkey, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) " +
        "- 1 AS BIGINT) AS depth FROM orders ORDER BY o_orderkey"),

    // Same 8-term left fold, weights written as exact-binary literals.
    "ts_ewma_daily" -> {
      val lags = (1 to 7).map(j => s"lag(rev, $j) OVER w AS r$j").mkString(", ")
      val ws = (0 to 7).map(j => math.pow(0.5, j))
      def term(j: Int): String =
        if (j == 0) s"rev * CAST(${ws(0)} AS DOUBLE)"
        else s"CASE WHEN r$j IS NOT NULL THEN r$j * CAST(${ws(j)} AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
      def wterm(j: Int): String =
        if (j == 0) s"CAST(${ws(0)} AS DOUBLE)"
        else s"CASE WHEN r$j IS NOT NULL THEN CAST(${ws(j)} AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
      val num = (0 to 7).map(term).mkString(" + ")
      val den = (0 to 7).map(wterm).mkString(" + ")
      "WITH daily AS (SELECT o_orderpriority AS prio, o_orderdate AS day, " +
        s"${oMoney(s"SUM(${oDec("o_totalprice")})")} AS rev " +
        "FROM orders GROUP BY 1, 2), " +
        s"l AS (SELECT prio, day, rev, $lags FROM daily " +
        "WINDOW w AS (PARTITION BY prio ORDER BY day)) " +
        s"SELECT prio, day, rev, CAST(ROUND(($num) / ($den), 6) AS DOUBLE) " +
        "AS ewma_rev FROM l ORDER BY prio, day"
    },

    // The proven unigram-surprisal mirror, then NTILE on the rounded
    // values with doc_id tie-break; bucket mean in exact decimal.
    "text_perplexity_bucket" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "cf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tok), " +
        "tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM cf), " +
        "s AS (SELECT doc_id, CAST(-ln(c / tot) AS DECIMAL(18,12)) AS surp " +
        "FROM tok JOIN cf USING (tok) CROSS JOIN tot), " +
        "pd AS (SELECT doc_id, ROUND(CAST(SUM(surp) AS DOUBLE) / COUNT(*), 6) " +
        "AS avg_surprisal FROM s GROUP BY doc_id), " +
        "b AS (SELECT doc_id, avg_surprisal, " +
        "NTILE(10) OVER (ORDER BY avg_surprisal, doc_id) AS bucket FROM pd) " +
        "SELECT CAST(bucket AS BIGINT) AS bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "ROUND(MIN(avg_surprisal), 6) AS min_surprisal, " +
        "ROUND(MAX(avg_surprisal), 6) AS max_surprisal, " +
        "CAST(ROUND(CAST(SUM(CAST(avg_surprisal AS DECIMAL(18,6))) AS DOUBLE) " +
        "/ COUNT(*), 6) AS DOUBLE) AS mean_surprisal " +
        "FROM b GROUP BY bucket ORDER BY bucket"),

    // The classic ANSI form — pipe syntax is parse-time sugar, so the
    // plans (and the exact decimals) are identical.
    "sql_pipe_syntax" ->
      ("SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney(s"SUM(${oDec("l_extendedprice")} * (1 - ${oRate("l_discount")}))")} " +
        "AS revenue FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // Variable and parameter inlined as literals — the parameterization
    // surface is Spark-side API; the CONTRACT is that it binds to
    // exactly these values.
    "sql_session_variables" ->
      ("SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${oMoney(s"SUM(${oDec("o_totalprice")})")} AS revenue " +
        "FROM orders WHERE o_totalprice > 150000.0 " +
        "AND o_orderstatus = 'O' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    // The same recursion almost verbatim — both engines replay one
    // join-step per chain position, so the multiply-accumulate doubles
    // are IEEE-identical and the RAW double is the safest compare: a
    // final ROUND(double, 4) actually BROKE the hash at sf0.1 (one
    // chain's exact binary expansion sat on a .00005 boundary that
    // Spark's exact-BigDecimal HALF_UP and DuckDB's scaled-double round
    // resolved differently) — identical bit patterns need no rounding,
    // and any decimal rounding of a genuine double reintroduces a
    // boundary lottery.
    "sql_recursive_chain" ->
      ("WITH RECURSIVE seq0 AS (SELECT o_custkey, o_orderkey, " +
        "CAST(o_totalprice AS DOUBLE) AS price, " +
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn " +
        "FROM orders WHERE o_custkey % 10 = 0), " +
        "seq AS (SELECT * FROM seq0 WHERE rn <= 8), " +
        "bal (o_custkey, rn, o_orderkey, balance) AS (" +
        "SELECT o_custkey, rn, o_orderkey, price FROM seq WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT s.o_custkey, s.rn, s.o_orderkey, " +
        "b.balance * CAST(1.01 AS DOUBLE) + s.price " +
        "FROM bal b JOIN seq s ON s.o_custkey = b.o_custkey AND s.rn = b.rn + 1) " +
        "SELECT o_custkey, rn, o_orderkey, balance " +
        "FROM bal ORDER BY o_custkey, rn"),

    // Identity oracle: every XML extraction reconstructs its source
    // column (DuckDB has no XML functions; the CONTRACT is the
    // round-trip identity, which plain columns state exactly).
    "fn_xml_pack" ->
      ("SELECT n_nationkey, n_name AS xname, " +
        "CAST(n_regionkey AS INT) AS xrk, n_name AS rt_name, " +
        "n_name AS rt2_name FROM nation ORDER BY n_nationkey"),

    // DuckDB's ordered string_agg = SQL-standard listagg WITHIN GROUP.
    "agg_listagg_ordered" ->
      ("SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations, " +
        "string_agg(n_name, ',' ORDER BY n_name) AS nations " +
        "FROM nation JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name")
  )
}
