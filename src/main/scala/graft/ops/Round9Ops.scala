package graft.ops

import graft.T
import graft.T.dround
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 operator additions.
  *
  * ANN serving path completed: `vec_ivf_pq_topk` composes the two halves
  * that rounds 4–8 proved separately — IVF bucket restriction
  * (TextAnalysis.vec_ivf_topk) and PQ asymmetric-distance scoring
  * (Round4Ops.vec_pq_adc_topk) — into the one-pass plan a 100 TB vector
  * store actually executes: nprobe coarse buckets → ADC over codes →
  * exact re-rank of a bounded shortlist.
  *
  * Index build completed: `vec_kmeans_train` runs Lloyd's algorithm to a
  * convergence-checked fixpoint (the loop `vec_centroid_recluster` ran
  * one iteration of), producing the trained codebook the IVF/PQ family
  * consumes — at 100 TB an untrained codebook wrecks bucket balance and
  * quantization error.
  *
  * Determinism canon per SURVEY §7.2: sequential-fold double sums
  * mirrored by DuckDB list_sum, exact DECIMAL accumulators for every
  * order-sensitive sum, explicit tie-breaks on every argmin, total ORDER
  * BY on unique keys.
  */
object Round9Ops {
  import T._

  /** Per-cluster accumulator for kmeansTrain's treeAggregate: member
    * count, inertia and per-dimension sums in exact arbitrary-precision
    * decimal (order-independent), assignment checksum as a wrapping
    * Long sum (exact mod 2^64, order-independent). */
  private final class KmAcc(dim: Int = 64) extends Serializable {
    var n: Long = 0L
    var sh: Long = 0L
    var sd: java.math.BigDecimal = java.math.BigDecimal.ZERO
    val dims: Array[java.math.BigDecimal] =
      Array.fill(dim)(java.math.BigDecimal.ZERO)
    def add(id: Long, cid: Int, dist: Double, emb: Array[Float]): Unit =
      addSlice(id, cid, dist, emb, 0)
    /** Accumulate a dims.length-wide slice of emb starting at off —
      * lets the fused PQ trainer feed 4 subspace accumulators from one
      * full vector without per-row slice allocations. */
    def addSlice(id: Long, cid: Int, dist: Double, emb: Array[Float],
        off: Int): Unit = {
      n += 1
      // fixed per-assignment mix (any deterministic hash works — this is
      // loop control, not an oracle-visible value)
      sh += (id * 0x9E3779B97F4A7C15L) ^ (cid * 0xC2B2AE3D27D4EB4FL)
      if (java.lang.Double.isFinite(dist))
        sd = sd.add(new java.math.BigDecimal(dist))
      var i = 0
      while (i < dims.length) {
        dims(i) = dims(i).add(new java.math.BigDecimal(emb(off + i).toDouble))
        i += 1
      }
    }
    def merge(o: KmAcc): Unit = {
      n += o.n; sh += o.sh; sd = sd.add(o.sd)
      var i = 0
      while (i < dims.length) { dims(i) = dims(i).add(o.dims(i)); i += 1 }
    }
  }

  /** SQL fold: full 64-dim L2² between array cols a and b — the same
    * sequential `aggregate` fold as Round4Ops.subL2 (whose DuckDB mirror
    * is list_sum over generate_series, bit-exact per the vec_norm_stats
    * precedent), just over all four subspaces at once. Used for the IVF
    * coarse assignment and the exact re-rank leg of vec_ivf_pq_topk, and
    * for the Lloyd assignment step of vec_kmeans_train. */
  private[graft] def fullL2(a: String, b: String): String = {
    val diff = s"(CAST(element_at($a, i) AS DOUBLE) - " +
      s"CAST(element_at($b, i) AS DOUBLE))"
    s"aggregate(sequence(1, 64), CAST(0 AS DOUBLE), (acc, i) -> acc + $diff * $diff)"
  }

  /** Lloyd's k-means to convergence over (vec_id, embedding) rows.
    * Returns (centroids as (cid, 64 doubles, member count),
    * per-iteration inertia, iterations run).
    *
    * Posture at 100 TB: the ONLY driver-side artifact per round is the
    * centroid table itself — k×64 doubles (512 values at k=8) — exactly
    * what Spark MLlib's KMeans collects and re-broadcasts per iteration.
    * The corpus is read once into a persisted typed projection and never
    * leaves the executors; each iteration is ONE treeAggregate job with
    * the codebook as a broadcast variable. This is deliberately the
    * imperative per-partition tier ((d) in the operator-preference
    * order), NOT a DataFrame plan: a literal-codebook plan re-analyzes
    * and re-compiles codegen every iteration (~1 s/iter of pure
    * compile/planning overhead measured at sf0.1 — 30× the data work),
    * while the broadcast closure re-runs the SAME physical job each
    * round. The declarative, oracle-checked form of one iteration
    * remains vec_centroid_recluster.
    *
    * Determinism / partition invariance: the argmin breaks ties on
    * (dist, cid) with NaN/absent distances losing (pqCodes canon);
    * per-dimension sums, the inertia and the assignment checksum
    * accumulate in EXACT arbitrary-precision decimals (float32 inputs
    * and per-row double distances are exact there; addition is
    * commutative-associative), so results are bit-identical at local[4]
    * vs local[32]. Lloyd guarantees inertia is non-increasing; the loop
    * stops at the assignment fixpoint (assignments stable ⇒ means
    * stable ⇒ fixpoint) or — the MLlib-style practical stop — when an
    * iteration improves inertia by less than `tol` relative, capped at
    * maxIters as a runaway guard. Empty clusters keep their previous
    * centroid (standard Lloyd degeneracy handling). Rows with a null or
    * non-64-dim embedding are excluded up front (they have no defined
    * distance; the DataFrame operators park them on cid 0 with +∞ —
    * fixture embeddings are all dense 64-d, so the difference is
    * unexercised).
    */
  private[graft] def kmeansTrain(e0: DataFrame, maxIters: Int = 25,
      tol: Double = 1e-4, dim: Int = 64)
      : (Seq[(Int, Seq[Double], Long)], Seq[Double], Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val s = e0.sparkSession
    import s.implicits._
    val ds = e0
      .select(col("vec_id").cast(LongType), col("embedding"))
      .filter(col("embedding").isNotNull && size(col("embedding")) === dim)
      .as[(Long, Array[Float])]
      .persist(MEMORY_AND_DISK)
    // fixture init: the 8 seed vectors every vec_* operator starts from
    // (the data-scaled-k trainer is Round13Ops.semanticAssignTrained,
    // which reimplements the loop in oracle-mirrorable arithmetic)
    var cents: Seq[(Int, Seq[Double])] = ds.filter(_._1 < 8).collect()
      .map { case (id, v) => (id.toInt, v.map(_.toDouble).toSeq) }
      .sortBy(_._1).toSeq
    var members = Map.empty[Int, Long]
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    var prevCs = ""
    var it = 0
    var stable = false
    while (it < maxIters && !stable) {
      val k = cents.size
      val cidOf = cents.map(_._1).toArray
      val bc = s.sparkContext.broadcast(
        cents.map(_._2.toArray).toArray)
      val agg = ds.rdd.treeAggregate(Array.fill(k)(new KmAcc(dim)))(
        seqOp = (acc, row) => {
          val (id, emb) = row
          val cvs = bc.value
          var bestC = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < cvs.length) {
            val cv = cvs(c)
            var dst = 0.0
            var i = 0
            while (i < cv.length) {
              val t = emb(i).toDouble - cv(i); dst += t * t; i += 1
            }
            // strict < : ties keep the smallest cid; NaN never wins
            if (dst < bestD) { bestD = dst; bestC = c }
            c += 1
          }
          acc(bestC).add(id, cidOf(bestC), bestD, emb)
          acc
        },
        combOp = (a, b) => { var i = 0; while (i < k) { a(i).merge(b(i)); i += 1 }; a })
      bc.unpersist(blocking = false)
      val inertia = agg.foldLeft(java.math.BigDecimal.ZERO)((z, a) => z.add(a.sd))
      inertias += inertia.doubleValue
      // wrapping Long sum of per-assignment hashes: exact mod 2^64,
      // commutative — an order-independent assignment checksum
      val cs = agg.foldLeft(0L)((z, a) => z + a.sh).toString
      members = cidOf.zip(agg.map(_.n)).toMap
      cents = cents.zip(agg).map { case ((cid, old), a) =>
        if (a.n == 0L) (cid, old) // empty cluster: keep previous centroid
        else {
          val n = new java.math.BigDecimal(a.n)
          (cid, a.dims.map(_.divide(n, java.math.MathContext.DECIMAL128)
            .doubleValue).toSeq)
        }
      }
      val relImproved = inertias.size < 2 ||
        inertias(inertias.size - 2) - inertia.doubleValue >
          tol * inertias(inertias.size - 2)
      stable = cs == prevCs || !relImproved
      prevCs = cs
      it += 1
    }
    ds.unpersist()
    (cents.map { case (cid, v) => (cid, v, members.getOrElse(cid, 0L)) },
      inertias.toSeq, it)
  }

  /** Fused PQ training: Lloyd's k-means over all M=4 16-dim subspaces
    * in ONE treeAggregate per iteration — the corpus is read once per
    * round no matter how many subspaces train (at 100 TB this is the
    * difference between 1 and M scans per iteration; per-subspace
    * kmeansTrain calls measured 1.63 s at sf0.1, the fused loop halves
    * that by collapsing 4×iters jobs into iters). Same determinism
    * canon as kmeansTrain: exact-decimal accumulators, strict-< argmin
    * (ties → smallest cid), wrapping-Long assignment checksums; the
    * loop stops when EVERY subspace is at its assignment fixpoint (or
    * below tol relative improvement), so each subspace's converged
    * centroids equal its independently-trained ones (post-convergence
    * iterations are no-ops).
    *
    * Returns per subspace m: (centroids (cid, 16 doubles, members),
    * per-iteration inertias, iterations run). */
  private[graft] def pqTrain(e0: DataFrame, m: Int = 4, subDim: Int = 16,
      maxIters: Int = 25, tol: Double = 1e-4)
      : Seq[(Seq[(Int, Seq[Double], Long)], Seq[Double], Int)] = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val s = e0.sparkSession
    import s.implicits._
    val dim = m * subDim
    val ds = e0
      .select(col("vec_id").cast(LongType), col("embedding"))
      .filter(col("embedding").isNotNull && size(col("embedding")) === dim)
      .as[(Long, Array[Float])]
      .persist(MEMORY_AND_DISK)
    // fixture init: slices of the 8 seed vectors (= iteration 0 of the
    // pqCodes codebook every vec_pq_* operator starts from)
    val seeds = ds.filter(_._1 < 8).collect().sortBy(_._1)
    val k = seeds.length
    // cents(m)(c) = 16 doubles
    var cents: Array[Array[Array[Double]]] = Array.tabulate(m) { mm =>
      seeds.map { case (_, v) =>
        Array.tabulate(subDim)(i => v(mm * subDim + i).toDouble) }
    }
    val inertias = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Double])
    val membersOut = Array.fill(m)(Array.fill(k)(0L))
    val prevCs = Array.fill(m)("")
    val stableM = Array.fill(m)(false)
    val itM = Array.fill(m)(0) // per-subspace active-iteration count
    var it = 0
    while (it < maxIters && !stableM.forall(identity)) {
      // ship the frozen mask with the centroids: a frozen subspace's
      // accumulators are never read driver-side (the update loop below
      // skips stableM), so skipping its argmin scan + decimal adds in
      // seqOp is bit-identical — and saves per-row 8-centroid distance
      // work for every already-converged subspace on every later round
      val bc = s.sparkContext.broadcast((cents, stableM.clone()))
      val agg = ds.rdd.treeAggregate(
        Array.fill(m * k)(new KmAcc(subDim)))(
        seqOp = (acc, row) => {
          val (id, emb) = row
          val (cvs, frozen) = bc.value
          var mm = 0
          while (mm < cvs.length) {
            if (frozen(mm)) { mm += 1 }
            else {
            val sub = cvs(mm)
            val off = mm * subDim
            var bestC = 0
            var bestD = Double.PositiveInfinity
            var c = 0
            while (c < sub.length) {
              val cv = sub(c)
              var dst = 0.0
              var i = 0
              while (i < subDim) {
                val t = emb(off + i).toDouble - cv(i); dst += t * t; i += 1
              }
              // strict < : ties keep the smallest cid; NaN never wins
              if (dst < bestD) { bestD = dst; bestC = c }
              c += 1
            }
            acc(mm * k + bestC).addSlice(id, bestC, bestD, emb, off)
            mm += 1
            }
          }
          acc
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i).merge(b(i)); i += 1 }; a
        })
      bc.unpersist(blocking = false)
      var mm = 0
      while (mm < m) {
        // a stopped subspace is FROZEN (its stop condition may be the
        // tol heuristic, not a true fixpoint — further updates would
        // drift it past where independent training stops)
        if (!stableM(mm)) {
          itM(mm) += 1
          val slice = agg.slice(mm * k, (mm + 1) * k)
          val inertia = slice.foldLeft(java.math.BigDecimal.ZERO)((z, a) => z.add(a.sd))
          inertias(mm) += inertia.doubleValue
          val cs = slice.foldLeft(0L)((z, a) => z + a.sh).toString
          var c = 0
          while (c < k) {
            membersOut(mm)(c) = slice(c).n
            if (slice(c).n > 0L) {
              val n = new java.math.BigDecimal(slice(c).n)
              cents(mm)(c) = slice(c).dims
                .map(_.divide(n, java.math.MathContext.DECIMAL128).doubleValue)
            } // empty cluster: keep previous centroid
            c += 1
          }
          val hist = inertias(mm)
          val relImproved = hist.size < 2 ||
            hist(hist.size - 2) - inertia.doubleValue > tol * hist(hist.size - 2)
          stableM(mm) = cs == prevCs(mm) || !relImproved
          prevCs(mm) = cs
        }
        mm += 1
      }
      it += 1
    }
    ds.unpersist()
    (0 until m).map { mm =>
      (cents(mm).zipWithIndex.map { case (v, c) =>
        (c, v.toSeq, membersOut(mm)(c)) }.toSeq,
        inertias(mm).toSeq, itM(mm))
    }
  }

  /** Fixed-iteration PageRank over the part–supplier bipartite graph
    * (nodes = 2*partkey / 2*suppkey+1; edges = distinct lineitem pairs,
    * undirected by doubling). Rows-only key (`graph_pagerank`): an
    * iterative fixpoint loop is not one SQL statement — same contract
    * as graph_components.
    *
    * Like kmeansTrain, this is deliberately the imperative tier ((d) in
    * the operator-preference order), NOT a per-iteration DataFrame
    * plan: a DataFrame loop re-analyzes, re-optimizes and re-compiles
    * codegen on every iteration — measured 6.5 s for 8 iterations at
    * sf0.1 with ~0.8 s/iter of pure planning/scheduling overhead
    * (tuning partitions 8→25 made it WORSE, 7.6 s, and lazy
    * checkpointing didn't help, 7.3 s — the cost is fixed per plan, not
    * data). The canonical RDD shape runs the same 8 iterations as one
    * narrow-join lineage: adjacency lists hash-partitioned ONCE and
    * persisted, ranks produced by reduceByKey ON THE SAME PARTITIONER —
    * so every join is narrow (zero per-iteration edge shuffle, the
    * GraphX/Pregel layout) and the contribution shuffle carries ~|nodes|
    * combined rows per partition, not |edges|.
    *
    * Determinism / partition invariance: ranks are java.math.BigDecimal
    * end-to-end — share = rank/deg at scale 24 HALF_UP (exact decimal
    * division, same result wherever computed), contributions combine by
    * exact BigDecimal.add (commutative, associative, scale = max —
    * merge-order invariant), damp multiply is exact. No double enters
    * the loop; 1/N and 0.15/N are divided once driver-side (a DataFrame
    * decimal/longLiteral division promotes to scale 6 and leaked
    * ~2.9e-4 of total rank over 8 iterations — root cause found in the
    * declarative formulation and sidestepped here). The graph is
    * bipartite with no dangling nodes (every node appears on both edge
    * directions), so total rank is conserved up to the scale-24
    * division truncation (≤|nodes|×5e-25/iter; Round9Spec asserts the
    * total stays within 1e-6 of 1 after all iterations and that two
    * runs are bit-identical). */
  private[graft] def pageRank(s: SparkSession, d: String,
      iters: Int = 8): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val pairs = T.t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
    val pairRdd = pairs.select(col("src").cast(LongType),
      col("dst").cast(LongType))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    // Loop partitioner: the session's shuffle parallelism, DELIBERATELY
    // not data-sized. The graphComponents-style data-derived sizing was
    // built and MEASURED in r22 (OPTIMIZATION_r22.md §8, rows asserted
    // identical first): 1.10× SLOWER at sf0.1 (4 partitions) and 1.22×
    // at sf1 — the fixpoint's wall is the 8 sequential per-round job
    // barriers, not per-task scheduling, so shrinking the partitioner
    // only adds the |lineitem| sizing count and removes parallelism.
    // Rejected.
    val part = new org.apache.spark.HashPartitioner(
      s.conf.get("spark.sql.shuffle.partitions").toInt)
    // adjacency lists: partitioned once, reused by every iteration's
    // (narrow) join — the dsts array order is merge-dependent but only
    // orders emission of identical shares, so results are unaffected
    val links = pairRdd.flatMap { case (p, q) => Iterator((p, q), (q, p)) }
      .groupByKey(part).mapValues(_.toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nNodes = links.count()
    val initRank = JBD.ONE.divide(new JBD(nNodes), 24, RoundingMode.HALF_UP)
    val baseOverN =
      new JBD("0.15").divide(new JBD(nNodes), 24, RoundingMode.HALF_UP)
    val damp = new JBD("0.85")
    var ranks = links.mapValues(_ => initRank) // same partitioner
    var it = 0
    while (it < iters) {
      val contribs = links.join(ranks) // narrow: both sides on `part`
        .flatMap { case (_, (dsts, r)) =>
          val share = r.divide(new JBD(dsts.length), 24, RoundingMode.HALF_UP)
          dsts.iterator.map(dd => (dd, share))
        }
      ranks = contribs.reduceByKey(part, _.add(_))
        .mapValues(in => baseOverN.add(damp.multiply(in)))
      it += 1
    }
    // ONE action computes the whole 8-iteration narrow lineage into a
    // persisted per-node result (output stays distributed — |nodes| can
    // be huge at scale; only loop CONTROL is driver-side), then the
    // adjacency cache is released. ppm rounding via setScale HALF_UP —
    // deterministic.
    val out = ranks.map { case (node, r) =>
      (node, r.multiply(new JBD(1000000)).setScale(6, RoundingMode.HALF_UP)
        .doubleValue)
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    links.unpersist(blocking = false)
    import s.implicits._
    out.toDF("node", "rank_ppm")
      .select(
        when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast(LongType).as("key"),
        col("rank_ppm"))
      .orderBy("node_type", "key")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Composed IVF×PQ ANN search — the actual 100 TB serving plan, built
    // from the proven halves: (1) coarse IVF assignment (map-side min_by
    // argmin over the 8 broadcast seed centroids, full-vector L2²,
    // pqCodes NULL canon); (2) the probe (vec_id=0) restricts the search
    // to its nprobe=2 nearest coarse buckets — a broadcast semi-
    // restriction, so the corpus outside those buckets is never scored;
    // (3) candidates are ADC-scored through their PQ codes against the
    // broadcast 4×8 probe distance table (the corpus is never re-read as
    // floats — codes are the precomputed artifact, joined by vec_id);
    // (4) the top-50 ADC shortlist is exactly re-ranked with full-vector
    // L2² and the top-10 returned. Both top-k legs are
    // TakeOrderedAndProject (bounded), no window anywhere; the ADC fold
    // runs in fixed m-order (sorted-fold canon) so the double sum is
    // deterministic and DuckDB-mirrorable. The oracle replays the exact
    // same funnel, so the hash check covers bucket choice, code
    // assignment, ADC scores AND the re-rank.
    "vec_ivf_pq_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = broadcast(e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
      // coarse IVF assignment: one bucket per vector, no window shuffle
      val assign = e.crossJoin(cents)
        .withColumn("cd", expr(fullL2("embedding", "cvec")))
        .groupBy("vec_id")
        .agg(min_by(col("cid"),
            struct(coalesce(col("cd"), lit(Double.PositiveInfinity)).as("nd"),
              col("cid"))).as("cid"),
          first(col("label")).as("label"),
          first(col("embedding")).as("embedding"))
        // probe row + candidate side both read assign
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val probe = assign.filter(col("vec_id") === 0)
        .select(col("embedding").as("pvec"))
      val probeBuckets = probe.crossJoin(cents)
        .withColumn("pd", expr(fullL2("pvec", "cvec")))
        .orderBy(col("pd").asc, col("cid").asc).limit(2)
        .select("cid", "pvec")
      // candidates: only vectors living in the nprobe buckets
      val cand = assign.filter(col("vec_id") =!= 0)
        .join(broadcast(probeBuckets), "cid")
      // PQ codes: the precomputed corpus artifact (shared codebook
      // helper — same argmin, same NULL semantics as vec_pq_codes),
      // RESTRICTED to the candidate set before any scoring — at 100 TB
      // the code table is stored bucketed by cid, so this restriction
      // is a partition prune, and ADC work is proportional to the
      // nprobe buckets, not the corpus
      val codes = Round4Ops.pqCodes(
        e.join(cand.select("vec_id"), "vec_id"), cents)
      val dtab = broadcast(probe.crossJoin(cents)
        .select(col("cid").as("code"), col("pvec"), col("cvec"),
          explode(expr("sequence(0, 3)")).as("m"))
        .withColumn("pdist", expr(Round4Ops.subL2("pvec", "cvec")))
        .select("m", "code", "pdist"))
      val adc = codes.join(dtab, Seq("m", "code"))
        .groupBy("vec_id")
        .agg(expr("aggregate(array_sort(collect_list(struct(m, pdist))), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x.pdist)").as("adc"))
      val shortlist = cand
        .join(adc, "vec_id")
        .orderBy(col("adc").asc, col("vec_id").asc).limit(50)
      shortlist
        .withColumn("exact", expr(fullL2("embedding", "pvec")))
        // NULLS LAST to match the DuckDB oracle's ASC default (Spark's
        // is NULLS FIRST): a malformed/NULL embedding that survives to
        // the shortlist (coarse assign parks it via coalesce-to-+inf)
        // must rank behind every finite exact distance, not ahead
        .orderBy(col("exact").asc_nulls_last, col("vec_id").asc).limit(10)
        .select(col("vec_id"), col("label"), col("cid"),
          dround(col("adc"), 6).as("adc_dist"),
          dround(col("exact"), 6).as("l2_dist"))
    }),

    // t2=N: trained codebook — Lloyd's k-means run to its assignment
    // fixpoint (vec_centroid_recluster is exactly one iteration of this
    // loop). Output = the converged codebook as (cid, dim, value) rows
    // plus member counts and the iteration count; Round9Spec asserts
    // determinism (bit-identical across runs and parallelism — all
    // order-sensitive sums are DECIMAL), monotone non-increasing
    // inertia (Lloyd's invariant), and convergence before the iteration
    // cap. No DuckDB oracle: the fixpoint loop is not expressible as a
    // single SQL statement (same contract as text_minhash_dedup's label
    // propagation).
    "vec_kmeans_train" -> ((s, d) => {
      val (cents, inertias, iters) = kmeansTrain(t(s, d, "embeddings"))
      import s.implicits._
      cents.flatMap { case (cid, v, n) =>
        v.zipWithIndex.map { case (x, dim) => (cid, dim, x, n, iters) }
      }.toDF("cid", "dim", "centroid_v", "n_members", "n_iters")
        .withColumn("final_inertia",
          dround(lit(inertias.lastOption.getOrElse(0d)), 6))
        .orderBy("cid", "dim")
    }),

    // Linear interpolation of interior gaps in a per-user daily series —
    // the resample/interpolate half of the ts family (ts_gapfill_ffill
    // is the step-function half). Grid = users × calendar (calendar is a
    // tiny broadcast); prev/next known points come from ONE window pass
    // each direction (last/first IGNORE NULLS) — no self-join, no
    // per-gap search, so the plan is two window sorts over the grid
    // regardless of gap structure. Ends stay NULL (no extrapolation) —
    // that's the contract that distinguishes interpolation from ffill.
    // Determinism: known values are money-decimal sums; the
    // interpolation arithmetic is the same IEEE-double expression tree
    // on both engines (datediff ratios), rounded to 6dp.
    "ts_interpolate_linear" -> ((s, d) => {
      val e = T.events(s, d).filter(col("user_id") < 300)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      val daily = e.groupBy("user_id", "day")
        .agg(money(sum(dec(col("value")))).as("gmv"))
      val cal = e.select(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val grid = e.select("user_id").distinct().crossJoin(broadcast(cal))
      val wPrev = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid.join(daily, Seq("user_id", "day"), "left")
        .withColumn("pv", last(col("gmv"), ignoreNulls = true).over(wPrev))
        .withColumn("pd", last(when(col("gmv").isNotNull, col("day")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("gmv"), ignoreNulls = true).over(wNext))
        .withColumn("nd", first(when(col("gmv").isNotNull, col("day")),
          ignoreNulls = true).over(wNext))
        .withColumn("gmv_interp",
          when(col("gmv").isNotNull, col("gmv"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              dround(col("pv") + (col("nv") - col("pv")) *
                (datediff(col("day"), col("pd")).cast(DoubleType) /
                  datediff(col("nd"), col("pd")).cast(DoubleType)), 6))
            .otherwise(lit(null).cast(DoubleType)))
        .select(col("user_id"), col("day"), col("gmv"), col("gmv_interp"))
        .orderBy("user_id", "day")
    }),

    // Declarative data-quality gate: structural rules (null keys,
    // duplicate keys, referential orphans) + expectation rules (value
    // ranges) over orders/lineitem, ONE conditional-aggregation scan per
    // table — adding a rule adds a sum(when), not a pass. The orphan
    // check is the only join: left join on the (distinct) key set,
    // shuffle-keyed — at 100 TB it would take a broadcast Bloom of the
    // parent keys first (text_bloom_decontaminate's shape) so only
    // probable orphans reach the shuffle. Clean-fixture rules legitimately
    // report 0 violations; the range rules fire (thresholds chosen inside
    // the fixture's real value range).
    "dq_rule_checks" -> ((s, d) => {
      val o = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      def unpack(agg: DataFrame, pairs: Seq[(String, String)]): DataFrame =
        agg.select(explode(array(pairs.map { case (rule, v) =>
          struct(lit(rule).as("rule"), col("n").as("n_checked"),
            col(v).as("n_violations"))
        }: _*)).as("r")).select(col("r.*"))
      val oAgg = o.agg(count(lit(1)).as("n"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_nonpos"),
        sum(when(col("o_totalprice") > 400000, 1L).otherwise(0L)).as("v_big"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_dup"))
      val lAgg = li.agg(count(lit(1)).as("n"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 45, 1L)
          .otherwise(0L)).as("v_qty"),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("v_disc"))
      val orphan = li.select(col("l_orderkey"))
        .join(o.select(col("o_orderkey")).distinct(),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_orph"))
      unpack(oAgg, Seq(
        "orders.null_custkey" -> "v_null",
        "orders.nonpos_price" -> "v_nonpos",
        "orders.price_over_400k" -> "v_big",
        "orders.dup_orderkey" -> "v_dup"))
        .unionAll(unpack(lAgg, Seq(
          "lineitem.qty_out_of_1_45" -> "v_qty",
          "lineitem.discount_over_5pct" -> "v_disc")))
        .unionAll(unpack(orphan, Seq("lineitem.orphan_orderkey" -> "v_orph")))
        .withColumn("violation_rate",
          dround(col("n_violations").cast(DoubleType) / col("n_checked"), 6))
        .orderBy("rule")
    }),

    // Importance-weighted (domain-mixing) sampling: per-language keep
    // rates — the upsample-quality/downsample-boilerplate step of a
    // training-data mix. Deterministic like sample_stratified/
    // split_train_test: md5-rank within the stratum, keep the first
    // floor(n*rate) — no RNG state, so the sample is reproducible on any
    // cluster and the oracle replays it exactly. Rates are 20ths and the
    // cutoff is PURE INTEGER arithmetic (rn*20 <= n*num): `ceil(n*wt)`
    // with a double wt would diverge between engines whenever n*wt is an
    // exact integer (Spark's 70*0.4 = 28.000000000000004 ceils to 29,
    // DuckDB's DECIMAL 28.0 to 28). The window sorts within strata only
    // (bounded by stratum size, shuffle-keyed by lang; for a web-scale
    // stratum the shard-keyed window of text_pack_sequences is the
    // drop-in).
    "sample_importance_weighted" -> ((s, d) => {
      // keep-rate numerators over denominator 20: en 0.9, zh 0.6,
      // fr 0.5, de 0.4, default 0.25
      val num = when(col("lang") === "en", 18L)
        .when(col("lang") === "zh", 12L)
        .when(col("lang") === "fr", 10L)
        .when(col("lang") === "de", 8L)
        .otherwise(5L)
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      t(s, d, "documents").select(col("doc_id"), col("lang"))
        .withColumn("num", num)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        .filter(col("rn") * 20L <= col("n") * col("num"))
        .select(col("doc_id"), col("lang"),
          (col("num").cast(DoubleType) / 20).as("wt"),
          col("rn").cast(IntegerType).as("rn"))
        .orderBy("doc_id")
    }),

    // t2=N: iterative PageRank (decimal-exact loop; see pageRank above).
    "graph_pagerank" -> ((s, d) => pageRank(s, d))
  )

  val oracleSql: Map[String, String] = Map(
    // Mirrors the full funnel: coarse assignment (ROW_NUMBER argmin ↔
    // min_by), nprobe-2 bucket pick, PQ codes (vec_pq_codes oracle),
    // probe distance table, ADC sum in sorted m-order (vec_pq_adc_topk
    // oracle), top-50 ADC shortlist, exact L2² re-rank top-10.
    "vec_ivf_pq_topk" ->
      ("WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev " +
        "FROM embeddings), " +
        "cents AS (SELECT vec_id AS cid, ev AS cvec FROM e WHERE vec_id < 8), " +
        "ca AS (SELECT e.vec_id, e.label, e.ev, c.cid, " +
        "list_sum(list_transform(generate_series(1, 64), " +
        "i -> (ev[i] - cvec[i]) * (ev[i] - cvec[i]))) AS cd FROM e, cents c), " +
        "assign AS (SELECT vec_id, label, ev, cid FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd, cid) AS rk FROM ca) " +
        "WHERE rk = 1), " +
        "p AS (SELECT ev AS pv FROM e WHERE vec_id = 0), " +
        "pb AS (SELECT c.cid, p.pv FROM cents c, p " +
        "ORDER BY list_sum(list_transform(generate_series(1, 64), " +
        "i -> (pv[i] - cvec[i]) * (pv[i] - cvec[i]))), c.cid LIMIT 2), " +
        "s AS (SELECT vec_id, ev, unnest(generate_series(0, 3)) AS m FROM e), " +
        "dall AS (SELECT vec_id, m, cid, list_sum(list_transform(generate_series(1, 16), " +
        "i -> (ev[m*16 + i] - cvec[m*16 + i]) * (ev[m*16 + i] - cvec[m*16 + i]))) AS dist " +
        "FROM s, cents), " +
        "codes AS (SELECT vec_id, m, cid AS code FROM (SELECT vec_id, m, cid, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rk FROM dall) " +
        "WHERE rk = 1), " +
        "dtab AS (SELECT m, cid AS code, list_sum(list_transform(generate_series(1, 16), " +
        "i -> (pv[m*16 + i] - cvec[m*16 + i]) * (pv[m*16 + i] - cvec[m*16 + i]))) AS pdist " +
        "FROM (SELECT cid, cvec, pv, unnest(generate_series(0, 3)) AS m FROM cents, p)), " +
        "adc AS (SELECT vec_id, list_sum(list_transform(" +
        "list_sort(list({'m': m, 'pdist': pdist})), x -> x.pdist)) AS adc " +
        "FROM codes JOIN dtab USING (m, code) GROUP BY vec_id), " +
        "short AS (SELECT a.vec_id, a.label, a.cid, a.ev, pb.pv, adc.adc " +
        "FROM assign a JOIN pb USING (cid) JOIN adc USING (vec_id) " +
        "WHERE a.vec_id <> 0 ORDER BY adc.adc, a.vec_id LIMIT 50), " +
        "rr AS (SELECT vec_id, label, cid, adc, " +
        "list_sum(list_transform(generate_series(1, 64), " +
        "i -> (ev[i] - pv[i]) * (ev[i] - pv[i]))) AS exact FROM short) " +
        "SELECT vec_id, label, cid, CAST(ROUND(adc, 6) AS DOUBLE) AS adc_dist, " +
        "CAST(ROUND(exact, 6) AS DOUBLE) AS l2_dist " +
        "FROM rr ORDER BY exact, vec_id LIMIT 10"),

    // Same grid + IGNORE-NULLS window shape as ts_gapfill_ffill's
    // oracle; the interpolation expression tree mirrors the Spark side
    // term-for-term (same IEEE-double op order), rounded to 6dp.
    "ts_interpolate_linear" ->
      ("WITH e AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value " +
        "FROM events WHERE user_id < 300), " +
        "daily AS (SELECT user_id, day, " +
        s"${oMoney(s"SUM(${oDec("value")})")} AS gmv FROM e GROUP BY 1, 2), " +
        "cal AS (SELECT CAST(unnest(generate_series(CAST(MIN(day) AS TIMESTAMP), " +
        "CAST(MAX(day) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM e), " +
        "grid AS (SELECT DISTINCT e.user_id, c.day FROM e CROSS JOIN cal c), " +
        "j AS (SELECT g.user_id, g.day, d.gmv FROM grid g " +
        "LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day), " +
        "w AS (SELECT user_id, day, gmv, " +
        "last_value(gmv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv, " +
        "last_value(CASE WHEN gmv IS NOT NULL THEN day END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd, " +
        "first_value(gmv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv, " +
        "first_value(CASE WHEN gmv IS NOT NULL THEN day END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY day " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd FROM j) " +
        "SELECT user_id, day, gmv, " +
        "CASE WHEN gmv IS NOT NULL THEN gmv " +
        "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN " +
        "CAST(ROUND(pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / " +
        "CAST(nd - pd AS DOUBLE)), 6) AS DOUBLE) " +
        "ELSE NULL END AS gmv_interp " +
        "FROM w ORDER BY user_id, day"),

    // One aggregate SELECT per rule, UNION ALL — DuckDB runs the same
    // conditional sums; counts cast to BIGINT (DuckDB integer SUM is
    // HUGEINT), rate rounded to 6dp double on both engines.
    "dq_rule_checks" ->
      ("WITH u AS (" +
        "SELECT 'orders.null_custkey' AS rule, CAST(COUNT(*) AS BIGINT) AS n_checked, " +
        "CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM orders " +
        "UNION ALL SELECT 'orders.nonpos_price', CAST(COUNT(*) AS BIGINT), " +
        "CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'orders.price_over_400k', CAST(COUNT(*) AS BIGINT), " +
        "CAST(SUM(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'orders.dup_orderkey', CAST(COUNT(*) AS BIGINT), " +
        "CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'lineitem.qty_out_of_1_45', CAST(COUNT(*) AS BIGINT), " +
        "CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'lineitem.discount_over_5pct', CAST(COUNT(*) AS BIGINT), " +
        "CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'lineitem.orphan_orderkey', CAST(COUNT(*) AS BIGINT), " +
        "CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o " +
        "ON l.l_orderkey = o.o_orderkey) " +
        "SELECT rule, n_checked, n_violations, " +
        "CAST(ROUND(CAST(n_violations AS DOUBLE) / n_checked, 6) AS DOUBLE) AS violation_rate " +
        "FROM u ORDER BY rule"),

    // The sample_stratified oracle with a per-lang CASE rate instead of
    // the flat 0.2.
    // Integer cutoff (rn*20 <= n*num) exactly as the Spark side — see
    // the double-vs-decimal CEIL divergence note there.
    "sample_importance_weighted" ->
      ("WITH r AS (SELECT doc_id, lang, " +
        "CASE lang WHEN 'en' THEN 18 WHEN 'zh' THEN 12 WHEN 'fr' THEN 10 " +
        "WHEN 'de' THEN 8 ELSE 5 END AS num, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY lang) AS n FROM documents) " +
        "SELECT doc_id, lang, CAST(num AS DOUBLE) / 20 AS wt, CAST(rn AS INT) AS rn " +
        "FROM r WHERE rn * 20 <= n * num ORDER BY doc_id")
  )
}
