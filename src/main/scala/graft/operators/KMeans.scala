package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the
  * iterated form of the oracle-checked single step
  * (`SimilarityQueries.kmeansStep`, `emb_kmeans_step`).
  *
  * Loop discipline (the `dedup_clusters` pattern): centroids are a
  * k-row DataFrame that is `localCheckpoint(eager = true)`-ed every
  * round — persist alone does NOT truncate the logical plan, and an
  * uncheckpointed iterative plan grows exponentially in Catalyst
  * re-optimization. Assignment broadcasts the k centroids (never the
  * corpus); recomputation is one (cluster, pos) shuffle with O(1)
  * aggregation buffers. The only per-group array materialization is
  * rebuilding the k centroid vectors themselves — k x dim values,
  * bounded by construction, never corpus-sized.
  *
  * Determinism: seeds are the k lowest vec_ids; the argmin tie-breaks
  * on (d2, cent_id); rounds are a fixed count. Inertia per round is
  * returned so callers can stop early; it is non-increasing by
  * Lloyd's-algorithm invariant (asserted in KMeansSpec).
  */
object KMeans {

  /** @param emb (vec_id: Long, embedding: Array[Float|Double]); other
    *            columns are projected away — join extra attributes back
    *            on vec_id from `assignments`.
    * @return (assignments: vec_id/x/cent_id/d2, centroids: cent_id/cvec,
    *         inertia per round) */
  def fit(emb: DataFrame, k: Int, iters: Int)
      : (DataFrame, DataFrame, Seq[Double]) = {
    require(k >= 1 && iters >= 1)
    require(!emb.isEmpty, "KMeans.fit: input is empty")

    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("x"))

    // deterministic seeding: the k lowest vec_ids (kmeans++ at scale
    // would sample by d2 with a seeded hash — same loop shape).
    // orderBy+limit plans as TakeOrderedAndProject (per-partition
    // top-k, k-row driver merge); the row_number window runs on those
    // k rows only — never a full-corpus single-partition sort
    var centroids = vecs
      .orderBy(col("vec_id")).limit(k)
      .withColumn("rn", row_number().over(Window.orderBy(col("vec_id"))))
      .select((col("rn") - 1).cast("long").as("cent_id"), col("x").as("cvec"))
      .localCheckpoint(true)

    val d2 = aggregate(
      zip_with(col("x"), col("cvec"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v)
    val wMin = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("cent_id"))

    def assign(): DataFrame =
      vecs.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("x"), col("cent_id"), d2.as("d2"))
        .withColumn("rn", row_number().over(wMin))
        .filter(col("rn") === 1)
        .drop("rn")

    val inertia = Seq.newBuilder[Double]
    var assigned: DataFrame = null
    for (_ <- 0 until iters) {
      assigned = assign()
      // one pass: inertia + new centroids from the same assignment
      assigned.persist()
      inertia += assigned.agg(sum(col("d2"))).head.getDouble(0)
      val means = assigned
        .select(col("cent_id"), posexplode(col("x")))
        .groupBy(col("cent_id"), col("pos"))
        // fixed-point 2^27 component sums (the fitGrouped /
        // labelCentroids idiom): double avg() depends on shuffle merge
        // order, and a ULP of centroid drift can flip a near-tie
        // assignment run-to-run
        .agg((sum(round(col("col") * (1L << 27)).cast("long"))
          .cast("double") / (1L << 27) / count(lit(1))).as("m"))
        // k x dim rows -> k rows: bounded collect, sorted for a
        // deterministic component order
        .groupBy(col("cent_id"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec2"))
      // a cluster that went empty (duplicate seeds, d2 ties) keeps its
      // previous centroid, so the k-centroid contract holds every
      // round — the same carry-forward fitGrouped documents
      val next = centroids.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("cvec2"), col("cvec")).as("cvec"))
        .localCheckpoint(true)
      assigned.unpersist()
      centroids = next
    }
    (assign(), centroids, inertia.result())
  }

  /** Lloyd's over many independent groups at once — one loop trains
    * every group's codebook together (the PQ per-subspace case: 16
    * subspaces x k entries in a single broadcast join per round,
    * instead of 16 separate fits each paying its own passes).
    *
    * @param slices (grp: Int, vec_id: Long, x: Array[Double]) — each
    *               group's points, all groups unioned in one frame.
    * @param seeds  (grp, cent_id: Long, cvec: Array[Double]) — initial
    *               centroids per group, k rows per group.
    * @return (grp, cent_id, cvec) trained centroids. A cluster that
    *         goes empty in a round keeps its previous centroid, so
    *         every group returns exactly its k seed ids (PQ composite
    *         stitching relies on identical id sets across groups).
    *
    * PRECONDITION: (grp, vec_id) pairs in `slices` must be unique. The
    * distributed argmin groups by (grp, vec_id) — duplicate rows would
    * collapse into one vote there but count twice in the driver loop
    * (which iterates raw rows); both current callers feed per-vector
    * slices, unique by construction.
    *
    * Same loop discipline as [[fit]]: centroids localCheckpoint(eager)
    * per round (persist does not truncate lineage); assignment
    * broadcasts the (groups x k)-row codebook, never the corpus; the
    * argmin is a partial-aggregable min(struct) — no window, no
    * corpus-sized state. */
  def fitGrouped(slices: DataFrame, seeds: DataFrame, iters: Int)
      : DataFrame = {
    require(iters >= 0)
    // Bounded-sample fast path: PQ codebook training runs on a sample
    // bounded BY CONSTRUCTION (SimilarityQueries.pqTrainingInput caps
    // at ≤2000 vectors at any corpus size), yet each distributed round
    // paid a broadcast join, two shuffled aggregates, a centroid join
    // and an eager checkpoint — ~10 scheduler round-trips per fit for
    // kilobytes of data. When the whole sample fits a hard row gate,
    // run the SAME Lloyd's at the driver with bit-identical arithmetic
    // (left-fold d2, (d2, cent_id) argmin via Double.compare, HALF_UP
    // fixed-point 2^27 component sums — order-free exact longs — and
    // the empty-cluster carry-forward). Over the gate: the distributed
    // loop below, unchanged (the general-operator contract).
    fitGroupedAtDriver(slices, seeds, iters).getOrElse(
      fitGroupedDistributed(slices, seeds, iters))
  }

  private def fitGroupedDistributed(slices: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val d2 = aggregate(
      zip_with(col("x"), col("cvec"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v)
    var cents = seeds.localCheckpoint(true)
    for (_ <- 0 until iters) {
      val means = slices.join(broadcast(cents), "grp")
        .select(col("grp"), col("vec_id"), col("cent_id"), col("x"), d2.as("d2"))
        // argmin carries x through the min struct: (d2, cent_id) is the
        // ordering, x is constant within the (grp, vec_id) group
        .groupBy(col("grp"), col("vec_id"))
        .agg(min(struct(col("d2"), col("cent_id"), col("x"))).as("best"))
        .select(col("grp"), col("best.cent_id").as("cent_id"),
          posexplode(col("best.x")))
        .groupBy(col("grp"), col("cent_id"), col("pos"))
        // fixed-point 2^27 component sums (the labelCentroids idiom):
        // double avg() depends on shuffle merge order, and a ULP of
        // centroid drift can flip near-tie codes run-to-run. Each term
        // casts to long BEFORE the sum — summing integer-valued doubles
        // is only exact while the running sum stays under 2^53, which a
        // corpus-scale group would exceed
        .agg((sum(round(col("col") * (1L << 27)).cast("long"))
          .cast("double") / (1L << 27) / count(lit(1))).as("m"))
        .groupBy(col("grp"), col("cent_id"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec2"))
      cents = cents.join(means, Seq("grp", "cent_id"), "left")
        .select(col("grp"), col("cent_id"),
          coalesce(col("cvec2"), col("cvec")).as("cvec"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Row gate for the driver-side grouped fit: ~10 MB of slice rows AT
    * PQ SUBVECTOR WIDTH (4 doubles). The gate counts rows, not bytes —
    * 200k rows of 64-dim vectors collected as Rows would be well over
    * 100 MB of driver heap — so a caller with wider slices must pass a
    * correspondingly smaller gate (or rely on the distributed
    * fallback). limit(gate+1)+length-check bounds what
    * the driver can ever hold (the bounded-collect discipline); an
    * over-gate input returns None and the caller falls back to the
    * distributed loop. */
  private val MaxDriverFitRows = 200000

  private def fitGroupedAtDriver(slices: DataFrame, seeds: DataFrame,
      iters: Int): Option[DataFrame] = {
    val sliceRows = slices.select(col("grp"), col("x"))
      .limit(MaxDriverFitRows + 1).collect()
    if (sliceRows.length > MaxDriverFitRows) return None
    val seedRows = seeds.select(col("grp"), col("cent_id"), col("cvec"))
      .limit(MaxDriverFitRows + 1).collect()
    if (seedRows.length > MaxDriverFitRows) return None
    val pts: Array[(Int, Array[Double])] = sliceRows
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    // (grp, cent_id) -> centroid; per-group views rebuilt per round
    var cents: Array[((Int, Long), Array[Double])] = seedRows
      .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Double](2).toArray))
    val Unit27 = (1L << 27).toDouble
    for (_ <- 0 until iters) {
      val byGrp: Map[Int, Array[(Long, Array[Double])]] = cents
        .groupBy(_._1._1).map { case (g, a) =>
          g -> a.map { case ((_, c), v) => (c, v) } }
      val sums = scala.collection.mutable.Map.empty[(Int, Long), Array[Long]]
      val counts = scala.collection.mutable.Map.empty[(Int, Long), Long]
      pts.foreach { case (grp, x) =>
        byGrp.get(grp).foreach { cs => // grp without seeds: inner-join drop
          // argmin by (d2, cent_id) under Spark's double ordering
          var bestD = Double.NaN
          var bestC = 0L
          var bestSet = false
          cs.foreach { case (cid, cv) =>
            var d = 0.0 // left fold in array order, as the SQL aggregate
            var i = 0
            while (i < x.length) {
              val t = x(i) - cv(i); d += t * t; i += 1
            }
            val cmp = java.lang.Double.compare(d, bestD)
            if (!bestSet || cmp < 0 || (cmp == 0 && cid < bestC)) {
              bestD = d; bestC = cid; bestSet = true
            }
          }
          val key = (grp, bestC)
          val acc = sums.getOrElseUpdate(key, new Array[Long](x.length))
          var i = 0
          while (i < x.length) {
            // Spark round() is BigDecimal HALF_UP (math.round is not,
            // for negative halves), then the long cast truncates the
            // integer-valued double exactly
            acc(i) += java.math.BigDecimal.valueOf(x(i) * Unit27)
              .setScale(0, java.math.RoundingMode.HALF_UP)
              .doubleValue().toLong
            i += 1
          }
          counts(key) = counts.getOrElse(key, 0L) + 1L
        }
      }
      cents = cents.map { case (key, old) =>
        counts.get(key) match {
          case Some(n) =>
            val s = sums(key)
            // sum.cast(double) / 2^27 / count — the exact expression
            // order of the distributed aggregate
            (key, s.map(v => v.toDouble / Unit27 / n.toDouble))
          case None => (key, old) // empty cluster keeps its centroid
        }
      }
    }
    val spark = slices.sparkSession
    import spark.implicits._
    Some(cents.toSeq
      .map { case ((g, c), v) => (g, c, v.toSeq) }
      .toDF("grp", "cent_id", "cvec"))
  }
}
