package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Dev-only: inflate a driver testdata directory N-fold for scale-curve
  * measurement (the sandbox has no sf1.0; this builds a faithful one
  * from sf0.1).
  *
  * Scaling model: N disjoint universes. Each copy shifts every key
  * (custkey/orderkey/partkey/suppkey/event_id/user_id/doc_id/vec_id) by
  * a copy-specific offset so copies never join each other — per-key
  * densities, join selectivities, group sizes and posting-list widths
  * all stay exactly as in the base, while totals grow N-fold. That is
  * how real growth behaves (new users, new orders, new documents — not
  * 10x-hotter existing keys). Bounded dims (region, nation) stay fixed,
  * as at any real scale factor.
  *
  *  - Key offsets round up to a multiple of 400 (lcm of the % 16 / % 50
  *    residue selectors) so bounded seed pools (PQ codebook, ANN query
  *    sets) keep their selection semantics: seed pools stay bounded,
  *    query sets scale with the data.
  *  - documents.text in copy c > 0 has every token suffixed `_c`:
  *    lengths and shingle-frequency profiles are preserved per
  *    universe, but copies share no shingles with the base — inflating
  *    a dedup corpus with verbatim clones would instead add N*(N-1)/2
  *    true duplicate pairs per doc and measure an artificial workload.
  *  - events.ts is written back as int64 nanos, the driver's own
  *    layout, so [[graft.util.Tables.load]] reads the inflated dir
  *    unchanged.
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <dstDir> [copies=10]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.dev()

    def base(name: String): DataFrame = graft.util.Tables.load(spark, src, name)

    /** Copy offset unit: max(key)+1 rounded up to a multiple of 400. */
    def unit(df: DataFrame, key: String): Long = {
      val m = df.agg(max(col(key))).head.getLong(0) + 1L
      ((m + 399L) / 400L) * 400L
    }

    /** Replicate with per-copy key shifts. `keepCopy` retains the copy
      * index column `c` for callers that derive per-copy content. */
    def inflate(df: DataFrame, shifts: Map[String, Long],
        keepCopy: Boolean = false): DataFrame = {
      val c = explode(sequence(lit(0L), lit(copies - 1L))).as("c")
      val shifted = shifts.foldLeft(df.select(col("*"), c)) { case (d, (k, u)) =>
        d.withColumn(k, col(k) + col("c") * u)
      }
      if (keepCopy) shifted else shifted.drop("c")
    }

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(8).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[scale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // bounded dims: copy untouched
    Seq("region", "nation").foreach(t => write(base(t), t))

    val (cust, supp, part, ord) =
      (base("customer"), base("supplier"), base("part"), base("orders"))
    val kCust = unit(cust, "c_custkey")
    val kSupp = unit(supp, "s_suppkey")
    val kPart = unit(part, "p_partkey")
    val kOrd = unit(ord, "o_orderkey")
    write(inflate(cust, Map("c_custkey" -> kCust)), "customer")
    write(inflate(supp, Map("s_suppkey" -> kSupp)), "supplier")
    write(inflate(part, Map("p_partkey" -> kPart)), "part")
    write(inflate(ord, Map("o_orderkey" -> kOrd, "o_custkey" -> kCust)), "orders")
    write(inflate(base("lineitem"), Map(
      "l_orderkey" -> kOrd, "l_partkey" -> kPart, "l_suppkey" -> kSupp)),
      "lineitem")

    val ev = base("events")
    val evInflated = inflate(ev,
      Map("event_id" -> unit(ev, "event_id"), "user_id" -> unit(ev, "user_id")))
      // back to the driver's int64-nanos layout (Tables.load contract)
      .withColumn("ts", (unix_micros(col("ts")) * 1000L).as("ts"))
    write(evInflated, "events")

    // suffix tokens with the copy index carried through the inflate
    // (one max-agg job, no re-derivation from the shifted key)
    val docs = base("documents")
    val docsInflated = inflate(docs, Map("doc_id" -> unit(docs, "doc_id")),
        keepCopy = true)
      .withColumn("text",
        when(col("c") === 0L, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("c"))), " ")))
      .withColumn("n_chars", length(col("text")))
      .drop("c")
    write(docsInflated, "documents")

    // salt vectors per copy: circularly rotate the dimension axis by
    // (13·c) mod 64 — norms, per-dim marginals, and every WITHIN-copy
    // distance are exactly preserved (one permutation applied to the
    // whole universe), while cross-copy cosines collapse to noise.
    // Verbatim replication would make each vector's true top-k its own
    // N−1 clones and every LSH/Hamming bucket collide pathologically —
    // the documents.text `_c`-suffix discipline applied to the vector
    // table (13 is odd, so the 10 shifts are distinct mod 64).
    val emb = base("embeddings")
    val shift = (col("c") * 13L % 64L).cast("int")
    val embInflated = inflate(emb, Map("vec_id" -> unit(emb, "vec_id")),
        keepCopy = true)
      .withColumn("embedding",
        concat(slice(col("embedding"), shift + 1, lit(64) - shift),
          slice(col("embedding"), lit(1), shift)))
      .drop("c")
    write(embInflated, "embeddings")

    spark.stop()
  }
}
