package graft

import graft.util.Sessions

/** Dev-only: time a query subset on two data directories (e.g. sf0.1
  * vs the ScaleData-inflated sf1.0) and print one JSON line with the
  * per-query scale ratios — the evidence that a plan is (or is not)
  * ~linear in the data.
  *
  * Usage: runMain graft.ScaleCurve <dirA> <dirB> [reps=2] [q1,q2,...]
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val dirA = args(0)
    val dirB = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val queries: Seq[String] =
      if (args.length > 3) args(3).split(",").toSeq
      else Seq(
        "dedup_clusters", "dedup_ngram_jaccard", "dedup_contamination",
        "dedup_triangles",
        "dedup_minhash_pairs", "dedup_simhash_pairs", "txt_bigram_logprob",
        "ann_pq_topk", "ann_pq_learned", "ann_ivfpq_learned",
        "ann_ivfpq_residual", "txt_tfidf",
        "tpch_waiting_suppliers",
        "tpch_nation_trade", "tpch_market_share", "ann_int8_topk",
        "ann_knn_join", "dedup_embedding_cosine", "txt_pack_sequences",
        "ev_sessionization", "ev_user_ranks", "ev_hourly_metrics",
        "ev_retention_cohorts", "emb_pca2", "dedup_cosine_lsh",
        "dedup_prefix_jaccard", "txt_bm25_topk",
        "dedup_contamination_bloom", "txt_dup_spans", "txt_span_coverage",
        "txt_strip_spans")
    val spark = Sessions.dev()

    def time(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      (1 to reps).map { _ =>
        // toRdd, not count(): a count aggregate lets Catalyst eliminate
        // the query's final global ORDER BY — one of the likeliest
        // superlinear stages this tool exists to catch
        Sessions.timed {
          fn(spark, dir).queryExecution.toRdd.count()
          Sessions.dropCaches(spark)
        }._2
      }.min
    }

    // warm file listings + committers once per dir
    Sessions.warm(spark, dirA, dirB)
    val rows = queries.map { q =>
      val a = time(q, dirA)
      val b = time(q, dirB)
      println(f"[curve] $q%-24s A=$a%7.2f s  B=$b%7.2f s  ratio=${b / a}%5.2f")
      (q, a, b)
    }
    val ja = rows.map { case (q, a, b) =>
      f""""$q":{"a":$a%.3f,"b":$b%.3f,"ratio":${b / a}%.2f}"""
    }.mkString(",")
    // escape the interpolated paths: a quote/backslash/control char in a
    // dir name must not produce an unparseable metric line
    import graft.util.Json.quote
    println(s"""{"metric":"scale_curve","dirA":${quote(dirA)},"dirB":${quote(dirB)},"reps":$reps,"queries":{$ja}}""")
    spark.stop()
  }
}
