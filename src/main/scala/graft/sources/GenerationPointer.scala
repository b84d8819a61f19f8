package graft.sources

import org.apache.spark.sql.SparkSession

/** ATOMIC multi-table index publication — the `_livegen` pointer
  * machinery [[AnnIndexLayout]] introduced, extracted so every
  * multi-table layout publishes the same way.
  *
  * The problem it closes: a rebuild of an index whose state spans
  * several tables (postings + vocab/stats geometry; cells + codes +
  * codebook) cannot publish by swapping tables one at a time — each
  * per-table swap is atomic, but a reader BETWEEN two swaps resolves a
  * mixed set (new postings scored against old idf geometry: internally
  * consistent nowhere, wrong silently). Instead, every build writes
  * its complete table set under a GENERATION prefix
  * (`<prefix>_g<N>_<table>`) and publishes by flipping the 1-row
  * pointer view `<prefix>_livegen` with one `CREATE OR REPLACE VIEW` —
  * ONE atomic catalog operation for the whole set. Readers resolve the
  * physical prefix through [[livePrefix]] and always see one COMPLETE
  * generation: before the flip the old one, after it the new one,
  * never a mix, never a missing table.
  *
  * Crash algebra: a build crashing before the flip leaves the live
  * generation untouched and serving (the half-built one — a
  * generation ABOVE the live pointer, which no reader can ever have
  * resolved — is swept by the next build's [[sweepStale]]); crashing
  * after the flip but before the superseded drop costs bytes, never
  * correctness. Deployments with long-running concurrent queries
  * defer the superseded drop (`dropSuperseded = false` on the
  * layout's build) and run an explicit sweep with
  * `keepGenerations = 0` after their max query latency, so an
  * in-flight plan over the old generation never races its drop.
  * The build-start sweep honors that deferral: it keeps the
  * `keepGenerations` most recent generations BELOW the live one
  * (default 1) alive, so a deployment that deferred the drop
  * precisely to protect an in-flight reader of generation N−1 does
  * not lose the protection the moment the NEXT build starts — only
  * the explicit post-latency sweep (or the publish-time drop the
  * deployment opted out of) reclaims a superseded generation.
  * Retained bytes stay bounded: at any time at most
  * 1 + keepGenerations generations exist below the half-built one.
  *
  * Tombstones and other LOGICAL state intentionally stay at the
  * logical prefix — they must keep filtering across rebuilds.
  *
  * ==The deferred-drop deployment recipe==
  *
  * The operational sequence for a deployment whose queries may run
  * longer than a rebuild (the only situation where the publish-time
  * drop is unsafe). Shown for [[TextIndexLayout]]; identical for
  * [[AnnIndexLayout]] and [[HybridIndexLayout.buildDense]] /
  * `sweepStaleGenerationsDense` — the `keepGenerations` semantics are
  * THIS object's and shared by all three:
  *
  * {{{
  * // 1. Rebuild WITHOUT the publish-time drop: generation N+1 is
  * //    written in full and published; generation N stays on disk,
  * //    still serving every plan that resolved before the flip.
  * TextIndexLayout.build(spark, dir, "txt", dropSuperseded = false)
  *
  * // 2. Serve. New queries resolve N+1 via the pointer; in-flight
  * //    queries keep reading N. Later rebuilds may run in this
  * //    window — their build-start sweep keeps N alive (default
  * //    keepGenerations = 1), so the protection does not expire
  * //    just because another build started.
  *
  * // 3. After the deployment's MAX QUERY LATENCY has elapsed since
  * //    the publish (no plan over N can still be running), reclaim:
  * TextIndexLayout.sweepStaleGenerations(spark, "txt",
  *   keepGenerations = 0)
  * // keepGenerations = 0 also drops a pre-pointer deployment's
  * // logical-name tables (safe only now, for the same reason).
  * }}}
  *
  * A deployment with short queries skips all of this: the default
  * `dropSuperseded = true` reclaims at publish time.
  */
private[sources] object GenerationPointer {

  /** The pointer view's name. */
  def view(prefix: String): String = s"${prefix}_livegen"

  /** The published generation number, if any. */
  def liveGen(spark: SparkSession, prefix: String): Option[Long] =
    if (!spark.catalog.tableExists(view(prefix))) None
    else Some(spark.table(view(prefix)).head().getAs[Long]("gen"))

  /** The PHYSICAL prefix of the live generation. Loud when nothing is
    * published: resolving a half-built generation is exactly what the
    * pointer exists to prevent. */
  def livePrefix(spark: SparkSession, prefix: String): String = {
    val g = liveGen(spark, prefix).getOrElse(throw new IllegalStateException(
      s"$prefix: no published index generation (no ${view(prefix)} " +
        "view) — run build first"))
    s"${prefix}_g$g"
  }

  /** Generation-or-legacy resolution: a prefix built generationally
    * resolves through the pointer; a pre-pointer prefix (tables at the
    * logical names, no view — detected by `legacyTable`) keeps
    * resolving as itself until its next rebuild publishes; loud when
    * nothing is built. */
  def physOrLegacy(spark: SparkSession, prefix: String,
      legacyTable: String): String =
    if (!spark.catalog.tableExists(view(prefix)) &&
        spark.catalog.tableExists(s"${prefix}_$legacyTable")) prefix
    else livePrefix(spark, prefix)

  /** The physical prefix the NEXT build writes under, with its
    * generation number. */
  def nextPrefix(spark: SparkSession, prefix: String): (String, Long) = {
    val next = liveGen(spark, prefix).getOrElse(0L) + 1L
    (s"${prefix}_g$next", next)
  }

  /** GENERATIONAL rebuild: sweep stale generations, let `write` fill
    * every table of the next generation under the physical prefix it
    * is given — a crash anywhere in it leaves the live generation
    * serving — then publish with the one atomic pointer flip and only
    * afterwards drop the superseded generation (deferred when
    * `dropSuperseded` is false). `dropLegacy` also drops a pre-pointer
    * layout's logical-name `tables`, unconditionally rather than only
    * on the first publish: a first generational build crashed between
    * publish and this drop would otherwise leak them forever.
    * `faultHook` is called at the named points and may throw (the
    * publish-crash specs). */
  def rebuild(spark: SparkSession, prefix: String, tables: Seq[String],
      dropSuperseded: Boolean, dropLegacy: Boolean,
      faultHook: String => Unit)(write: String => Unit): Unit = {
    val cur = liveGen(spark, prefix)
    val (tp, nextGen) = nextPrefix(spark, prefix)
    sweepStale(spark, prefix)
    write(tp)
    faultHook("before-publish")
    publish(spark, prefix, nextGen)
    faultHook("after-publish")
    if (dropSuperseded) {
      cur.foreach(g => dropGeneration(spark, prefix, g, tables))
      if (dropLegacy) tables.foreach(t =>
        BucketedTables.dropWithOrphanDir(spark, s"${prefix}_$t"))
    }
  }

  /** PUBLISH generation `gen`: one atomic catalog operation. Every
    * reader resolving after this sees the new generation's complete
    * table set; every reader that resolved before it keeps the
    * complete old set. */
  def publish(spark: SparkSession, prefix: String, gen: Long): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW ${view(prefix)} AS " +
      s"SELECT CAST($gen AS BIGINT) AS gen")

  private def genPattern(prefix: String) =
    s"(?i)${java.util.regex.Pattern.quote(prefix)}_g(\\d+)_.*".r

  /** Drop one generation's tables (and any orphaned directories). */
  def dropGeneration(spark: SparkSession, prefix: String, gen: Long,
      tables: Seq[String]): Unit =
    tables.foreach(t =>
      BucketedTables.dropWithOrphanDir(spark, s"${prefix}_g${gen}_$t"))

  /** Sweep stale generations: catalog tables first, then warehouse
    * directories no catalog entry owns (a crashed build's half-written
    * generation, or a crashed post-publish drop's leftovers — both
    * from this or a previous session). Pattern-driven, so it needs no
    * per-layout table list.
    *
    * What survives: the live generation, plus the `keepGenerations`
    * most recent generations BELOW it (default 1 — the deferred-drop
    * reader guard, header). Generations ABOVE the live pointer were
    * never published, so no reader can hold a plan over them — always
    * swept. `keepGenerations = 0` is the explicit full reclaim a
    * deferred-drop deployment runs after its max query latency; only
    * then are `legacyTables` — a pre-pointer deployment's
    * LOGICAL-name index tables (`<prefix>_<table>`), superseded by
    * the first generational publish but protected like generation
    * N−1 while readers may hold them — reclaimed too (and only under
    * a published pointer: with no generation live, the logical names
    * ARE the serving index). */
  def sweepStale(spark: SparkSession, prefix: String,
      keepGenerations: Int = 1, legacyTables: Seq[String] = Nil): Unit = {
    require(keepGenerations >= 0,
      s"keepGenerations must be >= 0 (got $keepGenerations)")
    val live = liveGen(spark, prefix)
    def retained(g: Long): Boolean =
      live.exists(l => g <= l && g >= l - keepGenerations)
    val pat = genPattern(prefix)
    spark.catalog.listTables().collect().map(_.name).foreach {
      case n @ pat(g) if !retained(g.toLong) =>
        BucketedTables.dropWithOrphanDir(spark, n)
      case _ => ()
    }
    val wh = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath)
    val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(wh)) fs.listStatus(wh).map(_.getPath.getName).foreach {
      // managed dirs are named after their table; clearOrphanDir no-ops
      // when the catalog owns it (live data) and require-guards the path
      case n @ pat(g) if !retained(g.toLong) =>
        BucketedTables.clearOrphanDir(spark, n)
      case _ => ()
    }
    if (keepGenerations == 0 && live.isDefined) legacyTables.foreach(t =>
      BucketedTables.dropWithOrphanDir(spark, s"${prefix}_$t"))
  }
}
