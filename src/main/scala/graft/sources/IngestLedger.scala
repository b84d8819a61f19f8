package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** Intent-first idempotence for the delta-append index layouts — the
  * O(docs) replacement for the per-table key-column anti-joins.
  *
  * The problem it bounds: every `appendDelta*` must file a delta
  * EXACTLY ONCE per data table even when a crashed run is retried
  * (duplicated shingle rows double Jaccard's `common`; duplicated PQ
  * code rows double ADC sums and silently mis-rank). The original
  * discipline anti-joined each delta against the key column of the
  * table it was about to append to — exact, but the scan is O(rows of
  * the widest table): ~1e2 shingle rows per doc, 16 code rows per
  * vector — the documented linear-in-corpus ingest term
  * (STREAMBENCH.md), paid by EVERY batch on the happy path.
  *
  * The ledger replaces that with a narrow per-layout sidecar
  * `<prefix>_ids` (id, bucketed) recording every key whose ingest was
  * ever STARTED, written BEFORE the data appends (an intent record,
  * i.e. a write-ahead log at the batch grain):
  *
  *  - fresh ids (not in the ledger): nothing was ever filed for them —
  *    the intent append cannot have happened without them being in the
  *    ledger — so their rows append DIRECTLY, no data-table scan at
  *    all. This is the happy path: cost is one O(docs) scan of the
  *    ledger, flat in table width.
  *  - dirty ids (already in the ledger): a previous attempt filed
  *    some, all, or none of their rows (a replayed micro-batch, or a
  *    retry after a crash between table appends), so exactness falls
  *    back to the original per-table anti-join — but ONLY for the
  *    dirty subset, and only when it is non-empty (a batch of
  *    genuinely new ids never touches the wide tables). A replayed
  *    fully-committed batch is all-dirty and reconverges exactly as
  *    before (the replay specs run unchanged).
  *
  * Crash algebra (single writer, the layouts' documented contract):
  * a crash BEFORE the intent append leaves nothing anywhere (the
  * retry is all-fresh); a crash AFTER it but anywhere inside the data
  * appends leaves the ids dirty, and the dirty path files exactly the
  * missing rows. There is no window in which a row can be filed twice,
  * because direct appends happen only for ids provably absent from
  * every table.
  *
  * Lifecycle: build writes the ledger from the built corpus keys;
  * compaction rewrites it without tombstoned ids (so a purged-then-
  * compacted id re-enters on the fresh path, matching the data tables
  * it describes). A prefix that predates the ledger bootstraps it once
  * from the widest table's key column — the last time that scan is
  * ever paid.
  */
object IngestLedger {

  def table(prefix: String): String = s"${prefix}_ids"

  /** Write the ledger of a fresh build: every key in the 1-column
    * `ids` is fully filed by definition. */
  def create(ids: DataFrame, prefix: String, buckets: Int): Unit =
    BucketedTables.writeBucketed(ids.toDF("id"), table(prefix), "id", buckets)

  /** The begin-of-append split: `dirtyIds` (delta keys already in the
    * ledger, delta-sized, materialized — broadcast it into the
    * fallback anti-joins) and its count for the happy-path
    * short-circuit. */
  final case class Split(dirtyIds: DataFrame, nDirty: Long)

  /** Record intent for a delta and split it into fresh/dirty. MUST be
    * called before any data-table append of the same delta (the
    * intent-first ordering is the whole correctness argument).
    * `deltaIds` is a 1-column key frame, already deduplicated;
    * `bootstrap` supplies the full key set of the layout's widest
    * table, evaluated only when the prefix predates the ledger. */
  def begin(spark: SparkSession, prefix: String, deltaIds: DataFrame,
      buckets: Int, bootstrap: => DataFrame): Split = {
    val t = table(prefix)
    if (!spark.catalog.tableExists(t))
      BucketedTables.writeBucketed(bootstrap.toDF("id").distinct(),
        t, "id", buckets)
    val ids = deltaIds.toDF("id")
    // one narrow ledger scan feeds both halves of the split
    val marked = ids
      .join(spark.table(t).withColumn("__led", lit(true)), Seq("id"), "left")
      .na.fill(false, Seq("__led"))
      .localCheckpoint(true)
    val dirty = marked.filter(col("__led")).select(col("id"))
    val fresh = marked.filter(!col("__led")).select(col("id"))
    // intent append FIRST: once a data row exists, its id is in the
    // ledger — the invariant every later retry relies on
    BucketedTables.appendBucketed(fresh, t, "id", buckets)
    spark.catalog.refreshTable(t)
    Split(dirty, dirty.count())
  }

  /** The per-table exactness guard: pass rows straight through on the
    * all-fresh happy path; otherwise send the dirty subset through the
    * original stored-key anti-join (evaluated only then — the wide
    * scan exists solely in the crash/replay branch). */
  def filed(rows: DataFrame, key: String, split: Split,
      storedKeys: => DataFrame): DataFrame =
    if (split.nDirty == 0L) rows
    else {
      val d = broadcast(split.dirtyIds.toDF(key))
      rows.join(d, Seq(key), "left_anti")
        .unionByName(rows.join(d, Seq(key), "left_semi")
          .join(storedKeys, Seq(key), "left_anti"))
    }

  /** Compaction hook: rewrite the ledger without tombstoned ids, so it
    * keeps describing exactly the keys whose rows survive in the data
    * tables. Call BEFORE `Tombstones.clear`. No-op for a prefix that
    * has never appended (no ledger yet). `tombstonePrefix` names where
    * the layout keeps its tombstones (the ANN layout's ledger is
    * generation-scoped while its tombstones are logical — they must
    * survive rebuilds). */
  def compact(spark: SparkSession, prefix: String, buckets: Int,
      tombstonePrefix: String): Unit =
    if (spark.catalog.tableExists(table(prefix)))
      BucketedTables.compact(spark, table(prefix), "id", buckets,
        df => Tombstones.filter(spark, tombstonePrefix, df, "id"))
}
