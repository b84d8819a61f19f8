package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, round}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

/** The delta-index lifecycle every persisted index layout shares —
  * [[DedupIndexLayout]], [[MediaIndexLayout]], [[AnnIndexLayout]],
  * [[TextIndexLayout]], the dense leg of [[HybridIndexLayout]],
  * [[IngestGate]] and [[CuratedCorpusLayout]]. Each layout declares
  * its delta tables once ([[Table]]: suffix, bucket key, id column) and
  * keeps only its own signature, check and filing kernels; the steps
  * below run off that declaration.
  *
  *  - Build once, then file each delta by merging it into the persisted
  *    tables — never recompute the index (the reference's per-batch
  *    upsert-merge of partial aggregates, consumer/consumer.py:321-367,
  *    applied to index state).
  *  - Check first, append after: a check anti-joins the delta's own
  *    ids out of the index, so re-running it after the append (a
  *    replayed micro-batch) returns the identical result, while the
  *    append files nothing twice ([[appendLedgered]], or a layout's
  *    key anti-join). At-least-once emission over an exactly-once
  *    index; an idempotent sink completes exactly-once end to end.
  *  - Streams run the batch form per micro-batch ([[stream]]): the
  *    joins and windows are batch plans Structured Streaming forbids on
  *    unbounded input.
  *  - Deletes are tombstones ([[Tombstones]]), excluded at read time
  *    and erased physically by [[compact]], which also rewrites each
  *    bucket back to one file.
  *  - Multi-table rebuilds publish through one atomic pointer flip
  *    ([[GenerationPointer.rebuild]]).
  *
  * Writers follow the layouts' single-writer contract: same-JVM
  * writers are quiesced per table by the [[BucketedTables]] lock;
  * cross-JVM writers are outside it. */
private[sources] object DeltaIndex {

  /** One bucketed delta table of an index: `<prefix>_<suffix>`,
    * bucketed + sorted by `key`, with `id` the column the ledger and
    * the tombstones refer to. */
  final case class Table(suffix: String, key: String, id: String) {
    def name(prefix: String): String = s"${prefix}_$suffix"
  }

  /** `t` under `phys` as readers see it: tombstoned ids (kept at the
    * logical `prefix`) filtered out. */
  def live(spark: SparkSession, prefix: String, phys: String,
      t: Table): DataFrame =
    Tombstones.filter(spark, prefix, BucketedTables.read(spark, t.name(phys)),
      t.id)

  /** The stream-to-batch bridge: run `body` per micro-batch inside
    * `foreachBatch`, checkpointed at `checkpoint` when given, through
    * the fork-free manager every stream starter installs
    * ([[graft.util.ForkFreeFs.install]]). The bucketed appends in `body`
    * write catalog tables, which still fork through the session's
    * cached file system. */
  def stream(source: DataFrame, checkpoint: Option[String] = None)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    graft.util.ForkFreeFs.install(source.sparkSession)
    val w = source.writeStream
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch(body).start()
  }

  /** The geometry staleness audit tick after a filed delta, with that
    * delta's vectors as the freshness probe, on the monitor's real-ms
    * clock. A probe with no vectors has nothing to measure and is
    * skipped. Monitoring must never take down the data path it
    * observes: the delta is already filed, so an audit failure
    * (reference tables mid-rebuild, transient read error) is reported
    * and swallowed — the next batch's tick retries. The monitor is
    * process-local state: a restarted query starts with a cleared
    * alert; a deployment exports its transitions for durability. */
  def auditTick(spark: SparkSession,
      monitor: Option[graft.streaming.AnnStalenessMonitor],
      annPrefix: String, probe: DataFrame): Unit =
    monitor.foreach { m =>
      try if (!probe.isEmpty) m.check(spark, annPrefix, probe,
        atMs = System.currentTimeMillis())
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[ann-staleness] audit tick failed (ingest unaffected): $e")
      }
    }

  /** Ledgered append ([[IngestLedger]]): record intent for `ids`, file
    * each table's rows through the fresh/dirty split, then refresh the
    * tables — a `foreachBatch` clone's write does not invalidate the
    * serving session's cached file listing. The first table's id
    * column bootstraps a prefix that predates its ledger. */
  def appendLedgered(spark: SparkSession, phys: String, ids: DataFrame,
      buckets: Int, rows: Seq[(Table, DataFrame)]): Unit = {
    val first = rows.head._1
    val split = IngestLedger.begin(spark, phys, ids, buckets,
      BucketedTables.read(spark, first.name(phys)).select(col(first.id)))
    rows.foreach { case (t, df) =>
      BucketedTables.appendBucketed(
        IngestLedger.filed(df, t.id, split,
          BucketedTables.read(spark, t.name(phys))
            .select(col(t.id)).distinct()),
        t.name(phys), t.key, buckets)
    }
    rows.foreach { case (t, _) => spark.catalog.refreshTable(t.name(phys)) }
  }

  /** Anti-join append — the idempotence of the layouts without a
    * ledger: file only the rows whose id `t` does not hold yet, then
    * refresh it. `within` (the delta's own ids, named like `t.id`)
    * restricts the stored side to those ids with a broadcast semi
    * scan first, instead of a table-wide distinct shuffle. */
  def appendAntiJoined(spark: SparkSession, phys: String, t: Table,
      rows: DataFrame, buckets: Int, within: Option[DataFrame] = None)
      : Unit = {
    val stored = BucketedTables.read(spark, t.name(phys)).select(col(t.id))
    val held = within.fold(stored)(w =>
      stored.join(broadcast(w), Seq(t.id), "left_semi")).distinct()
    BucketedTables.appendBucketed(rows.join(held, Seq(t.id), "left_anti"),
      t.name(phys), t.key, buckets)
    spark.catalog.refreshTable(t.name(phys))
  }

  /** Compaction: rewrite each table under `phys` back to one file per
    * bucket, erasing tombstoned ids in the same pass
    * ([[BucketedTables.compact]]'s write-aside + checked-rename swap),
    * rewrite the ledger (if any) the same way, then clear the
    * tombstones kept at the logical `prefix` — they must keep filtering
    * across rebuilds, so a generational layout's `phys` differs. */
  def compact(spark: SparkSession, prefix: String, phys: String,
      tables: Seq[Table], buckets: Int): Unit = {
    tables.foreach(t =>
      BucketedTables.compact(spark, t.name(phys), t.key, buckets,
        df => Tombstones.filter(spark, prefix, df, t.id)))
    IngestLedger.compact(spark, phys, buckets, tombstonePrefix = prefix)
    Tombstones.clear(spark, prefix)
  }

  /** COVERAGE gauge for a scheduled ingest: how much of the live
    * documents table the index covers — the number a daily crawl job
    * alerts on before trusting a "no duplicates" verdict (an unindexed
    * corpus slice can hide dups). One row: live docs, indexed docs
    * (tombstones excluded), coverage in ppm, and the tombstone backlog
    * the next [[compact]] clears. Doc-id grains only, so it runs per
    * schedule tick. */
  def coverage(spark: SparkSession, dir: String, prefix: String,
      table: Table): DataFrame = {
    val live = graft.util.Tables.load(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs_live"))
    val indexed = Tombstones.filter(spark, prefix,
        BucketedTables.read(spark, table.name(prefix))
          .select(col(table.id)).distinct(), table.id)
      .agg(count(lit(1)).as("n_docs_indexed"))
    val tomb = Tombstones.ids(spark, prefix)
      .agg(count(lit(1)).as("n_tombstoned"))
    live.crossJoin(broadcast(indexed)).crossJoin(broadcast(tomb))
      .select(col("n_docs_live"), col("n_docs_indexed"),
        round(col("n_docs_indexed").cast("double") /
          col("n_docs_live").cast("double") * 1e6)
          .cast(LongType).as("coverage_ppm"),
        col("n_tombstoned"))
  }
}
