package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Curation

/** Standing-corpus maintenance under a streaming delta feed: the
  * `foreachBatch` upsert loop (reference analogue: the Orchestrator's
  * accumulate-into-one-dictionary result path, `Orchestrator.fs:163-175`,
  * generalized to a persistent keyed corpus).
  *
  * The corpus lives as versioned parquet directories `root/v0, v1, …`;
  * each delta micro-batch full-outer-merges ([[Curation.upsert]]) into the
  * newest version and writes the next. Versions are named by streaming
  * batch id, which makes retries idempotent: a re-delivered batch N reads
  * the same base (newest version with id < N's target) and overwrites its
  * own output deterministically, so at-least-once delivery from the
  * engine still yields an exactly-once corpus — the same contract the
  * transactional file sink gives plain appends.
  *
  * Scale: each merge is the one co-partitioned full-outer join of
  * [[Curation.upsert]]; old versions stay available for readers (and for
  * time travel) until vacuumed, so a 100 TB corpus never blocks reads
  * during maintenance. Compose with [[graft.operators.Layout.compact]]
  * when delta batches are small relative to file-size targets.
  */
object CorpusMaintenance {

  /** Newest corpus version path, or None before the first write. */
  def latest(spark: SparkSession, root: String): Option[String] =
    Versions.list(spark, root).lastOption.map(_._2.toString)

  /** The snapshot-store prologue of [[upsertBatch]] and [[deleteBatch]]:
    * the single-writer gate (the merge rebases on the newest earlier
    * version — two writers interleaving would silently drop one's rows;
    * leased roots require the holder's scope, `Versions.withLease` around
    * the foreachBatch body), the fresh-checkpoint guard (batch ids restart
    * at 0, so the merge would silently rebase onto v0 and overwrite newer
    * history; a legitimate retry of batch N may see its own output vN+1,
    * anything newer is forked lineage), then the rebase: the newest
    * version written by an EARLIER batch, so a retried batch re-reads the
    * same base and rewrites the same output. */
  private def rebase(spark: SparkSession, root: String,
      batchId: Long): Option[String] = {
    Versions.checkWriter(spark, root, None)
    val versions = Versions.list(spark, root)
    versions.lastOption.foreach { case (newest, _) =>
      require(newest <= batchId + 1,
        s"corpus at $root is at v$newest but the stream is replaying batch " +
          s"$batchId — restarting with a fresh checkpoint over an existing " +
          "corpus would overwrite newer versions; resume from the original " +
          "checkpoint or start a new corpus root")
    }
    versions.filter(_._1 <= batchId).lastOption.map(_._2.toString)
  }

  /** The `foreachBatch` callback: merge one delta micro-batch into the
    * corpus at `root`, keyed by `keys`. Attach with
    * `deltas.writeStream.foreachBatch(CorpusMaintenance.upsertBatch(spark, root, Seq("id")) _)`. */
  def upsertBatch(spark: SparkSession, root: String, keys: Seq[String])(
      batch: DataFrame, batchId: Long): Unit = {
    val merged = rebase(spark, root, batchId) match {
      case Some(path) =>
        Curation.upsert(Versions.read(spark, root, Seq(path)), batch, keys)
      case None => batch
    }
    merged.write.mode("overwrite").parquet(s"$root/v${batchId + 1}")
  }

  /** Delete keyed rows from the corpus — the takedown verb for the
    * SNAPSHOT-versioned source-corpus store, completing the end-to-end
    * retraction story (the row-level delta stores carry
    * [[Versions.tombstone]] markers because their versions are immutable
    * appends; the corpus is upsert-MERGED full snapshots, so a delete is
    * just a merge that drops the keys). `tombstones` holds the key
    * columns of the rows to remove (takedown-sized — it broadcasts into
    * the anti-join; the corpus never re-shuffles). Exactly-once contract
    * is [[upsertBatch]]'s: version named by batch id, deterministic
    * rebase + overwrite on redelivery. Old snapshots still hold the
    * deleted rows for time travel until [[vacuum]] drops them — a
    * compliance sweep is deleteBatch + vacuum. */
  def deleteBatch(spark: SparkSession, root: String, keys: Seq[String])(
      tombstones: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val base = rebase(spark, root, batchId)
    require(base.nonEmpty,
      s"deleteBatch on $root with no corpus version to delete from — " +
        "the corpus must exist before rows can be retracted")
    Versions.read(spark, root, Seq(base.get))
      .join(broadcast(tombstones.select(keys.map(
        org.apache.spark.sql.functions.col): _*).distinct()),
        keys, "left_anti")
      .write.mode("overwrite").parquet(s"$root/v${batchId + 1}")
  }

  /** Drop all but the newest `keepLast` corpus versions — the maintenance
    * op that bounds a long-running upsert loop's storage (each version is
    * a FULL corpus snapshot, so a year of daily merges holds 365 copies).
    *
    * `keepLast >= 2` is required: a redelivered batch rebases on the
    * newest version written by an EARLIER batch, which is the second-
    * newest directory whenever the newest was half-committed — keeping
    * two guarantees the redelivery base survives. Readers pinned to
    * vacuumed versions (time travel) lose them; run between triggers,
    * like [[Versions.compact]]. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 2): Unit = {
    require(keepLast >= 2,
      s"keepLast must be >= 2 (redelivery rebases on the second-newest " +
        s"version), got $keepLast")
    Versions.checkWriter(spark, root, None)
    val stale = Versions.list(spark, root).dropRight(keepLast)
    if (stale.nonEmpty) {
      val fs = new Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      stale.foreach { case (_, p) => fs.delete(p, true) }
    }
  }
}
