package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One versioned delta store root — the choices a streaming store makes
  * ONCE, and the verbs that own the family skeleton over [[Versions]].
  *
  * ==The family contract==
  *
  * A store is a `root/v<N>` layout of parquet deltas named by streaming
  * batch id: `v0` is the standing store (written before the stream
  * starts, live-root-guarded by [[writeStanding]]), and batch `b` appends
  * ONLY its own contribution as `v{b+1}` ([[deltaPath]]). Every read
  * folds the deltas `<= upTo`, so:
  *
  *   - '''exactly-once from at-least-once delivery''': a redelivered
  *     batch rebases on versions `<= batchId` (its own half-written
  *     `v{b+1}` is excluded) and overwrites its outputs deterministically;
  *   - '''lineage guard''': [[beginBatch]] refuses a missing `v0` and a
  *     fresh checkpoint replaying an old batch over newer deltas (forked
  *     lineage — [[Versions.guardAppend]]);
  *   - '''bounded fan-in''': `autoCompactVersions = Some(k)` folds the
  *     visible deltas into the base once more than `k` exist, with the
  *     SAME fold, tombstone column and cluster key as [[compact]] — an
  *     auto-compacted root never loses the pruning layout or pays the
  *     marker mask forever (read-equivalent, [[Versions.autoCompact]]);
  *   - '''takedown''': row-level stores (`idCol` defined) mask tombstoned
  *     ids on every [[read]] and drop them physically at [[compact]]
  *     ([[Versions.tombstone]]); MONOTONE stores (`idCol = None`: sketch
  *     registers, bin counts, id-free fingerprints) cannot un-absorb one
  *     item, so [[tombstone]] refuses with `rebuildHint`.
  *
  * @param root      the store root (`v*`, `d*`, `r*` and `_params` live
  *                  under it)
  * @param noun      what the store holds, as its error messages name it
  * @param fold      the read-equivalent compaction fold — the per-key
  *                  MapReduce combiner: for every batch `b >= upTo`,
  *                  {fold(union v0..v<upTo>)} ∪ {later deltas} must read
  *                  exactly like the uncompacted union
  * @param idCol     the tombstone id column; None = monotone
  * @param clusterBy the probe key the compacted base is sorted by, so a
  *                  probe's pushed key predicate prunes row groups
  * @param standingHint how to bootstrap `v0` (the missing-`v0` refusal)
  * @param rebuildHint  a monotone store's retraction lifecycle */
final case class DeltaStore(root: String, noun: String,
    fold: DataFrame => DataFrame = identity,
    idCol: Option[String] = None,
    clusterBy: Seq[String] = Nil,
    standingHint: String = "writeStanding before starting the stream",
    rebuildHint: String = "") {

  /** Where batch `batchId` appends its delta: `root/v{batchId+1}`. */
  def deltaPath(batchId: Long): String = s"$root/v${batchId + 1}"

  /** Refuse a standing write over live deltas
    * ([[Versions.guardStandingWrite]]) — multi-root stores guard every
    * root before writing any. */
  def guardStanding(spark: SparkSession,
      lease: Option[Versions.Lease] = None): Unit =
    Versions.guardStandingWrite(spark, root, lease)

  /** Guard, then write `standing` as the standing store `root/v0`. */
  def writeStanding(spark: SparkSession, standing: DataFrame,
      lease: Option[Versions.Lease] = None): Unit = {
    guardStanding(spark, lease)
    standing.write.mode("overwrite").parquet(s"$root/v0")
  }

  /** The batch prologue: the append guard, then auto-compaction when
    * `autoCompactVersions` is set. Returns the delta paths visible to the
    * batch (versions `<= batchId`). */
  def beginBatch(spark: SparkSession, batchId: Long,
      autoCompactVersions: Option[Int] = None,
      lease: Option[Versions.Lease] = None): Seq[String] = {
    val versions = Versions.guardAppend(spark, root, noun, batchId,
      standingHint, lease)
    autoCompact(spark, batchId, autoCompactVersions, lease)
      .getOrElse(versions).filter(_._1 <= batchId).map(_._2.toString)
  }

  /** [[beginBatch]]'s compaction half, for stores that overlap it with
    * other work after the guard; returns the refreshed listing when it
    * ran. */
  def autoCompact(spark: SparkSession, batchId: Long,
      autoCompactVersions: Option[Int],
      lease: Option[Versions.Lease] = None): Option[Seq[(Long, Path)]] =
    autoCompactVersions.map(k => Versions.autoCompact(spark, root, batchId,
      k, fold, idCol, clusterBy, lease))

  /** The raw union of every delta `<= upTo` — a plain scan union (rows
    * unique across deltas by the ingest-id discipline), tombstoned ids
    * masked for row-level stores ([[Versions.maskTombstones]]: the plan
    * is untouched when no takedown ever happened). Folding is the
    * caller's: model stores apply [[fold]], probes read raw. */
  def read(spark: SparkSession, upTo: Long = Long.MaxValue): DataFrame = {
    val versions = Versions.list(spark, root).filter(_._1 <= upTo)
    require(versions.nonEmpty, s"no $noun versions at $root")
    val raw = Versions.read(spark, root, versions.map(_._2.toString))
    idCol.fold(raw)(c => Versions.maskTombstones(spark, root, raw, c, upTo))
  }

  /** Retract ids ([[Versions.tombstone]]); a monotone store refuses. */
  def tombstone(spark: SparkSession, ids: Seq[Long], batchId: Long,
      lease: Option[Versions.Lease] = None): Unit =
    if (idCol.isEmpty) throw new UnsupportedOperationException(
      s"tombstone($root, ${ids.size} ids, batch $batchId) refused: " +
        rebuildHint)
    else Versions.tombstone(spark, root, ids, batchId, lease)

  /** Fold deltas `v0..v<upTo>` into a new base with the store's fold,
    * tombstone drop and clustering ([[Versions.compact]] — safety bound,
    * crash story, `allowSingle`/`extraDirs` resumability). */
  def compact(spark: SparkSession, upTo: Long,
      lease: Option[Versions.Lease] = None, allowSingle: Boolean = false,
      extraDirs: Seq[Path] = Nil): Unit =
    Versions.compact(spark, root, upTo, fold, idCol, clusterBy, allowSingle,
      extraDirs, lease)

  // ---- model pins (`root/_params`) ----------------------------------------
  // A store is bound to the model it was built under — sketch parameters,
  // an IVF bank, a PQ codebook. Version-count checks cannot catch the
  // WRONG model root (or a same-named retrain), so the store pins the
  // model at `root/_params` (outside Versions.list's v\d+ namespace, never
  // compacted) and every model-taking verb checks it.

  /** Pin `kv` as (k, v) rows at `root/_params`. */
  def writePin[V: TypeTag](spark: SparkSession, kv: Seq[(String, V)]): Unit = {
    import spark.implicits._
    kv.toDF("k", "v").coalesce(1).write.mode("overwrite")
      .parquet(s"$root/_params")
  }

  /** The pinned (k → v) map. Read PAST the schema cache: a pin is a few
    * rows, and its path is rewritten by every rebuild — possibly by
    * another store kind with another value type. */
  def readPin(spark: SparkSession, hint: String): Map[String, Long] = {
    val p = new Path(root, "_params")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"$root/_params missing — writeStanding (which " +
      s"pins the $hint) before reading or appending")
    // the part files by name: a `_`-named directory passed as a root path
    // makes Spark log an "All paths were ignored" WARN on every read
    spark.read.parquet(fs.listStatus(p).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSeq: _*)
      .collect().map(r => r.getString(0) -> r.getAs[Number](1).longValue)
      .toMap
  }

  /** Pin the content fingerprint of `model` (the relation a frozen
    * `modelRoot/v0` holds) as `<key>_fp`, `<key>_n`. */
  def pinModel(spark: SparkSession, key: String, model: DataFrame,
      modelNoun: String, keyCols: String*): Unit = {
    val (fp, n) = DeltaStore.fingerprint(model, modelNoun, keyCols: _*)
    writePin(spark, Seq(s"${key}_fp" -> fp, s"${key}_n" -> n))
  }

  /** Fail loud unless the model at `modelRoot/v0` fingerprints to the
    * pin [[pinModel]] wrote. */
  def checkModel(spark: SparkSession, key: String, modelRoot: String,
      modelNoun: String, consequence: String, keyCols: String*): Unit = {
    val pin = readPin(spark,
      s"fingerprint of the $modelNoun the $noun was built under")
    // a pin from the pre-(fp, n) format carries only the fp: comparing it
    // would fail EVERY model with a misleading mismatch, so name the real
    // problem — XOR alone cannot see paired-duplicate rows
    require(pin.contains(s"${key}_n"),
      s"$root/_params predates count pinning (${key}_fp only) — the old " +
        s"pin format cannot detect paired-duplicate $modelNoun rows; " +
        "rebuild into new roots (which re-pins (fp, n)) before appending " +
        "or probing")
    val pinned = (pin(s"${key}_fp"), pin(s"${key}_n"))
    val actual = DeltaStore.fingerprint(
      Versions.read(spark, modelRoot, Seq(s"$modelRoot/v0")), modelNoun,
      keyCols: _*)
    require(actual == pinned,
      s"$modelNoun at $modelRoot does not match the $modelNoun $root was " +
        s"built under (fingerprint/count $actual vs pinned $pinned) — " +
        s"$consequence; use the original root or rebuild into new roots")
  }
}

object DeltaStore {

  /** `probe` (a standing read) restricted to the batch's probe keys: when
    * `batchKeys` (one column) holds at most `limit` distinct values, they
    * push into the standing scan as a literal `keyCol IN` predicate —
    * result-identical for a probe that joins on the key, and what turns a
    * clustered base's row-group zones into scan pruning for trickle-sized
    * batches. The driver pull is bounded at `limit + 1` values; 0
    * disables the push. */
  def pushKeys(probe: DataFrame, keyCol: String, batchKeys: DataFrame,
      limit: Int): DataFrame =
    if (limit <= 0) probe
    else {
      val keys = batchKeys.distinct().limit(limit + 1).collect()
        .map(_.get(0)).toSeq
      if (keys.size <= limit) probe.filter(col(keyCol).isin(keys: _*))
      else probe
    }

  /** Order-independent content fingerprint of a model relation with a
    * vector column `cv`: (bit_xor of `fingerprint64` over each row's
    * canonical `key1:key2:…:v0,v1,…` rendering, row count) — one
    * model-sized fold, deterministic across partitionings because XOR is
    * commutative and the rendering is value-only. The count rides along
    * because XOR alone is blind to PAIRED duplicates (two copies of a row
    * cancel: a crash-double-appended row would fingerprint identical to
    * the clean model). */
  def fingerprint(model: DataFrame, noun: String,
      keyCols: String*): (Long, Long) = {
    val row = model
      .select(graft.functions.HashFunctions.fingerprint64(concat_ws(":",
          keyCols.map(col(_).cast("string")) :+
            concat_ws(",", transform(col("cv").cast("array<double>"),
              e => e.cast("string"))): _*)).as("__fp"))
      .agg(expr("bit_xor(__fp)").as("fp"), count(lit(1)).as("n"))
      .head()
    require(row.getLong(1) > 0, s"cannot fingerprint an empty $noun")
    (row.getLong(0), row.getLong(1))
  }
}
