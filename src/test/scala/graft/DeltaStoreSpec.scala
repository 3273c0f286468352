package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming._

/** The [[graft.streaming.DeltaStore]] family contract, table-driven over
  * the single-root stores: a store's auto-compaction (its `foreachBatch`
  * verb with `autoCompactVersions`) folds with the SAME fold, tombstone
  * column and cluster key as its `compactStore` — and the model pin is
  * read past the schema cache. */
class DeltaStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One store under test. Every closure takes the case's directory; the
    * versioned root under test is `dir/store` (side roots — outputs,
    * bounds — live beside it). `batch(dir, b, k)` runs batch `b` with
    * `autoCompactVersions = k`; `tombstone`, for row-level stores, retracts
    * a standing id under a marker batch. */
  private case class StoreCase(name: String,
      standing: String => Unit,
      batch: (String, Long, Option[Int]) => Unit,
      compact: (String, Long) => Unit,
      read: (String, Long) => DataFrame,
      tombstone: Option[(String, Long) => Unit] = None)

  private def store(dir: String) = s"$dir/store"

  /** Ids `[from, from + n)` — batch `b` carries `batchIds(b)`; the
    * standing corpus holds ids 0..9. */
  private def ids(from: Long, n: Int) = (from until from + n).toDF("id")
  private def batchIds(b: Long) = ids(10 + 4 * b, 4)

  /** The newest-`__v` state of a keyed state store at `upTo`. */
  private def state(dir: String, upTo: Long, keys: String*): DataFrame =
    Versions.newestBy(keys: _*)(spark.read.parquet(Versions
      .list(spark, store(dir)).filter(_._1 <= upTo).map(_._2.toString): _*))

  private val payloads = (df: DataFrame) =>
    df.select(col("id"), concat(lit("p"), (col("id") % 7).cast("string"))
      .as("payload"))
  private val hasher = (df: DataFrame, idCol: String, payloadCol: String) =>
    df.select(col(idCol).as("media_id"), xxhash64(col(payloadCol)).as("ahash"))
  private val fpOf = (df: DataFrame) =>
    df.select(col("id"), (col("id") % 5).as("fp"))
  private val setsOf = (df: DataFrame) => df.select(col("id"),
    array_distinct(array((col("id") % 3).cast("string"),
      (col("id") % 4).cast("string"))).as("sh"))
  private val values = (df: DataFrame) => df.select(col("id"),
    (col("id") % 6).as("g"), (col("id") * 7 % 11).cast("double").as("x"),
    (col("id") % 9).cast("string").as("k"))
  private val vectors = (df: DataFrame) => df.select(col("id"),
    array((col("id") % 3).cast("double"), (col("id") % 5).cast("double"))
      .as("v"))
  private def events(df: DataFrame) = df.select(col("id").as("event_id"),
    (col("id") % 4).as("user_id"), col("id").as("ts"),
    element_at(array(lit("view"), lit("click"), lit("purchase")),
      (col("id") % 3 + 1).cast("int")).as("event_type"),
    (col("id") % 5).cast("double").as("value"))

  private val cases = Seq(
    StoreCase("AHashStream",
      d => AHashStream.writeStanding(spark, store(d), payloads(ids(0, 10)),
        "id", hasher = hasher),
      (d, b, k) => AHashStream.appendBatch(spark, store(d), s"$d/out", "id",
        "payload", autoCompactVersions = k, hasher = hasher)(
        payloads(batchIds(b)), b),
      (d, upTo) => AHashStream.compactStore(spark, store(d), upTo),
      (d, upTo) => AHashStream.readIndex(spark, store(d), upTo),
      Some((d, b) => AHashStream.tombstone(spark, store(d), Seq(3L), b))),
    StoreCase("MediaFpStream",
      d => MediaFpStream.writeStanding(spark, store(d), ids(0, 10), fpOf),
      (d, b, k) => MediaFpStream.appendBatch(spark, store(d), s"$d/out",
        fpOf, k)(batchIds(b), b),
      (d, upTo) => MediaFpStream.compactStore(spark, store(d), upTo),
      (d, upTo) => MediaFpStream.readIndex(spark, store(d), upTo),
      Some((d, b) => MediaFpStream.tombstone(spark, store(d), Seq(3L), b))),
    StoreCase("ContainmentStream",
      d => ContainmentStream.writeStanding(spark, store(d), ids(0, 10),
        setsOf),
      (d, b, k) => ContainmentStream.filterBatch(spark, store(d), s"$d/out",
        setsOf, 0.5, k)(batchIds(b), b),
      (d, upTo) => ContainmentStream.compactStore(spark, store(d), upTo),
      (d, upTo) => ContainmentStream.readIndex(spark, store(d), upTo),
      Some((d, b) =>
        ContainmentStream.tombstone(spark, store(d), Seq(3L), b))),
    StoreCase("SketchStream HLL",
      d => SketchStream.writeStanding(spark, store(d), values(ids(0, 10)),
        Seq("g"), "x", p = 4),
      (d, b, k) => SketchStream.advanceBatch(spark, store(d), Seq("g"), "x",
        4, k)(values(batchIds(b)), b),
      (d, upTo) => SketchStream.compactStore(spark, store(d), Seq("g"), upTo),
      (d, upTo) => SketchStream.readRegisters(spark, store(d), Seq("g"),
        upTo)),
    StoreCase("SketchStream count-min",
      d => SketchStream.writeStandingCm(spark, store(d), values(ids(0, 10)),
        "k", 2, 64),
      (d, b, k) => SketchStream.advanceBatchCm(spark, store(d), "k", 2, 64,
        k)(values(batchIds(b)), b),
      (d, upTo) => SketchStream.compactStoreCm(spark, store(d), upTo),
      (d, upTo) => SketchStream.readCounters(spark, store(d), upTo)),
    StoreCase("SketchStream bloom",
      d => SketchStream.writeStandingBloom(spark, store(d),
        values(ids(0, 10)), "k", 2, 256),
      (d, b, k) => SketchStream.advanceBatchBloom(spark, store(d), "k", 2,
        256, k)(values(batchIds(b)), b),
      (d, upTo) => SketchStream.compactStoreBloom(spark, store(d), upTo),
      (d, upTo) => SketchStream.readBloomBits(spark, store(d), upTo)),
    StoreCase("QuantileStream",
      d => QuantileStream.writeStanding(spark, s"$d/bounds", store(d),
        values(ids(0, 10)), "x", bins = 4),
      (d, b, k) => QuantileStream.advanceBatch(spark, s"$d/bounds",
        store(d), s"$d/prof", "x", k)(values(batchIds(b)), b),
      (d, upTo) => QuantileStream.compactStore(spark, store(d), upTo),
      (d, upTo) => QuantileStream.readCounts(spark, store(d), upTo)),
    StoreCase("PcaStream",
      d => PcaStream.writeStanding(spark, store(d), vectors(ids(0, 10)), "v"),
      (d, b, k) => PcaStream.advanceBatch(spark, store(d), "v", k)(
        vectors(batchIds(b)), b),
      (d, upTo) => PcaStream.compactStore(spark, store(d), upTo),
      (d, upTo) => PcaStream.readMoments(spark, store(d), upTo)),
    StoreCase("FunnelStream",
      d => Seq((0L, 1, 0L)).toDF("user_id", "stage", "__v")
        .write.parquet(s"${store(d)}/v0"),
      (d, b, k) => FunnelStream.advanceBatch(spark, store(d), s"$d/out",
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), k)(events(batchIds(b)), b),
      (d, upTo) => FunnelStream.compactState(spark, store(d), "user_id",
        upTo),
      (d, upTo) => state(d, upTo, "user_id")),
    StoreCase("EwmaStream",
      d => Seq((0L, 2L, 1.5, 0L)).toDF("user_id", "n_events", "ewma", "__v")
        .write.parquet(s"${store(d)}/v0"),
      (d, b, k) => EwmaStream.advanceBatch(spark, store(d), s"$d/out",
        "user_id", "ts", "event_id", "value", 0.25, k)(
        events(batchIds(b)), b),
      (d, upTo) => EwmaStream.compactState(spark, store(d), "user_id", upTo),
      (d, upTo) => state(d, upTo, "user_id")),
    StoreCase("KMeansStream",
      d => KMeansStream.writeSeedState(spark, store(d),
        Array(Array(0.0, 0.0), Array(2.0, 4.0))),
      (d, b, k) => KMeansStream.advanceBatch(spark, store(d), s"$d/out",
        "id", "v", k)(vectors(batchIds(b)), b),
      (d, upTo) => KMeansStream.compactState(spark, store(d), upTo),
      (d, upTo) => state(d, upTo, "cell", "pos")))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { (p: Path) =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private val b = 3L

  cases.foreach { c =>
    test(s"${c.name}: auto-compaction at batch b leaves the v0 " +
        "compactStore(upTo = b) writes on a copy; reads unchanged") {
      val a = Files.createTempDirectory("autocompact_").toString
      c.standing(a)
      (0L until b).foreach(i => c.batch(a, i, None))
      // a row-level store retracts a standing id under batch b's marker:
      // both compactions must consume it
      c.tombstone.foreach(_(a, b))
      val before = rows(c.read(a, b))
      val copy = Files.createTempDirectory("compactcopy_").toString
      copyTree(a, copy)
      // v0..v<b> are visible to batch b: more than 1, so it compacts
      c.batch(a, b, Some(1))
      c.compact(copy, b)
      def versions(d: String) = Versions.list(spark, store(d)).map(_._1)
      assert(versions(a) === Seq(0L, b + 1))
      assert(versions(copy) === Seq(0L))
      assert(rows(spark.read.parquet(s"${store(a)}/v0")) ===
        rows(spark.read.parquet(s"${store(copy)}/v0")))
      assert(Versions.listTombstones(spark, store(a)).isEmpty)
      assert(Versions.listTombstones(spark, store(copy)).isEmpty)
      assert(rows(c.read(a, b)) === before)
      assert(rows(c.read(copy, b)) === before)
    }
  }

  test("model pins are read past the schema cache: a root rebuilt by " +
      "another store kind checks against its own pin") {
    import graft.operators.IvfRelational
    val root = Files.createTempDirectory("pinreuse_").toString + "/s"
    // a sketch store pins (k, v: int) at root/_params, and is checked once
    SketchStream.writeStandingCm(spark, root, values(ids(0, 10)), "k",
      d = 2, w = 64)
    SketchStream.lookupAt(spark, root, values(ids(0, 3)), "k", d = 2, w = 64)
      .count()
    // the root is dropped and rebuilt as an IVF index, whose bank pin is
    // (k, v: long) at the same path
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(root))
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => (i * 8 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val bank = IvfRelational.trainBank(emb, nCells = 2, iters = 1,
      stride = 10)
    val bankRoot = Files.createTempDirectory("pinbank_").toString
    IvfStream.writeStanding(spark, bankRoot, root, emb, bank)
    IvfStream.checkBank(spark, bankRoot, root)
    // and the check still bites: a different bank does not match the pin
    val other = Files.createTempDirectory("pinother_").toString
    IvfStream.writeStanding(spark, other, s"$other/idx", emb,
      IvfRelational.trainBank(emb, nCells = 3, iters = 1, stride = 10))
    val e = intercept[IllegalArgumentException] {
      IvfStream.checkBank(spark, other, root)
    }
    assert(e.getMessage.contains("does not match the bank"), e.getMessage)
  }
}
