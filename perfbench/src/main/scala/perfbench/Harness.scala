package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** One benchmark run in one JVM: set up a session, dump every query of the
  * workload once for the output check, then time seeded shuffled passes
  * until `--seconds` have elapsed, and write raw records (one JSON object
  * per line) to `--out`. All arithmetic over the records lives in
  * `perfbench/metrics.py`; this side only observes.
  *
  * With `--trace 1` passes alternate untraced / traced: a traced pass
  * registers [[Tracer]]'s listeners and removes them at its end, so the
  * untraced passes of the same run give the tracing overhead. The
  * streaming-progress listener is always on: trigger latency is read from
  * untraced passes.
  */
object Harness {
  type Fn = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val names = opt("queries").split(',').toSeq
    val data = opt("data")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val checkDir = opt("check-dir")
    val storeDir = sys.props("java.io.tmpdir")
    val cpus = opt("cpus").toInt
    val rec = new Records

    val registry = SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries absent from SparkEntry.queries: $missing")
    val qs: Seq[(String, Fn)] = names.map(n => n -> registry(n))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val triggers = new TriggerListener(rec)
    spark.streams.addListener(triggers)

    val rt = ManagementFactory.getRuntimeMXBean
    rec.add("meta", Seq(
      "jvm_start_ms" -> rt.getStartTime,
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "conf" -> spark.conf.getAll.toSeq.sortBy(_._1)
        .filterNot { case (k, _) => k.startsWith("spark.app.") ||
          Set("spark.driver.host", "spark.driver.port", "spark.executor.id")(k) }
        .map { case (k, v) => s"$k=$v" }))

    // -- set-up: the untimed warm-up pass doubles as the output dump ------
    val order0 = new Random(seed).shuffle(qs)
    order0.foreach { case (name, fn) =>
      val t0 = Clock.nowMs
      val err = attempt(fn(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/$name"))
      rec.add("warmup", Seq("query" -> name, "start_ms" -> t0,
        "end_ms" -> Clock.nowMs, "error" -> err.orNull))
    }
    rec.add("setup_done", Seq("ms" -> Clock.nowMs))

    // -- timed passes -----------------------------------------------------
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val tracer = if (trace) Some(new Tracer(spark, rec)) else None
    val timedStart = Clock.nowMs
    var pass = 0
    // passes until `--seconds` have elapsed; a traced run brackets its
    // traced pass with untraced ones, so the JIT's warm-up trend across
    // passes does not read as tracing overhead
    while (pass < (if (trace) 3 else 1) ||
        Clock.nowMs - timedStart < seconds * 1000) {
      val traced = trace && pass % 2 == 1
      if (traced) tracer.foreach(_.start())
      val storesBefore = Stores.entries(storeDir)
      val gc0 = gcMs
      val codegen0 = Tracer.compiles
      val cpu0 = Machine.processCpuMs
      val host0 = Machine.hostTicks
      val p0 = Clock.nowMs
      new Random(seed * 1000003L + pass).shuffle(qs).foreach { case (name, fn) =>
        val t0 = Clock.nowMs
        var t1 = t0
        val err = attempt {
          val df = fn(spark, data)
          t1 = Clock.nowMs
          if (traced) tracer.foreach(_.built(df))
          df.write.format("noop").mode("overwrite").save()
        }
        val t2 = Clock.nowMs
        rec.add("query", Seq("pass" -> pass, "query" -> name,
          "start_ms" -> t0, "built_ms" -> (if (err.isEmpty) t1 else t2),
          "end_ms" -> t2, "error" -> err.orNull))
      }
      val p1 = Clock.nowMs
      val cpu1 = Machine.processCpuMs
      val host1 = Machine.hostTicks
      val codegen1 = Tracer.compiles
      val gc1 = gcMs
      if (traced) tracer.foreach(_.stop())
      val (bytes, files) = Stores.sizeOfNew(storeDir, storesBefore)
      // the context cleaner frees what the first collection released
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      rec.add("pass", Seq("pass" -> pass, "traced" -> traced,
        "start_ms" -> p0, "end_ms" -> p1, "gc_ms" -> (gc1 - gc0),
        "codegen_compiles" -> (codegen1 - codegen0),
        "cpu_ms" -> (cpu1 - cpu0),
        "steal_ratio" -> Machine.stealRatio(host0, host1),
        "heap_retained_mb" -> heap / 1048576.0,
        "store_bytes" -> bytes, "store_files" -> files))
      Stores.removeNew(storeDir, storesBefore)
      pass += 1
    }
    rec.add("timed_done", Seq("start_ms" -> timedStart, "end_ms" -> Clock.nowMs))

    // -- outputs without an oracle: dump once more, outside the timing ----
    val oracled = SparkEntry.oracleSql.keySet
    qs.filterNot(q => oracled(q._1)).foreach { case (name, fn) =>
      val err = attempt(fn(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/${name}__again"))
      rec.add("redump", Seq("query" -> name, "error" -> err.orNull))
    }
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json.obj(
      oracle.toSeq.map { case (k, v) =>
        k -> v.replace("{OUT}", new File(checkDir).getAbsolutePath) }))

    triggers.drain()
    spark.stop()
    rec.write(opt("out"))
  }

  /** Runs `body`; None on success, else the failure's one-line message. */
  def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable =>
      Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
        .linesIterator.take(1).mkString)
    }
}

/** What the process and the machine spent: JVM process CPU time, and the
  * share of CPU time the hypervisor took away (`steal` in /proc/stat). */
object Machine {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuMs: Double = os.getProcessCpuTime / 1e6
  /** (steal ticks, all ticks) of the cpu line, or zeros off Linux. */
  def hostTicks: (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
  def stealRatio(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/** Wall clock as epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Store footprint: the program creates its stores and checkpoints as temp
  * directories under `java.io.tmpdir`; Spark's own scratch dirs are not
  * stores. */
object Stores {
  private def isStore(f: File) =
    !f.getName.startsWith("blockmgr-") && !f.getName.startsWith("spark-")
  def entries(root: String): Set[String] =
    Option(new File(root).listFiles).getOrElse(Array.empty[File])
      .filter(isStore).map(_.getName).toSet
  def sizeOfNew(root: String, before: Set[String]): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(walk)
      else { bytes += f.length; files += 1 }
    (entries(root) -- before).foreach(n => walk(new File(root, n)))
    (bytes, files)
  }
  def removeNew(root: String, before: Set[String]): Unit =
    (entries(root) -- before).foreach(n => delete(new File(root, n)))
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }
}

/** Append-only in-memory record log, written as JSON lines at the end. */
final class Records {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]
  @volatile var lastAddMs: Double = Clock.nowMs
  def add(kind: String, fields: Seq[(String, Any)]): Unit = {
    buf.add(Json.obj(("kind" -> kind) +: fields))
    lastAddMs = Clock.nowMs
  }
  def write(path: String): Unit =
    Files.write(Paths.get(path),
      (buf.asScala.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Always-on: one record per micro-batch, from Spark's own progress
  * events. */
final class TriggerListener(rec: Records)
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    rec.add("trigger", Seq(
      "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
      "batch" -> p.batchId, "run" -> p.runId.toString,
      "input_rows" -> p.numInputRows, "duration_ms" -> d))
  }
  /** Progress events arrive on the listener bus after the stream ends;
    * wait until the log has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = Clock.nowMs + 5000
    while (Clock.nowMs - rec.lastAddMs < 300 && Clock.nowMs < deadline)
      Thread.sleep(50)
  }
}
