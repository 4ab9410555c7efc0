package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Tracer

/** One benchmark run of one workload inside one JVM.
  *
  *   Main <workload> <runDir> <cores> <seconds> <trace 0|1>
  *
  * `runDir` holds the generated inputs (`input/`, `warm/`, `meta.json`);
  * tables and Spark scratch go under it too. The run sets up [[Setups]]
  * times; a set-up is session start (JVM start for the first) + input
  * resolution (the workload's inputs resolved and first read). After the
  * first, one untimed warm-up episode on the small `warm/` inputs compiles
  * every call path. It measures whole episodes for `seconds` and writes
  * `runDir/result.json`: end-to-end metrics (trace 0) or per-layer metrics
  * (trace 1), counts, the effective session confs, and the observed
  * answers the caller checks against the generator's model. */
object Main {
  val mapper = new ObjectMapper()
  /** Set-ups per run: one cold (from JVM start), the rest warm. */
  val Setups = 6

  def main(args: Array[String]): Unit = {
    val Array(workload, runDirS, coresS, secondsS, traceS) = args
    val runDir = Paths.get(runDirS)
    val cores = coresS.toInt
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val meta = mapper.readTree(runDir.resolve("meta.json").toFile)
    val rec = new Rec
    val out = new java.util.LinkedHashMap[String, Any]()
    var exit = 0
    try {
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      var spark: SparkSession = null
      var tracer: Tracer = null
      var w: Workload = null
      val setups = (1 to Setups).map { i =>
        val t0 = if (i == 1) jvmStart else System.currentTimeMillis()
        spark = session(runDir, cores)
        val t1 = System.currentTimeMillis()
        tracer = new Tracer(spark, i)
        w = Workload(workload, spark, tracer, rec, runDir, meta)
        if (traced && i == Setups) tracer.start()
        w.resolve()
        if (traced && i == Setups) tracer.stop()
        val t2 = System.currentTimeMillis()
        log(f"setup $i: session ${(t1 - t0) / 1e3}%.2f s, inputs ${(t2 - t1) / 1e3}%.2f s")
        if (i == 1) { // every call path once, so codegen and JIT are warm
          w.resolveWarm()
          w.episode(runDir.resolve("warm_episode"), warm = true)
          log(f"warm-up episode ${(System.currentTimeMillis() - t2) / 1e3}%.2f s")
        }
        if (i < Setups) spark.stop()
        (t2 - t0) / 1e3
      }
      rec.reset()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var ep = 0
      // whole episodes only: another starts while it is expected to end
      // by `until` (each episode has the same shape, so every run's
      // samples have the same mix)
      def runEpisodes(until: Double): Seq[Double] = {
        val walls = mutable.ArrayBuffer.empty[Double]
        do {
          System.gc() // every episode starts from the same heap state
          val s0 = elapsed
          w.episode(runDir.resolve(s"ep_$ep"), warm = false)
          walls += elapsed - s0
          ep += 1
        } while (elapsed + stats.median(walls) <= until)
        walls.toSeq
      }
      val metrics = new java.util.LinkedHashMap[String, Any]()
      if (!traced) {
        val gc0 = gcMs()
        val walls = runEpisodes(seconds)
        rec.gcMs = gcMs() - gc0
        log(f"measured ${walls.size} episode(s) in $elapsed%.2f s: " +
          walls.map(x => f"$x%.2f").mkString(", "))
        log("commit ms: " + rec.commitMs.map(x => f"$x%.0f").mkString(" "))
        log("read ms: " + rec.readMs.map(x => f"$x%.0f").mkString(" "))
        val space = w.spaceAmp()
        log(f"space amplification measured at $elapsed%.2f s")
        metrics.putAll(rec.endToEnd(stats.median(setups), space).asJava)
      } else {
        // untraced, traced, untraced thirds: the traced episodes' median
        // wall minus the mean of the untraced medians around them is the
        // tracing overhead, with the run's warm-up drift cancelled
        val before = runEpisodes(seconds / 3)
        rec.reset()
        val gc0 = gcMs()
        tracer.start()
        val tracedWalls = runEpisodes(2 * seconds / 3)
        tracer.stop()
        rec.gcMs = gcMs() - gc0
        w.traceCounts()
        val layer = Layers.fold(tracer, rec, cores)
        val after = runEpisodes(seconds)
        val perIt = 1e3 / w.iterationsPerEpisode
        val overhead = (stats.median(tracedWalls) -
          (stats.median(before) + stats.median(after)) / 2) * perIt
        // the untraced thirds differ only by warm-up drift and noise: an
        // overhead not larger than their difference is not resolved
        val noise = math.abs(stats.median(before) - stats.median(after)) * perIt
        layer("trace.overhead_ms") = overhead
        layer("trace.overhead_noise_ms") = noise
        log(f"tracing overhead $overhead%.0f ms per iteration, untraced noise $noise%.0f ms: " +
          (if (math.abs(overhead) > noise) "resolved" else "unresolved (within noise)"))
        metrics.putAll(layer.asJava)
        Layers.writeSpanTable(tracer, runDir.resolve("trace.json"))
      }
      out.put("metrics", metrics)
      out.put("observed", rec.observed)
      out.put("session", sessionConfs(spark, cores))
      out.put("episodes", ep)
      out.put("setups", Setups)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.put("error", s"${e.getClass.getName}: ${e.getMessage}")
        exit = 1
    }
    out.put("attempted", rec.attempted)
    out.put("failed", rec.failed)
    Files.writeString(runDir.resolve("result.json"), mapper.writeValueAsString(out))
    System.exit(exit)
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  /** The session `graft.Bench` builds, with scratch kept inside the run
    * directory. */
  def session(runDir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The plan-affecting confs in effect, including the contract session
    * the program runs its reads under. */
  def sessionConfs(spark: SparkSession, cores: Int): java.util.Map[String, String] = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.session.timeZone", "spark.sql.extensions",
      "spark.sql.catalog.graft", "spark.sql.ansi.enabled")
    val m = new java.util.LinkedHashMap[String, String]()
    keys.foreach(k => m.put(k, spark.conf.getOption(k).getOrElse("<default>")))
    m.put("contract.spark.sql.ansi.enabled",
      graft.queries.Registry.contractSession(spark).conf.get("spark.sql.ansi.enabled"))
    m.put("cores", cores.toString)
    m
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum
}

object stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Bytes of every file under a directory, and the bytes that appeared or
  * changed since the last look. */
final class DirBytes(dir: Path) {
  private val seen = mutable.Map.empty[String, (Long, Long)]

  private def files: Seq[File] =
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator.asScala.map(_.toFile).filter(_.isFile).toSeq

  def total: Long = files.map(_.length).sum

  /** Bytes written since the previous call (new or rewritten files). */
  def newBytes(): (Long, Long) = {
    var bytes, n = 0L
    files.foreach { f =>
      val id = (f.lastModified, f.length)
      if (!seen.get(f.getPath).contains(id)) {
        seen(f.getPath) = id; bytes += f.length; n += 1
      }
    }
    (bytes, n)
  }
}

/** Sums the bytes tasks read from storage; the untraced run's only
  * listener, used for read amplification. */
final class InputBytes extends SparkListener {
  val total = new java.util.concurrent.atomic.AtomicLong()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) total.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
}

/** What one run measured. Times are recorded only for calls that return;
  * a call that throws is counted as failed and ends the run. */
final class Rec {
  var attempted, failed = 0L
  val commitMs = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  /** Input rows completed and the timed seconds they took. */
  var rows, wallS = 0.0
  val readAmp = mutable.ArrayBuffer.empty[Double]
  var bytesWritten, filesWritten, userBytes, commits = 0L
  var gcMs = 0L
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val observed = new java.util.ArrayList[Any]()

  def reset(): Unit = {
    commitMs.clear(); readMs.clear(); readAmp.clear()
    rows = 0; wallS = 0
    bytesWritten = 0; filesWritten = 0; userBytes = 0; commits = 0
    counts.clear()
  }

  /** Time one call; `into` receives its milliseconds if it returns. */
  def timed[T](into: mutable.ArrayBuffer[Double])(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try body catch { case e: Throwable => failed += 1; throw e }
    into += (System.nanoTime() - t0) / 1e6
    r
  }

  def endToEnd(setupS: Double, spaceAmp: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "rows_per_s" -> rows / wallS,
    "commit_p50_ms" -> stats.median(commitMs),
    "read_p50_ms" -> stats.median(readMs),
    "write_amp" -> bytesWritten.toDouble / userBytes,
    "read_amp" -> stats.median(readAmp),
    "space_amp" -> spaceAmp,
    "peak_rss_mb" -> Rec.peakRssMb(),
    "commits" -> commitMs.size.toDouble,
    "reads" -> readMs.size.toDouble,
    "timed_s" -> wallS)
}

object Rec {
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
}

/** A workload: resolves its inputs, runs one episode (a fixed unit of
  * work on fresh tables) and measures its own calls into `rec`. */
trait Workload {
  /** Resolve the measured inputs and read them once (a set-up). */
  def resolve(): Unit
  /** Resolve the warm-up inputs, before the warm-up episode. */
  def resolveWarm(): Unit
  /** Run one episode under `dir`; returns its timed wall in seconds.
    * `warm` episodes run on the small warm-up inputs and record nothing. */
  def episode(dir: Path, warm: Boolean): Double
  def iterationsPerEpisode: Int
  /** Counts a traced run takes outside any span and timing. */
  def traceCounts(): Unit = ()
  /** Bytes on disk of the last episode's tables ÷ bytes of the same live
    * rows written fresh (untimed). */
  def spaceAmp(): Double
}

object Workload {
  def apply(name: String, spark: SparkSession, tracer: Tracer, rec: Rec,
      runDir: Path, meta: JsonNode): Workload = name match {
    case "lvr_ingest" => new LvrIngest(spark, tracer, rec, runDir, meta)
    case "corpus_curation" => new CorpusCuration(spark, tracer, rec, runDir, meta)
    case "lakehouse_mor" => new LakehouseMor(spark, tracer, rec, runDir, meta)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
