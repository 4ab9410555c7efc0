package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.{Bus, Tracer}

import graft.operators.{CacheScope, Curation, Dedup, Pipelines}
import graft.queries.Registry
import graft.sources.CommittedTable

/** What the three workloads share: spans, timed commits and reads, and
  * the byte accounting behind write, read and space amplification. */
abstract class Base(spark: SparkSession, tracer: Tracer, rec: Rec) extends Workload {
  protected val io = new InputBytes
  spark.sparkContext.addSparkListener(io)
  protected var warm = false
  private val discard = mutable.ArrayBuffer.empty[Double]
  /** Tables of the latest measured episode, for [[spaceAmp]]. */
  protected var lastTables: Seq[(String, String)] = Nil // (path, partition col)
  protected var roles: Map[String, (Option[String], Option[String], Seq[String])] = Map.empty

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Seconds spent in the benchmark's own bookkeeping (byte accounting,
    * answers kept for the checks); episode walls leave it out. */
  private var pausedS = 0.0
  protected def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally pausedS += elapsedS(t0)
  }
  /** A clock over the timed work from now on. */
  protected def stopwatch(): () => Double = {
    val t0 = System.nanoTime(); val p0 = pausedS
    () => elapsedS(t0) - (pausedS - p0)
  }

  protected def sample(into: mutable.ArrayBuffer[Double]) = if (warm) discard else into

  /** A publish call: timed as a commit; the bytes it left under `table`
    * count as written. */
  protected def commit[T](name: String, table: DirBytes, userBytes: Long)(body: => T): T = {
    val r = rec.timed(sample(rec.commitMs))(span(name)(body))
    untimed {
      val (bytes, files) = table.newBytes()
      if (!warm) {
        rec.bytesWritten += bytes; rec.filesWritten += files
        rec.userBytes += userBytes; rec.commits += 1
      }
    }
    r
  }

  /** A read collected to the driver: timed; the bytes its tasks read are
    * compared with the bytes of the live files it resolves to. */
  protected def read(name: String, live: => DataFrame)(body: => Array[Row]): Array[Row] = {
    val before = untimed { Bus.drain(spark); io.total.get }
    val rows = rec.timed(sample(rec.readMs))(span(name)(body))
    if (!warm) untimed {
      Bus.drain(spark)
      val scanned = io.total.get - before
      val files = live.inputFiles
      val liveBytes = files.map(f => new java.io.File(new java.net.URI(f)).length).sum
      if (liveBytes > 0) rec.readAmp += scanned.toDouble / liveBytes
      rec.counts("live_files") += files.length
      rec.counts("live_delta_files") += Base.deltaFiles(files)
      rec.counts("reads") += 1
    }
    rows
  }

  protected def observe(kind: String, fields: (String, Any)*): Unit =
    if (!warm) untimed {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("kind", kind)
      fields.foreach { case (k, v) => m.put(k, v) }
      rec.observed.add(m)
    }

  protected def rowsJson(rows: Array[Row]): java.util.List[java.util.List[Any]] =
    rows.map(r => r.toSeq.map {
      case d: java.math.BigDecimal => d.toPlainString
      case x => x
    }.asJava).toSeq.asJava

  def spaceAmp(): Double = {
    val (disk, fresh) = lastTables.zipWithIndex.map { case ((path, part), i) =>
      val (key, ver, bloom) = roles.getOrElse(path, (None, None, Nil))
      val dst = s"$path-fresh-$i"
      CommittedTable.write(CommittedTable.read(spark, path), dst, part,
        keyCol = key, versionCol = ver, bloomCols = bloom)
      (new DirBytes(java.nio.file.Paths.get(path)).total,
        new DirBytes(java.nio.file.Paths.get(dst)).total)
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    disk.toDouble / fresh
  }

  protected def elapsedS(t0: Long) = (System.nanoTime() - t0) / 1e9
}

object Base {
  private val Segment = """seg-g(\d+)-[^-/]+-(.+)""".r

  /** Files of merge-on-read delta segments among a read's files: per
    * partition, the oldest live segment directory (`seg-g<gen>-<id>-<value>`)
    * is the base and every later one a delta. */
  def deltaFiles(uris: Seq[String]): Int = {
    val segs = uris.flatMap { u =>
      val dir = new java.io.File(new java.net.URI(u)).getParentFile.getName
      dir match {
        case Segment(gen, part) => Some((part, gen.toLong, dir))
        case _ => None
      }
    }
    segs.groupBy(_._1).values.map { fs =>
      val base = fs.minBy(_._2)._3
      fs.count(_._3 != base)
    }.sum
  }
}

/** lvr_ingest: K quarterly drops; each runs the building and land
  * pipelines and upserts their output (copy-on-write) into two
  * city-partitioned committed tables, then answers average price by year
  * over each table. */
final class LvrIngest(spark: SparkSession, tracer: Tracer, rec: Rec, runDir: Path,
    meta: JsonNode) extends Base(spark, tracer, rec) {
  private val drops = meta.get("drops").asInt

  def iterationsPerEpisode: Int = drops

  /** The CSV header inference of both pipelines over a drop, and a count. */
  private def resolve(d: String): Unit = {
    val glob = s"${runDir.resolve(d)}/drop_0/*_lvr_land_a.csv"
    span("operators.pipelines") {
      Pipelines.building(spark, glob).count(); Pipelines.land(spark, glob)
    }
  }
  def resolve(): Unit = resolve("input")
  def resolveWarm(): Unit = resolve("warm")

  /** The merge key and version are derived here, not by the program: a
    * transaction is (city, position, date); a later drop supersedes. */
  private def keyed(df: DataFrame, k: Int): DataFrame =
    df.withColumn("txn_key", concat_ws("|", col("city"), col("position"),
        col("transaction_date").cast("string")))
      .withColumn("drop_no", lit(k.toLong))

  def episode(dir: Path, warm: Boolean): Double = {
    this.warm = warm
    val in = runDir.resolve(if (warm) "warm" else "input")
    val m = if (warm) meta.get("warm") else meta
    val tables = Seq("building", "land").map(t => t -> dir.resolve(t).toString)
    val bytes = tables.map { case (t, p) => t -> new DirBytes(dir.resolve(t)) }.toMap
    var wall = 0.0
    (0 until m.get("drops").asInt).foreach { k =>
      val clock = stopwatch()
      span("bench.drop") {
        val glob = s"$in/drop_$k/*_lvr_land_a.csv"
        val rawBytes = m.get("drop_bytes").get(k).asLong
        val outs = span("operators.pipelines") {
          Map("building" -> Pipelines.building(spark, glob),
            "land" -> Pipelines.land(spark, glob))
        }
        tables.foreach { case (t, path) =>
          val df = keyed(outs(t), k)
          // the raw drop feeds both tables; half its bytes are billed to each
          if (k == 0) commit("committed.write", bytes(t), rawBytes / 2) {
            CommittedTable.write(df, path, "city", keyCol = Some("txn_key"),
              versionCol = Some("drop_no"))
          } else commit("committed.merge", bytes(t), rawBytes / 2) {
            CommittedTable.merge(spark, path, df, "txn_key", "drop_no", "city")
          }
        }
        // average price by year, per city and over all cities, of each table
        for ((t, path) <- tables; byCity <- Seq(true, false)) {
          val rows = read("operators.avg_price_by_year",
              CommittedTable.read(spark, path)) {
            val txns = span("committed.read") { CommittedTable.read(spark, path) }
            Pipelines.avgPriceByYear(txns, byCity).collect()
          }
          observe("avg", "episode" -> dir.getFileName.toString, "drop" -> k,
            "table" -> t, "by_city" -> byCity, "rows" -> rowsJson(rows))
        }
      }
      val dt = clock()
      wall += dt
      if (!warm) untimed {
        rec.rows += m.get("drop_rows").get(k).asLong; rec.wallS += dt
        rec.counts("iterations") += 1
        rec.counts("raw_bytes") += m.get("drop_bytes").get(k).asLong
        if (tracer.active) { // the pipelines' keep ratio, in no span
          val glob = s"$in/drop_$k/*_lvr_land_a.csv"
          rec.counts("pipeline_rows_out") +=
            Pipelines.building(spark, glob).count() + Pipelines.land(spark, glob).count()
          rec.counts("pipeline_rows_in") += m.get("drop_rows").get(k).asLong
        }
      }
    }
    if (!warm) {
      tables.foreach { case (t, path) =>
        val rows = CommittedTable.read(spark, path).groupBy("city")
          .agg(count(lit(1)), sum("total_price")).collect()
        observe("per_city", "episode" -> dir.getFileName.toString, "table" -> t,
          "rows" -> rowsJson(rows))
      }
      lastTables = tables.map { case (_, p) => (p, "city") }
      roles = tables.map { case (_, p) => p -> (Some("txn_key"), Some("drop_no"), Nil) }.toMap
    }
    wall
  }
}

/** corpus_curation: one pass = `Curation.run` over the corpus with a
  * result scope, the curated output published as a committed table and
  * read back by language. */
final class CorpusCuration(spark: SparkSession, tracer: Tracer, rec: Rec, runDir: Path,
    meta: JsonNode) extends Base(spark, tracer, rec) {
  private var docs: DataFrame = _
  private var warmDocs: DataFrame = _
  def iterationsPerEpisode: Int = 1

  /** The pair funnel of the LSH stage, counted with the public operators
    * at `Curation.run`'s defaults (3-word shingles, 3 bands × 2 rows,
    * Jaccard 0.5) over the exact-dedup survivors. */
  override def traceCounts(): Unit = {
    val exact = Dedup.exact(docs, "text", "doc_id").cache()
    val cands = Dedup.minhashCandidates(exact, "text", "doc_id").cache()
    rec.counts("candidate_pairs") += cands.count()
    rec.counts("verified_pairs") += Dedup.verifyPairs(cands, exact, "text", "doc_id", 0.5).count()
    cands.unpersist(); exact.unpersist()
  }

  def resolve(): Unit = {
    docs = span("queries.table") {
      Registry.table(spark, runDir.resolve("input").toString, "documents")
    }
    docs.count()
  }
  def resolveWarm(): Unit =
    warmDocs = Registry.table(spark, runDir.resolve("warm").toString, "documents")

  def episode(dir: Path, warm: Boolean): Double = {
    this.warm = warm
    val in = if (warm) warmDocs else docs
    val n = (if (warm) meta.get("warm") else meta).get("docs").asLong
    val path = dir.resolve("curated").toString
    val bytes = new DirBytes(dir.resolve("curated"))
    val clock = stopwatch()
    val (summary, dt, answers) = span("bench.pass") {
      val scope = new CacheScope
      val summary = try {
        val res = span("operators.curation") {
          Curation.run(in, resultScope = Some(scope))
        }
        commit("committed.write", bytes, meta.get("input_bytes").asLong) {
          CommittedTable.write(res.curated, path, "lang")
        }
        res.summary.collect().head
      } finally scope.unpersistAll()
      val dt = clock() // the pass's throughput covers curation and publish
      untimed(System.gc()) // the reads do not pay for the pass's garbage
      // analytic reads of the curated table, each one scan + aggregate of
      // about the same cost, so their median is a read's
      val groupings = Seq(col("lang"), col("source"), floor(col("n_chars") / 100),
        floor(col("quality") * 10), floor(col("n_tokens") / 10))
      val answers = groupings.map { g =>
        read("committed.curated_read", CommittedTable.read(spark, path)) {
          span("committed.read") { CommittedTable.read(spark, path) }
            .groupBy(g.as("g")).agg(count(lit(1)), sum("n_tokens"), sum("n_chars"))
            .collect()
        }
      }
      (summary, dt, answers)
    }
    val byLang = answers.head
    if (!warm) untimed {
      rec.rows += n; rec.wallS += dt
      rec.counts("iterations") += 1
      val ids = CommittedTable.read(spark, path).select("doc_id").collect().map(_.getLong(0))
      observe("summary", "episode" -> dir.getFileName.toString,
        "summary" -> summary.toSeq.asJava, "by_lang" -> rowsJson(byLang),
        "read_counts" -> answers.map(_.map(_.getLong(1)).sum).asJava,
        "curated_ids" -> (if (rec.observed.isEmpty) ids.toSeq.asJava else null),
        "curated_count" -> ids.length, "curated_id_sum" -> ids.sum)
      lastTables = Seq((path, "lang"))
    }
    dt
  }
}

/** lakehouse_mor: a fresh keyed orders table (partitioned by status,
  * bloom on the key) takes a stream of merge-on-read upserts and deletes;
  * after each one a current, time-travel or change-feed read is served,
  * and every few generations `CALL graft.optimize` compacts. */
final class LakehouseMor(spark: SparkSession, tracer: Tracer, rec: Rec, runDir: Path,
    meta: JsonNode) extends Base(spark, tracer, rec) {
  private var orders: DataFrame = _
  private var warmOrders: DataFrame = _
  private val optimizeEvery = meta.get("optimize_every").asInt
  private val retain = 6

  def iterationsPerEpisode: Int = meta.get("ops").size

  def resolve(): Unit = {
    orders = span("queries.table") {
      Registry.table(spark, runDir.resolve("input").toString, "orders")
    }
    orders.count()
  }
  def resolveWarm(): Unit =
    warmOrders = Registry.table(spark, runDir.resolve("warm").toString, "orders")

  private def aggregate(df: DataFrame): Array[Row] =
    df.groupBy("o_orderstatus").agg(count(lit(1)), sum("o_orderkey"), sum("version"),
      sum(round(col("o_totalprice") * 100).cast("long"))).collect()

  def episode(dir: Path, warm: Boolean): Double = {
    this.warm = warm
    val in = runDir.resolve(if (warm) "warm" else "input")
    val m = if (warm) meta.get("warm") else meta
    val path = dir.resolve("orders").toString
    val bytes = new DirBytes(dir.resolve("orders"))
    val ep = dir.getFileName.toString
    span("committed.write") {
      CommittedTable.write(if (warm) warmOrders else orders, path, "o_orderstatus",
        keyCol = Some("o_orderkey"), versionCol = Some("version"),
        bloomCols = Seq("o_orderkey"), retainGenerations = retain)
    }
    bytes.newBytes()
    val gens = mutable.ArrayBuffer.empty[Long]
    var changeRows = 0L
    val clock = stopwatch()
    m.get("ops").elements.asScala.zipWithIndex.foreach { case (op, j) =>
      span("bench.op") {
        op.get("op").asText match {
          case "upsert" =>
            val f = in.resolve(op.get("file").asText)
            commit("committed.merge_mor", bytes, f.toFile.length) {
              CommittedTable.mergeMor(spark, path, spark.read.parquet(f.toString),
                "o_orderkey", "version", "o_orderstatus")
            }
          case "delete" =>
            val keys = op.get("keys").elements.asScala.map(_.asLong).toSeq
            commit("committed.delete_mor", bytes, 8L * keys.size) {
              CommittedTable.deleteMor(spark, path, col("o_orderkey").isin(keys: _*),
                "o_orderstatus")
            }
        }
        changeRows += op.get("rows").asLong
        val gen = untimed(tracer.uncounted(CommittedTable.generations(spark, path).max))
        gens += gen
        op.get("reads").elements.asScala.map(_.asText).foreach {
          case "current" =>
            val rows = read("committed.current_read", CommittedTable.read(spark, path)) {
              aggregate(span("committed.read") { CommittedTable.read(spark, path) })
            }
            observe("state", "episode" -> ep, "op" -> j, "rows" -> rowsJson(rows))
          case "travel" =>
            val back = op.get("travel_to").asInt
            val sql = s"SELECT * FROM graft.`$path` VERSION AS OF ${gens(back)}"
            val rows = read("sql.time_travel_read", spark.sql(sql)) {
              span("sql.time_travel") { aggregate(spark.sql(sql)) }
            }
            observe("state", "episode" -> ep, "op" -> back, "rows" -> rowsJson(rows))
          case "cdf" =>
            val cdf = () => CommittedTable.changesCdf(spark, path, gen, "o_orderkey", "version")
            val rows = read("committed.cdf_read", cdf()) {
              span("committed.changes_cdf") { cdf() }
                .groupBy(CommittedTable.ChangeTypeColumn).agg(count(lit(1))).collect()
            }
            observe("cdf", "episode" -> ep, "op" -> j, "rows" -> rowsJson(rows))
        }
        if ((j + 1) % optimizeEvery == 0) {
          rec.timed(mutable.ArrayBuffer.empty[Double]) {
            span("sql.optimize") {
              spark.sql(s"CALL graft.optimize(table => '$path', max_files => 1)").collect()
            }
          }
          untimed {
            val (b, f) = bytes.newBytes()
            if (!warm) { rec.bytesWritten += b; rec.filesWritten += f }
          }
          rec.timed(mutable.ArrayBuffer.empty[Double]) {
            span("sql.history") {
              spark.sql(s"CALL graft.history(table => '$path')").collect()
            }
          }
        }
      }
      if (!warm) rec.counts("iterations") += 1
    }
    val wall = clock()
    if (!warm) {
      rec.rows += changeRows; rec.wallS += wall
      observe("state", "episode" -> ep, "op" -> (gens.size - 1),
        "rows" -> rowsJson(aggregate(CommittedTable.read(spark, path))))
      lastTables = Seq((path, "o_orderstatus"))
      roles = Map(path -> (Some("o_orderkey"), Some("version"), Seq("o_orderkey")))
    }
    wall
  }
}
