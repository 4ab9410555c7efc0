package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.queries.Registry

/** Per-Spark-job time attribution for one registry query (optimization
  * evidence harness): registers a listener, runs the query once warm,
  * and prints every job's wall time with its call site — the number
  * that tells a multi-publish lakehouse gate where its seconds actually
  * go (staging write vs stats read-back vs bloom pass vs the final
  * read). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.JobProfile q181_mor_endurance [reps]"
  *
  * The first (untimed) run absorbs codegen/JIT; the listener collects
  * over the following `reps` timed runs (default 1). Job call sites are
  * Spark's own (the first non-Spark frame), so lines map straight to
  * CommittedTable / query code. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q181_mor_endurance")
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // A/B knob for profiling only (the bench always runs AQE on):
      // SPARK_GRAFT_ADAPTIVE=false isolates how much of a multi-publish
      // gate's wall is AQE's per-stage job machinery vs the work itself
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_ADAPTIVE", "true"))
      // mirror Bench's session exactly — a profile under different AQE
      // coalescing reads a different plan than the one being timed
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCED_PARTITION", "64k"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val q = Registry.byName(name)

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreachPartition { it =>
        while (it.hasNext) it.next() }

    // warm (codegen + JIT), untracked
    materialize(q.run(spark, sfDir))
    spark.catalog.clearCache()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Double, String)]()
    // execution-id → triggering callsite: AQE materializes its query
    // stages through a thread pool, so those jobs' own stage names all
    // read `withThreadLocalCaptured at CompletableFuture` — the SQL
    // execution that SUBMITTED them carries the real call site
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val sqlListener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent)
          : Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId, s.description.takeWhile(_ != '\n'))
        case _ => ()
      }
    }
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSites.get(id.toLong)))
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          rows.add(((System.nanoTime() - t0) / 1e9, site))
        }
      }
    }
    // driver-side attribution: sample the main thread's stack while the
    // query runs and count the deepest graft./notable-Spark frame — the
    // half of a multi-publish gate's wall time jobs don't explain
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val st = mainThread.getStackTrace
        val frame = st.find { f =>
          val c = f.getClassName
          c.startsWith("graft.") ||
          c.contains("ParquetUtils") || c.contains("ParquetFileFormat") ||
          c.contains("InMemoryFileIndex") || c.contains("QueryExecution") ||
          c.contains("RuleExecutor") || c.contains("DataSource") ||
          c.contains("FileFormatWriter") || c.contains("SparkPlan")
        }.map(f => s"${f.getClassName.split('.').last}.${f.getMethodName}")
          .getOrElse(st.drop(2).headOption
            .map(f => s"[other] ${f.getClassName.split('.').last}.${f.getMethodName}")
            .getOrElse("?"))
        samples.merge(frame, 1, (a, b) => a + b)
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    spark.sparkContext.addSparkListener(sqlListener)
    spark.sparkContext.addSparkListener(listener)
    org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
    sampler.start()
    val t0 = System.nanoTime()
    val repWalls = (1 to reps).map { _ =>
      val r0 = System.nanoTime()
      materialize(q.run(spark, sfDir)); spark.catalog.clearCache()
      (System.nanoTime() - r0) / 1e9 }
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false
    spark.sparkContext.removeSparkListener(listener)
    spark.sparkContext.removeSparkListener(sqlListener)
    // drain pending listener events before reading
    Thread.sleep(500)

    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq
    val bySite = all.groupBy(_._2).view
      .mapValues(v => (v.size, v.map(_._1).sum)).toSeq
      .sortBy(-_._2._2)
    println(f"== $name: $reps rep(s), wall ${wall}%.3f s " +
      repWalls.map(w => f"$w%.2f").mkString("(", ", ", ")") +
      f", ${all.size} jobs, ${all.map(_._1).sum}%.3f s inside jobs ==")
    bySite.take(40).foreach { case (site, (n, t)) =>
      println(f"  $t%8.3f s  $n%4d jobs  $site")
    }
    val total = samples.values.asScala.map(_.toInt).sum.max(1)
    println(s"== driver main-thread samples (10 ms each, $total total) ==")
    samples.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (f, n) =>
      println(f"  ${n * 100.0 / total}%5.1f%%  $n%5d  $f")
    }
    // per-rule planning time (cumulative since reset — the warm run's
    // rules were reset away, so this is the timed reps' share only)
    println("== top Catalyst rules by effective time ==")
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .linesIterator.drop(2).take(26).foreach(l => println("  " + l))
    spark.stop()
  }
}
