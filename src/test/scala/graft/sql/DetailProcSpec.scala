package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.CommittedTable

/** `CALL graft.detail` — one row of operational metadata straight from
  * the manifest (DESCRIBE DETAIL parity): generation, logical rows,
  * files/bytes, roles, declared layouts, delete routing, live vectors,
  * constraints, retention. Zero data files opened. */
class DetailProcSpec extends SparkSpec {
  import spark.implicits._

  test("detail reports the manifest truth, including logical rows under " +
      "a live deletion vector and the declared clustering") {
    val dir = Files.createTempDirectory("graft-detail").toString + "/t"
    val src = spark.range(0, 1000)
      .select(when(col("id") % 2 === 0, "A").otherwise("B").as("part"),
        col("id").as("value"), lit(1L).as("version"))
    CommittedTable.write(src, dir, "part", statsCols = Seq("value"),
      keyCol = Some("value"), versionCol = Some("version"),
      retainGenerations = 4)
    CommittedTable.setClustering(spark, dir, Some((Seq("value"), 4)))
    CommittedTable.setDeleteMode(spark, dir, Some("mor"))
    CommittedTable.deleteMor(spark, dir, col("value") % 10 === 3, "part")
    CommittedTable.setChecks(spark, dir,
      Seq(("value_nonneg", "value >= 0")))

    val r = spark.sql(s"CALL graft.detail(table => '$dir')").head()
    val byName = r.schema.fieldNames.zipWithIndex.toMap
    def f(n: String): Any = r.get(byName(n))
    assert(f("path") === dir)
    assert(f("generation") === 5L) // write + 3 metadata gens + MoR delete
    assert(f("partition_col") === "part")
    assert(f("partitions") === 2)
    assert(f("rows") === 900L, "logical: vector rows subtracted")
    assert(f("files") === 2)
    assert(f("bytes").asInstanceOf[Long] > 0L)
    assert(f("key_col") === "value" && f("version_col") === "version")
    assert(f("stats_cols") === "value")
    assert(f("cluster_by") === "value files=4")
    assert(f("bucket_by") === null)
    assert(f("delete_mode") === "mor")
    assert(f("live_delete_vectors") === 1) // %10==3 values are all odd: B only
    assert(f("checks") === 1)
    assert(f("retain_generations") === 4)
    assert(f("retain_hours") === null)
  }

  test("detail on a SHARDED table answers from one hydration; a missing " +
      "table is refused loudly") {
    val dir = Files.createTempDirectory("graft-detail-sh").toString + "/t"
    val src = spark.range(0, 700)
      .select(concat(lit("p"), (col("id") % 70).cast("string")).as("part"),
        col("id").as("value"))
    CommittedTable.write(src, dir, "part", statsCols = Seq("value"))
    val r = spark.sql(s"CALL graft.detail(table => '$dir')").head()
    val byName = r.schema.fieldNames.zipWithIndex.toMap
    assert(r.get(byName("partitions")) === 70)
    assert(r.get(byName("rows")) === 700L)
    assert(r.get(byName("files")) === 70)
    val e = intercept[Exception](
      spark.sql(s"CALL graft.detail(table => '$dir-nope')").collect())
    assert(e.getMessage.contains("no committed table"))
  }

  test("graft_partitions: one manifest-only row per partition with " +
      "base/dv/delta/logical accounting and file lists") {
    val dir = Files.createTempDirectory("graft-parts-tvf").toString + "/t"
    val src = spark.range(0, 100)
      .select(when(col("id") % 2 === 0, "A").otherwise("B").as("part"),
        col("id").as("value"), lit(1L).as("version"))
    CommittedTable.write(src, dir, "part",
      keyCol = Some("value"), versionCol = Some("version"))
    // MoR merge touches A only: evens %10==0 get superseded + re-written
    CommittedTable.mergeMor(spark,
      dir, src.filter(col("value") % 10 === 0)
        .withColumn("version", lit(2L)),
      "value", "version", "part")
    val rows = spark.sql(s"SELECT * FROM graft_partitions('$dir')")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = rows("A"); val b = rows("B")
    assert(a.getAs[String]("segment").startsWith("seg-g1-"))
    assert(a.getAs[Long]("base_rows") === 50L)
    assert(a.getAs[Long]("dv_rows") === 10L)
    assert(a.getAs[Int]("delta_dirs") === 1)
    assert(a.getAs[Long]("delta_rows") === 10L)
    assert(a.getAs[Long]("logical_rows") === 50L)
    assert(a.getAs[Int]("files") === 2) // base file + delta file
    assert(a.getAs[Long]("bytes") > 0L)
    assert(b.getAs[Long]("dv_rows") === 0L &&
      b.getAs[Int]("delta_dirs") === 0 &&
      b.getAs[Long]("logical_rows") === 50L)
    // the maintenance backlog query IS a WHERE over this relation
    assert(spark.sql(s"SELECT partition FROM graft_partitions('$dir') " +
      "WHERE delta_dirs > 0").as[String].collect().toSeq === Seq("A"))
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_partitions('$dir-nope')").collect())
    assert(e.getMessage.contains("no committed table"))
  }

  test("graft_history: retained generations as a composable relation") {
    val dir = Files.createTempDirectory("graft-hist-tvf").toString + "/t"
    val src = spark.range(0, 10)
      .select(when(col("id") % 2 === 0, "A").otherwise("B").as("part"),
        col("id").as("value"), lit(1L).as("version"))
    CommittedTable.write(src, dir, "part",
      keyCol = Some("value"), versionCol = Some("version"),
      retainGenerations = 4)
    CommittedTable.deleteMor(spark, dir, col("value") === 3L, "part") // gen 2
    CommittedTable.merge(spark, dir,
      spark.range(100, 103)
        .select(lit("A").as("part"), col("id").as("value"),
          lit(2L).as("version")),
      "value", "version", "part") // gen 3
    val h = spark.sql(s"SELECT generation, partitions, rows, is_current " +
        s"FROM graft_history('$dir') ORDER BY generation")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3)))
    assert(h.toSeq === Seq(
      (1L, 2, Some(10L), false),
      (2L, 2, Some(9L), false),   // logical: the vector row subtracted
      (3L, 2, Some(12L), true)))
    // every generation is attributed to the verb that published it —
    // DESCRIBE HISTORY's operation column, through TVF and CALL alike
    assert(spark.sql(s"SELECT operation FROM graft_history('$dir') " +
      "ORDER BY generation").as[String].collect().toSeq ===
      Seq("write", "delete-mor", "merge"))
    assert(spark.sql(s"CALL graft.history(table => '$dir')")
      .select("operation").as[String].collect().toSeq ===
      Seq("write", "delete-mor", "merge"))
    // composable: the shrink-audit query is plain SQL over the relation
    assert(spark.sql(
      s"""SELECT COUNT(*) FROM (
            SELECT rows - lag(rows) OVER (ORDER BY generation) AS d
            FROM graft_history('$dir')) WHERE d < 0""").as[Long].head === 1L)
  }

  test("graft_history labels every DML verb's generation with its exact " +
      "operation") {
    import CommittedTable.MatchedUpdate
    val dir = Files.createTempDirectory("graft-hist-ops").toString + "/t"
    val src = spark.range(0, 20)
      .select(when(col("id") % 2 === 0, "A").otherwise("B").as("part"),
        col("id").as("key"), lit(1L).as("version"),
        col("id").cast("double").as("value"))
    CommittedTable.write(src, dir, "part",
      keyCol = Some("key"), versionCol = Some("version"),
      retainGenerations = 12)
    def batch(keys: Long*) = keys
      .map(k => (if (k % 2 == 0) "A" else "B", k, 2L, k * 10.0))
      .toDF("part", "key", "version", "value")
    val bump = Map("value" -> lit(-1.0), "version" -> lit(3L))
    def setVal(k: Long) = (Seq((k, 0.5)).toDF("key", "sval"),
      Seq(MatchedUpdate(None,
        Map("value" -> expr("s.sval"), "version" -> lit(3L)))))
    CommittedTable.merge(spark, dir, batch(0L, 100L), "key", "version", "part")
    CommittedTable.mergeMor(spark, dir, batch(1L, 101L),
      "key", "version", "part")
    CommittedTable.delete(spark, dir, col("key") === 2L, "part")
    CommittedTable.deleteMor(spark, dir, col("key") === 3L, "part")
    CommittedTable.deleteKeys(spark, dir, Seq(4L).toDF("key"), "key", "part")
    CommittedTable.deleteKeysMor(spark, dir, Seq(5L).toDF("key"),
      "key", "part")
    CommittedTable.update(spark, dir, col("key") === 6L, bump, "part",
      versionCol = Some("version"))
    CommittedTable.updateMor(spark, dir, col("key") === 7L, bump, "part",
      versionCol = Some("version"))
    val (s8, m8) = setVal(8L)
    CommittedTable.mergeClauses(spark, dir, s8, matched = m8)
    val (s9, m9) = setVal(9L)
    CommittedTable.mergeClausesMor(spark, dir, s9, matched = m9)
    val expected = Seq("write", "merge", "merge-mor", "delete", "delete-mor",
      "delete-keys", "delete-keys-mor", "update", "update-mor",
      "merge-clauses", "merge-clauses-mor")
    assert(spark.sql(s"SELECT operation FROM graft_history('$dir') " +
      "ORDER BY generation").as[String].collect().toSeq === expected)
    assert(spark.sql(s"CALL graft.history(table => '$dir')")
      .select("operation").as[String].collect().toSeq === expected)
  }
}
