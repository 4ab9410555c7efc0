package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[CommittedTable.mergeMor]] / [[CommittedTable.updateMor]] — merge-on-
  * read upserts via deletion vector + DELTA SEGMENT: answers identical to
  * the copy-on-write verbs with base segments untouched (O(changed rows)
  * written); every metadata surface (counts, zone maps, bloom probes,
  * change feeds, time travel, clones) folds the delta state; rewrites
  * materialize it and the entries self-invalidate. */
class DeltaSegmentSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-delta-$tag").toString + "/t"

  private def base() = Seq(
    (1L, "A", 10.0, 1L), (2L, "A", 20.0, 1L), (3L, "A", 30.0, 1L),
    (4L, "B", 40.0, 1L), (5L, "B", 50.0, 1L),
    (6L, "C", 60.0, 1L))
    .toDF("id", "status", "value", "version")

  private def segDirs(dir: String): Set[String] = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("seg-")).toSet
    } finally s.close()
  }

  private def dvDirs(dir: String): Set[String] = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("dv-")).toSet
    } finally s.close()
  }

  private def rows(dir: String): Set[(Long, String, Double, Long)] =
    CommittedTable.read(spark, dir)
      .select("id", "status", "value", "version")
      .as[(Long, String, Double, Long)].collect().toSet

  test("MoR merge: answer == copy-on-write merge, base segments " +
      "untouched, metadata count stays exact") {
    val mor = freshDir("core-mor"); val cow = freshDir("core-cow")
    for (d <- Seq(mor, cow))
      CommittedTable.write(base(), d, "status",
        keyCol = Some("id"), versionCol = Some("version"),
        statsCols = Seq("value"))
    val updates = Seq(
      (2L, "A", 21.0, 2L),  // upsert in place
      (5L, "B", 51.0, 2L),  // upsert in place
      (7L, "C", 70.0, 1L))  // brand-new key
      .toDF("id", "status", "value", "version")
    val segsBefore = segDirs(mor)
    CommittedTable.mergeMor(spark, mor, updates, "id", "version", "status")
    CommittedTable.merge(spark, cow, updates, "id", "version", "status")
    assert(rows(mor) === rows(cow))
    // base segments all still present — only delta dirs were added
    assert(segsBefore.subsetOf(segDirs(mor)))
    assert(dvDirs(mor).size === 1)
    // logical counts from metadata alone
    assert(CommittedTable.count(spark, mor) === 7L)
    assert(CommittedTable.count(spark, mor, Some(Seq("A"))) === 3L)
    assert(CommittedTable.rowCounts(spark, mor).get("B") === 2L)
    // a second MoR merge accumulates (delta list + folded vector)
    val u2 = Seq((2L, "A", 22.0, 3L), (8L, "A", 80.0, 1L))
      .toDF("id", "status", "value", "version")
    CommittedTable.mergeMor(spark, mor, u2, "id", "version", "status")
    CommittedTable.merge(spark, cow, u2, "id", "version", "status")
    assert(rows(mor) === rows(cow))
    assert(segsBefore.subsetOf(segDirs(mor)))
    assert(CommittedTable.count(spark, mor) === 8L)
  }

  test("a brand-new partition value stages as an ordinary first segment") {
    val dir = freshDir("newpart")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    CommittedTable.mergeMor(spark, dir,
      Seq((9L, "D", 90.0, 1L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    assert(rows(dir).contains((9L, "D", 90.0, 1L)))
    assert(CommittedTable.count(spark, dir, Some(Seq("D"))) === 1L)
    // no vector was needed (insert-only) and no prior partition changed
    assert(dvDirs(dir).isEmpty)
  }

  test("version ties keep the EXISTING row; a stale update loses; a " +
      "multi-copy key collapses only as far as superseded") {
    val dir = freshDir("ties")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    CommittedTable.mergeMor(spark, dir,
      Seq((1L, "A", 99.0, 1L),   // tie: existing version 1 kept
          (2L, "A", 98.0, 0L))   // stale: loses
        .toDF("id", "status", "value", "version"),
      "id", "version", "status")
    assert(rows(dir) === base().as[(Long, String, Double, Long)].collect().toSet)
    // no-op batch burned no generation? It DID stage nothing and dv
    // nothing — the publish is skipped entirely
    assert(CommittedTable.history(spark, dir).last.gen === 1L)
  }

  test("a key MOVE dv's the old partition and deltas the new one") {
    val dir = freshDir("move"); val cow = freshDir("move-cow")
    for (d <- Seq(dir, cow))
      CommittedTable.write(base(), d, "status",
        keyCol = Some("id"), versionCol = Some("version"))
    val mv = Seq((6L, "A", 61.0, 2L)) // key 6 moves C -> A
      .toDF("id", "status", "value", "version")
    val segsBefore = segDirs(dir)
    CommittedTable.mergeMor(spark, dir, mv, "id", "version", "status")
    CommittedTable.merge(spark, cow, mv, "id", "version", "status")
    assert(rows(dir) === rows(cow))
    assert(segsBefore.subsetOf(segDirs(dir)))
    assert(CommittedTable.count(spark, dir, Some(Seq("C"))) === 0L)
    assert(CommittedTable.count(spark, dir, Some(Seq("A"))) === 4L)
  }

  test("bloom sidecars answer keys that live only in a delta; zone maps " +
      "widen so range reads see delta rows") {
    val dir = freshDir("meta")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"),
      statsCols = Seq("value"), bloomCols = Seq("id"))
    CommittedTable.mergeMor(spark, dir,
      // 99.0 is outside every base partition's value range
      Seq((77L, "A", 99.0, 1L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    // point lookup through the sidecar prune finds the delta-only key
    val hit = CommittedTable.readKeys(spark, dir,
      Seq(77L).toDF("id"), "id")
    assert(hit.select("value").as[Double].collect().toSeq === Seq(99.0))
    // ranged read beyond the base max still returns the delta row —
    // partition stats were widened at publish
    val ranged = CommittedTable.readRangeMulti(spark, dir,
      Seq(("value", Some(98.0), None)))
    assert(ranged.select("id").as[Long].collect().toSet === Set(77L))
  }

  test("compact materializes: delta dirs + vector self-invalidate, " +
      "answers unchanged, fragmentation signal fires before") {
    val dir = freshDir("compact")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"),
      statsCols = Seq("value"))
    CommittedTable.mergeMor(spark, dir,
      Seq((2L, "A", 21.0, 2L), (3L, "A", 31.0, 2L))
        .toDF("id", "status", "value", "version"),
      "id", "version", "status")
    // partition A now carries base + delta: fragmented at maxFiles = 1
    assert(CommittedTable.fragmentedPartitions(spark, dir, maxFiles = 1)
      === Seq("A"))
    val before = rows(dir)
    CommittedTable.compact(spark, dir, "status")
    assert(rows(dir) === before)
    assert(CommittedTable.count(spark, dir) === 6L)
    assert(CommittedTable.fragmentedPartitions(spark, dir, maxFiles = 1)
      === Nil)
    // a further MoR merge works on the compacted table
    CommittedTable.mergeMor(spark, dir,
      Seq((2L, "A", 22.0, 3L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    assert(rows(dir).contains((2L, "A", 22.0, 3L)))
  }

  test("MoR delete after MoR merge: the folded vector keeps positions " +
      "in delta files (leaf-fold fix)") {
    val dir = freshDir("dv-fold")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    CommittedTable.mergeMor(spark, dir,
      Seq((2L, "A", 21.0, 2L)).toDF("id", "status", "value", "version"),
      "id", "version", "status") // dv on base row 2, delta row 2'
    // delete the DELTA row by predicate (MoR)
    CommittedTable.deleteMor(spark, dir, $"id" === 2L, "status")
    assert(rows(dir).map(_._1) === Set(1L, 3L, 4L, 5L, 6L))
    // another MoR delete folds the prior vector — the base-row-2 and
    // delta-row-2' positions must BOTH carry over
    CommittedTable.deleteMor(spark, dir, $"id" === 1L, "status")
    assert(rows(dir).map(_._1) === Set(3L, 4L, 5L, 6L))
    assert(CommittedTable.count(spark, dir) === 4L)
  }

  test("time travel reads each generation's own delta state; the change " +
      "feed classifies a MoR merge's upserts exactly") {
    val dir = freshDir("tt")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"),
      retainGenerations = 4)
    CommittedTable.mergeMor(spark, dir,
      Seq((2L, "A", 21.0, 2L), (7L, "B", 70.0, 1L))
        .toDF("id", "status", "value", "version"),
      "id", "version", "status") // gen 2
    assert(CommittedTable.readAt(spark, dir, 1L)
      .select("id", "value").as[(Long, Double)].collect().toSet
      .contains((2L, 20.0)))
    // key-level delta of gen 2 = exactly the two upserts
    val keyed = CommittedTable.changesForKeys(spark, dir, 2L, "id", "version")
      .select("id", "value").as[(Long, Double)].collect().toSet
    assert(keyed === Set((2L, 21.0), (7L, 70.0)))
    // CDF: update pre/post for key 2, insert for key 7, nothing else
    val cdf = CommittedTable.changesCdf(spark, dir, 2L, "id", "version")
      .select(col("id"), col("value"), col(CommittedTable.ChangeTypeColumn))
      .as[(Long, Double, String)].collect().toSet
    assert(cdf === Set(
      (2L, 21.0, "update_postimage"), (2L, 20.0, "update_preimage"),
      (7L, 70.0, "insert")))
  }

  test("shallow clone inherits live deltas and vectors by reference") {
    val src = freshDir("clone-src"); val dst = freshDir("clone-dst")
    CommittedTable.write(base(), src, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    CommittedTable.mergeMor(spark, src,
      Seq((2L, "A", 21.0, 2L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    CommittedTable.cloneShallow(spark, src, dst)
    assert(rows(dst) === rows(src))
    assert(CommittedTable.count(spark, dst) === 6L)
    // divergence: a clone-side merge leaves the source untouched
    CommittedTable.mergeMor(spark, dst,
      Seq((2L, "A", 23.0, 3L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    assert(rows(src).contains((2L, "A", 21.0, 2L)))
    assert(rows(dst).contains((2L, "A", 23.0, 3L)))
  }

  test("updateMor: answer == copy-on-write update, base segments " +
      "untouched; the versionCol CDC guard holds; CHECKs re-validate") {
    val mor = freshDir("upd-mor"); val cow = freshDir("upd-cow")
    for (d <- Seq(mor, cow))
      CommittedTable.write(base(), d, "status",
        keyCol = Some("id"), versionCol = Some("version"),
        checks = Seq(("positive", "value > 0")))
    val segsBefore = segDirs(mor)
    CommittedTable.updateMor(spark, mor, $"value" >= 40.0,
      Map("value" -> ($"value" * 2), "version" -> ($"version" + 1)),
      "status", versionCol = Some("version"))
    CommittedTable.update(spark, cow, $"value" >= 40.0,
      Map("value" -> ($"value" * 2), "version" -> ($"version" + 1)),
      "status", versionCol = Some("version"))
    assert(rows(mor) === rows(cow))
    assert(segsBefore.subsetOf(segDirs(mor)))
    assert(CommittedTable.count(spark, mor) === 6L)
    // CDC guard: an update that skips the version column is refused
    val e = intercept[IllegalArgumentException] {
      CommittedTable.updateMor(spark, mor, $"id" === 1L,
        Map("value" -> lit(1.0)), "status", versionCol = Some("version"))
    }
    assert(e.getMessage.contains("version"))
    // CHECK re-validation: an assignment violating a declared check aborts
    val e2 = intercept[Exception] {
      CommittedTable.updateMor(spark, mor, $"id" === 1L,
        Map("value" -> lit(-5.0), "version" -> ($"version" + 1)),
        "status", versionCol = Some("version"))
    }
    assert(e2.getMessage.toLowerCase.contains("check") ||
      e2.getMessage.contains("positive"))
    assert(rows(mor) === rows(cow)) // nothing published
  }

  test("SQL surface: TBLPROPERTIES updatemode='mor' routes UPDATE " +
      "through the vector+delta path") {
    val dir = freshDir("sql")
    spark.sql(
      s"""CREATE TABLE graft.`$dir`
         |PARTITIONED BY (status)
         |TBLPROPERTIES('keycol'='id','vercol'='version',
         |  'updatemode'='mor')
         |AS SELECT * FROM VALUES
         |  (1L, 10.0D, 1L, 'A'), (2L, 20.0D, 1L, 'A'), (3L, 30.0D, 1L, 'B')
         |  AS v(id, value, version, status)""".stripMargin)
    val segsBefore = segDirs(dir)
    spark.sql(s"UPDATE graft.`$dir` SET value = value + 1, " +
      "version = version + 1 WHERE status = 'A'")
    assert(segsBefore.subsetOf(segDirs(dir)))
    assert(dvDirs(dir).size === 1)
    assert(spark.sql(s"SELECT sum(value) FROM graft.`$dir`")
      .as[Double].head === 10.0 + 20.0 + 30.0 + 2.0)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir`")
      .as[Long].head === 3L)
    // partition-pruned SQL read sees base∪delta minus vector
    assert(spark.sql(s"SELECT sum(value) FROM graft.`$dir` " +
      "WHERE status = 'A'").as[Double].head === 32.0)
  }

  test("crash at every point leaves old-or-new visibility, never a mix") {
    for (point <- Seq("before-staging", "after-staging", "before-dv-write",
        "before-swap")) {
      val dir = freshDir(s"crash-$point")
      CommittedTable.write(base(), dir, "status",
        keyCol = Some("id"), versionCol = Some("version"))
      val before = rows(dir)
      val boom = new RuntimeException(s"crash@$point")
      intercept[RuntimeException] {
        CommittedTable.mergeMor(spark, dir,
          Seq((2L, "A", 21.0, 2L)).toDF("id", "status", "value", "version"),
          "id", "version", "status",
          crashPoint = p => if (p == point) throw boom)
      }
      assert(rows(dir) === before, s"mix visible after crash at $point")
      // the table recovers: re-running the merge lands cleanly
      CommittedTable.recover(spark, dir)
      CommittedTable.mergeMor(spark, dir,
        Seq((2L, "A", 21.0, 2L)).toDF("id", "status", "value", "version"),
        "id", "version", "status")
      assert(rows(dir).contains((2L, "A", 21.0, 2L)))
    }
    // the same protocol for all ten DML verbs, over every label each fires
    import CommittedTable.{MatchedUpdate, NotMatchedInsert}
    val upserts = () => Seq((2L, "A", 21.0, 2L), (7L, "C", 70.0, 2L))
      .toDF("id", "status", "value", "version")
    val keys = () => Seq(2L, 4L).toDF("id")
    val bump = Map("value" -> lit(99.0), "version" -> lit(2L))
    val src = () => Seq((2L, 99.0), (8L, 80.0)).toDF("id", "sval")
    val mUpd = Seq(MatchedUpdate(None,
      Map("value" -> expr("s.sval"), "version" -> lit(2L))))
    val ins = Seq(NotMatchedInsert(None, Map("id" -> expr("s.id"),
      "status" -> lit("C"), "value" -> expr("s.sval"),
      "version" -> lit(2L))))
    val cow = Seq("before-staging", "after-staging", "before-swap",
      "after-swap")
    val mor = Seq("before-staging", "after-staging", "before-dv-write",
      "before-swap", "after-swap")
    val vectorOnly = Seq("before-dv-write", "before-swap", "after-swap")
    // every verb is idempotent on this data, so a rerun after any crash
    // must land exactly where an uninterrupted run does
    val verbs: Seq[(String, Seq[String], (String, String => Unit) => Unit)] =
      Seq(
        ("merge", cow, (d, cp) => CommittedTable.merge(spark, d, upserts(),
          "id", "version", "status", crashPoint = cp)),
        ("mergeMor", mor, (d, cp) => CommittedTable.mergeMor(spark, d,
          upserts(), "id", "version", "status", crashPoint = cp)),
        ("delete", cow, (d, cp) => CommittedTable.delete(spark, d,
          $"id" === 2L, "status", crashPoint = cp)),
        ("deleteMor", vectorOnly, (d, cp) => CommittedTable.deleteMor(spark,
          d, $"id" === 2L, "status", crashPoint = cp)),
        ("deleteKeys", cow, (d, cp) => CommittedTable.deleteKeys(spark, d,
          keys(), "id", "status", crashPoint = cp)),
        ("deleteKeysMor", vectorOnly, (d, cp) => CommittedTable.deleteKeysMor(
          spark, d, keys(), "id", "status", crashPoint = cp)),
        ("update", cow, (d, cp) => CommittedTable.update(spark, d,
          $"status" === "A", bump, "status", crashPoint = cp)),
        ("updateMor", mor, (d, cp) => CommittedTable.updateMor(spark, d,
          $"status" === "A", bump, "status", crashPoint = cp)),
        ("mergeClauses", cow, (d, cp) => CommittedTable.mergeClauses(spark,
          d, src(), mUpd, ins, crashPoint = cp)),
        ("mergeClausesMor", mor, (d, cp) => CommittedTable.mergeClausesMor(
          spark, d, src(), mUpd, ins, crashPoint = cp)))
    def fresh(tag: String): String = {
      val d = freshDir(tag)
      CommittedTable.write(base(), d, "status",
        keyCol = Some("id"), versionCol = Some("version"),
        bloomCols = Seq("id"))
      d
    }
    for ((name, labels, run) <- verbs) {
      // the uninterrupted run: which labels fire, in which order, and the
      // table it leaves
      val clean = fresh(s"$name-clean")
      val before = rows(clean)
      val fired = scala.collection.mutable.Buffer.empty[String]
      run(clean, fired += _)
      assert(fired.toSeq === labels, s"$name crash labels")
      val after = rows(clean)
      assert(after !== before, s"$name changed nothing")
      for (point <- labels) {
        val dir = fresh(s"$name-$point")
        val boom = intercept[RuntimeException] {
          run(dir, p => if (p == point) throw new RuntimeException(s"kill@$p"))
        }
        assert(boom.getMessage === s"kill@$point")
        // old before the swap, new after it — never a mix
        val seen = rows(dir)
        if (point == "after-swap")
          assert(seen === after, s"$name@$point: new table not visible")
        else assert(seen === before, s"$name@$point: mix visible")
        CommittedTable.recover(spark, dir)
        run(dir, _ => ())
        assert(rows(dir) === after, s"$name@$point: rerun diverged")
        assert(CommittedTable.count(spark, dir) === after.size.toLong,
          s"$name@$point: metadata count drifted")
      }
    }
  }

  test("a MoR winner aborts a concurrent compactPartitions rebase " +
      "instead of being silently resurrected") {
    val dir = freshDir("race")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    // compaction stages partition A, then a MoR delete wins the
    // generation; the rebase must refuse (its staged bytes predate the
    // winner's vector — replaying them would resurrect id=2)
    intercept[java.util.ConcurrentModificationException] {
      CommittedTable.compactPartitions(spark, dir, Seq("A"),
        crashPoint = p => if (p == "after-staging")
          CommittedTable.deleteMor(spark, dir, $"id" === 2L, "status"))
    }
    assert(rows(dir).map(_._1) === Set(1L, 3L, 4L, 5L, 6L))
    // disjoint-partition maintenance still rebases through a MoR winner
    CommittedTable.compactPartitions(spark, dir, Seq("B"),
      crashPoint = p => if (p == "after-staging")
        CommittedTable.deleteMor(spark, dir, $"id" === 3L, "status"))
    assert(rows(dir).map(_._1) === Set(1L, 4L, 5L, 6L))
  }

  test("schema widening stays on merge(); a bucketed layout takes the MoR path") {
    // bucketed MoR is supported (delta files stage bucket-split with the
    // _NNNNN naming — BucketedTableSpec pins the exchange-free plan);
    // here: the upsert lands as delta state with every base segment intact
    val dir = freshDir("refuse")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"),
      bucketBy = Some((4, Seq("id"))))
    val segsBefore = segDirs(dir)
    CommittedTable.mergeMor(spark, dir,
      Seq((2L, "A", 21.0, 2L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    assert(rows(dir).contains((2L, "A", 21.0, 2L)))
    assert(segsBefore.subsetOf(segDirs(dir)))
    val e = intercept[IllegalArgumentException] {
      CommittedTable.mergeMor(spark, dir,
        Seq((2L, "A", 21.0, 3L, "x"))
          .toDF("id", "status", "value", "version", "extra"),
        "id", "version", "status")
    }
    assert(e.getMessage.contains("extra"))
    val dir2 = freshDir("refuse2")
    CommittedTable.write(base(), dir2, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    val e2 = intercept[IllegalArgumentException] {
      CommittedTable.mergeMor(spark, dir2,
        Seq((2L, "A", 21.0, 2L, "x"))
          .toDF("id", "status", "value", "version", "extra"),
        "id", "version", "status")
    }
    assert(e2.getMessage.contains("extra"))
  }

  test("deleteKeysMor: bulk key takedown publishes positions only — " +
      "answers == deleteKeys, zero segments rewritten, counts exact") {
    val mor = freshDir("dk-mor"); val cow = freshDir("dk-cow")
    for (d <- Seq(mor, cow))
      CommittedTable.write(base(), d, "status",
        keyCol = Some("id"), versionCol = Some("version"),
        bloomCols = Seq("id"))
    val keys = Seq(2L, 5L, 99L).toDF("id") // 99 matches nothing
    val segsBefore = segDirs(mor)
    CommittedTable.deleteKeysMor(spark, mor, keys, "id", "status")
    CommittedTable.deleteKeys(spark, cow, keys, "id", "status")
    assert(rows(mor) === rows(cow))
    assert(segDirs(mor) === segsBefore)
    assert(dvDirs(mor).size === 1)
    assert(CommittedTable.count(spark, mor) === 4L)
    // it composes with deltas: MoR-merge then take down the merged key
    CommittedTable.mergeMor(spark, mor,
      Seq((1L, "A", 11.0, 2L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    CommittedTable.deleteKeysMor(spark, mor, Seq(1L).toDF("id"),
      "id", "status")
    assert(rows(mor).map(_._1) === Set(3L, 4L, 6L))
    assert(CommittedTable.count(spark, mor) === 3L)
    // an all-miss key set burns no generation
    val g = CommittedTable.history(spark, mor).last.gen
    CommittedTable.deleteKeysMor(spark, mor, Seq(777L).toDF("id"),
      "id", "status")
    assert(CommittedTable.history(spark, mor).last.gen === g)
  }

  test("CALL graft.optimize: one-call bounded maintenance selects the " +
      "fragmented partitions and materializes their MoR state") {
    val dir = freshDir("optimize")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    // two MoR merges fragment partition A (base + two deltas)
    CommittedTable.mergeMor(spark, dir,
      Seq((2L, "A", 21.0, 2L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    CommittedTable.mergeMor(spark, dir,
      Seq((3L, "A", 31.0, 2L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    assert(CommittedTable.fragmentedPartitions(spark, dir, maxFiles = 2)
      === Seq("A"))
    val before = rows(dir)
    spark.sql(s"CALL graft.optimize(table => '$dir', max_files => 2)")
    assert(rows(dir) === before)
    assert(CommittedTable.fragmentedPartitions(spark, dir, maxFiles = 2)
      === Nil)
    // nothing fragmented: the call is a no-op, no generation burned
    val g = CommittedTable.history(spark, dir).last.gen
    spark.sql(s"CALL graft.optimize(table => '$dir', max_files => 2)")
    assert(CommittedTable.history(spark, dir).last.gen === g)
  }

  test("mergeCompositeMor: the composite layout (most partitions, worst " +
      "rewrite amplification) gets the vector+delta shape") {
    val mor = freshDir("comp-mor"); val cow = freshDir("comp-cow")
    val src = Seq(
      (1L, "2024-01-01", "web", 10.0, 1L), (2L, "2024-01-01", "app", 20.0, 1L),
      (3L, "2024-01-02", "web", 30.0, 1L), (4L, "2024-01-02", "app", 40.0, 1L))
      .toDF("id", "day", "source", "value", "version")
    for (d <- Seq(mor, cow))
      CommittedTable.writeComposite(src, d, Seq("day", "source"),
        keyCol = Some("id"), versionCol = Some("version"),
        statsCols = Seq("day", "source"))
    val upd = Seq(
      (2L, "2024-01-01", "app", 21.0, 2L),  // in-place upsert
      (9L, "2024-01-03", "web", 90.0, 1L))  // brand-new composite value
      .toDF("id", "day", "source", "value", "version")
    val segsBefore = segDirs(mor)
    CommittedTable.mergeCompositeMor(spark, mor, upd, "id", "version",
      Seq("day", "source"))
    CommittedTable.mergeComposite(spark, cow, upd, "id", "version",
      Seq("day", "source"))
    def all(d: String): Set[(Long, String, String, Double, Long)] =
      CommittedTable.read(spark, d)
        .select($"id", $"day", $"source", $"value", $"version")
        .as[(Long, String, String, Double, Long)].collect().toSet
    assert(all(mor) === all(cow))
    assert(segsBefore.subsetOf(segDirs(mor)))
    // component zone maps still prune exactly through the delta state
    val ranged = CommittedTable.readRangeMulti(spark, mor,
      Seq(("day", Some("2024-01-03"), Some("2024-01-03"))))
    assert(ranged.select($"id").as[Long].collect().toSet === Set(9L))
    assert(CommittedTable.count(spark, mor) === 5L)
  }

  test("readAmplifiedPartitions flags dead-row buildup; optimize's " +
      "dead-ratio knob compacts it away") {
    val dir = freshDir("deadratio")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    // MoR-delete 2 of A's 3 rows: dead ratio 2/3 > 0.5; B loses 1 of 2
    // (0.5, NOT > 0.5); C untouched
    CommittedTable.deleteMor(spark, dir, $"id".isin(1L, 2L, 4L), "status")
    assert(CommittedTable.readAmplifiedPartitions(spark, dir) === Seq("A"))
    assert(CommittedTable.readAmplifiedPartitions(spark, dir,
      maxDeadRatio = 0.4) === Seq("A", "B"))
    // file counts alone would never select these (one tidy file each)
    assert(CommittedTable.fragmentedPartitions(spark, dir, maxFiles = 2)
      === Nil)
    val before = rows(dir)
    spark.sql(s"CALL graft.optimize(table => '$dir', max_files => 2, " +
      "max_dead_ratio => 0.4D)")
    assert(rows(dir) === before)
    assert(CommittedTable.readAmplifiedPartitions(spark, dir,
      maxDeadRatio = 0.4) === Nil)
  }

  test("the SQL gates' MoR routing witness is falsifiable: the same " +
      "manifest predicate flips FALSE under a copy-on-write route") {
    val dir = freshDir("witness")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    // forced CoW: CommittedTable.delete rewrites the touched partition's
    // base segment and publishes NO delta entries — exactly the silent
    // regression the q175/q176/q177/q182 witness must catch. Old segment
    // dirs DO survive on disk (retained anchors), so a directory-survival
    // witness would pass here; the manifest one must not.
    val beforeCow = CommittedTable.manifestAt(spark, dir).segments
    CommittedTable.delete(spark, dir, col("id") === 2L, "status")
    assert(!graft.queries.SqlSurface.morWitness(spark, dir, beforeCow),
      "a copy-on-write rewrite must fail the MoR witness")
    // and from the same starting state the gates' actual route (a MoR
    // merge: delta segment + vector, bases untouched) satisfies it
    val beforeMor = CommittedTable.manifestAt(spark, dir).segments
    CommittedTable.mergeMor(spark, dir,
      Seq((4L, "B", 44.0, 2L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    assert(graft.queries.SqlSurface.morWitness(spark, dir, beforeMor))
    // a compaction (materializes the delta state, repoints bases) is a
    // rewrite too: the witness correctly refuses to certify it as MoR
    val beforeOpt = CommittedTable.manifestAt(spark, dir).segments
    CommittedTable.compactPartitions(spark, dir,
      CommittedTable.manifestAt(spark, dir).segments.keys.toSeq.sorted)
    assert(!graft.queries.SqlSurface.morWitness(spark, dir, beforeOpt))
  }

  test("dead ratio is measured against LIVE PHYSICAL rows (base + " +
      "delta), not base alone — delta-heavy partitions are not " +
      "over-selected") {
    val dir = freshDir("deadratio-delta")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    // grow A by 3 NEW keys (insert-only MoR merge: pure delta, no dv) —
    // A now holds 3 base + 3 delta physical rows
    CommittedTable.mergeMor(spark, dir,
      Seq((10L, "A", 100.0, 1L), (11L, "A", 110.0, 1L),
        (12L, "A", 120.0, 1L)).toDF("id", "status", "value", "version"),
      "id", "version", "status")
    // MoR-delete 3 of A's 6 rows: dead ratio vs base alone would be
    // 3/3 = 1.0 (> any threshold); vs live physical it is 3/6 = 0.5
    CommittedTable.deleteMor(spark, dir, $"id".isin(1L, 2L, 3L), "status")
    assert(CommittedTable.count(spark, dir, Some(Seq("A"))) === 3L)
    // 0.5 is NOT > 0.5: base-only accounting would wrongly flag A
    assert(CommittedTable.readAmplifiedPartitions(spark, dir) === Nil)
    // and the ratio still fires once it truly crosses the knob
    assert(CommittedTable.readAmplifiedPartitions(spark, dir,
      maxDeadRatio = 0.4) === Seq("A"))
  }

  test("accumulation: 20 MoR merges stack deltas + a folded vector; " +
      "reads, counts, SQL time travel and optimize stay exact") {
    val dir = freshDir("stack")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"),
      statsCols = Seq("value"), retainGenerations = 25)
    // 20 micro-upserts of the same key: each supersedes the previous
    // delta image (positions in DELTA files fold into the vector)
    for (v <- 2L to 21L)
      CommittedTable.mergeMor(spark, dir,
        Seq((2L, "A", 20.0 + v, v)).toDF("id", "status", "value", "version"),
        "id", "version", "status")
    assert(rows(dir).contains((2L, "A", 41.0, 21L)))
    assert(CommittedTable.count(spark, dir) === 6L)
    assert(CommittedTable.count(spark, dir, Some(Seq("A"))) === 3L)
    // SQL reads the stacked state and time-travels into the middle of it
    assert(spark.sql(s"SELECT value FROM graft.`$dir` WHERE id = 2")
      .as[Double].head === 41.0)
    // generation g published the version-g upsert: value = 20 + g
    assert(spark.sql(
      s"SELECT value FROM graft.`$dir` VERSION AS OF 11 WHERE id = 2")
      .as[Double].head === 31.0)
    // the backlog is visible and one optimize collapses 20 generations
    // of state back to one segment per partition
    assert(CommittedTable.fragmentedPartitions(spark, dir, maxFiles = 4)
      === Seq("A"))
    spark.sql(s"CALL graft.optimize(table => '$dir', max_files => 4)")
    assert(CommittedTable.fragmentedPartitions(spark, dir, maxFiles = 1)
      === Nil)
    assert(rows(dir).contains((2L, "A", 41.0, 21L)))
    assert(CommittedTable.count(spark, dir) === 6L)
  }

  test("a partition fully drained by its vector RETIRES under " +
      "compaction instead of throwing (the optimize loop-breaker)") {
    val dir = freshDir("drained")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"))
    // C has one row: the takedown empties it MoR-style
    CommittedTable.deleteMor(spark, dir, $"status" === "C", "status")
    assert(CommittedTable.count(spark, dir, Some(Seq("C"))) === 0L)
    assert(CommittedTable.readAmplifiedPartitions(spark, dir) === Seq("C"))
    // optimize (dead-ratio selector) must retire C, not throw forever
    spark.sql(s"CALL graft.optimize(table => '$dir', max_files => 99)")
    val m1 = {
      val p = new org.apache.hadoop.fs.Path(dir)
      CommittedTable.readManifest(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).get
    }
    assert(!m1.segments.contains("C"))
    assert(rows(dir).map(_._1) === Set(1L, 2L, 3L, 4L, 5L))
    // it no longer selects: the second call is a no-op
    val g = CommittedTable.history(spark, dir).last.gen
    spark.sql(s"CALL graft.optimize(table => '$dir', max_files => 99)")
    assert(CommittedTable.history(spark, dir).last.gen === g)
    // whole-table compact and z-order tolerate a drained partition too
    val dir2 = freshDir("drained2")
    CommittedTable.write(base(), dir2, "status",
      keyCol = Some("id"), versionCol = Some("version"),
      statsCols = Seq("id", "value"))
    CommittedTable.deleteMor(spark, dir2, $"status" === "C", "status")
    CommittedTable.compact(spark, dir2, "status")
    assert(rows(dir2).map(_._1) === Set(1L, 2L, 3L, 4L, 5L))
    CommittedTable.deleteMor(spark, dir2, $"status" === "B", "status")
    CommittedTable.compactZOrder(spark, dir2, "status",
      Seq("id", "value"), 8)
    assert(rows(dir2).map(_._1) === Set(1L, 2L, 3L))
  }

  test("delta dirs of aged-out generations are garbage-collected once " +
      "materialized and out of retention") {
    val dir = freshDir("gc")
    CommittedTable.write(base(), dir, "status",
      keyCol = Some("id"), versionCol = Some("version"),
      retainGenerations = 2)
    val segsBefore = segDirs(dir)
    CommittedTable.mergeMor(spark, dir,
      Seq((2L, "A", 21.0, 2L)).toDF("id", "status", "value", "version"),
      "id", "version", "status") // gen 2: delta + dv
    val deltaDir = (segDirs(dir) -- segsBefore).head
    CommittedTable.compact(spark, dir, "status") // gen 3 materializes
    // gen 2's anchor still references the delta: protected while retained
    assert(segDirs(dir).contains(deltaDir))
    CommittedTable.merge(spark, dir,
      Seq((5L, "B", 51.0, 2L)).toDF("id", "status", "value", "version"),
      "id", "version", "status") // gen 4: gen 2 falls out of retention
    CommittedTable.merge(spark, dir,
      Seq((5L, "B", 52.0, 3L)).toDF("id", "status", "value", "version"),
      "id", "version", "status") // gen 5: sweeps
    assert(!segDirs(dir).contains(deltaDir),
      "aged delta dir was never collected")
    assert(rows(dir).contains((2L, "A", 21.0, 2L)))
  }
}
