package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

import graft.sources.CommittedTable

/** Unwrap a (possibly aliased) reference to a committed table. */
private[sql] object GraftRel {
  def unapply(plan: LogicalPlan): Option[(DataSourceV2Relation, GraftTableV2)] =
    plan match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTableV2 => Some((r, t))
        case _ => None
      }
      case SubqueryAlias(_, child) => unapply(child)
      case _ => None
    }
}

/** The committed-table SQL front end, injected as a resolution rule
  * (`GraftExtensions`):
  *
  *  - every read reference (`SELECT`, a `MERGE` source, a subquery) to a
  *    [[GraftTableV2]] is substituted with a NATIVE parquet relation over
  *    a [[GraftFileIndex]] manifest snapshot — whole-stage-codegen'd
  *    vectorized scan, pushed filters, and manifest/zone-map segment
  *    pruning, identical plan shape to the Scala read path;
  *  - `DELETE FROM` / `UPDATE` / `MERGE INTO` / `INSERT INTO` become
  *    [[GraftDmlCommand]]s that call the same `CommittedTable` verbs as
  *    the Scala API, so they run its one row-level core: the verb works
  *    out the rows it retires and the rows it writes, then a
  *    copy-on-write publish (restage the affected partitions) or, under
  *    TBLPROPERTIES 'deletemode'/'updatemode' = 'mor', a merge-on-read
  *    publish (deletion vector + delta segments) makes them one
  *    generation. SQL writes thereby inherit atomic publish, generation
  *    fencing, retention, zone-map upkeep and CDC visibility
  *    (GraftCatalogSpec races a SQL DELETE against a Scala merge to pin
  *    the fencing).
  *
  * Routing needs the table-role metadata from the manifest: the
  * partition column for every verb, key/version for MERGE (and the
  * version-bump guard for UPDATE). Conditions/assignments are rebound by
  * NAME (attribute references → `UnresolvedAttribute`) so the command
  * can re-resolve them against the table read it performs at execution
  * time; subqueries inside DML conditions are rejected loudly.
  *
  * Firing inside the resolution fixed point (guarded on `resolved`)
  * pre-empts both the row-level-operation rewrites and the capability
  * checks that would otherwise reject a table that declares no DSv2
  * read/write capabilities. */
final case class GraftAnalysis(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(GraftRel(_, t), cond)
        if d.childrenResolved && cond.resolved =>
      val pc = partitionColOf(t, "DELETE FROM")
      // TBLPROPERTIES 'deletemode'='mor' routes through deletion vectors
      // (O(deleted rows) written, zero segments rewritten)
      val mor = t.manifest.deleteMode.contains("mor")
      GraftDmlCommand(s"DELETE FROM ${t.name()}", { s =>
        if (mor)
          CommittedTable.deleteMor(s, t.path, bridge.column(unresolve(cond)), pc)
        else
          CommittedTable.delete(s, t.path, bridge.column(unresolve(cond)), pc)
      })
    // an in-progress DML statement keeps its v2 target until the routing
    // case above can fire — the generic substitution below must never
    // strip the relation out from under it
    case d: DeleteFromTable => d

    case u @ UpdateTable(GraftRel(_, t), assignments, cond)
        if u.childrenResolved && assignments.forall(_.resolved) &&
          cond.forall(_.resolved) =>
      val pc = partitionColOf(t, "UPDATE")
      val assigns = assignments.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => fail(s"UPDATE ${t.name()}: cannot assign to " +
            s"${other.sql} — only plain columns are assignable")
        }
        name -> unresolve(a.value)
      }
      val condExpr = cond.map(unresolve)
      // TBLPROPERTIES 'updatemode'='mor' routes through a deletion
      // vector + delta segment (O(matched rows) written, zero partitions
      // rewritten)
      val updMor = t.manifest.updateMode.contains("mor")
      GraftDmlCommand(s"UPDATE ${t.name()}", { s =>
        val c = condExpr.map(bridge.column)
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        val a = assigns.map { case (n, e) => n -> bridge.column(e) }.toMap
        if (updMor)
          CommittedTable.updateMor(s, t.path, c, a, pc,
            versionCol = t.manifest.verCol)
        else
          CommittedTable.update(s, t.path, c, a, pc,
            versionCol = t.manifest.verCol)
      })
    case u: UpdateTable => u

    case mi: MergeIntoTable if mi.resolved =>
      GraftRel.unapply(mi.targetTable) match {
        case Some((_, t)) => routeMerge(mi, t)
        case None => mi
      }
    // graft relations in the merge SOURCE stay v2 through analysis; the
    // routed command re-analyzes the source plan at execution, where the
    // generic substitution applies to them
    case mi: MergeIntoTable
        if GraftRel.unapply(mi.targetTable).isDefined => mi

    // CREATE TABLE … PARTITIONED BY (p) [TBLPROPERTIES(…)] AS SELECT …:
    // routed into ONE CommittedTable.write (atomic first publish) — fired
    // at resolution, pre-empting the default CTAS path that would demand
    // createTable + append capabilities this catalog deliberately lacks.
    // Table roles ride TBLPROPERTIES: keycol/vercol (enables later routed
    // MERGE/INSERT and CDC), statscols (zone maps), bloomcols (sidecars),
    // retain (generation retention).
    case ctas @ CreateTableAsSelect(
        org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
          cat: GraftCatalog, ident),
        partitioning, query, ts, _, ignoreIfExists, _) if query.resolved =>
      val path = cat.tablePath(ident)
      val props = ts match {
        case t: TableSpec => t.properties
        case _ => Map.empty[String, String]
      }
      def propList(k: String): Seq[String] =
        props.get(k).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      // PARTITIONED BY (a) → plain single-column table; PARTITIONED BY
      // (a, b, …) → the composite convention (writeComposite): one
      // reversible composite data column (`part_key`), components doubling
      // as zone-map stats columns, so SELECTs prune EXACTLY on any
      // component subset (q148) and routed DML scopes by the key
      val pcs: Seq[String] = partitioning.toList match {
        case ids if ids.nonEmpty && ids.forall(id =>
            id.name == "identity" && id.references.length == 1 &&
              id.references.head.fieldNames.length == 1) =>
          ids.map(_.references.head.fieldNames.head)
        case Nil => fail(
          s"CREATE TABLE ${ident} AS SELECT needs PARTITIONED BY " +
            "(<columns>): a committed table is partition-scoped by contract")
        case other => fail(
          s"CREATE TABLE ${ident} AS SELECT: only identity partition " +
            s"columns are supported, got ${other.map(_.describe).mkString(", ")}")
      }
      val unknown = props.keySet --
        Set("keycol", "vercol", "statscols", "bloomcols", "retain",
          "buckets", "bucketcols", "deletemode", "updatemode", "clusterby",
          "clusterfiles") --
        props.keySet.filter(_.startsWith("option.")) --
        props.keySet.filter(_.startsWith("check:"))
      if (unknown.nonEmpty) fail(
        s"CREATE TABLE ${ident}: unknown TBLPROPERTIES ${unknown.mkString(", ")}" +
          " (supported: keycol, vercol, statscols, bloomcols, retain, " +
          "buckets + bucketcols, deletemode, updatemode, clusterby + " +
          "clusterfiles, check:<name>)")
      val ctasBuckets: Option[(Int, Seq[String])] =
        (props.get("buckets"), propList("bucketcols")) match {
          case (Some(n), cs) if cs.nonEmpty => Some((n.toInt, cs))
          case (None, Nil) => None
          case _ => fail(s"CREATE TABLE ${ident}: buckets and bucketcols " +
            "must be declared together ('buckets'='8', 'bucketcols'='k')")
        }
      val ctasChecks: Seq[(String, String)] = props.toSeq.collect {
        case (k, v) if k.startsWith("check:") && v.trim.nonEmpty =>
          (k.substring("check:".length), v) }
      val ctasDelMode = props.get("deletemode").map(_.trim).filter(_.nonEmpty)
      val ctasUpdMode = props.get("updatemode").map(_.trim).filter(_.nonEmpty)
      val ctasCluster: Option[(Seq[String], Int)] =
        propList("clusterby") match {
          case cs if cs.nonEmpty => Some((cs,
            props.get("clusterfiles").map(_.trim.toInt).getOrElse(4)))
          case _ => None
        }
      ctasDelMode.foreach(v => if (!Set("cow", "mor")(v)) fail(
        s"CREATE TABLE ${ident}: deletemode must be 'cow' or 'mor', got $v"))
      ctasUpdMode.foreach(v => if (!Set("cow", "mor")(v)) fail(
        s"CREATE TABLE ${ident}: updatemode must be 'cow' or 'mor', got $v"))
      GraftDmlCommand(s"CREATE TABLE $path AS SELECT", { s =>
        val t = new Path(path)
        val fs = t.getFileSystem(s.sparkContext.hadoopConfiguration)
        def applyDelMode(): Unit = {
          ctasDelMode.foreach(v => CommittedTable.setDeleteMode(s, path, Some(v)))
          ctasUpdMode.foreach(v => CommittedTable.setUpdateMode(s, path, Some(v)))
          ctasCluster.foreach(c => CommittedTable.setClustering(s, path, Some(c)))
        }
        if (CommittedTable.readManifestRoot(fs, t).isDefined) {
          if (!ignoreIfExists) fail(
            s"$path already holds a committed table — CREATE TABLE IF NOT " +
              "EXISTS to no-op, or MERGE/INSERT/DML to change it")
        } else if (pcs.size == 1) {
          CommittedTable.write(bridge.ofRows(s, query), path, pcs.head,
            retainGenerations = props.get("retain").map(_.toInt).getOrElse(2),
            statsCols = propList("statscols"),
            keyCol = props.get("keycol"),
            versionCol = props.get("vercol"),
            bloomCols = propList("bloomcols"),
            checks = ctasChecks,
            bucketBy = ctasBuckets)
          applyDelMode()
        } else {
          CommittedTable.writeComposite(bridge.ofRows(s, query), path, pcs,
            retainGenerations = props.get("retain").map(_.toInt).getOrElse(2),
            statsCols = propList("statscols"),
            keyCol = props.get("keycol"),
            versionCol = props.get("vercol"),
            bloomCols = propList("bloomcols"),
            checks = ctasChecks)
          applyDelMode()
        }
      })
    // an in-progress CTAS keeps its unresolved name until the case above
    // can fire
    case ctas: CreateTableAsSelect
        if ctas.name.collectFirst {
          case org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
            _: GraftCatalog, _) => ()
        }.isDefined => ctas

    // [CREATE OR] REPLACE TABLE … AS SELECT: one atomic full-generation
    // overwrite (CommittedTable.overwrite) — history inside the retention
    // window stays time-travelable across the replace, the feed sees one
    // generation's diff, fencing is merge's. Roles inherit from the
    // current manifest unless re-declared via TBLPROPERTIES; a missing
    // table is created when OR CREATE was said, else fails loudly.
    case rtas @ ReplaceTableAsSelect(
        org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
          cat: GraftCatalog, ident),
        partitioning, query, ts, _, orCreate, _) if query.resolved =>
      val path = cat.tablePath(ident)
      val props = ts match {
        case t: TableSpec => t.properties
        case _ => Map.empty[String, String]
      }
      def propList(k: String): Option[Seq[String]] =
        props.get(k).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      val pcOpt = partitioning.toList match {
        case id :: Nil if id.name == "identity" &&
            id.references.length == 1 &&
            id.references.head.fieldNames.length == 1 =>
          Some(id.references.head.fieldNames.head)
        case Nil => None // inherit the current partition column
        case other => fail(
          s"REPLACE TABLE ${ident} AS SELECT: only ONE identity partition " +
            s"column is supported, got ${other.map(_.describe).mkString(", ")}")
      }
      val unknown = props.keySet --
        Set("keycol", "vercol", "statscols", "bloomcols", "retain") --
        props.keySet.filter(_.startsWith("option."))
      if (unknown.nonEmpty) fail(
        s"REPLACE TABLE ${ident}: unknown TBLPROPERTIES " +
          s"${unknown.mkString(", ")} (supported: keycol, vercol, " +
          "statscols, bloomcols, retain)")
      GraftDmlCommand(s"REPLACE TABLE $path AS SELECT", { s =>
        val t = new Path(path)
        val fs = t.getFileSystem(s.sparkContext.hadoopConfiguration)
        val df = bridge.ofRows(s, query)
        if (CommittedTable.readManifestRoot(fs, t).isDefined)
          CommittedTable.overwrite(df, path,
            partitionCol = pcOpt,
            statsCols = propList("statscols"),
            keyCol = props.get("keycol"),
            versionCol = props.get("vercol"),
            bloomCols = propList("bloomcols"))
        else if (orCreate)
          CommittedTable.write(df, path,
            pcOpt.getOrElse(fail(
              s"CREATE OR REPLACE of the NEW table $path needs " +
                "PARTITIONED BY (<one column>)")),
            retainGenerations = props.get("retain").map(_.toInt).getOrElse(2),
            statsCols = propList("statscols").getOrElse(Nil),
            keyCol = props.get("keycol"),
            versionCol = props.get("vercol"),
            bloomCols = propList("bloomcols").getOrElse(Nil))
        else fail(
          s"REPLACE TABLE: no committed table at $path — say CREATE OR " +
            "REPLACE to create it")
      })
    case rtas: ReplaceTableAsSelect
        if rtas.name.collectFirst {
          case org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
            _: GraftCatalog, _) => ()
        }.isDefined => rtas

    case a @ AppendData(GraftRel(_, t), query, _, _, _, _)
        if query.resolved && a.outputResolved =>
      val pc = partitionColOf(t, "INSERT INTO")
      val (key, ver) = keyVersionOf(t, "INSERT INTO")
      val cols = t.tableSchema.fieldNames.toSeq
      GraftDmlCommand(s"INSERT INTO ${t.name()}", { s =>
        // INSERT routes through merge: committed tables are keyed, so an
        // insert IS an idempotent latest-version-wins upsert (documented;
        // duplicate-key appends are not a thing a keyed lakehouse offers)
        CommittedTable.merge(s, t.path,
          bridge.ofRows(s, query).toDF(cols: _*), key, ver, pc)
      })
    case a: AppendData if GraftRel.unapply(a.table).isDefined => a

    // INSERT OVERWRITE, static mode (the default): no PARTITION clause
    // resolves to deleteExpr=true — a full-content REPLACE through
    // CommittedTable.overwrite (roles and partition column inherit);
    // PARTITION (pc = v) resolves to a null-safe equality on the
    // partition column and every query row carries the static value —
    // exactly a one-partition dynamic overwrite, routed as such. Any
    // other overwrite condition has no sound mapping onto
    // partition-wholesale replacement and fails naming the three
    // supported forms.
    case o @ OverwriteByExpression(GraftRel(_, t), deleteExpr, query,
        _, _, _, _)
        if query.resolved && o.outputResolved && deleteExpr.resolved =>
      val pc = partitionColOf(t, "INSERT OVERWRITE")
      val cols = t.tableSchema.fieldNames.toSeq
      deleteExpr match {
        case Literal(true, _) =>
          GraftDmlCommand(s"INSERT OVERWRITE ${t.name()}", { s =>
            CommittedTable.overwrite(bridge.ofRows(s, query).toDF(cols: _*),
              t.path)
          })
        case EqualNullSafe(a: AttributeReference, v)
            if a.name == pc && v.foldable =>
          GraftDmlCommand(s"INSERT OVERWRITE ${t.name()} PARTITION ($pc)", { s =>
            CommittedTable.overwritePartitions(
              bridge.ofRows(s, query).toDF(cols: _*), t.path)
          })
        case other => fail(
          s"INSERT OVERWRITE ${t.name()}: unsupported overwrite condition " +
            s"${other.sql}; supported: full-table overwrite (no PARTITION " +
            s"clause, static mode), PARTITION ($pc = <value>), or dynamic " +
            "partition overwrite (SET spark.sql.sources." +
            "partitionOverwriteMode=dynamic)")
      }
    case o: OverwriteByExpression if GraftRel.unapply(o.table).isDefined => o

    // INSERT OVERWRITE under partitionOverwriteMode=dynamic: replace
    // exactly the partitions present in the query result, carry every
    // other partition's files forward untouched — the backfill verb.
    case o @ OverwritePartitionsDynamic(GraftRel(_, t), query, _, _, _)
        if query.resolved && o.outputResolved =>
      partitionColOf(t, "INSERT OVERWRITE (dynamic)")
      val cols = t.tableSchema.fieldNames.toSeq
      GraftDmlCommand(s"INSERT OVERWRITE ${t.name()} (dynamic)", { s =>
        CommittedTable.overwritePartitions(
          bridge.ofRows(s, query).toDF(cols: _*), t.path)
      })
    case o: OverwritePartitionsDynamic
        if GraftRel.unapply(o.table).isDefined => o

    case other =>
      other.transformUpWithSubqueries {
        case GraftRel(r, t) => substitute(r, t)
      }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  private def partitionColOf(t: GraftTableV2, verb: String): String =
    t.manifest.partitionCol.getOrElse(fail(
      s"$verb on ${t.name()}: the manifest records no partition column " +
        "(pre-metadata table) — re-publish via CommittedTable.write/merge " +
        "to record it"))

  private def keyVersionOf(t: GraftTableV2, verb: String): (String, String) =
    (t.manifest.keyCol, t.manifest.verCol) match {
      case (Some(k), Some(v)) => (k, v)
      case _ => fail(
        s"$verb on ${t.name()}: the manifest records no key/version " +
          "columns — declare them at CommittedTable.write(keyCol=…, " +
          "versionCol=…) or run one Scala merge to backfill them")
    }

  /** Rebind a resolved condition/assignment value by NAME so it
    * re-resolves against the committed-table read the command performs
    * at execution time (exprIds from analysis would dangle there). */
  private def unresolve(e: Expression): Expression = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      fail(s"subqueries are not supported in committed-table DML " +
        s"conditions: ${e.sql}")
    e.transform { case a: AttributeReference => UnresolvedAttribute.quoted(a.name) }
  }

  /** MERGE routing. The canonical upsert — `ON t.key = s.key WHEN
    * MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` — routes
    * to `CommittedTable.merge` (latest-version-wins arbitration by the
    * table's declared key/version, widening allowed). Every other clause
    * shape — conditional UPDATE/DELETE chains, partial-column SET,
    * conditional INSERTs, WHEN NOT MATCHED BY SOURCE — routes to
    * `CommittedTable.mergeClauses` (first-true-wins SQL semantics;
    * source must be unique per key, and on a version-consuming table
    * every writing clause must assign the version column — the command
    * fails loudly naming the remedy otherwise). */
  private def routeMerge(mi: MergeIntoTable, t: GraftTableV2): LogicalPlan = {
    val pc = partitionColOf(t, "MERGE INTO")
    val key = t.manifest.keyCol.getOrElse(fail(
      s"MERGE INTO ${t.name()}: the manifest records no key column — " +
        "declare it at CommittedTable.write(keyCol=…) or via " +
        "SET TBLPROPERTIES('keycol'=…)"))
    // analysis may wrap either side in an implicit widening cast (a
    // source key narrower than the table's); the routed merge re-derives
    // the comparison itself, so the cast is shape noise here
    def stripKeyCast(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => stripKeyCast(c)
      case other => other
    }
    val keyEquality = mi.mergeCondition match {
      case EqualTo(l, r) => (stripKeyCast(l), stripKeyCast(r)) match {
        case (a: AttributeReference, b: AttributeReference) =>
          a.name == key && b.name == key
        case _ => false
      }
      case _ => false
    }
    mi.mergeCondition match {
      case _ if keyEquality => ()
      case other => fail(
        s"MERGE INTO ${t.name()}: ON must be equality on the table's " +
          s"declared key column '$key', got ${other.sql} (put extra " +
          "predicates in the WHEN clauses' AND conditions)")
    }
    val srcAttrs = mi.sourceTable.outputSet
    val tgtAttrs = mi.targetTable.outputSet
    // assignment alignment may wrap the source side in a no-op cast
    def stripCast(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => stripCast(c)
      case other => other
    }
    def isFullRowByName(assigns: Seq[Assignment]): Boolean = {
      val targets = assigns.flatMap(_.key match {
        case ar: AttributeReference => Some(ar.name)
        case _ => None
      })
      assigns.forall { asg =>
        (asg.key, stripCast(asg.value)) match {
          case (k: AttributeReference, v: AttributeReference) =>
            k.name == v.name && srcAttrs.contains(v)
          case _ => false
        }
      } && targets.toSet == t.tableSchema.fieldNames.toSet
    }
    val canonical = mi.notMatchedBySourceActions.isEmpty &&
      (mi.matchedActions match {
        case Seq(UpdateAction(None, assigns, _)) => isFullRowByName(assigns)
        case _ => false
      }) &&
      (mi.notMatchedActions match {
        case Seq(InsertAction(None, assigns)) => isFullRowByName(assigns)
        case _ => false
      })
    val source = mi.sourceTable
    if (canonical) {
      val (k, ver) = keyVersionOf(t, "MERGE INTO")
      val cols = t.tableSchema.fieldNames.toSeq
      GraftDmlCommand(s"MERGE INTO ${t.name()}", { s =>
        val src = bridge.ofRows(s, source)
          .select(cols.map(org.apache.spark.sql.functions.col): _*)
        CommittedTable.merge(s, t.path, src, k, ver, pc)
      })
    } else {
      // rebind each clause expression into mergeClauses' two-sided
      // namespace: source attrs → s.<name>, target attrs → t.<name>
      // (by exprId, so same-named columns land on the right side)
      def rebind2(e: Expression): org.apache.spark.sql.Column = {
        if (e.exists(_.isInstanceOf[SubqueryExpression]))
          fail(s"subqueries are not supported in MERGE clause " +
            s"conditions/values: ${e.sql}")
        bridge.column(e.transform {
          case a: AttributeReference if srcAttrs.contains(a) =>
            UnresolvedAttribute(Seq("s", a.name))
          case a: AttributeReference if tgtAttrs.contains(a) =>
            UnresolvedAttribute(Seq("t", a.name))
        })
      }
      def setOf(assigns: Seq[Assignment], what: String)
          : Map[String, org.apache.spark.sql.Column] =
        assigns.map { asg =>
          asg.key match {
            case ar: AttributeReference => ar.name -> rebind2(asg.value)
            case other => fail(s"MERGE INTO ${t.name()}: $what supports " +
              s"only top-level column assignments, got ${other.sql}")
          }
        }.toMap
      val matchedClauses: Seq[CommittedTable.MatchedClause] =
        mi.matchedActions.map {
          case UpdateAction(c, assigns, _) => CommittedTable.MatchedUpdate(
            c.map(rebind2), setOf(assigns, "WHEN MATCHED UPDATE"))
          case DeleteAction(c) => CommittedTable.MatchedDelete(c.map(rebind2))
          case other => fail(s"MERGE INTO ${t.name()}: unsupported WHEN " +
            s"MATCHED action ${other.getClass.getSimpleName}")
        }
      val insertClauses: Seq[CommittedTable.NotMatchedInsert] =
        mi.notMatchedActions.map {
          case InsertAction(c, assigns) => CommittedTable.NotMatchedInsert(
            c.map(rebind2), setOf(assigns, "WHEN NOT MATCHED INSERT"))
          case other => fail(s"MERGE INTO ${t.name()}: unsupported WHEN " +
            s"NOT MATCHED action ${other.getClass.getSimpleName}")
        }
      val bySourceClauses: Seq[CommittedTable.BySourceClause] =
        mi.notMatchedBySourceActions.map {
          case UpdateAction(c, assigns, _) => CommittedTable.BySourceUpdate(
            c.map(rebind2),
            setOf(assigns, "WHEN NOT MATCHED BY SOURCE UPDATE"))
          case DeleteAction(c) => CommittedTable.BySourceDelete(c.map(rebind2))
          case other => fail(s"MERGE INTO ${t.name()}: unsupported WHEN " +
            s"NOT MATCHED BY SOURCE action ${other.getClass.getSimpleName}")
        }
      // TBLPROPERTIES 'updatemode'='mor' buys the whole clause surface
      // the merge-on-read cost shape (vector + delta segments,
      // O(claimed + written rows) published)
      val clausesMor = t.manifest.updateMode.contains("mor")
      GraftDmlCommand(s"MERGE INTO ${t.name()} (clauses)", { s =>
        if (clausesMor)
          CommittedTable.mergeClausesMor(s, t.path, bridge.ofRows(s, source),
            matchedClauses, insertClauses, bySourceClauses)
        else
          CommittedTable.mergeClauses(s, t.path, bridge.ofRows(s, source),
            matchedClauses, insertClauses, bySourceClauses)
      })
    }
  }

  /** Read substitution: the v2 relation becomes a native parquet
    * [[LogicalRelation]] over a [[GraftFileIndex]] built from the table's
    * manifest snapshot; an aliasing Project pins the original exprIds so
    * every already-resolved reference above keeps working. */
  private def substitute(r: DataSourceV2Relation, t: GraftTableV2): LogicalPlan = {
    val index = new GraftFileIndex(spark, new Path(t.path), t.manifest,
      t.tableSchema)
    // the manifest's partition column is a REAL partition column of the
    // relation (dataSchema excludes it; each PartitionDirectory carries
    // its value) so static partition filters AND dynamic partition
    // pruning flow through Spark's standard machinery; the by-name
    // Project below restores the table's declared column order
    val partSchema = index.partitionSchema
    // metadata-only renames: unrewritten files carry a FORMER name, so the
    // physical data schema also requests the old names (typed as the
    // current column) and the pinning Project below coalesces
    // newest-name-first — the SQL twin of the Scala read's projection
    val renames = t.manifest.renames
    val renamedFields = renames.toSeq.flatMap { case (cur, olds) =>
      t.tableSchema.fields.find(_.name == cur).toSeq.flatMap(f =>
        olds.map(o => f.copy(name = o, nullable = true))) }
    val dataSchema = StructType(t.tableSchema.fields.filterNot(f =>
      partSchema.fieldNames.contains(f.name)) ++ renamedFields)
    // a bucketed table's manifest carries its BucketSpec: the planner
    // then reports HashPartitioning(bucketCols, n) for this scan, and a
    // join/aggregation on the bucket columns between two same-bucketed
    // committed tables needs NO shuffle exchange on either side — the
    // file-name _NNNNN suffixes written by the bucketed staging are what
    // FileSourceScanExec groups by
    val bucketSpec = t.manifest.bucketing.map { case (n, cs) =>
      org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cs, Nil) }
    val fsRelation = HadoopFsRelation(index, partSchema, dataSchema,
      bucketSpec, new ParquetFileFormat(), Map.empty)(spark)
    // hand the cost-based optimizer real statistics: EXACT row count from
    // the manifest (root shard totals or per-partition counts) and
    // approximate per-column distinct counts from the table's ANALYZE
    // metadata (CALL graft.analyze). With cbo/joinReorder enabled, a
    // multi-join over committed tables then reorders by estimated
    // intermediate size; without stats the relation falls back to
    // sizeInBytes (the q150 auto-broadcast path, unchanged).
    val rowCount: Option[Long] = index.totalRowCount
    val catalogTable = rowCount.map { n =>
      import org.apache.spark.sql.catalyst.TableIdentifier
      import org.apache.spark.sql.catalyst.catalog._
      val colStats = t.manifest.ndv.collect {
        case (c, d) if t.tableSchema.fieldNames.contains(c) =>
          c -> CatalogColumnStat(distinctCount = Some(BigInt(d)))
      }
      CatalogTable(
        identifier = TableIdentifier(t.path),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty,
        schema = t.tableSchema,
        provider = Some("parquet"),
        stats = Some(CatalogStatistics(BigInt(index.sizeInBytes),
          Some(BigInt(n)), colStats)))
    }
    val lr = catalogTable match {
      case Some(ct) => LogicalRelation(fsRelation, ct)
      case None => LogicalRelation(fsRelation)
    }
    // a table carrying LIVE deletion vectors ([[CommittedTable.deleteMor]])
    // reads through a (file, row_index) anti-join — built with the
    // DataFrame API over the SAME pruned relation so `_metadata` resolves
    // through the standard machinery; partition pruning, pushdown and
    // DPP still reach the underlying scan (predicates push through the
    // left side of a left-anti join), and the vector side broadcasts at
    // its usual size. Tables without vectors skip this entirely.
    val child: LogicalPlan =
      if (!index.hasLiveDvs) lr
      else {
        import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
        val inner = org.apache.spark.sql.GraftSqlBridge
          .ofRows(spark, lr)
          .withColumn("__gdv_file",
            fexpr("substring_index(_metadata.file_path, '/', -2)"))
          .withColumn("__gdv_pos", fcol("_metadata.row_index"))
        // dv files carry exactly (file, pos) — typed statically, no
        // schema-inference footer sweep per SQL read of a dv'd table
        val dv = spark.read
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "file STRING, pos BIGINT"))
          .parquet(index.liveDvPaths: _*)
          .select(fcol("file").as("__gdv_f2"), fcol("pos").as("__gdv_p2"))
        inner.join(dv,
            inner("__gdv_file") === dv("__gdv_f2") &&
              inner("__gdv_pos") === dv("__gdv_p2"),
            "left_anti")
          .drop("__gdv_file", "__gdv_pos")
          .queryExecution.analyzed
      }
    val byName = child.output.map(a => a.name -> a).toMap
    Project(r.output.map { o =>
      val e: Expression = renames.get(o.name) match {
        case Some(olds) =>
          org.apache.spark.sql.catalyst.expressions.Coalesce(
            (o.name +: olds).map(byName))
        case None => byName(o.name)
      }
      Alias(e, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }, child)
  }
}

/** A routed committed-table DML statement: runs the Scala protocol on
  * the session, returns no rows. The closure carries only
  * name-unresolved expressions, so execution re-resolves them against
  * the table's own read. */
final case class GraftDmlCommand(description: String,
    body: SparkSession => Unit) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = { body(session); Nil }
  override def simpleString(maxFields: Int): String =
    s"GraftDmlCommand [$description]"
}

/** Manifest-fed metadata aggregates: a groupless `COUNT(*)` / `MIN(c)` /
  * `MAX(c)` aggregate over a committed-table scan collapses to a
  * [[LocalRelation]] computed from the MANIFEST alone — row counts from
  * the per-partition `rows=` lines (the SQL twin of
  * `CommittedTable.count`, the q139 move) and column extremes from the
  * zone maps (per-segment min/max are EXACT, computed from the staged
  * files at publish, so their fold over live segments IS the table's
  * min/max — the Iceberg `max(ts)` planner-query trick). Zero jobs, zero
  * files opened.
  *
  * Composes with a PARTITION-ONLY `WHERE`: each conjunct is evaluated
  * against the manifest's partition values (the stage contract stores
  * the partition column as its exact string value), restricting which
  * partitions' counts/bounds fold — `SELECT MAX(ts) FROM t WHERE day =
  * '2026-08-14'` stays metadata-only. Also answers `GROUP BY` exactly
  * the partition column (one output row per surviving partition — the
  * manifest's per-partition rows=/stats lines ARE that grouping; a
  * zero-row partition emits no group, matching GROUP BY-over-data).
  * Bails to the ordinary scan (never a wrong answer) when: any
  * aggregate is distinct/filtered or not
  * COUNT(*)/MIN/MAX-of-a-bare-column, the grouping is anything but the
  * bare partition column, the column isn't zone-mapped, any surviving
  * segment lacks recorded stats, a bound fails to parse (NaN/Infinity
  * residue), or the filter references anything but the partition
  * column. MIN/MAX ignore NULLs, so all-NULL segments (`n:`) skip the
  * fold; no survivors ⇒ typed NULL groupless, zero rows grouped. */
final case class GraftMetadataAgg(spark: SparkSession)
    extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
  import org.apache.spark.sql.types._

  /** Resolve the aggregate's child down to a committed-table relation:
    * the index, a map from visible attribute ids to UNDERLYING column
    * names (through aliasing Projects), and any partition-only filter
    * conjuncts seen on the way. */
  private def resolve(plan: LogicalPlan)
      : Option[(GraftFileIndex, Map[ExprId, String], Seq[Expression])] =
    plan match {
      case lr @ LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _) =>
        fsRel.location match {
          case idx: GraftFileIndex =>
            Some((idx, lr.output.map(a => a.exprId -> a.name).toMap, Nil))
          case _ => None
        }
      case Project(ps, child) if ps.forall(_.deterministic) =>
        resolve(child).map { case (idx, names, fs) =>
          val out = ps.flatMap {
            case a: AttributeReference =>
              names.get(a.exprId).map(a.exprId -> _)
            case al @ Alias(ar: AttributeReference, _) =>
              names.get(ar.exprId).map(al.exprId -> _)
            case _ => None // computed columns carry no zone maps
          }
          (idx, out.toMap, fs)
        }
      case Filter(cond, child) if cond.deterministic =>
        resolve(child).flatMap { case (idx, names, fs) =>
          val pc = idx.partitionColumn
          val partOnly = pc.exists(p =>
            cond.references.nonEmpty &&
              cond.references.forall(r => names.get(r.exprId).contains(p)))
          if (partOnly) Some((idx, names, fs :+ cond)) else None
        }
      // the deletion-vector anti-join the substitution wraps a MoR'd
      // table in: its removals are ALREADY subtracted from the index's
      // logical row counts (rowCountFor/totalRowCount), so COUNT stays
      // answerable through it; MIN/MAX bail via the index's dv-aware
      // columnBounds. Recognized by its private __gdv_* join keys.
      case Join(left, _, org.apache.spark.sql.catalyst.plans.LeftAnti,
          Some(cond), _)
          if cond.references.nonEmpty &&
            cond.references.forall(_.name.startsWith("__gdv")) =>
        resolve(left)
      case _ => None
    }

  /** Partition values surviving the partition-only conjuncts — the same
    * interpreted evaluation listFiles applies to static partition
    * filters (NULL = excluded, the Filter contract). */
  private def survivors(idx: GraftFileIndex,
      conds: Seq[Expression]): Seq[String] = {
    val all = idx.livePartitionValues
    if (conds.isEmpty) all
    else {
      val bound = Predicate.createInterpreted(conds.reduce(And).transform {
        case a: AttributeReference =>
          BoundReference(0, a.dataType, nullable = true)
      })
      all.filter(v => bound.eval(InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(v))))
    }
  }

  /** Canonical zone-map string → Catalyst internal value; None = cannot
    * answer exactly from metadata (bail to the scan). */
  private def internal(dt: DataType, s: String): Option[Any] =
    try dt match {
      case StringType =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case LongType => Some(s.toLong)
      case IntegerType => Some(s.toInt)
      case ShortType => Some(s.toShort)
      case ByteType => Some(s.toByte)
      case DoubleType => Some(s.toDouble)
      case FloatType => Some(s.toFloat)
      case BooleanType => Some(s.toBoolean)
      case d: DecimalType =>
        val v = Decimal(new java.math.BigDecimal(s))
        if (v.changePrecision(d.precision, d.scale)) Some(v) else None
      case DateType =>
        Some(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case TimestampType => Some(s.toLong) // canonical = epoch micros
      case _ => None
    } catch { case _: Exception => None }

  /** Fold one side of the per-partition bounds with the column type's
    * own ordering. Some(null) = every surviving row NULL (the aggregate
    * returns NULL); None = unanswerable. */
  private def fold(idx: GraftFileIndex, colName: String, dt: DataType,
      parts: Seq[String], takeMin: Boolean): Option[Any] =
    idx.columnBounds(colName, parts).flatMap { bounds =>
      val sides = bounds.map(b => if (takeMin) b._1 else b._2)
      val present = sides.flatten
      if (present.isEmpty) Some(null) // all segments all-NULL (or none)
      else {
        val parsed = present.map(internal(dt, _))
        if (parsed.exists(_.isEmpty)) None
        else {
          val ord = org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(dt)
          val vs = parsed.map(_.get)
          Some(if (takeMin) vs.min(ord) else vs.max(ord))
        }
      }
    }

  private def answer(idx: GraftFileIndex, names: Map[ExprId, String],
      parts: Seq[String], noFilter: Boolean,
      groupValue: Option[String] = None)(e: NamedExpression)
      : Option[Any] = {
    def stripped(x: Expression): Expression = x match {
      case Alias(c, _) => stripped(c)
      case o => o
    }
    stripped(e) match {
      // the grouping column itself (GROUP BY pc): this row's partition
      // value, typed by the stage contract (exact STRING)
      case ar: AttributeReference if groupValue.isDefined &&
          idx.partitionColumn.exists(p => names.get(ar.exprId).contains(p)) =>
        Some(org.apache.spark.unsafe.types.UTF8String
          .fromString(groupValue.get))
      case AggregateExpression(Count(Seq(_: Literal)), _, false, None, _) =>
        // the unfiltered whole-table count answers from the root alone
        // (per-shard totals — zero shard hydration)
        if (noFilter && groupValue.isEmpty) idx.totalRowCount
        else idx.rowCountFor(parts)
      case AggregateExpression(Min(ar: AttributeReference), _, false, None, _) =>
        names.get(ar.exprId)
          .flatMap(c => fold(idx, c, ar.dataType, parts, takeMin = true))
      case AggregateExpression(Max(ar: AttributeReference), _, false, None, _) =>
        names.get(ar.exprId)
          .flatMap(c => fold(idx, c, ar.dataType, parts, takeMin = false))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groups, aggs, child, _) if aggs.nonEmpty &&
        groups.length <= 1 =>
      resolve(child) match {
        case Some((idx, names, conds)) =>
          // groupless, or GROUP BY exactly the partition column — the
          // manifest's per-partition rows=/stats lines ARE that grouping
          val groupedByPc = groups match {
            case Seq(ar: AttributeReference) =>
              idx.partitionColumn.exists(p =>
                names.get(ar.exprId).contains(p))
            case _ => false
          }
          if (groups.nonEmpty && !groupedByPc) agg
          else {
            val parts =
              try survivors(idx, conds)
              catch { case _: Exception => null } // uninterpretable predicate
            if (parts == null) agg
            else if (groupedByPc) {
              // one output row per surviving partition with rows (a
              // zero-row segment is no group — GROUP BY emits only
              // groups that exist in data); every partition must carry
              // a recorded count to make that call exactly
              val counts = parts.map(p => p -> idx.rowCountFor(Seq(p)))
              if (counts.exists(_._2.isEmpty)) agg
              else {
                val rows = counts.collect {
                  case (p, Some(n)) if n > 0 =>
                    aggs.map(answer(idx, names, Seq(p), noFilter = false,
                      groupValue = Some(p)))
                }
                if (rows.forall(_.forall(_.isDefined)))
                  LocalRelation(agg.output,
                    rows.map(r => InternalRow.fromSeq(r.map(_.get))))
                else agg
              }
            } else {
              val answers = aggs.map(answer(idx, names, parts, conds.isEmpty))
              if (answers.forall(_.isDefined))
                LocalRelation(agg.output,
                  Seq(InternalRow.fromSeq(answers.map(_.get))))
              else agg
            }
          }
        case None => agg
      }
  }
}
