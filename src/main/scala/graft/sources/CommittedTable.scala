package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** Manifest-committed partitioned table: the table-level ATOMIC publish
  * [[Warehouse.merge]] deliberately does not offer (its per-partition
  * demote/promote renames leave a reader-visible window where an affected
  * partition is absent — see its reader-visibility contract).
  *
  * Layout: data lives in immutable SEGMENT directories
  * (`seg-g<generation>-<escaped partition value>/`, plain parquet files
  * that carry the partition column as a DATA column), and a single
  * `_commit` manifest file names the live segment per partition value. A
  * publish stages new segments (invisible — no manifest references them),
  * then swaps the manifest with ONE atomic rename-with-overwrite. Readers
  * resolve the segment list through the manifest at plan time, so every
  * read sees exactly one committed generation: old-or-new, never mixed,
  * and a crash at ANY point before the swap leaves the old table fully
  * visible (orphaned segments are garbage, collected by the next merge).
  *
  * Scale shape: the manifest is metadata (one line per partition — a few
  * hundred entries for a few hundred partitions; the 100 TB of data is
  * never touched by a commit), merge rewrites only affected partitions'
  * segments, and manifest-level pruning turns a partition predicate into
  * a driver-side list filter — the scan never even LISTS an unselected
  * segment, one step cheaper than directory-discovery pruning.
  *
  * Concurrency: readers are unrestricted; writers are guarded by
  * optimistic generation fencing. Every publish targets generation
  * base+1 and must (a) observe the manifest still at its base generation
  * after staging and (b) atomically create the `_claim-g<gen>` marker
  * (create-no-overwrite — the filesystem picks exactly one winner among
  * racers) before the manifest swap. A losing writer deletes its own
  * staged segments (names are nonce-unique per attempt, so racers never
  * clobber each other's staging) and raises
  * `ConcurrentModificationException`; retrying it merges on top of the
  * winner — winner-then-retry semantics, no silently vanished
  * generation. Claims of committed generations are garbage; a claim left
  * by a writer that CRASHED between claim and swap (a sub-millisecond
  * window) blocks that generation until [[recover]] removes it. A reader
  * that resolved the previous manifest keeps working through a
  * concurrent publish because superseded segments survive one full merge
  * cycle (deleted only when referenced by neither the current nor the
  * previous manifest).
  */
object CommittedTable {

  private val Commit = "_commit"
  private val CommitPrev = "_commit.prev"
  private val CommitGen = "_commit.g"
  private val ClaimPrefix = "_claim-g"
  private val StagingInfix = ".ct-staging-"
  // A live writer's STAGING INTENT: `_intent-<nonce>` is created in the
  // table dir the moment `seg-g<gen>-<nonce>-*` dirs start renaming in,
  // and removed by [[publishOrAbort]] at commit or abort. GC must not
  // collect a staged-but-unpublished segment whose writer is still
  // running — with [[Rebase]] two writers legitimately overlap, and the
  // winner's post-commit GC would otherwise delete the loser's staging
  // out from under its rebase. A crashed writer's intent ages out with
  // [[StagingSweepAgeMs]] (its segments collect right after); recover()
  // sweeps intents unconditionally ("no writer active" is its contract).
  private val IntentPrefix = "_intent-"
  // DELETION-VECTOR dirs (`dv-g<gen>-<nonce>`, table level): parquet
  // (file STRING, pos BIGINT) sets naming rows a merge-on-read DELETE
  // removed — `file` is the row's `<segment-leaf>/<file-name>` and `pos`
  // its `_metadata.row_index` within that immutable file. Written whole
  // per MoR publish (prior entries of the touched partitions folded in),
  // referenced from per-partition manifest `dv=` lines, applied by every
  // read as a (file, pos) anti-join. GC protects dirs referenced by any
  // protected manifest and age-gates the rest, like manifest shards.
  private[graft] val DvPrefix = "dv-"
  private def segNonce(segName: String): String =
    segName.split('-').lift(2).getOrElse("")
  /** A segment reference's own directory name (clone manifests reference
    * segments by absolute path). */
  private[graft] def segLeaf(d: String): String =
    d.substring(d.lastIndexOf('/') + 1)
  // staging roots older than this are crash debris for collectGarbage (an
  // in-flight writer's root is indistinguishable by content; recover(),
  // which documents "no writer active", sweeps them regardless of age)
  private val StagingSweepAgeMs = 24L * 3600 * 1000
  private val NullPartName =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  private def esc(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)
  private def unesc(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)

  /** Manifest = generation number + the table's column list (the schema-
    * evolution record: segments written before a widen lack the newer
    * columns and NULL-fill on read) + the generation-retention count +
    * the zone-map column list + (partition value → segment dir name,
    * optionally followed by per-stats-column min/max). Serialized
    * line-oriented (`gen=<n>`, `cols=<tab-joined>`, `retain=<n>`,
    * `stats=<tab-joined>`, then `<escaped value>\t<dir>[\tmin\tmax...]`),
    * tiny by construction. `retain` is table metadata (set at [[write]],
    * carried forward by merge/compact): how many generations stay
    * readable — and their segments GC-protected — behind the current one,
    * the time-travel/snapshot-isolation budget. `statsCols` (also set at
    * write, carried forward) names the columns whose per-segment min/max
    * ride the manifest as ZONE MAPS: [[readRange]] prunes segments from
    * METADATA before any file is listed — the Iceberg/Delta data-skipping
    * move, one level above parquet row-group stats. Min/max are encoded
    * `v:<escaped canonical string>` (`n:` for an all-NULL segment);
    * canonical = plain string for strings/dates, decimal string for
    * numerics, epoch MICROS for timestamps — re-typed at read time from
    * the probed schema, so "9" vs "10" never compares lexically.
    * Pre-feature manifests lack both lines and read as retain=2 /
    * no stats. */
  private[graft] final case class Manifest(gen: Long, cols: Seq[String],
      segments: Map[String, String], retain: Int = 2,
      statsCols: Seq[String] = Nil,
      stats: Map[String, Seq[(Option[String], Option[String])]] = Map.empty,
      rowCounts: Map[String, Long] = Map.empty,
      // table-role metadata (optional lines partcol=/keycol=/vercol=): the
      // partition column every physical operation is scoped by, and the
      // merge key/version columns — recorded at write()/first merge so the
      // SQL surface (graft.sql.GraftCatalog) can route DELETE/UPDATE/MERGE
      // INTO without the caller re-declaring what the table already knows.
      // Pre-feature manifests lack all three (Scala API unaffected; SQL DML
      // on such a table fails loudly asking for a re-write with metadata).
      partitionCol: Option[String] = None,
      keyCol: Option[String] = None,
      verCol: Option[String] = None,
      // columns carrying per-SEGMENT Bloom sidecars (`_bloom-<col>` files
      // inside each segment dir — underscore-prefixed, so parquet scans
      // never see them): the point-lookup complement to zone maps. A
      // range probe prunes on min/max; an equality probe on a
      // high-cardinality unsorted key (the deleteKeys / CDC-sync access
      // pattern) prunes on the sidecar instead — segments whose filter
      // cannot contain any probed key are never listed, opened, or
      // planned. Optional line bloom=<tab-joined cols>, set at write(),
      // carried forward by every publish; a segment with no sidecar
      // (pre-feature) conservatively "might contain".
      bloomCols: Seq[String] = Nil,
      // METADATA-ONLY columns ([[addColumns]] / SQL ALTER TABLE ADD
      // COLUMNS): (name, DDL type) pairs for columns declared on the
      // table but possibly present in NO segment file yet — [[schemaOf]]
      // types them from here when the newest-segment probe misses them,
      // and the explicit-schema parquet read NULL-fills every file that
      // lacks them (zero data movement at declare time; a petabyte table
      // widens for the cost of one manifest swap). The first rewrite of a
      // partition materializes the column there; entries stay harmlessly
      // (the segment probe wins once any newest segment carries the
      // column). One line per column: virtual=<esc name>\t<esc ddl-type>.
      virtualCols: Seq[(String, String)] = Nil,
      // per-SEGMENT data-file lists: segment dir name → (file name, byte
      // length), captured once when the segment is STAGED (segments are
      // immutable, so the list is carried forward verbatim by every later
      // publish) — the Iceberg/Delta move that makes query PLANNING
      // zero-listing: [[graft.sql.GraftFileIndex]] answers sizeInBytes /
      // listFiles from these lines instead of one listStatus RPC per
      // partition per query plan (O(partitions) driver I/O at 100k
      // partitions). A segment absent from the map (pre-feature manifest)
      // falls back to listing and is backfilled at the next publish.
      // One line per file: f=<segName>\t<esc fileName>\t<len>.
      files: Map[String, Seq[(String, Long)]] = Map.empty,
      // per-FILE zone maps (the Delta/Iceberg data-skipping model): key
      // `<segment-LEAF>/<file name>` → (min, max) per stats column,
      // aligned to `statsCols` exactly like the per-partition `stats`.
      // Captured in the SAME staged read-back aggregate that records the
      // partition zone maps (grouped one level finer; the partition
      // entry is the in-Spark fold of its files, so both encodings are
      // bit-identical), and consulted by [[graft.sql.GraftFileIndex]] to
      // drop FILES inside surviving partitions at plan time — at 100 TB
      // a partition is hundreds of files, and a range predicate over a
      // sorted/range-clustered partition should read the two files that
      // overlap it, not all of them. Keys are leaf-based, so clone
      // inheritance (absolute segment refs) needs no rewrite; entries of
      // dead segments drop at serialization (only live segments' files
      // serialize). A file absent from the map is KEPT — pruning only
      // ever shrinks I/O. Line: fs=<esc key>\t<stat pairs>.
      fileStats: Map[String, Seq[(Option[String], Option[String])]] =
        Map.empty,
      // TOMBSTONES for metadata-only [[dropColumns]]: unrewritten segment
      // files still physically CARRY a dropped column's bytes, and the
      // by-name parquet read would silently RESURRECT them if the name
      // were re-declared — so a dropped name is quarantined here until a
      // full rewrite (compact / z-order compact / overwrite) physically
      // sheds the residue everywhere and clears the list. Line:
      // dropped=<tab-joined esc names>.
      droppedCols: Seq[String] = Nil,
      // ---- manifest-SHARDING bookkeeping (serialization state, not table
      // state) — see the sharding note on the companion. `shards` is the
      // layout this manifest was hydrated from (empty for inline roots
      // and freshly built manifests); `shardBodies` maps shard file →
      // raw body for the publish-time carry-forward diff; `probeSeg`
      // names the newest segment (root `probe=` line) so schema
      // discovery needs zero shard reads; `partial` marks a PRUNED
      // hydration (only surviving shards' partitions present) — read
      // paths may serve from it, every publish path refuses it.
      shards: Seq[ShardRef] = Nil,
      shardBodies: Map[String, String] = Map.empty,
      probeSeg: Option[String] = None,
      partial: Boolean = false,
      // BUCKETED layout ([[write]] bucketBy / CTAS TBLPROPERTIES buckets/
      // bucketcols): every segment's files are split by
      // pmod(murmur3(bucketCols), n) and named with Spark's _NNNNN bucket
      // suffix, and the SQL substitution attaches the matching BucketSpec
      // — so joins/aggregations on the bucket columns between two
      // same-bucketed committed tables plan WITHOUT a shuffle exchange
      // on either side (the classic 100 TB join killer removed at write
      // time). Immutable for the table's life: every publish path threads
      // it through staging, so all live files are always bucket-parseable.
      // Line: bucketby=<n>\t<cols...>.
      bucketing: Option[(Int, Seq[String])] = None,
      // DECLARED CLUSTERING ([[setClustering]] / TBLPROPERTIES
      // 'clusterby' + 'clusterfiles'): (cluster columns, files per
      // partition). Once declared, EVERY row-writing publish
      // (merge/update/delete/overwrite/compact) stages its affected
      // partitions through a range exchange on (partition, cluster
      // cols) — each staged file covers a near-disjoint slice of the
      // cluster-key space, so the per-file zone maps (fs= lines) skip
      // files inside partitions with no maintenance job (the
      // liquid-clustering UX: declare once, layout maintains itself;
      // pre-existing segments cluster at their next rewrite). LAYOUT
      // advisory, never content-affecting: concurrent rebases ignore it
      // (a stale-layout publish is still correct), and it is mutually
      // exclusive with bucketing (competing physical layouts). Line:
      // cluster=<n>\t<cols...>.
      clusterBy: Option[(Seq[String], Int)] = None,
      // TABLE-LEVEL approximate distinct counts ([[analyzeTable]] / CALL
      // graft.analyze): column → approx NDV, the ANALYZE-TABLE statistic
      // that lets the SQL layer hand Spark's cost-based optimizer real
      // column stats — with them (plus the exact manifest row counts) a
      // multi-join query REORDERS by estimated intermediate size
      // (CostBasedJoinReorder needs rowCount + join-key distinctCount).
      // Collected by one aggregate pass at analyze time and CARRIED
      // FORWARD by later publishes as estimates (the Delta/Iceberg
      // ANALYZE model — stats staleness changes plans, never answers);
      // re-run analyze (or compact) after heavy DML. Line:
      // ndv=<esc col>\t<n>.
      ndv: Map[String, Long] = Map.empty,
      // METADATA-ONLY column renames ([[renameColumn]] / SQL ALTER TABLE
      // RENAME COLUMN): current name → its FORMER physical names, newest
      // first. Unrewritten segment files still carry a former name's
      // bytes, so every read requests the old names too and projects
      // coalesce(new, old1, old2 …) — zero data movement at rename time,
      // a petabyte table renames for one manifest swap. Former names are
      // quarantined like DROP's tombstones (re-declaring one would
      // resurrect the residue through the by-name read) until a full
      // rewrite (compact / z-order / overwrite) sheds it and clears the
      // mapping. Line: was=<esc new>\t<esc old1>[\t<esc old2>…].
      renames: Map[String, Seq[String]] = Map.empty,
      // TIME-BASED retention cap ([[setRetention]] retainHours / SQL
      // TBLPROPERTIES 'retainhours'): when set, a non-current generation
      // whose anchor was published more than this many hours ago is
      // collected by the next GC and refused by time travel EVEN IF the
      // count-based `retain` window would keep it — the compliance clock
      // ("pre-delete rows readable for ≤ N days") measured in wall-clock,
      // immune to publish-cadence changes. The readable window is the
      // INTERSECTION of the count and time windows; the current
      // generation is always readable. Line: retainh=<hours>.
      retainHours: Option[Long] = None,
      // CHECK constraints ([[setChecks]] / TBLPROPERTIES 'check:<name>'):
      // (name, SQL boolean expression) pairs validated against every
      // publish that CREATES or MODIFIES rows (write/merge/mergeClauses/
      // update/overwritePartitions and their SQL/streaming routes) — one
      // aggregate over the freshly STAGED files only, never the table; a
      // violation aborts before the manifest swap, so the table can never
      // hold a row any declared check rejects. SQL CHECK semantics: a
      // NULL-valued expression passes, FALSE fails. Rewrite-only verbs
      // (delete/deleteKeys/compact/z-order) restage rows that already
      // passed and skip re-validation. Line: check=<esc name>\t<esc expr>.
      checks: Seq[(String, String)] = Nil,
      // DELETION VECTORS ([[deleteMor]] / SQL DELETE on a
      // 'deletemode'='mor' table): partition value → [[DvRef]]. A
      // merge-on-read DELETE publishes positions instead of rewriting
      // segments (O(deleted rows) written, not O(affected partitions) —
      // the Delta deletion-vector move); every read anti-joins them out.
      // An entry whose seg no longer matches the partition's current
      // segment is DEAD (the partition was rewritten, which materialized
      // the deletes) — ignored by reads, pruned at serialization,
      // its dir GC'd once unreferenced. Per-partition line in the shard
      // body: dv=<esc part>\t<esc segLeaf>\t<esc dir>\t<rows>\t<gen>.
      dvs: Map[String, DvRef] = Map.empty,
      // root-line summary (dvn=<live entries>): lets a PARTIAL (root-only)
      // hydration know the table carries live dvs without reading shards
      // — the SQL substitution's wrap decision. Recomputed at every
      // serialization; 0 for pre-feature manifests.
      rootDvParts: Int = 0,
      // DELETE routing policy (TBLPROPERTIES 'deletemode'): Some("mor")
      // routes SQL DELETE through [[deleteMor]] (deletion vectors);
      // absent/"cow" keeps the copy-on-write rewrite. The Scala API is
      // explicit either way. Line: delmode=<esc mode>.
      deleteMode: Option[String] = None,
      // DELTA SEGMENTS ([[mergeMor]] / [[updateMor]]): partition value →
      // ordered [[DeltaRef]]s, each an extra per-partition data dir whose
      // rows are read UNION the base segment's. The write-amplification
      // complement to deletion vectors: a MoR merge publishes the
      // superseded rows' positions as a vector and the winning rows as a
      // delta — O(changed rows) written, the base segment untouched.
      // Same self-invalidation rule as dvs: an entry records the base
      // segment LEAF it extends; a partition rewrite (merge/update/
      // compact/z-order/overwrite — all read through base∪deltas and so
      // MATERIALIZE the delta rows) changes that name and every delta
      // dies with it, no verb clears anything. Per-partition line in the
      // shard body: delta=<esc part>\t<esc baseLeaf>\t<esc dir>\t<rows>\t<gen>.
      deltas: Map[String, Seq[DeltaRef]] = Map.empty,
      // UPDATE routing policy (TBLPROPERTIES 'updatemode'): Some("mor")
      // routes SQL UPDATE through [[updateMor]] (deletion vector + delta
      // segment); absent/"cow" keeps the copy-on-write rewrite. Line:
      // updmode=<esc mode>.
      updateMode: Option[String] = None,
      // the VERB that published this generation ("merge", "delete-mor",
      // "compact", "restore", …) — the Delta DESCRIBE HISTORY operation
      // column, set by [[publishOrAbort]] per publish (never carried
      // from the previous generation) and surfaced through
      // history/graft_history/detail. Line: op=<esc verb>.
      op: Option[String] = None,
      // TWO-LEVEL root (see the sharding note): above
      // [[RootInlineMaxShards]] shard refs the root stops inlining
      // shard= lines and keeps one shardidx= line per IMMUTABLE index
      // file (`_msx-*`), each holding a contiguous escaped-range group
      // of shard= lines — the root stays O(shards / ShardIdxTarget)
      // lines at any partition count (the Delta
      // checkpoint-of-checkpoints move). `shardIdx` is the layout this
      // manifest's root was parsed from; `shardIdxBodies` the raw index
      // bodies (publish-time carry-forward diff, filled on full
      // hydration only).
      shardIdx: Seq[IndexRef] = Nil,
      shardIdxBodies: Map[String, String] = Map.empty)

  /** One manifest shard's root-line record: file name (relative to the
    * table dir), the ESCAPED partition-value range its members span
    * (membership/pruning compare escaped values — the same ordering the
    * body sorts by), member count, total data bytes and total rows
    * (None when any member predates row counts) — the last two feed
    * sizeInBytes / COUNT(*) from the ROOT alone. */
  private[graft] final case class ShardRef(file: String, minEsc: String,
      maxEsc: String, parts: Int, bytes: Long, rows: Option[Long])

  /** One shard-INDEX file's root-line record (two-level roots): the
    * index file name, the escaped range its member shards span, member
    * shard count, and the same partition/bytes/rows aggregates a
    * [[ShardRef]] carries — so root-only sizeInBytes / COUNT(*) stay
    * O(root) on a two-level table too. */
  private[graft] final case class IndexRef(file: String, minEsc: String,
      maxEsc: String, shardsN: Int, parts: Int, bytes: Long,
      rows: Option[Long])

  /** One partition's DELETION VECTOR: `seg` is the leaf name of the
    * segment the positions were computed against (a later rewrite of the
    * partition changes its segment name, which SELF-INVALIDATES the
    * entry — no verb ever has to clear one), `dir` the dv parquet dir
    * (relative to the table, absolute for clone-inherited entries),
    * `rows` the EXACT number of rows it removes from this partition (the
    * logical-count adjustment), `gen` the generation that wrote it (the
    * change-feed touch marker). */
  private[graft] final case class DvRef(seg: String, dir: String,
      rows: Long, gen: Long)

  /** `part`'s dv entry IF it still applies to the partition's current
    * segment — the one liveness rule of the dv protocol. */
  private[graft] def liveDv(m: Manifest, part: String): Option[DvRef] =
    m.dvs.get(part).filter(d =>
      m.segments.get(part).exists(s => segLeaf(s) == d.seg))

  /** One partition's DELTA SEGMENT: `seg` is the leaf name of the BASE
    * segment this delta extends (a later rewrite of the partition
    * changes that name, which SELF-INVALIDATES the entry — same rule as
    * [[DvRef]]), `dir` the delta data dir (relative to the table,
    * absolute for clone-inherited entries), `rows` its exact row count
    * (the logical-count addition), `gen` the generation that wrote it
    * (the change-feed touch marker). */
  private[graft] final case class DeltaRef(seg: String, dir: String,
      rows: Long, gen: Long)

  /** `part`'s delta entries that still apply to the partition's current
    * base segment, in publish order — the dv liveness rule, verbatim. */
  private[graft] def liveDeltas(m: Manifest, part: String): Seq[DeltaRef] =
    m.deltas.getOrElse(part, Nil).filter(d =>
      m.segments.get(part).exists(s => segLeaf(s) == d.seg))

  /** Net row adjustment the partition's MoR state applies to its base
    * segment's physical count: live delta rows added, live dv rows
    * subtracted — every logical count surface folds exactly this. */
  private[graft] def morRowAdj(m: Manifest, part: String): Long =
    liveDeltas(m, part).map(_.rows).sum -
      liveDv(m, part).map(_.rows).getOrElse(0L)

  // ---- manifest sharding -------------------------------------------------
  // A single `_commit` file with one line per partition and per data file
  // rewrites whole on every publish and parses whole on every plan — at
  // ~10⁶ files that is tens of MB of metadata write amplification per
  // commit and driver-side parse per query (the reason Delta checkpoints
  // and Iceberg shards its manifest list). Above [[InlineMaxParts]]
  // partitions the manifest therefore splits: the root keeps the header +
  // table metadata + one `shard=` line per shard, and the per-partition
  // lines (seg/stats, rows=, f=) move into IMMUTABLE shard files
  // (`_ms-g<gen>-<k>-<nonce>`). A publish re-serializes only shards whose
  // content changed — untouched shards are carried forward BY REFERENCE,
  // so publish metadata writes are O(touched partitions), not O(table).
  // Reads hydrate shards on demand: a partition-value probe parses the
  // root + only the shards whose escaped range can contain a probed
  // value (O(survivors)); sizeInBytes / COUNT(*) come from the root
  // alone. Shards are grouped by contiguous escaped-value ranges
  // ([[ShardTargetParts]] per shard at creation); a value born later
  // routes into the range-owning shard (which that publish rewrites
  // anyway), and an oversized dirty shard re-splits on rewrite. Tables
  // at or below [[InlineMaxParts]] keep the single-file inline format —
  // identical bytes to the pre-sharding protocol, both directions
  // readable forever.
  private val ShardPrefix = "_ms-"
  private[sources] val InlineMaxParts = 64
  private[sources] val ShardTargetParts = 64
  // ---- two-level root ----------------------------------------------------
  // At 100k partitions a one-level sharded root (one shard= line per
  // shard) is ~86 KB × 3 copies per publish — fine; at 1M partitions the
  // root's ~15k shard lines are the new O(table) publish term. Above
  // [[RootInlineMaxShards]] shard refs the root therefore splits again:
  // one `shardidx=` line per immutable `_msx-*` index file, each holding
  // [[ShardIdxTarget]] contiguous shard= lines. A publish rewrites only
  // the index groups whose member shards changed (untouched groups carry
  // by reference, same diff protocol as shards), so publish metadata is
  // O(touched shards) + O(touched index groups) + O(shards/target) root
  // lines. One-way like sharding itself: a two-level table stays
  // two-level (layout stability beats a few root bytes).
  private val ShardIdxPrefix = "_msx-"
  private[sources] val RootInlineMaxShards = 512
  private[sources] val ShardIdxTarget = 512

  private[graft] def readManifest(fs: FileSystem, table: Path): Option[Manifest] =
    readManifestFile(fs, new Path(table, Commit))

  private def encStat(v: Option[String]): String =
    v.map(s => "v:" + esc(s)).getOrElse("n:")
  private def decStat(s: String): Option[String] =
    if (s.startsWith("v:")) Some(unesc(s.stripPrefix("v:")))
    else if (s == "n:") None
    else throw new java.io.IOException(s"corrupt stat field: $s")

  /** Fully hydrated manifest: root + every shard (inline roots need no
    * shard reads; two-level roots resolve their index files first). The
    * publish paths' entry point. */
  private def readManifestFile(fs: FileSystem, p: Path): Option[Manifest] =
    readRoot(fs, p).map { root =>
      if (root.shards.isEmpty && root.shardIdx.isEmpty) root
      else {
        val (refs, idxBodies) = resolveShards(fs, p.getParent, root, None)
        hydrate(fs, p.getParent,
          root.copy(shards = refs, shardIdxBodies = idxBodies), refs)
      }
    }

  /** Root-only parse: header + table metadata + shard refs; partition
    * maps populated only for inline roots (`partial` marks a sharded
    * root awaiting hydration). The O(1)-metadata entry point for
    * planning, schema discovery and COUNT(*). */
  private[graft] def readManifestRoot(fs: FileSystem, table: Path)
      : Option[Manifest] = readRoot(fs, new Path(table, Commit))

  /** Pruned hydration: root + only the shards whose escaped range can
    * contain a wanted partition value — the plan-time path is
    * O(surviving shards), never O(table). The result is `partial`:
    * correct for reads over `wanted`, refused by every publish. */
  private[graft] def readManifestPruned(fs: FileSystem, table: Path,
      wanted: Set[String]): Option[Manifest] =
    readRoot(fs, new Path(table, Commit)).map { root =>
      if (root.shards.isEmpty && root.shardIdx.isEmpty) root
      else {
        val wantedEsc = wanted.map(esc)
        // two-level roots first prune INDEX files by range (O(surviving
        // index files) reads), then their shards by the same ranges
        val (refs, _) = resolveShards(fs, table, root, Some(wantedEsc))
        val survivors = refs.filter(s =>
          wantedEsc.exists(v => s.minEsc <= v && v <= s.maxEsc))
        hydrate(fs, table, root.copy(shards = refs), survivors)
          .copy(partial = true)
      }
    }

  /** Hydrate a SNAPSHOT root (e.g. the one riding a SQL Table handle)
    * without re-reading `_commit` — shard files are immutable and
    * referenced by name from the root, so hydration always reproduces
    * exactly the snapshot generation even under concurrent publishes.
    * `wanted = None` hydrates everything; `Some(values)` only the shards
    * whose escaped range can contain a value (result is `partial`). */
  private[graft] def hydrateSnapshot(fs: FileSystem, table: Path,
      root: Manifest, wanted: Option[Set[String]]): Manifest =
    if (root.shards.isEmpty && root.shardIdx.isEmpty) root.copy(partial = false)
    else wanted match {
      case None =>
        val (refs, idxBodies) = resolveShards(fs, table, root, None)
        hydrate(fs, table,
          root.copy(shards = refs, shardIdxBodies = idxBodies), refs)
      case Some(vs) =>
        val we = vs.map(esc)
        val (refs, _) = resolveShards(fs, table, root, Some(we))
        hydrate(fs, table, root.copy(shards = refs), refs.filter(s =>
          we.exists(v => s.minEsc <= v && v <= s.maxEsc)))
          .copy(partial = true)
    }

  /** Resolve shard refs through a two-level root: read the index files
    * (all, or only those whose escaped range can contain a wanted value)
    * and parse their shard= lines; one-level roots return their inline
    * refs untouched. Also returns the raw index bodies for the
    * publish-time carry-forward diff (full resolution only — pruned
    * callers never publish). */
  private def resolveShards(fs: FileSystem, table: Path, root: Manifest,
      wantedEsc: Option[Set[String]]): (Seq[ShardRef], Map[String, String]) =
    if (root.shardIdx.isEmpty) (root.shards, Map.empty)
    else {
      val survivors = wantedEsc match {
        case None => root.shardIdx
        case Some(we) => root.shardIdx.filter(ix =>
          we.exists(v => ix.minEsc <= v && v <= ix.maxEsc))
      }
      val refs = Seq.newBuilder[ShardRef]
      var bodies = Map.empty[String, String]
      survivors.foreach { ix =>
        val body = readRaw(fs, new Path(table, ix.file)).getOrElse(
          throw new java.io.IOException(
            s"manifest shard index ${ix.file} of $table is missing — the " +
              "root references it, so either the table dir was hand-edited " +
              "or a clone outlived its source's retention"))
        refs ++= parseShardLines(body.linesIterator.toSeq, s"$table/${ix.file}")
        bodies += (ix.file -> body)
      }
      (refs.result(), bodies)
    }

  /** Root-only metadata totals: a two-level root aggregates its
    * shardidx= lines, a one-level sharded root its shard= lines — both
    * O(root) with zero shard reads. */
  private[graft] def rootBytes(m: Manifest): Long =
    if (m.shardIdx.nonEmpty) m.shardIdx.map(_.bytes).sum
    else m.shards.map(_.bytes).sum
  private[graft] def rootRows(m: Manifest): Option[Long] = {
    val rs =
      if (m.shardIdx.nonEmpty) m.shardIdx.map(_.rows) else m.shards.map(_.rows)
    if (rs.forall(_.isDefined)) Some(rs.flatten.sum) else None
  }

  /** Merge `survivors`' shard bodies into the root skeleton. */
  private def hydrate(fs: FileSystem, table: Path, root: Manifest,
      survivors: Seq[ShardRef]): Manifest = {
    var segments = root.segments
    var stats = root.stats
    var rowCounts = root.rowCounts
    var files = root.files
    var dvs = root.dvs
    var fileStats = root.fileStats
    var deltas = root.deltas
    var bodies = Map.empty[String, String]
    survivors.foreach { s =>
      val body = readRaw(fs, new Path(table, s.file)).getOrElse(
        throw new java.io.IOException(
          s"manifest shard ${s.file} of $table is missing — the root " +
            "references it, so either the table dir was hand-edited or a " +
            "clone outlived its source's retention"))
      val part = parsePartitionLines(body.linesIterator.toList,
        root.statsCols, s"$table/${s.file}")
      segments ++= part.segments
      stats ++= part.stats
      rowCounts ++= part.rowCounts
      files ++= part.files
      dvs ++= part.dvs
      fileStats ++= part.fileStats
      deltas ++= part.deltas
      bodies += (s.file -> body)
    }
    root.copy(segments = segments, stats = stats, rowCounts = rowCounts,
      files = files, dvs = dvs, fileStats = fileStats, deltas = deltas,
      shardBodies = bodies, partial = false)
  }

  private def readRaw(fs: FileSystem, p: Path): Option[String] = {
    if (!fs.exists(p)) return None
    val in = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem.open(p)
      case other => other.open(p)
    }
    try Some(new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
    finally in.close()
  }

  /** The per-partition line groups one shard (or an inline root) holds. */
  private final case class PartitionLines(
      segments: Map[String, String],
      stats: Map[String, Seq[(Option[String], Option[String])]],
      rowCounts: Map[String, Long],
      files: Map[String, Seq[(String, Long)]],
      dvs: Map[String, DvRef],
      fileStats: Map[String, Seq[(Option[String], Option[String])]],
      deltas: Map[String, Seq[DeltaRef]])

  private def parsePartitionLines(lines: List[String], statsCols: Seq[String],
      src: String): PartitionLines = {
    val rowCounts = lines.filter(_.startsWith("rows="))
      .map { l =>
        l.stripPrefix("rows=").split('\t') match {
          case Array(v, n) => unesc(v) -> n.toLong
          case _ => throw new java.io.IOException(s"corrupt manifest line in $src: $l")
        }
      }.toMap
    val files = lines.filter(_.startsWith("f="))
      .map { l =>
        l.stripPrefix("f=").split('\t') match {
          case Array(seg, name, len) => (seg, (unesc(name), len.toLong))
          case _ => throw new java.io.IOException(s"corrupt manifest line in $src: $l")
        }
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val segLines = lines.filter(l =>
      l.nonEmpty && !MetaPrefixes.exists(l.startsWith))
    val parsed = segLines.map { l =>
      l.split('\t') match {
        case Array(v, d) => (unesc(v), d, Nil: Seq[(Option[String], Option[String])])
        case arr if arr.length == 2 + 2 * statsCols.size =>
          val st = arr.drop(2).grouped(2)
            .map(g => (decStat(g(0)), decStat(g(1)))).toSeq
          (unesc(arr(0)), arr(1), st)
        case _ => throw new java.io.IOException(s"corrupt manifest line in $src: $l")
      }
    }
    val dvs = lines.filter(_.startsWith("dv="))
      .map { l =>
        l.stripPrefix("dv=").split('\t') match {
          case Array(v, seg, dir, rows, gen) =>
            unesc(v) -> DvRef(unesc(seg), unesc(dir), rows.toLong, gen.toLong)
          case _ => throw new java.io.IOException(s"corrupt manifest line in $src: $l")
        }
      }.toMap
    val fileStats = lines.filter(_.startsWith("fs="))
      .map { l =>
        val arr = l.stripPrefix("fs=").split('\t')
        if (arr.length != 1 + 2 * statsCols.size)
          throw new java.io.IOException(s"corrupt manifest line in $src: $l")
        unesc(arr(0)) -> arr.drop(1).grouped(2)
          .map(g => (decStat(g(0)), decStat(g(1)))).toSeq
      }.toMap
    val deltas = lines.filter(_.startsWith("delta="))
      .map { l =>
        l.stripPrefix("delta=").split('\t') match {
          case Array(v, seg, dir, rows, gen) =>
            unesc(v) -> DeltaRef(unesc(seg), unesc(dir), rows.toLong, gen.toLong)
          case _ => throw new java.io.IOException(s"corrupt manifest line in $src: $l")
        }
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    PartitionLines(
      parsed.map(t => t._1 -> t._2).toMap,
      parsed.collect { case (v, _, st) if st.nonEmpty => v -> st }.toMap,
      rowCounts, files, dvs, fileStats, deltas)
  }

  private val MetaPrefixes = Seq("retain=", "retainh=", "stats=", "rows=",
    "partcol=", "keycol=", "vercol=", "bloom=", "virtual=", "f=",
    "dropped=", "check=", "bucketby=", "shard=", "shardidx=", "probe=",
    "was=", "ndv=", "dv=", "dvn=", "delmode=", "fs=", "cluster=", "delta=",
    "updmode=", "op=")

  private def readRoot(fs: FileSystem, p: Path): Option[Manifest] = {
    if (!fs.exists(p)) return None
    // On a checksummed LOCAL filesystem, rename-with-overwrite moves the
    // data file and its .crc sidecar in TWO steps (ChecksumFs.rename), so
    // a reader racing swapManifest can observe the new manifest bytes
    // verified against the old generation's checksum — a spurious
    // ChecksumException that violates the old-or-new contract the atomic
    // POSIX rename of the DATA file does guarantee. Manifests are parsed
    // structurally (a torn file fails loudly on its own), so read them
    // through the RAW filesystem; real stores (HDFS/S3) have no
    // client-side sidecars and are untouched by this.
    val in = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem.open(p)
      case other => other.open(p)
    }
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val gen = lines.headOption match {
      case Some(h) if h.startsWith("gen=") => h.stripPrefix("gen=").toLong
      case other => throw new java.io.IOException(
        s"corrupt manifest $p: expected gen=<n> header, got $other")
    }
    val cols = lines.lift(1) match {
      case Some(c) if c.startsWith("cols=") =>
        c.stripPrefix("cols=").split('\t').toSeq.filter(_.nonEmpty)
      case other => throw new java.io.IOException(
        s"corrupt manifest $p: expected cols=<...> header, got $other")
    }
    val retain = lines.drop(2).find(_.startsWith("retain="))
      .map(_.stripPrefix("retain=").toInt).getOrElse(2)
    val retainHours = lines.drop(2).find(_.startsWith("retainh="))
      .map(_.stripPrefix("retainh=").toLong)
    val statsCols = lines.drop(2).find(_.startsWith("stats="))
      .map(_.stripPrefix("stats=").split('\t').toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
    val bloomCols = lines.drop(2).find(_.startsWith("bloom="))
      .map(_.stripPrefix("bloom=").split('\t').toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
    def metaLine(prefix: String): Option[String] =
      lines.drop(2).find(_.startsWith(prefix)).map(l => unesc(l.stripPrefix(prefix)))
    val partCol = metaLine("partcol=")
    val keyCol = metaLine("keycol=")
    val verCol = metaLine("vercol=")
    val virtualCols = lines.drop(2).filter(_.startsWith("virtual="))
      .map { l =>
        l.stripPrefix("virtual=").split('\t') match {
          case Array(n, t) => (unesc(n), unesc(t))
          case _ => throw new java.io.IOException(s"corrupt manifest line: $l")
        }
      }
    val droppedCols = lines.drop(2).find(_.startsWith("dropped="))
      .map(_.stripPrefix("dropped=").split('\t').toSeq
        .filter(_.nonEmpty).map(unesc))
      .getOrElse(Nil)
    val checks = lines.drop(2).filter(_.startsWith("check="))
      .map { l =>
        l.stripPrefix("check=").split('\t') match {
          case Array(n, e) => (unesc(n), unesc(e))
          case _ => throw new java.io.IOException(s"corrupt manifest line: $l")
        }
      }
    val bucketing = lines.drop(2).find(_.startsWith("bucketby="))
      .map { l =>
        l.stripPrefix("bucketby=").split('\t').toSeq match {
          case n +: cs if cs.nonEmpty => (n.toInt, cs.map(unesc))
          case _ => throw new java.io.IOException(s"corrupt manifest line: $l")
        }
      }
    val clusterBy = lines.drop(2).find(_.startsWith("cluster="))
      .map { l =>
        l.stripPrefix("cluster=").split('\t').toSeq match {
          case n +: cs if cs.nonEmpty => (cs.map(unesc), n.toInt)
          case _ => throw new java.io.IOException(s"corrupt manifest line: $l")
        }
      }
    val shards = parseShardLines(lines.drop(2), p.toString)
    val shardIdx = lines.drop(2).filter(_.startsWith("shardidx="))
      .map { l =>
        l.stripPrefix("shardidx=").split('\t') match {
          case Array(f, mn, mx, s, n, b, r) =>
            IndexRef(unesc(f), mn, mx, s.toInt, n.toInt, b.toLong,
              if (r == "-") None else Some(r.toLong))
          case _ => throw new java.io.IOException(s"corrupt manifest line: $l")
        }
      }
    if (shards.nonEmpty && shardIdx.nonEmpty)
      throw new java.io.IOException(
        s"corrupt manifest $p: a root carries inline shard refs AND index refs")
    val probeSeg = lines.drop(2).find(_.startsWith("probe="))
      .map(l => unesc(l.stripPrefix("probe=")))
    val renames = lines.drop(2).filter(_.startsWith("was="))
      .map { l =>
        l.stripPrefix("was=").split('\t').toSeq match {
          case cur +: olds if olds.nonEmpty => unesc(cur) -> olds.map(unesc)
          case _ => throw new java.io.IOException(s"corrupt manifest line: $l")
        }
      }.toMap
    val ndv = lines.drop(2).filter(_.startsWith("ndv="))
      .map { l =>
        l.stripPrefix("ndv=").split('\t') match {
          case Array(c, n) => unesc(c) -> n.toLong
          case _ => throw new java.io.IOException(s"corrupt manifest line: $l")
        }
      }.toMap
    val rootDvParts = lines.drop(2).find(_.startsWith("dvn="))
      .map(_.stripPrefix("dvn=").toInt).getOrElse(0)
    val deleteMode = metaLine("delmode=")
    val updateMode = metaLine("updmode=")
    val opLine = metaLine("op=")
    val part = parsePartitionLines(lines.drop(2), statsCols, p.toString)
    if ((shards.nonEmpty || shardIdx.nonEmpty) && part.segments.nonEmpty)
      throw new java.io.IOException(
        s"corrupt manifest $p: sharded root carries inline partition lines")
    Some(Manifest(gen, cols, part.segments, retain, statsCols, part.stats,
      part.rowCounts, partCol, keyCol, verCol, bloomCols, virtualCols,
      part.files, fileStats = part.fileStats, droppedCols = droppedCols,
      shards = shards, probeSeg = probeSeg,
      partial = shards.nonEmpty || shardIdx.nonEmpty, bucketing = bucketing,
      clusterBy = clusterBy,
      ndv = ndv, renames = renames, retainHours = retainHours,
      checks = checks, dvs = part.dvs, rootDvParts = rootDvParts,
      deleteMode = deleteMode, deltas = part.deltas,
      updateMode = updateMode, op = opLine, shardIdx = shardIdx))
  }

  private def parseShardLines(lines: Seq[String], where: String): Seq[ShardRef] =
    lines.filter(_.startsWith("shard="))
      .map { l =>
        l.stripPrefix("shard=").split('\t') match {
          case Array(f, mn, mx, n, b, r) =>
            ShardRef(unesc(f), mn, mx, n.toInt, b.toLong,
              if (r == "-") None else Some(r.toLong))
          case _ => throw new java.io.IOException(
            s"corrupt manifest line in $where: $l")
        }
      }

  /** The one atomic step of every publish: write the new manifest to a tmp
    * name, record an immutable per-generation copy (`_commit.g<n>` — the
    * [[readAt]] time-travel anchor, GC'd once it falls out of the retain
    * window), preserve the current manifest as `_commit.prev` (GC
    * bookkeeping), then POSIX rename-with-overwrite tmp → `_commit`.
    * Readers see the old manifest or the new one, never a partial file
    * and never an absent one. */
  /** The manifest's serialized form (the exact body [[swapManifest]]
    * publishes) — factored out so [[cloneShallow]] can write anchor
    * copies with rewritten segment references. */
  private def headerLines(m: Manifest): Seq[String] = {
    val statsLine =
      if (m.statsCols.isEmpty) Nil else Seq(s"stats=${m.statsCols.mkString("\t")}")
    val bloomLine =
      if (m.bloomCols.isEmpty) Nil else Seq(s"bloom=${m.bloomCols.mkString("\t")}")
    Seq(s"gen=${m.gen}", s"cols=${m.cols.mkString("\t")}",
      s"retain=${m.retain}") ++
      m.retainHours.map(h => s"retainh=$h").toSeq ++
      m.partitionCol.map(v => s"partcol=${esc(v)}").toSeq ++
      m.keyCol.map(v => s"keycol=${esc(v)}").toSeq ++
      m.verCol.map(v => s"vercol=${esc(v)}").toSeq ++
      m.virtualCols.map { case (n, t) => s"virtual=${esc(n)}\t${esc(t)}" } ++
      (if (m.droppedCols.isEmpty) Nil
       else Seq(s"dropped=${m.droppedCols.map(esc).mkString("\t")}")) ++
      m.renames.toSeq.sortBy(_._1).map { case (cur, olds) =>
        s"was=${esc(cur)}\t${olds.map(esc).mkString("\t")}" } ++
      m.ndv.toSeq.sortBy(_._1).map { case (c, n) => s"ndv=${esc(c)}\t$n" } ++
      m.checks.map { case (n, e) => s"check=${esc(n)}\t${esc(e)}" } ++
      m.bucketing.map { case (n, cs) =>
        s"bucketby=$n\t${cs.map(esc).mkString("\t")}" }.toSeq ++
      m.clusterBy.map { case (cs, n) =>
        s"cluster=$n\t${cs.map(esc).mkString("\t")}" }.toSeq ++
      statsLine ++ bloomLine ++
      m.deleteMode.map(v => s"delmode=${esc(v)}").toSeq ++
      m.updateMode.map(v => s"updmode=${esc(v)}").toSeq ++
      m.op.map(v => s"op=${esc(v)}").toSeq ++ {
        // root-level live-dv summary: a partial hydration (sharded root)
        // must know the table needs the dv anti-join without shard reads
        val live = m.segments.keys.count(p => liveDv(m, p).isDefined)
        if (live > 0) Seq(s"dvn=$live") else Nil
      }
  }

  /** The per-partition lines for `members` (f= by segment, rows=, then
    * seg/stats lines) — a shard's whole body, or an inline root's tail.
    * Deterministic ordering, so an untouched shard re-serializes to
    * byte-identical content and the publish carries it by reference. */
  private def partitionBody(m: Manifest, members: Seq[String]): String = {
    // strictly O(|members| log |members|): a sharded publish serializes
    // every group against the SAME full maps, so touching the whole map
    // per shard would make the publish O(shards × table)
    val live = members.filter(m.segments.contains).sorted
    // live data dirs = base segments plus LIVE delta dirs (a dead
    // delta's file list and zone maps are garbage and vanish here,
    // exactly like a dead segment's)
    val liveDirs = (live.map(m.segments) ++
      live.flatMap(v => liveDeltas(m, v).map(_.dir))).distinct.sorted
    val fLines = liveDirs.flatMap(seg =>
      m.files.getOrElse(seg, Nil)
        .map { case (n, len) => s"f=$seg\t${esc(n)}\t$len" })
    // per-file zone maps, LIVE segments' files only (a dead segment's
    // entries are garbage and vanish here)
    val fsLines =
      if (m.statsCols.isEmpty || m.fileStats.isEmpty) Nil
      else liveDirs.flatMap { seg =>
        val leaf = segLeaf(seg)
        m.files.getOrElse(seg, Nil).flatMap { case (n, _) =>
          m.fileStats.get(s"$leaf/$n").map(st =>
            s"fs=${esc(s"$leaf/$n")}" +
              st.flatMap(p => Seq(encStat(p._1), encStat(p._2)))
                .mkString("\t", "\t", ""))
        }
      }
    val rowLines = live.collect {
      case v if m.rowCounts.contains(v) => s"rows=${esc(v)}\t${m.rowCounts(v)}"
    }
    // only LIVE dv entries serialize (a dead one's partition was
    // rewritten — the deletes are materialized, the entry is garbage)
    val dvLines = live.flatMap(v => liveDv(m, v).map(d =>
      s"dv=${esc(v)}\t${esc(d.seg)}\t${esc(d.dir)}\t${d.rows}\t${d.gen}"))
    // only LIVE delta entries serialize, in publish order (the list
    // order is bookkeeping only — reads union the dirs)
    val deltaLines = live.flatMap(v => liveDeltas(m, v).map(d =>
      s"delta=${esc(v)}\t${esc(d.seg)}\t${esc(d.dir)}\t${d.rows}\t${d.gen}"))
    val segLines = live.map { v =>
      val st = m.stats.get(v).filter(_ => m.statsCols.nonEmpty)
        .map(_.flatMap(p => Seq(encStat(p._1), encStat(p._2)))
          .mkString("\t", "\t", ""))
        .getOrElse("")
      s"${esc(v)}\t${m.segments(v)}$st"
    }
    (fLines ++ fsLines ++ rowLines ++ dvLines ++ deltaLines ++ segLines)
      .mkString("", "\n", "\n")
  }

  /** The single-file (inline) serialized form — what every manifest below
    * [[InlineMaxParts]] partitions publishes (byte-identical to the
    * pre-sharding protocol) and what [[cloneShallow]] writes for anchor
    * copies. */
  private def manifestBody(m: Manifest): String =
    headerLines(m).mkString("", "\n", "\n") +
      partitionBody(m, m.segments.keys.toSeq)

  private def writeManifestTo(fs: FileSystem, p: Path, m: Manifest): Unit =
    writeRaw(fs, p, manifestBody(m))

  private def writeRaw(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Decide the published layout of `m`: None = inline (small table);
    * Some((refs, newFiles)) = sharded — `refs` is the root's shard list
    * and `newFiles` the (name, body) shard files this publish must
    * write. A table leaves the inline format the first publish it
    * exceeds [[InlineMaxParts]] partitions and never returns (layout
    * stability beats a few root bytes). Untouched shards re-serialize to
    * the byte-identical body and are carried BY REFERENCE; a dirty shard
    * is rewritten (splitting into [[ShardTargetParts]]-sized chunks when
    * it outgrew 2× the target); a new partition value routes into the
    * shard whose escaped range owns it. */
  private def shardLayout(m: Manifest, nonce: String)
      : Option[(Seq[ShardRef], Seq[(String, String)])] = {
    val partsSorted: Seq[(String, String)] =
      m.segments.keys.map(v => (v, esc(v))).toSeq.sortBy(_._2)
    if (m.shards.isEmpty && partsSorted.size <= InlineMaxParts) return None
    val base = m.shards.sortBy(_.minEsc)
    val groups: Seq[(Option[ShardRef], Seq[(String, String)])] =
      if (base.isEmpty)
        partsSorted.grouped(ShardTargetParts).map(g => (None, g)).toSeq
      else {
        // ranges are contiguous by construction: a value belongs to the
        // LAST shard whose minEsc is at or below it (values below every
        // range join the first shard) — binary search, the assignment
        // runs once per partition of the table
        val mins = base.map(_.minEsc).toArray
        def owner(escV: String): Int = {
          var lo = 0; var hi = mins.length - 1; var ans = 0
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (mins(mid) <= escV) { ans = mid; lo = mid + 1 }
            else hi = mid - 1
          }
          ans
        }
        partsSorted.groupBy(p => owner(p._2)).toSeq.sortBy(_._1)
          .map { case (i, members) => (Some(base(i)), members) }
      }
    def bytesOf(members: Seq[(String, String)]): Long =
      members.iterator.flatMap { case (v, _) =>
        m.segments.get(v).toSeq ++ liveDeltas(m, v).map(_.dir) }
        .flatMap(seg => m.files.getOrElse(seg, Nil)).map(_._2).sum
    def rowsOf(members: Seq[(String, String)]): Option[Long] =
      // shard totals are LOGICAL rows (base physical, minus live dv
      // removals, plus live delta additions) so root-only COUNT(*)
      // stays exact on a MoR-deleted/merged table
      if (members.forall { case (v, _) => m.rowCounts.contains(v) })
        Some(members.iterator.map { case (v, _) =>
          m.rowCounts(v) + morRowAdj(m, v) }.sum)
      else None
    val refs = Seq.newBuilder[ShardRef]
    val newFiles = Seq.newBuilder[(String, String)]
    var k = 0
    groups.foreach { case (baseRef, members) =>
      if (members.nonEmpty) {
        val body = partitionBody(m, members.map(_._1))
        baseRef.filter(r => m.shardBodies.get(r.file).contains(body)) match {
          case Some(r) => refs += r // untouched: carried by reference
          case None =>
            val chunks =
              if (members.size > 2 * ShardTargetParts)
                members.grouped(ShardTargetParts).toSeq
              else Seq(members)
            chunks.foreach { c =>
              val b =
                if (chunks.size == 1) body else partitionBody(m, c.map(_._1))
              val f = s"${ShardPrefix}g${m.gen}-$k-$nonce"
              k += 1
              newFiles += ((f, b))
              refs += ShardRef(f, c.head._2, c.last._2, c.size,
                bytesOf(c), rowsOf(c))
            }
        }
      }
    }
    Some((refs.result(), newFiles.result()))
  }

  private def shardLine(r: ShardRef): String =
    s"shard=${esc(r.file)}\t${r.minEsc}\t${r.maxEsc}\t" +
      s"${r.parts}\t${r.bytes}\t${r.rows.map(_.toString).getOrElse("-")}"

  private def idxLine(r: IndexRef): String =
    s"shardidx=${esc(r.file)}\t${r.minEsc}\t${r.maxEsc}\t${r.shardsN}\t" +
      s"${r.parts}\t${r.bytes}\t${r.rows.map(_.toString).getOrElse("-")}"

  private def rootBodySharded(m: Manifest, tail: Seq[String]): String =
    (headerLines(m) ++
      m.probeSeg.map(s => s"probe=${esc(s)}").toSeq ++ tail)
      .mkString("", "\n", "\n")

  /** The published root layout for `refs` (this generation's full shard
    * list): inline `shard=` lines at or below [[RootInlineMaxShards]],
    * else a TWO-LEVEL root — `refs` grouped into contiguous
    * escaped-range index files of [[ShardIdxTarget]] shard lines each,
    * with the same carry-forward diff as the shards themselves: a group
    * whose serialized body is byte-identical to its existing index file
    * is carried BY REFERENCE (zero writes); a dirty group is rewritten
    * (splitting at 2× the target); new shards route into the
    * range-owning group. Returns (root tail lines, new index files to
    * write). One-way: a table whose root went two-level stays two-level. */
  private[sources] def rootLayout(m: Manifest, refs: Seq[ShardRef],
      nonce: String): (Seq[String], Seq[(String, String)]) = {
    if (m.shardIdx.isEmpty && refs.size <= RootInlineMaxShards)
      return (refs.map(shardLine), Nil)
    val sorted = refs.sortBy(_.minEsc)
    val baseIdx = m.shardIdx.sortBy(_.minEsc)
    val groups: Seq[(Option[IndexRef], Seq[ShardRef])] =
      if (baseIdx.isEmpty)
        sorted.grouped(ShardIdxTarget).map(g => (None, g)).toSeq
      else {
        // same range-owner assignment as [[shardLayout]]: a shard
        // belongs to the LAST index group whose minEsc is at or below
        // its own (below-every-range joins the first group)
        val mins = baseIdx.map(_.minEsc).toArray
        def owner(escV: String): Int = {
          var lo = 0; var hi = mins.length - 1; var ans = 0
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (mins(mid) <= escV) { ans = mid; lo = mid + 1 }
            else hi = mid - 1
          }
          ans
        }
        sorted.groupBy(r => owner(r.minEsc)).toSeq.sortBy(_._1)
          .map { case (i, members) => (Some(baseIdx(i)), members) }
      }
    val idxRefs = Seq.newBuilder[IndexRef]
    val newFiles = Seq.newBuilder[(String, String)]
    var k = 0
    groups.foreach { case (baseRef, members) =>
      if (members.nonEmpty) {
        val body = members.map(shardLine).mkString("", "\n", "\n")
        baseRef.filter(r => m.shardIdxBodies.get(r.file).contains(body)) match {
          case Some(r) => idxRefs += r // untouched group: carried by reference
          case None =>
            val chunks =
              if (members.size > 2 * ShardIdxTarget)
                members.grouped(ShardIdxTarget).toSeq
              else Seq(members)
            chunks.foreach { c =>
              val b =
                if (chunks.size == 1) body
                else c.map(shardLine).mkString("", "\n", "\n")
              val f = s"${ShardIdxPrefix}g${m.gen}-$k-$nonce"
              k += 1
              newFiles += ((f, b))
              // range computed over ALL members, not positionally: the
              // chunk is sorted by minEsc, so c.head.minEsc is the true
              // min, but c.last.maxEsc is only the group max while shard
              // ranges happen to be non-overlapping — a future publish
              // path that violates that would make index-level pruning
              // (resolveShards) silently skip a covered shard
              idxRefs += IndexRef(f, c.head.minEsc, c.map(_.maxEsc).max,
                c.size,
                c.map(_.parts).sum, c.map(_.bytes).sum,
                if (c.forall(_.rows.isDefined)) Some(c.flatMap(_.rows).sum)
                else None)
            }
        }
      }
    }
    (idxRefs.result().map(idxLine), newFiles.result())
  }

  private[sources] def swapManifest(hconf: org.apache.hadoop.conf.Configuration,
      table: Path, m0: Manifest): Unit = {
    require(!m0.partial,
      "internal error: a partially-hydrated manifest must never publish")
    val fs = table.getFileSystem(hconf)
    val live = new Path(table, Commit)
    val tmp = new Path(table, Commit + ".tmp")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // the newest segment, recorded in the root so sharded-table schema
    // discovery probes ONE dir without hydrating any shard
    val m = m0.copy(probeSeg =
      if (m0.segments.isEmpty) None
      else Some(m0.segments.values.maxBy(genOf)))
    val put: Path => Unit = shardLayout(m, nonce) match {
      case None => p => writeManifestTo(fs, p, m)
      case Some((refs, newFiles)) =>
        // shard files land BEFORE any root references them — a crash here
        // leaves unreferenced `_ms-*` debris the age-gated GC sweeps; the
        // nonce keeps racing writers' files apart. Index files (two-level
        // roots) follow the same order: shards, then indexes, then root.
        newFiles.foreach { case (f, b) => writeRaw(fs, new Path(table, f), b) }
        val (tail, idxFiles) = rootLayout(m, refs, nonce)
        idxFiles.foreach { case (f, b) => writeRaw(fs, new Path(table, f), b) }
        val body = rootBodySharded(m, tail)
        p => writeRaw(fs, p, body)
    }
    put(tmp)
    // history copy BEFORE the swap: every committed generation is
    // guaranteed its anchor (a crash here leaves a stale future-gen file
    // that the real publish of that number overwrites, and GC removes)
    put(new Path(table, s"$CommitGen${m.gen}"))
    if (fs.exists(live)) {
      val prev = new Path(table, CommitPrev)
      // prev is bookkeeping for segment GC, not part of the read path —
      // plain copy, no atomicity needed
      fs.delete(prev, false)
      org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, prev, false, hconf)
    }
    val fc = FileContext.getFileContext(table.toUri, hconf)
    fc.rename(tmp, live, Options.Rename.OVERWRITE)
  }

  /** Delete segment dirs referenced by NO manifest inside the retain
    * window — crashed-publish orphans (never referenced) and
    * aged-out-generation segments — plus claim markers and generation
    * anchors older than the window (a committed generation KEEPS its claim
    * until it ages out: the name must never re-open while a stalled writer
    * could still target that generation).
    * Runs at the start of every merge and at the end, so a superseded
    * generation stays fully readable (segments + `_commit.g<n>` anchor)
    * until `retain - 1` further publishes land: the previous manifest's
    * one-cycle reader grace generalized to the table's retention budget.
    * Manifests are parsed with the structure-aware reader (the old
    * `.tail`-and-split scan treated the cols= header as a segment line
    * and threw on single-column tables). */
  /** Oldest generation currently readable — the count window (`retain`)
    * intersected with the wall-clock window when `retainHours` is set
    * (anchor mtime = publish time; the `_commit.g<n>` copy is written in
    * the same swap). The current generation is always readable. Cost:
    * one small getFileStatus per generation inside the count window,
    * only when a time cap is declared. */
  private[graft] def retainedFloor(fs: FileSystem, table: Path,
      m: Manifest): Long = {
    val countFloor = m.gen - math.max(1, m.retain) + 1
    val floor = m.retainHours match {
      case Some(h) =>
        val horizon = System.currentTimeMillis() - h * 3600L * 1000L
        // publishes are sequential, so anchor mtimes are monotone in the
        // generation number and the time-expired set is a prefix
        val expired = (math.max(1L, countFloor) until m.gen).filter { g =>
          val a = new Path(table, s"$CommitGen$g")
          try fs.exists(a) && fs.getFileStatus(a).getModificationTime < horizon
          catch { case _: java.io.IOException => false }
        }
        if (expired.isEmpty) countFloor else math.max(countFloor, expired.max + 1)
      case None => countFloor
    }
    math.min(m.gen, floor)
  }

  /** Every delta dir a manifest's LIVE entries reference — the GC
    * protection set (a delta dead in every protected manifest is
    * unreferenced debris, collectable like a superseded segment). */
  private def liveDeltaDirs(m: Manifest): Set[String] =
    m.deltas.keysIterator.flatMap(p => liveDeltas(m, p)).map(_.dir).toSet

  private def collectGarbage(fs: FileSystem, table: Path): Unit = {
    if (!fs.exists(table)) return
    val curM = readManifest(fs, table)
    val cur = curM.map(m => m.segments.values.toSet ++ liveDeltaDirs(m))
      .getOrElse(Set.empty)
    val curGen = curM.map(_.gen).getOrElse(0L)
    val floor = curM.map(retainedFloor(fs, table, _)).getOrElse(0L)
    val prevM = readManifestFile(fs, new Path(table, CommitPrev))
    val prev: Set[String] = prevM
      .map(m => m.segments.values.toSet ++ liveDeltaDirs(m))
      .getOrElse(Set.empty)
    def genSuffix(name: String, prefix: String): Option[Long] = {
      val s = name.stripPrefix(prefix)
      if (name.startsWith(prefix) && s.nonEmpty && s.forall(_.isDigit))
        Some(s.toLong)
      else None
    }
    val retainedMs: Seq[Manifest] = fs.listStatus(table).toSeq.flatMap { st =>
      genSuffix(st.getPath.getName, CommitGen) match {
        case Some(g) if !st.isDirectory && g >= floor && g <= curGen =>
          readManifestFile(fs, st.getPath)
        case _ => None
      }
    }
    val retained: Set[String] =
      retainedMs.flatMap(m => m.segments.values ++ liveDeltaDirs(m)).toSet
    val protectedSegs = cur ++ prev ++ retained
    // manifest shard files referenced by ANY protected manifest (live,
    // prev, retained anchors) stay; the rest are aged-out or
    // crashed-publish debris — deleted only once old enough that no
    // in-flight publish (which writes its shards BEFORE the swap) can
    // still be about to reference them
    val protectedShards: Set[String] =
      (curM.toSeq ++ prevM.toSeq ++ retainedMs).flatMap(_.shards.map(_.file)).toSet
    // two-level roots: index files referenced by any protected manifest
    // stay (full hydration resolved their shard refs above, so the shard
    // protection set already covers their members)
    val protectedIdx: Set[String] =
      (curM.toSeq ++ prevM.toSeq ++ retainedMs).flatMap(_.shardIdx.map(_.file)).toSet
    // deletion-vector dirs referenced by ANY protected manifest stay
    // (time travel applies the anchor's own vectors); the rest age out
    // like shards — an in-flight MoR publish writes its dir pre-swap
    val protectedDvs: Set[String] =
      (curM.toSeq ++ prevM.toSeq ++ retainedMs)
        .flatMap(_.dvs.values.map(_.dir)).toSet
    val now0 = System.currentTimeMillis()
    // nonces with a LIVE staging intent: a concurrent writer staged these
    // segments and hasn't published or aborted yet — not garbage, however
    // unreferenced they look (the Rebase window). A crashed writer's
    // intent ages out, and its segments become ordinary orphans then.
    val liveIntents: Set[String] = fs.listStatus(table).toSeq.collect {
      case st if !st.isDirectory &&
          st.getPath.getName.startsWith(IntentPrefix) &&
          now0 - st.getModificationTime <= StagingSweepAgeMs =>
        st.getPath.getName.stripPrefix(IntentPrefix)
    }.toSet
    fs.listStatus(table).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("seg-") && !protectedSegs(n) &&
          !liveIntents(segNonce(n)))
        fs.delete(st.getPath, true)
      else if (!st.isDirectory && n.startsWith(IntentPrefix) &&
          now0 - st.getModificationTime > StagingSweepAgeMs)
        fs.delete(st.getPath, false)
      else if (!st.isDirectory && n.startsWith(ShardPrefix) &&
          !protectedShards(n) &&
          now0 - st.getModificationTime > StagingSweepAgeMs)
        fs.delete(st.getPath, false)
      else if (!st.isDirectory && n.startsWith(ShardIdxPrefix) &&
          !protectedIdx(n) &&
          now0 - st.getModificationTime > StagingSweepAgeMs)
        fs.delete(st.getPath, false)
      else if (st.isDirectory && n.startsWith(DvPrefix) &&
          !protectedDvs(n) &&
          now0 - st.getModificationTime > StagingSweepAgeMs)
        fs.delete(st.getPath, true)
      // committed-generation claims age out with the retain window, NOT at
      // commit: deleting a just-committed claim would re-open its name for
      // a stalled writer that passed its base-gen check before the winner
      // published — the exact lost-update the claim fence exists to stop.
      // One tiny file per retained generation is the whole cost.
      else if (!st.isDirectory && genSuffix(n, ClaimPrefix).exists(_ < floor))
        fs.delete(st.getPath, false)
      else if (!st.isDirectory && genSuffix(n, CommitGen).exists(g =>
          g < floor ||
          // a future-gen anchor is crash debris ONLY once its claim is
          // gone (recover clears stale claims): swapManifest writes the
          // anchor between claim-create and the live swap, so a racing GC
          // must not delete an about-to-commit generation's anchor
          (g > curGen && !fs.exists(new Path(table, s"$ClaimPrefix$g")))))
        fs.delete(st.getPath, false)
    }
    // aged per-attempt staging roots (crashed writers') live in the parent
    // dir as <table>.ct-staging-<nonce>
    val parent = table.getParent
    if (parent != null && fs.exists(parent)) {
      val now = System.currentTimeMillis()
      fs.listStatus(parent).foreach { st =>
        if (st.isDirectory &&
            st.getPath.getName.startsWith(table.getName + StagingInfix) &&
            now - st.getModificationTime > StagingSweepAgeMs)
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Generations currently readable via [[readAt]]: every committed
    * generation whose anchor survives the retain window, newest last.
    * Driver-side metadata (one directory listing). */
  def generations(spark: SparkSession, path: String): Seq[Long] = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val curGen = readManifest(fs, table).map(_.gen).getOrElse(return Nil)
    fs.listStatus(table).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(CommitGen) &&
        n.stripPrefix(CommitGen).nonEmpty &&
        n.stripPrefix(CommitGen).forall(_.isDigit))
      .map(_.stripPrefix(CommitGen).toLong)
      .filter(_ <= curGen)
      .sorted
  }

  /** One retained generation's summary for [[history]]. `rows` is None
    * when any live partition of that snapshot predates manifest row
    * counts. */
  final case class GenerationInfo(gen: Long, publishedAtMillis: Long,
      partitions: Int, rows: Option[Long], current: Boolean,
      op: Option[String] = None)

  /** The table's operational history — one entry per RETAINED generation
    * (the [[readAt]]/`VERSION AS OF` window), oldest first: publish time
    * (anchor mtime), live partition count, total rows when recorded.
    * Pure driver-side metadata: one directory listing plus one small
    * anchor-manifest read per retained generation — zero data files
    * opened at any table size. SQL front end: `CALL graft.history`. */
  def history(spark: SparkSession, path: String): Seq[GenerationInfo] = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    generations(spark, path).flatMap { g =>
      val anchor = new Path(table, s"$CommitGen$g")
      // a concurrent writer's GC can age the anchor out between the
      // listing and these reads — skip it, exactly as generations()
      // would have on a later call
      scala.util.Try {
        readManifestFile(fs, anchor).map { m =>
          val rows =
            if (m.segments.nonEmpty && m.segments.keys.forall(m.rowCounts.contains))
              Some(m.segments.keys.iterator.map(v =>
                m.rowCounts(v) + morRowAdj(m, v)).sum)
            else if (m.segments.isEmpty) Some(0L)
            else None
          GenerationInfo(g, fs.getFileStatus(anchor).getModificationTime,
            m.segments.size, rows, current = g == cur.gen, op = m.op)
        }
      }.toOption.flatten
    }
  }

  /** Remove a crashed writer's stale generation claim (a claim AHEAD of
    * the committed generation — left only by a crash in the claim→swap
    * window) and collect orphaned segments. Run ONLY when no writer is
    * active: an in-flight writer's claim is indistinguishable from a
    * crashed one by content. */
  /** Explicit garbage collection (`CALL graft.vacuum`): sweep aged-out
    * segments, claims, anchors and crashed stagings NOW. Every merge
    * already runs the same sweep before and after its publish, so this
    * exists for tables that STOPPED receiving writes — the last
    * generations' garbage otherwise waits for a write that never comes.
    * Deletes only what the retention window already says is dead; pure
    * metadata + unreferenced-dir I/O. The shallow-clone caveat applies
    * here as everywhere (see [[cloneShallow]]): vacuuming a SOURCE can
    * dangle a lazy clone's references once the cloned generation ages
    * out. */
  def vacuum(spark: SparkSession, path: String): Unit = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(readManifest(fs, table).isDefined,
      s"no committed table at $path to vacuum")
    collectGarbage(fs, table)
  }

  def recover(spark: SparkSession, path: String): Unit = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val curGen = readManifest(fs, table).map(_.gen).getOrElse(0L)
    fs.listStatus(table).foreach { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && n.startsWith(ClaimPrefix) &&
          n.stripPrefix(ClaimPrefix).forall(_.isDigit) &&
          n.stripPrefix(ClaimPrefix).toLong > curGen)
        fs.delete(st.getPath, false)
      // "no writer active" is recover's contract: every staging intent is
      // a crashed writer's — sweep them so the next GC collects the segs
      else if (!st.isDirectory && n.startsWith(IntentPrefix))
        fs.delete(st.getPath, false)
    }
    // with no writer active, every per-attempt staging root is crash debris
    val parent = table.getParent
    if (parent != null && fs.exists(parent)) fs.listStatus(parent).foreach { st =>
      if (st.isDirectory &&
          st.getPath.getName.startsWith(table.getName + StagingInfix))
        fs.delete(st.getPath, true)
    }
    collectGarbage(fs, table)
  }

  /** A publish's REBASE credentials (optimistic concurrency, the Delta/
    * Iceberg logical-conflict model): `base` is the manifest the verb
    * planned against, `touched` the partition values whose entries it
    * replaces or retires, `readParts` the partition values whose CONTENT
    * its staged output depends on. Only verbs whose read scope is
    * provably a partition set may carry one — [[overwritePartitions]]
    * (reads nothing: readParts = ∅) and [[compactPartitions]] (readParts
    * = touched). A verb that discovers its scope by scanning the table
    * (merge's key-location pass, delete's predicate pass) must NOT: a
    * concurrent commit could have placed matching rows in partitions it
    * would then silently miss (the write-skew Delta aborts with
    * ConcurrentAppendException). Those verbs keep the loud abort; the
    * documented remedy — re-run on top of the winner — stays sound
    * because the re-run re-scans. */
  private[graft] final case class Rebase(base: Manifest,
      touched: Set[String], readParts: Set[String])

  /** The write-side fence: verify the manifest is still at `baseGen`,
    * atomically claim `next.gen` (create-no-overwrite picks exactly one
    * winner among racing writers), then swap. On failure, a publish
    * carrying [[Rebase]] credentials first tries to REBASE: if the
    * winner's commits changed only partitions DISJOINT from what this
    * publish read and wrote, and no table-level metadata (schema, roles,
    * checks, bucketing, tombstones) moved, the already-staged segments
    * are still exactly right — the commit is equivalent to having run
    * after the winner — so the manifest delta is re-applied on top of
    * the winner's manifest and the claim retried (bounded attempts).
    * Otherwise the caller's staged segments are deleted (they are
    * nonce-named — only ours) and `ConcurrentModificationException`
    * raised; the caller can re-run its merge on top of the winner's
    * table. */
  private def publishOrAbort(hconf: org.apache.hadoop.conf.Configuration,
      table: Path, baseGen: Long, next: Manifest,
      staged: Map[String, String],
      rebase: Option[Rebase] = None,
      // the publishing verb's label for DESCRIBE-HISTORY-style audit;
      // applied here (never carried from `next`, which is a copy of the
      // PREVIOUS manifest — a stale label would mis-attribute the
      // generation)
      op: Option[String] = None): Unit = {
    val fs = table.getFileSystem(hconf)
    // the manifest delta this publish applies, extracted ONCE from the
    // caller's `next` so a rebase can replay it onto any winner: entries
    // for touched partitions (absence = retirement)
    val ourSegs = rebase.map(r => next.segments.view
      .filterKeys(r.touched).toMap).getOrElse(Map.empty)
    val ourStats = rebase.map(r => next.stats.view
      .filterKeys(r.touched).toMap).getOrElse(Map.empty)
    val ourCounts = rebase.map(r => next.rowCounts.view
      .filterKeys(r.touched).toMap).getOrElse(Map.empty)
    // per-file zone maps this publish added (leaf keys are nonce-unique,
    // so key novelty identifies exactly the staged files' entries)
    val ourFileStats = rebase.map(r => next.fileStats.view
      .filterKeys(k => !r.base.fileStats.contains(k)).toMap)
      .getOrElse(Map.empty)
    var attempt = next.copy(op = op)
    var base = baseGen
    var rebases = 0
    // staging intents riding this publish: cleared at commit or abort —
    // the moment the manifest references the segments (or they're gone),
    // the GC shield is no longer needed
    def clearIntents(): Unit =
      staged.values.map(segNonce).toSet[String].filter(_.nonEmpty).foreach(n =>
        fs.delete(new Path(table, s"$IntentPrefix$n"), false))
    def abort(reason: String): Nothing = {
      staged.values.foreach(d => fs.delete(new Path(table, d), true))
      clearIntents()
      throw new java.util.ConcurrentModificationException(
        s"committed-table publish of $table generation ${attempt.gen} aborted: " +
          s"$reason; staged segments removed — re-run the merge to retry on " +
          "top of the current table")
    }
    // table-level metadata this publish's staged bytes assumed: a winner
    // moving ANY of it (a widened schema, a new CHECK the staged rows
    // never validated against, a bucketing change, a rename/drop
    // tombstone) invalidates the staging — refuse the rebase
    def metaMoved(a: Manifest, b: Manifest): Boolean =
      a.cols != b.cols || a.statsCols != b.statsCols ||
        a.bloomCols != b.bloomCols || a.partitionCol != b.partitionCol ||
        a.keyCol != b.keyCol || a.verCol != b.verCol ||
        a.virtualCols != b.virtualCols || a.droppedCols != b.droppedCols ||
        a.renames != b.renames || a.checks != b.checks ||
        a.bucketing != b.bucketing
    def rebaseOnto(curM: Option[Manifest], at: String): Unit = {
      val r = rebase.getOrElse(abort(
        s"another writer advanced the table $base -> " +
          s"${curM.map(_.gen).getOrElse(0L)} $at"))
      val cur = curM.getOrElse(abort(
        s"the committed table vanished under a publish $at"))
      rebases += 1
      if (rebases > 5) abort(
        "5 rebases exhausted under continuous contention — back off and re-run")
      if (metaMoved(r.base, cur)) abort(
        s"another writer changed table metadata $base -> ${cur.gen} " +
          "(schema/roles/checks/bucketing/tombstones) — staged segments were " +
          s"planned against the old table $at")
      val winnerTouched = (r.base.segments.keySet ++ cur.segments.keySet)
        .filter(p => r.base.segments.get(p) != cur.segments.get(p))
      val overlap = winnerTouched & (r.touched ++ r.readParts)
      if (overlap.nonEmpty) abort(
        s"another writer rewrote partition(s) ${overlap.mkString(",")} this " +
          s"publish also read or wrote ($base -> ${cur.gen}) $at")
      // a merge-on-read winner changes a partition's VISIBLE CONTENT
      // without touching its segment entry (a new deletion vector, a new
      // delta segment) — invisible to the segment diff above, but fatal
      // to a rebase whose staged bytes DEPEND on that partition's
      // content: replaying our stale restage would resurrect the
      // winner's MoR deletes and drop its delta rows. Compare the
      // LIVE dv/delta state per read partition; a touched-only partition
      // (overwrite: readParts = ∅) is safe — its content is replaced
      // wholesale, and the winner's now-dead entries drop at
      // serialization.
      val morMoved = r.readParts.filter(p =>
        liveDv(r.base, p) != liveDv(cur, p) ||
          liveDeltas(r.base, p) != liveDeltas(cur, p))
      if (morMoved.nonEmpty) abort(
        s"another writer published deletion vectors or delta segments for " +
          s"partition(s) ${morMoved.mkString(",")} this publish read " +
          s"($base -> ${cur.gen}) $at")
      attempt = cur.copy(gen = cur.gen + 1,
        segments = (cur.segments -- r.touched) ++ ourSegs,
        stats = (cur.stats -- r.touched) ++ ourStats,
        rowCounts = (cur.rowCounts -- r.touched) ++ ourCounts,
        fileStats = cur.fileStats ++ ourFileStats,
        op = op)
      base = cur.gen
    }
    while (true) {
      val curM = readManifest(fs, table)
      val cur = curM.map(_.gen).getOrElse(0L)
      if (cur != base) {
        rebaseOnto(curM, "while staging")
      } else {
        val claim = new Path(table, s"$ClaimPrefix${attempt.gen}")
        try fs.create(claim, false).close()
        catch { case _: java.io.IOException => abort(
          s"another writer holds $claim (if that writer CRASHED between claim " +
            "and swap, CommittedTable.recover(path) clears it)") }
        // the gen-check and the claim create are not atomic: a winner may
        // have published OUR generation in between (its claim then aged into
        // the retain window, never deleted at commit — but a historical GC
        // bug aside, re-verifying under the claim costs one manifest read
        // and closes the window for good: holding the claim, nobody else
        // can swap)
        val cur2M = readManifest(fs, table)
        val cur2 = cur2M.map(_.gen).getOrElse(0L)
        if (cur2 != base) {
          fs.delete(claim, false) // ours — re-created after the winner's commit
          rebaseOnto(cur2M, "before the claim was acquired")
        } else {
          // fill the per-segment FILE LISTS once, here, for every publish
          // path: a carried-forward segment keeps its recorded list verbatim
          // (segments are immutable); a freshly-staged or pre-feature
          // segment is listed exactly once and recorded — query planning
          // then never lists a directory again
          val carried = cur2M.map(_.files).getOrElse(Map.empty) ++ attempt.files
          // live delta dirs are data dirs like segments: their lists fill
          // here too (dead deltas are skipped — their dirs may be GC'd)
          val filled = (attempt.segments.values ++
            attempt.deltas.keysIterator
              .flatMap(p => liveDeltas(attempt, p)).map(_.dir))
            .toSeq.distinct.map { seg =>
            seg -> carried.getOrElse(seg,
              fs.listStatus(new Path(table, seg)).toSeq
                .filter(st => st.isFile && {
                  val n = st.getPath.getName
                  !n.startsWith("_") && !n.startsWith(".")
                })
                .map(st => (st.getPath.getName, st.getLen)))
          }.toMap
          swapManifest(hconf, table, attempt.copy(files = filled))
          clearIntents()
          return
        }
      }
    }
  }

  /** Initial full load (generation 1): one segment per partition value,
    * partition column stored as a data column (typed STRING — the same
    * value-identity discipline as Warehouse.merge's dir names), manifest
    * published atomically after every segment is in place. */
  def write(df: DataFrame, path: String, partitionCol: String,
      retainGenerations: Int = 2, statsCols: Seq[String] = Nil,
      sortCols: Seq[String] = Nil, filesPerPartition: Int = 1,
      keyCol: Option[String] = None, versionCol: Option[String] = None,
      bloomCols: Seq[String] = Nil,
      checks: Seq[(String, String)] = Nil,
      bucketBy: Option[(Int, Seq[String])] = None): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1, got $retainGenerations")
    require(readManifest(fs, table).isEmpty,
      s"$path already holds a committed table; use merge for updates")
    fs.mkdirs(table)
    (statsCols ++ sortCols ++ keyCol ++ versionCol ++ bloomCols).foreach(c =>
      require(df.columns.contains(c),
        s"column $c absent from the table (${df.columns.mkString(",")})"))
    // sortCols: the [[compact]] canonical in-segment order from the FIRST
    // write — parquet row-group stats support range skipping without
    // waiting for a compaction pass
    bucketBy.foreach { case (n, cs) =>
      require(n >= 1, s"bucketBy needs n >= 1, got $n")
      cs.foreach(c => require(df.columns.contains(c),
        s"bucket column $c absent from the table (${df.columns.mkString(",")})"))
      require(!cs.contains(partitionCol),
        "bucketing by the partition column is redundant (it is already the " +
          "physical scope); bucket by the JOIN key instead")
      require(filesPerPartition == 1,
        "bucketBy and filesPerPartition are both file-count policies: a " +
          "bucketed segment holds one file per non-empty bucket (n = " +
          s"$n), so filesPerPartition must stay 1")
    }
    val staged = stageSegments(df, path, partitionCol, gen = 1L, sortCols,
      filesPerPartition = filesPerPartition, bucketing = bucketBy)
    val (stats, counts, fStats) = statsFromStaged(spark, table, staged,
      partitionCol, statsCols, bloomCols, checks)
    publishOrAbort(hconf, table, baseGen = 0L,
      Manifest(1L, df.columns.toSeq, staged, retainGenerations,
        statsCols, stats, counts, Some(partitionCol), keyCol, versionCol,
        bloomCols, checks = checks, bucketing = bucketBy,
        fileStats = fStats),
      staged, op = Some("write"))
  }

  /** Schema-only table birth (SQL `CREATE TABLE (…) PARTITIONED BY (pc)`
    * routes here): an ATOMIC ZERO-ROW first publish — generation 1 with
    * no segments, every column declared as a manifest `virtual=` entry
    * (name + DDL type, the same machinery [[addColumns]] uses), roles
    * (key/version/stats/bloom/bucketing/checks/retention) recorded up
    * front. The empty table is immediately readable (typed empty
    * relation from the declarations alone) and writable: `INSERT INTO` /
    * [[merge]] land as ordinary generation-2+ publishes under the same
    * fencing — the "fully retired table accepts insert-only merges"
    * path, starting from birth. Cost: one manifest swap, no data files,
    * identical at any target scale. The first real write materializes
    * columns physically; the virtual declarations stay harmlessly (the
    * newest-segment probe wins once files carry the columns). */
  def create(spark: SparkSession, path: String,
      columns: Seq[(String, String)], partitionCol: String,
      retainGenerations: Int = 2, statsCols: Seq[String] = Nil,
      keyCol: Option[String] = None, versionCol: Option[String] = None,
      bloomCols: Seq[String] = Nil,
      checks: Seq[(String, String)] = Nil,
      bucketBy: Option[(Int, Seq[String])] = None): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    require(columns.nonEmpty, "CREATE TABLE: no columns declared")
    require(columns.map(_._1).distinct.size == columns.size,
      s"CREATE TABLE: duplicate column names in ${columns.map(_._1).mkString(",")}")
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1, got $retainGenerations")
    require(readManifest(fs, table).isEmpty,
      s"$path already holds a committed table; use merge/DML to change it")
    columns.foreach { case (n, t) =>
      try { org.apache.spark.sql.types.DataType.fromDDL(t); () }
      catch { case e: Exception => throw new IllegalArgumentException(
        s"CREATE TABLE column $n: unparsable type '$t'", e) }
    }
    val names = columns.map(_._1)
    (Seq(partitionCol) ++ statsCols ++ keyCol ++ versionCol ++ bloomCols ++
      bucketBy.toSeq.flatMap(_._2)).foreach(c =>
      require(names.contains(c),
        s"CREATE TABLE: column $c absent from the declared schema " +
          s"(${names.mkString(",")})"))
    bucketBy.foreach { case (n, cs) =>
      require(n >= 1, s"bucketBy needs n >= 1, got $n")
      require(!cs.contains(partitionCol),
        "bucketing by the partition column is redundant (it is already " +
          "the physical scope); bucket by the JOIN key instead")
    }
    fs.mkdirs(table)
    publishOrAbort(hconf, table, baseGen = 0L,
      Manifest(1L, names, Map.empty, retainGenerations, statsCols,
        Map.empty, Map.empty, Some(partitionCol), keyCol, versionCol,
        bloomCols, virtualCols = columns, checks = checks,
        bucketing = bucketBy),
      staged = Map.empty, op = Some("create-table"))
  }

  /** SHALLOW CLONE: a new committed table at `dstPath` whose manifest
    * references `srcPath`'s CURRENT segment files by absolute path —
    * zero data copied, zero data listed, so cloning a 100 TB table costs
    * a few manifest writes (the Delta/Iceberg shallow-clone move: branch
    * a production table for a dev/backfill experiment in milliseconds).
    *
    * Semantics:
    *  - the clone continues the source's generation NUMBERING from the
    *    snapshot (clone gen = src gen at clone time) and copies every
    *    RETAINED anchor with rewritten references, so `VERSION AS OF`
    *    works on the clone across the source's retained history;
    *  - the clone is fully WRITABLE: merge/DML/compact stage their new
    *    segments LOCALLY (copy-on-write — an untouched partition keeps
    *    pointing at the source bytes forever), fencing/GC/retention all
    *    operate per-table as usual (the clone's GC only ever deletes
    *    segment dirs under its OWN path);
    *  - writes to the SOURCE never change the clone (its references are
    *    to immutable segment dirs of the snapshot generation).
    *
    * The one hazard, stated plainly (it is Delta's VACUUM hazard too):
    * the source's garbage collection does not know about clones. Once
    * the snapshot generation ages out of the SOURCE's retain window and
    * a source publish GCs it, the clone's un-rewritten references
    * dangle and its reads fail. Keep the source's retention ≥ the
    * clone's intended lifetime, or materialize the clone with ONE
    * [[compact]] (every partition rewritten locally — after that the
    * clone owns all its bytes and the source can do anything). */
  def cloneShallow(spark: SparkSession, srcPath: String,
      dstPath: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcPath)
    val dst = new Path(dstPath)
    val fs = src.getFileSystem(hconf)
    val dstFs = dst.getFileSystem(hconf)
    require(fs.getUri == dstFs.getUri,
      s"shallow clone references source bytes in place: source " +
        s"(${fs.getUri}) and destination (${dstFs.getUri}) must live on " +
        "the same filesystem (cross-store cloning is a data COPY — " +
        "read + write instead)")
    val m = readManifest(fs, src).getOrElse(throw new java.io.IOException(
      s"no committed table at $srcPath to clone"))
    require(readManifest(dstFs, dst).isEmpty,
      s"$dstPath already holds a committed table — clone into a fresh path")
    def qualify(d: String): String =
      if (d.contains("/")) d // already absolute (cloning a clone)
      else fs.makeQualified(new Path(src, d)).toString
    // shard bookkeeping is cleared: a reference would point into the
    // SOURCE's dir (shard files resolve relative to their own table), so
    // the clone always serializes fresh — anchors inline, the live
    // manifest re-sharding under the clone's dir at publish
    def rewrite(man: Manifest): Manifest = man.copy(
      segments = man.segments.view.mapValues(qualify).toMap,
      files = man.files.map { case (seg, fl) => qualify(seg) -> fl },
      // deletion vectors reference SOURCE bytes like segments do — their
      // (file, pos) entries key on segment LEAF names, which qualifying
      // the dir reference leaves intact
      dvs = man.dvs.view.mapValues(d => d.copy(dir = qualify(d.dir))).toMap,
      // delta segments reference SOURCE bytes the same way; liveness
      // keys on the base segment LEAF, which qualifying leaves intact
      deltas = man.deltas.view.mapValues(_.map(d =>
        d.copy(dir = qualify(d.dir)))).toMap,
      shards = Nil, shardBodies = Map.empty, probeSeg = None,
      partial = false)
    dstFs.mkdirs(dst)
    // retained history first (anchors are plain files — a crash mid-clone
    // leaves no readable table, recover/GC sweeps the debris), then the
    // fenced publish of the live manifest + its own anchor
    generations(spark, srcPath).filter(_ < m.gen).foreach { g =>
      readManifestFile(fs, new Path(src, s"$CommitGen$g")).foreach(am =>
        writeManifestTo(dstFs, new Path(dst, s"$CommitGen$g"), rewrite(am)))
    }
    publishOrAbort(hconf, dst, baseGen = 0L, rewrite(m), staged = Map.empty, op = Some("clone"))
  }

  /** Write one segment dir per partition value of `df` under a staging
    * root, then move each into the table under its generation-stamped,
    * nonce-unique name (racing writers of the same generation can then
    * never clobber each other's staging; a loser deletes exactly its own
    * dirs). Returns value → segment dir name. Nothing here is visible to
    * readers: only the manifest swap publishes.
    *
    * NULL (and empty-string) partition values are rejected LOUDLY: the
    * parquet writer stages both under the hive default-partition dir, and
    * a silent `__HIVE_DEFAULT_PARTITION__`→value mismatch against the
    * affected-set would drop the segment from the manifest — data loss a
    * GC later makes permanent. */
  private def stageSegments(df: DataFrame, path: String, partitionCol: String,
      gen: Long, sortCols: Seq[String] = Nil,
      sortExprs: Seq[org.apache.spark.sql.Column] = Nil,
      filesPerPartition: Int = 1,
      bucketing: Option[(Int, Seq[String])] = None,
      rangeClusterParts: Option[Int] = None): Map[String, String] =
    bucketing match {
      case Some((n, cs)) =>
        require(n >= 1 && cs.nonEmpty, "bucketing needs n >= 1 and columns")
        stageBucketed(df, path, partitionCol, gen, n, cs, sortCols)
      case None =>
        stageFlat(df, path, partitionCol, gen, sortCols, sortExprs,
          filesPerPartition, rangeClusterParts)
    }

  private def stageFlat(df: DataFrame, path: String, partitionCol: String,
      gen: Long, sortCols: Seq[String],
      sortExprs: Seq[org.apache.spark.sql.Column],
      filesPerPartition: Int,
      rangeClusterParts: Option[Int] = None): Map[String, String] = {
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1, got $filesPerPartition")
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // the staging root is PER-ATTEMPT (nonce-suffixed): two genuinely
    // concurrent writers (a compact racing a streaming micro-batch) each
    // stage under their own root and delete only their own — a shared
    // root would let one writer's start-of-stage cleanup or abort delete
    // the other's in-flight parquet output. Crashed attempts leave an
    // orphan root that [[collectGarbage]] sweeps once aged (and
    // [[recover]] sweeps unconditionally).
    val staging = new Path(path + StagingInfix + nonce)
    try {
      // __part duplicates the partition value for partitionBy, so the files
      // KEEP the column as data (a multi-root manifest read then needs no
      // per-segment value reattachment and stays one FileSourceScan);
      // repartition on the value ⇒ one splittable file per segment per
      // batch — except under filesPerPartition > 1, where a DETERMINISTIC
      // salt (spark_partition_id % n — stable per task attempt, so a
      // retried map task re-routes rows identically; a rand() salt here is
      // the classic repartition-retry row-loss bug) spreads one HOT
      // partition's write across n tasks and n sorted files per segment
      val keyed = df.withColumn(partitionCol, col(partitionCol).cast("string"))
        .withColumn("__part", col(partitionCol))
      // RANGE-CLUSTERED multi-file layout (maintenance verbs pass the
      // manifest-known partition count): repartitionByRange on
      // (__part, sort keys) gives each task a contiguous key range, so
      // every staged file covers a near-disjoint slice of its
      // partition's sort/z-key space — exactly what the per-file zone
      // maps (fs= lines) need to skip files inside a partition. The
      // EXPLICIT partition count keeps AQE from coalescing the layout;
      // range boundaries are sampled ONCE on the driver, so retried
      // tasks re-route rows identically (the same determinism argument
      // as the salt). Callers without a count keep the deterministic
      // salt (hot-partition spreading, ordering-agnostic).
      val rangeKeys: Seq[org.apache.spark.sql.Column] =
        if (sortExprs.nonEmpty) sortExprs
        else sortCols.map(col)
      // EXPLICIT partition counts on the staging exchanges: AQE sizes
      // shuffle coalescing by BYTES and folds a small-byte batch into
      // one writer task — correct for a narrow batch, but a WIDE one
      // (tens of thousands of partition values, few rows each) pays a
      // per-FILE create/commit cost AQE cannot see, serialized onto
      // that one task (the 33k-partition two-level-root spec measured
      // the whole write there). Hash clustering still puts each
      // partition value on exactly one task, so file counts and layout
      // are unchanged — only the per-file work spreads.
      val shuffleN = spark.sessionState.conf.numShufflePartitions
      val arranged =
        if (filesPerPartition <= 1)
          keyed.repartition(shuffleN, col(partitionCol))
        else rangeClusterParts match {
          case Some(p) if rangeKeys.nonEmpty =>
            keyed.repartitionByRange(
              filesPerPartition * math.max(1, p),
              (col("__part") +: rangeKeys): _*)
          case _ => keyed
            .withColumn("__salt",
              pmod(spark_partition_id(), lit(filesPerPartition)))
            .repartition(shuffleN, col(partitionCol), col("__salt"))
            .drop("__salt")
        }
      // the sort must LEAD with __part: FileFormatWriter requires an
      // ordering by the partition column and inserts its own (unstable)
      // sort when the incoming order doesn't satisfy it — which would
      // silently discard the canonical sortCols order. sortExprs sorts by
      // EXPRESSIONS (the z-order key) that never materialize in the files.
      val ordered =
        if (sortExprs.nonEmpty)
          arranged.sortWithinPartitions((col("__part") +: sortExprs): _*)
        else if (sortCols.nonEmpty)
          arranged.sortWithinPartitions(("__part" +: sortCols).map(col): _*)
        else arranged
      ordered
        .write.partitionBy("__part")
        .mode(SaveMode.Overwrite).parquet(staging.toString)
      val parts = fs.listStatus(staging).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("__part="))
      // declare the staging intent BEFORE the first rename lands a
      // segment in the table dir — from here until publish/abort, GC
      // leaves this nonce's segments alone
      if (parts.nonEmpty)
        fs.create(new Path(table, s"$IntentPrefix$nonce"), true).close()
      // renames run PARALLEL: a wide batch stages tens of thousands of
      // segment dirs, and a sequential driver loop of per-dir metadata
      // calls is minutes on an object store (the 33k-partition spec
      // measured it locally too). Order is irrelevant — each rename is
      // an independent move into a distinct destination.
      parMap(parts) { st =>
          val escaped = st.getPath.getName.stripPrefix("__part=")
          if (escaped == NullPartName)
            throw new IllegalArgumentException(
              s"partition column $partitionCol contains NULL or empty-string " +
                "values; CommittedTable requires a concrete partition value " +
                "per row (normalize upstream)")
          val v = unesc(escaped)
          val segName = s"seg-g$gen-$nonce-${esc(v)}"
          val dest = new Path(table, segName)
          if (!fs.rename(st.getPath, dest))
            throw new java.io.IOException(s"failed to stage segment ${st.getPath} -> $dest")
          v -> segName
        }.toMap
    } finally { fs.delete(staging, true); () }
    // a failure after SOME renames leaves nonce-named segments in the
    // table dir that no manifest references — ordinary orphans for GC
  }

  /** Bounded-parallel driver-side map for per-partition filesystem
    * metadata calls (staging renames, bucketed segment moves): at tens
    * of thousands of touched partitions a sequential loop of ~per-call
    * round trips dominates publish latency on an object store. Hadoop
    * FileSystem instances are thread-safe for independent-path
    * operations; failures still propagate to the caller (one exception
    * wins; others are suppressed), but unlike the sequential loop,
    * in-flight renames may COMPLETE after the first failure — a failed
    * publish can leave more staged orphans behind, all of which the
    * ordinary orphan-GC collects. */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.size <= 8) return xs.map(f)
    import scala.collection.parallel.CollectionConverters._
    val pool = new java.util.concurrent.ForkJoinPool(
      math.min(32, Runtime.getRuntime.availableProcessors * 2))
    try {
      val p = xs.par
      p.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
      p.map(f).seq
    } finally pool.shutdown()
  }

  /** Bucketed staging: every segment's rows are split by
    * `pmod(murmur3(bucketCols), n)` — BIT-IDENTICAL to Spark's
    * `HashPartitioning.partitionIdExpression`, which is what makes the
    * layout a real BucketSpec the planner can trust — and each bucket's
    * file is renamed to carry Spark's `_NNNNN` bucket suffix so
    * FileSourceScanExec can group files by bucket id at read time. An
    * empty (partition, bucket) combination simply has no file (the
    * bucketed read treats it as empty). */
  private def stageBucketed(df: DataFrame, path: String, partitionCol: String,
      gen: Long, nBuckets: Int, bucketCols: Seq[String],
      sortCols: Seq[String]): Map[String, String] = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(path + StagingInfix + nonce)
    try {
      val keyed = df.withColumn(partitionCol, col(partitionCol).cast("string"))
        .withColumn("__part", col(partitionCol))
        .withColumn("__bucket",
          pmod(hash(bucketCols.map(col): _*), lit(nBuckets)))
      // explicit count for the same wide-batch reason as stageFlat: AQE
      // coalesces by bytes and would serialize a many-(partition, bucket)
      // batch's file creations onto one writer task
      val shuffleN = spark.sessionState.conf.numShufflePartitions
      val ordered =
        if (sortCols.nonEmpty)
          keyed.repartition(shuffleN, col(partitionCol), col("__bucket"))
            .sortWithinPartitions(
              ("__part" +: "__bucket" +: sortCols).map(col): _*)
        else keyed.repartition(shuffleN, col(partitionCol), col("__bucket"))
          .sortWithinPartitions(col("__part"), col("__bucket"))
      ordered
        .write.partitionBy("__part", "__bucket")
        .mode(SaveMode.Overwrite).parquet(staging.toString)
      val parts = fs.listStatus(staging).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("__part="))
      // same intent declaration as stageFlat: GC keeps its hands off this
      // nonce's segments until the writer publishes or aborts
      if (parts.nonEmpty)
        fs.create(new Path(table, s"$IntentPrefix$nonce"), true).close()
      parMap(parts) { st =>
          val escaped = st.getPath.getName.stripPrefix("__part=")
          if (escaped == NullPartName)
            throw new IllegalArgumentException(
              s"partition column $partitionCol contains NULL or empty-string " +
                "values; CommittedTable requires a concrete partition value " +
                "per row (normalize upstream)")
          val v = unesc(escaped)
          val segName = s"seg-g$gen-$nonce-${esc(v)}"
          val dest = new Path(table, segName)
          if (!fs.mkdirs(dest))
            throw new java.io.IOException(s"failed to create segment $dest")
          fs.listStatus(st.getPath).toSeq
            .filter(b => b.isDirectory && b.getPath.getName.startsWith("__bucket="))
            .foreach { b =>
              val bId = b.getPath.getName.stripPrefix("__bucket=").toInt
              val dataFiles = fs.listStatus(b.getPath).toSeq.filter(f =>
                f.isFile && !f.getPath.getName.startsWith("_") &&
                  !f.getPath.getName.startsWith("."))
              dataFiles.zipWithIndex.foreach { case (f, i) =>
                val name = f"part-$i%05d-$nonce-b_$bId%05d.c000.snappy.parquet"
                if (!fs.rename(f.getPath, new Path(dest, name)))
                  throw new java.io.IOException(
                    s"failed to stage bucket file ${f.getPath} -> $dest/$name")
              }
            }
          v -> segName
        }.toMap
    } finally { fs.delete(staging, true); () }
  }

  /** Read the committed table: resolve segments through the manifest
    * (atomically-published snapshot), optionally pruning to
    * `partitionValues` — a driver-side METADATA filter on the manifest
    * entries; unselected segments are never listed, opened, or planned. */
  def read(spark: SparkSession, path: String,
      partitionValues: Option[Seq[String]] = None): DataFrame = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a partition-value probe against a SHARDED manifest parses the root
    // plus only the shards whose range can hold a probed value — the
    // planning cost is O(surviving shards), not O(table)
    val m = (partitionValues match {
      case Some(vs) => readManifestPruned(fs, table, vs.toSet)
      case None => readManifest(fs, table)
    }).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    readFrom(spark, table, m, partitionValues)
  }

  /** Time-travel read: the table EXACTLY as generation `gen` published it
    * — snapshot content AND snapshot schema (a generation before a widen
    * reads with the narrower column list). Readable while `gen` is inside
    * the retain window ([[generations]] lists what survives; the window
    * is the `retainGenerations` the table was created with, carried
    * forward by every merge/compact). An aged-out generation fails with
    * the window, not silently wrong data. Same manifest-resolved pruned
    * scan as [[read]] — time travel is a metadata choice, not a data
    * copy. */
  def readAt(spark: SparkSession, path: String, gen: Long,
      partitionValues: Option[Seq[String]] = None): DataFrame = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    val m =
      if (gen == cur.gen) cur // pre-anchor tables still time-travel to NOW
      else readManifestFile(fs, new Path(table, s"$CommitGen$gen"))
        .filter(_ => gen < cur.gen && gen >= retainedFloor(fs, table, cur))
        .getOrElse(throw new java.io.IOException(
          s"generation $gen of $path is not retained (current ${cur.gen}, " +
            s"retain ${cur.retain}" +
            cur.retainHours.map(h => s", retainHours $h").getOrElse("") +
            s" ⇒ readable ${math.max(1, retainedFloor(fs, table, cur))}..${cur.gen}); " +
            "raise retainGenerations at write() to keep a deeper history"))
    readFrom(spark, table, m, partitionValues)
  }

  /** Per-partition row counts from MANIFEST METADATA alone — zero file
    * reads, zero jobs. `None` if any selected partition predates the
    * row-count manifest line (fall back to a scan). `gen` time-travels
    * through the retained anchor. */
  def rowCounts(spark: SparkSession, path: String,
      partitionValues: Option[Seq[String]] = None,
      gen: Option[Long] = None): Option[Map[String, Long]] = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    val m = gen.map(g => resolveAnchor(fs, table, path, g, cur)).getOrElse(cur)
    val wanted = partitionValues match {
      case Some(vs) => vs.filter(m.segments.contains)
      case None => m.segments.keys.toSeq
    }
    if (wanted.forall(m.rowCounts.contains))
      // LOGICAL counts: base physical, minus live dv removals, plus
      // live delta-segment additions
      Some(wanted.map(v => v -> (m.rowCounts(v) + morRowAdj(m, v))).toMap)
    else None
  }

  /** `COUNT(*)` of the table (optionally at a retained generation / for
    * selected partitions) — O(1) from the manifest when every selected
    * partition carries its count (every publish since the feature), a
    * footer-count scan otherwise. The Delta/Iceberg metadata-count move:
    * at 100 TB a count is a sum of a few hundred manifest integers. */
  def count(spark: SparkSession, path: String,
      partitionValues: Option[Seq[String]] = None,
      gen: Option[Long] = None): Long = {
    // whole-table count of a SHARDED manifest: the root's per-shard row
    // totals answer without hydrating one shard
    if (partitionValues.isEmpty && gen.isEmpty) {
      val table = new Path(path)
      val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
      readManifestRoot(fs, table) match {
        case Some(root) if root.partial =>
          rootRows(root) match {
            case Some(n) => return n
            case None => ()
          }
        case _ => ()
      }
    }
    rowCounts(spark, path, partitionValues, gen) match {
      case Some(counts) => counts.values.sum
      case None =>
        val df = gen match {
          case Some(g) => readAt(spark, path, g, partitionValues)
          case None => read(spark, path, partitionValues)
        }
        df.count()
    }
  }

  /** Re-publish the table with a new `retainGenerations` — the
    * compliance-clock dial [[delete]] documents: shrinking it lets the
    * next GC collect pre-delete history sooner; growing it deepens the
    * time-travel budget for FUTURE publishes (already-collected anchors
    * do not resurrect). Metadata-only (segments untouched) but a REAL
    * generation behind the usual fencing — concurrent writers race it
    * loudly instead of silently resurrecting the old setting.
    *
    * `retainHours` adds (and `clearRetainHours` removes) the WALL-CLOCK
    * retention cap: a non-current generation published more than that
    * many hours ago is collected by the next GC/vacuum and refused by
    * time travel even inside the count window — the compliance clock
    * ("pre-delete rows readable for ≤ N days" = 24·N), immune to
    * publish-cadence changes. The readable window is the intersection of
    * both; count-based `retain` still bounds how MANY generations can
    * ever be readable. SQL: `ALTER TABLE … SET TBLPROPERTIES
    * ('retainhours'='72')`, empty value clears. */
  def setRetention(spark: SparkSession, path: String,
      retainGenerations: Int, retainHours: Option[Long] = None,
      clearRetainHours: Boolean = false): Unit = {
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1, got $retainGenerations")
    retainHours.foreach(h => require(h >= 1,
      s"retainHours must be >= 1, got $h"))
    require(retainHours.isEmpty || !clearRetainHours,
      "pass retainHours OR clearRetainHours, not both")
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    collectGarbage(fs, table)
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1, retain = retainGenerations,
        retainHours =
          if (clearRetainHours) None else retainHours.orElse(m.retainHours)),
      Map.empty, op = Some("set-retention"))
    collectGarbage(fs, table)
  }

  /** RESTORE the table to a RETAINED generation (Delta `RESTORE TABLE`
    * / Iceberg rollback): publish a NEW generation whose content —
    * segments, stats, row counts, file lists, deletion vectors, schema,
    * roles, checks, bucketing, tombstones — is the anchor's. History
    * rolls FORWARD: the undone generations stay readable inside the
    * retain window (nothing is deleted by the restore itself; they age
    * out normally), and the restore is itself just a generation — a
    * second restore undoes it. Metadata-only at any table size: the
    * anchor's segments are still on disk (retention is what makes the
    * target restorable — an aged-out generation is refused loudly with
    * the readable range) and carried by reference; on a sharded
    * manifest untouched shards carry by reference too, so the publish
    * writes O(differing shards).
    *
    * The CURRENT retention knobs (`retain`, `retainHours`) are kept,
    * not the anchor's: rolling back data must not also rewind the
    * compliance clock. Fenced like every publish — a concurrent writer
    * aborts the restore, not the reverse. */
  def restore(spark: SparkSession, path: String, gen: Long): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val cur = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path to restore"))
    if (gen == cur.gen) return // already there: no generation burned
    val anchor = hydrateSnapshot(fs, table,
      resolveAnchor(fs, table, path, gen, cur), None)
    publishOrAbort(hconf, table, cur.gen,
      anchor.copy(gen = cur.gen + 1,
        retain = cur.retain, retainHours = cur.retainHours),
      Map.empty, op = Some("restore"))
    collectGarbage(fs, table)
  }

  /** Declare (or clear, with None) the table's CLUSTERING (TBLPROPERTIES
    * 'clusterby' + 'clusterfiles'): once set, every row-writing publish
    * range-clusters its staged partitions on the given columns into
    * `filesPerPartition` files each, so per-file zone maps skip inside
    * partitions with no maintenance job. Metadata-only, one fenced
    * generation; existing segments keep their layout until their next
    * rewrite (run [[compact]] once to cluster history). Mutually
    * exclusive with bucketing. */
  def setClustering(spark: SparkSession, path: String,
      clusterBy: Option[(Seq[String], Int)]): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    clusterBy.foreach { case (cols, n) =>
      require(cols.nonEmpty, "clusterby needs at least one column")
      require(n >= 2, s"clusterfiles must be >= 2 to cluster, got $n")
      cols.foreach(c => require(m.cols.contains(c),
        s"clusterby column $c does not exist (${m.cols.mkString(",")})"))
      require(m.bucketing.isEmpty,
        "clusterby on a bucketed table: bucketing and clustering are " +
          "competing physical layouts — drop one")
    }
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1, clusterBy = clusterBy), Map.empty, op = Some("set-clustering"))
  }

  /** The staging layout a DECLARED clustering imposes on a verb staging
    * `parts` partitions: (sortCols, filesPerPartition, range partition
    * count). No declaration (or bucketing, which wins) → the verb's
    * default flat layout. */
  private def clusterArgs(m: Manifest, parts: Int)
      : (Seq[String], Int, Option[Int]) = m.clusterBy match {
    case Some((cols, n)) if m.bucketing.isEmpty =>
      (cols, n, Some(math.max(1, parts)))
    case _ => (Nil, 1, None)
  }

  /** Declare the table's SQL DELETE routing (TBLPROPERTIES
    * 'deletemode'): "mor" routes `DELETE FROM` through [[deleteMor]]
    * (deletion vectors), "cow" / None the copy-on-write [[delete]].
    * Metadata-only, one fenced generation; existing vectors (either
    * direction) keep applying — the policy only picks the verb for
    * FUTURE deletes. */
  def setDeleteMode(spark: SparkSession, path: String,
      mode: Option[String]): Unit = {
    require(mode.forall(Set("cow", "mor")),
      s"deletemode must be 'cow' or 'mor', got ${mode.get}")
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1,
        deleteMode = mode.filter(_ == "mor")),
      Map.empty, op = Some("set-deletemode"))
  }

  /** Declare the table's UPDATE routing policy (TBLPROPERTIES
    * 'updatemode'): Some("mor") routes SQL UPDATE through [[updateMor]]
    * (deletion vector + delta segment, O(matched rows) written);
    * None/"cow" keeps [[update]]'s copy-on-write rewrite. One manifest
    * swap, fenced like every publish. */
  def setUpdateMode(spark: SparkSession, path: String,
      mode: Option[String]): Unit = {
    require(mode.forall(Set("cow", "mor")),
      s"updatemode must be 'cow' or 'mor', got ${mode.get}")
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1,
        updateMode = mode.filter(_ == "mor")),
      Map.empty, op = Some("set-updatemode"))
  }

  /** Declare (or re-declare) the table's CHECK constraints: `(name, SQL
    * boolean expression)` pairs enforced against every later publish
    * that creates or modifies rows (see [[Manifest.checks]]). By default
    * the CURRENT rows are validated first — a constraint the existing
    * data already violates is refused before anything is published (one
    * early-exit scan; pass `validateExisting = false` to skip when the
    * data is known clean, e.g. re-declaring after a REPLACE). An empty
    * `checks` clears them. Expressions must resolve against the current
    * schema — and a later schema change that drops a checked column
    * makes the next validating publish fail loudly; re-declare the
    * checks in the same breath as such a replace. */
  def setChecks(spark: SparkSession, path: String,
      checks: Seq[(String, String)],
      validateExisting: Boolean = true): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    val names = checks.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate check names: ${names.diff(names.distinct).mkString(",")}")
    if (checks.nonEmpty && m.segments.nonEmpty) {
      val cur = read(spark, path)
      // resolve every expression against the real schema up front, so a
      // typo fails HERE naming the check, not inside a later publish
      checks.foreach { case (n, e) =>
        try cur.select(org.apache.spark.sql.functions.expr(e)).queryExecution.analyzed
        catch { case ex: Exception => throw new IllegalArgumentException(
          s"check $n ($e) does not resolve against the table's schema: " +
            ex.getMessage, ex) }
      }
      if (validateExisting) {
        val viol = checks.map { case (_, e) =>
          !coalesce(org.apache.spark.sql.functions.expr(e), lit(true)) }
          .reduce(_ || _)
        val offender = cur.filter(viol).limit(1).collect()
        if (offender.nonEmpty) throw new IllegalStateException(
          s"existing rows of $path violate the declared check(s) — first " +
            s"offender: ${offender.head}; clean the data first or declare " +
            "with validateExisting = false at your own risk")
      }
    }
    collectGarbage(fs, table)
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1, checks = checks), Map.empty, op = Some("set-checks"))
    collectGarbage(fs, table)
  }

  /** METADATA-ONLY schema widen (SQL `ALTER TABLE … ADD COLUMNS` routes
    * here): declare `(name, DDL type)` columns on the table without
    * touching one data file — the cost is a manifest swap, identical at
    * 8 rows and 100 TB. Every read NULL-fills the new columns (the
    * explicit-schema parquet read, typed from the manifest declaration)
    * until a partition's next rewrite materializes real values there.
    * Nullable by construction — a NOT NULL or defaulted add would need a
    * full rewrite and is refused at the SQL layer. A real generation
    * behind the usual fencing; time travel to a pre-alter generation
    * serves the OLD schema (the anchor's own column list). */
  def addColumns(spark: SparkSession, path: String,
      columns: Seq[(String, String)]): Unit = {
    require(columns.nonEmpty, "ADD COLUMNS: no columns given")
    require(columns.map(_._1).distinct.size == columns.size,
      s"ADD COLUMNS: duplicate names in ${columns.map(_._1).mkString(",")}")
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    columns.foreach { case (n, t) =>
      require(!m.cols.contains(n),
        s"ADD COLUMNS: column $n already exists on $path")
      require(!m.droppedCols.contains(n),
        s"ADD COLUMNS: $n was dropped metadata-only and unrewritten " +
          s"segment files of $path still carry its old bytes — re-adding " +
          "the name now would RESURRECT them through the by-name read; " +
          "run CALL graft.compact (or overwrite the table) to physically " +
          "shed the residue first")
      require(!m.renames.values.flatten.toSeq.contains(n),
        s"ADD COLUMNS: $n is the FORMER name of a renamed column and " +
          s"unrewritten files of $path still carry its bytes — the " +
          "rename's coalesce would read them as the renamed column; " +
          "run CALL graft.compact first")
      try org.apache.spark.sql.types.DataType.fromDDL(t)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"ADD COLUMNS $n: unparsable type '$t'", e) }
    }
    collectGarbage(fs, table)
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1, cols = m.cols ++ columns.map(_._1),
        virtualCols = m.virtualCols ++ columns), Map.empty, op = Some("add-columns"))
    collectGarbage(fs, table)
  }

  /** METADATA-ONLY column drop (SQL `ALTER TABLE … DROP COLUMN(S)`
    * routes here): remove columns from the table's declared schema
    * without touching one data file — every read's explicit schema is
    * built from the manifest column list, so the dropped column's bytes
    * simply stop being requested from parquet (column pruning makes the
    * residue free; a later compact/rewrite of a partition physically
    * sheds it there). Columns carrying a table ROLE (partition, key,
    * version, zone-map stats, bloom) are refused loudly — clear the role
    * first via [[setRoles]] if the drop is intended. A real generation
    * behind the usual fencing; time travel to a pre-drop generation
    * serves the old schema. The dropped NAME is tombstoned
    * (`droppedCols`): unrewritten files still carry its bytes, and the
    * by-name read would silently resurrect them on a re-add — so
    * [[addColumns]] refuses the name until one full rewrite (compact /
    * z-order / overwrite) physically sheds the residue and clears the
    * tombstone. */
  def dropColumns(spark: SparkSession, path: String,
      columns: Seq[String]): Unit = {
    require(columns.nonEmpty, "DROP COLUMNS: no columns given")
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    columns.foreach { c =>
      require(m.cols.contains(c),
        s"DROP COLUMNS: column $c does not exist on $path " +
          s"(columns: ${m.cols.mkString(",")})")
      val role =
        if (m.partitionCol.contains(c)) Some("the partition column")
        else if (m.keyCol.contains(c)) Some("the merge key (keycol)")
        else if (m.verCol.contains(c)) Some("the version column (vercol)")
        else if (m.statsCols.contains(c)) Some("a zone-map stats column")
        else if (m.bloomCols.contains(c)) Some("a bloom-sidecar column")
        else if (m.bucketing.exists(_._2.contains(c)))
          Some("a bucket column (the table's physical layout)")
        else None
      role.foreach(r => throw new UnsupportedOperationException(
        s"DROP COLUMNS: $c is $r of $path; clear the role first " +
          "(SET TBLPROPERTIES / setRoles) if the drop is intended"))
    }
    require((m.cols.toSet -- columns).nonEmpty,
      s"DROP COLUMNS would leave $path with no columns")
    collectGarbage(fs, table)
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1, cols = m.cols.filterNot(columns.contains),
        virtualCols = m.virtualCols.filterNot(v => columns.contains(v._1)),
        // dropping a RENAMED column also tombstones its former physical
        // names — unrewritten files carry those bytes too
        droppedCols = (m.droppedCols ++ columns ++
          columns.flatMap(c => m.renames.getOrElse(c, Nil))).distinct,
        renames = m.renames -- columns,
        ndv = m.ndv -- columns),
      Map.empty, op = Some("drop-columns"))
    collectGarbage(fs, table)
  }

  /** ANALYZE TABLE for the cost-based optimizer (`CALL graft.analyze`):
    * ONE aggregate pass over the table computing approximate distinct
    * counts (HLL — `approx_count_distinct`) for `columns` (default: the
    * partition/key/version/stats columns — the ones joins and filters
    * actually touch), published as table-level manifest metadata. With
    * these plus the exact manifest row counts, the SQL layer hands Spark
    * real `CatalogStatistics`, and under `spark.sql.cbo.enabled` +
    * `spark.sql.cbo.joinReorder.enabled` a multi-join query REORDERS by
    * estimated intermediate size. Stats are carried forward by later
    * publishes as ESTIMATES (staleness changes plans, never answers) —
    * re-run after heavy DML. */
  def analyzeTable(spark: SparkSession, path: String,
      columns: Seq[String] = Nil): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    val targets =
      if (columns.nonEmpty) columns
      else (m.partitionCol.toSeq ++ m.keyCol ++ m.verCol ++ m.statsCols).distinct
    targets.foreach(c => require(m.cols.contains(c),
      s"ANALYZE: column $c does not exist on $path (${m.cols.mkString(",")})"))
    require(targets.nonEmpty, s"ANALYZE: no columns to analyze on $path " +
      "(no roles recorded — pass columns explicitly)")
    val counts: Map[String, Long] =
      if (m.segments.isEmpty) targets.map(_ -> 0L).toMap
      else {
        val aggs = targets.map(c => approx_count_distinct(col(c)).as(c))
        val row = read(spark, path).agg(aggs.head, aggs.tail: _*).head()
        targets.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
      }
    collectGarbage(fs, table)
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1, ndv = m.ndv ++ counts), Map.empty, op = Some("analyze"))
    collectGarbage(fs, table)
  }

  /** METADATA-ONLY column rename (SQL `ALTER TABLE … RENAME COLUMN old
    * TO new` routes here): one manifest swap, zero data files touched.
    * Unrewritten files still physically carry the OLD name, so the
    * manifest records a name mapping (`was=`) and every read requests
    * the old names too, projecting `coalesce(new, old…)` — by-name
    * correctness without Iceberg's field IDs. Chained renames compose
    * (a→b→c reads coalesce(c, b, a)); time travel to a pre-rename
    * generation serves the OLD name (the anchor's own column list).
    * Guards, each loud: role columns (partition/key/version/stats/bloom/
    * bucket) are refused — clear the role first; the new name must not
    * collide with a live column, a DROP tombstone, or another mapping's
    * former name (file residue would resurrect). The former name is
    * quarantined until one full rewrite (compact / z-order / overwrite)
    * sheds the residue and clears the mapping. */
  def renameColumn(spark: SparkSession, path: String,
      oldName: String, newName: String): Unit = {
    require(oldName != newName, s"RENAME COLUMN: $oldName to itself")
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    require(m.cols.contains(oldName),
      s"RENAME COLUMN: $oldName does not exist on $path " +
        s"(columns: ${m.cols.mkString(",")})")
    require(!m.cols.contains(newName),
      s"RENAME COLUMN: $newName already exists on $path")
    require(!m.droppedCols.contains(newName),
      s"RENAME COLUMN: $newName was dropped metadata-only and unrewritten " +
        s"files of $path still carry its bytes — the by-name read would " +
        "resurrect them; CALL graft.compact first")
    require(!m.renames.values.flatten.toSeq.contains(newName),
      s"RENAME COLUMN: $newName is the FORMER name of a renamed column " +
        s"and unrewritten files of $path still carry its bytes; " +
        "CALL graft.compact first")
    val role =
      if (m.partitionCol.contains(oldName)) Some("the partition column")
      else if (m.keyCol.contains(oldName)) Some("the merge key (keycol)")
      else if (m.verCol.contains(oldName)) Some("the version column (vercol)")
      else if (m.statsCols.contains(oldName)) Some("a zone-map stats column")
      else if (m.bloomCols.contains(oldName)) Some("a bloom-sidecar column")
      else if (m.bucketing.exists(_._2.contains(oldName)))
        Some("a bucket column (the table's physical layout)")
      else None
    role.foreach(r => throw new UnsupportedOperationException(
      s"RENAME COLUMN: $oldName is $r of $path; clear the role first " +
        "(SET TBLPROPERTIES / setRoles) if the rename is intended"))
    // a CHECK expression referencing the old name would fail every later
    // validating publish — refuse now, naming the check
    m.checks.find(_._2.matches(
      s"(?s).*\\b${java.util.regex.Pattern.quote(oldName)}\\b.*"))
      .foreach { case (n, e) => throw new UnsupportedOperationException(
        s"RENAME COLUMN: check '$n' ($e) references $oldName — drop or " +
          "re-declare the check in the same breath as the rename " +
          "(SET TBLPROPERTIES)") }
    val chained = oldName +: m.renames.getOrElse(oldName, Nil)
    collectGarbage(fs, table)
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1,
        cols = m.cols.map(c => if (c == oldName) newName else c),
        virtualCols = m.virtualCols.map { case (n, t) =>
          (if (n == oldName) newName else n, t) },
        renames = (m.renames - oldName) + (newName -> chained),
        ndv = (m.ndv - oldName) ++
          m.ndv.get(oldName).map(newName -> _).toMap,
        checks = m.checks), Map.empty, op = Some("rename-column"))
    collectGarbage(fs, table)
  }

  /** METADATA-ONLY role re-declaration (SQL `ALTER TABLE … SET
    * TBLPROPERTIES` routes here): update the table's keycol/vercol/
    * statscols/bloomcols lines without rewriting data. `None` keeps the
    * current value. Re-declaring `statsCols` DROPS the recorded
    * per-segment zone maps (they are indexed by the statsCols list, so a
    * changed list would mis-align them) — every segment conservatively
    * survives range pruning until its partition's next rewrite or one
    * `compact` rebuilds the maps; answers never change, only I/O. A
    * changed `bloomCols` likewise takes effect per segment as sidecars
    * (re)build on rewrite — a missing sidecar conservatively survives. */
  def setRoles(spark: SparkSession, path: String,
      keyCol: Option[String] = None, versionCol: Option[String] = None,
      statsCols: Option[Seq[String]] = None,
      bloomCols: Option[Seq[String]] = None): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    (keyCol ++ versionCol ++ statsCols.getOrElse(Nil) ++
        bloomCols.getOrElse(Nil)).foreach(c =>
      require(m.cols.contains(c),
        s"SET TBLPROPERTIES on $path: column $c does not exist " +
          s"(columns: ${m.cols.mkString(",")})"))
    val statsChanged = statsCols.exists(_ != m.statsCols)
    collectGarbage(fs, table)
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = m.gen + 1,
        keyCol = keyCol.orElse(m.keyCol),
        verCol = versionCol.orElse(m.verCol),
        statsCols = statsCols.getOrElse(m.statsCols),
        // a changed stats-column list misaligns every recorded pair —
        // partition AND file entries clear together (rebuilt by the next
        // row-writing publish; missing entries conservatively keep)
        stats = if (statsChanged) Map.empty else m.stats,
        fileStats = if (statsChanged) Map.empty else m.fileStats,
        bloomCols = bloomCols.getOrElse(m.bloomCols)), Map.empty, op = Some("set-roles"))
    collectGarbage(fs, table)
  }

  /** Whether generation `gen` changed partition `pv`'s visible contents
    * in manifest `m`: its segment was written at `gen`, or a live
    * deletion vector or delta segment carries `gen` as its touch marker
    * — the one change-detection rule every feed variant shares. */
  private def touchedAt(m: Manifest, pv: String, gen: Long): Boolean =
    m.segments.get(pv).exists(s => genOf(s) == gen) ||
      liveDv(m, pv).exists(_.gen == gen) ||
      liveDeltas(m, pv).exists(_.gen == gen)

  /** The CHANGE BATCH of generation `gen`: exactly the rows written AT
    * that generation — gen 1 is the initial load, a merge's generation is
    * its upserted partitions' full rewritten contents (latest-version-
    * wins rows, the idempotent upsert batch downstream consumers re-merge
    * by key), a compact's generation is the whole table re-emitted. The
    * delta is resolved from the generation's own RETAINED anchor manifest
    * — segments named `seg-g<gen>-…` in it — so it stays reproducible
    * bit-for-bit while the anchor lives, and newer merges/compacts never
    * rewrite history. Metadata-only resolution (one manifest read); the
    * feed's retention contract is [[readAt]]'s: a consumer must not lag
    * more than `retainGenerations - 1` generations behind the writer. */
  def changesFor(spark: SparkSession, path: String, gen: Long): DataFrame = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    val m = resolveAnchor(fs, table, path, gen, cur)
    // touched = segments WRITTEN at gen, or partitions whose deletion
    // vector or delta segment was written at gen (a MoR delete/merge
    // rewrites nothing but changes the partition's visible contents)
    val delta = m.segments.filter { case (pv, _) => touchedAt(m, pv, gen) }
    if (delta.isEmpty) {
      // structurally possible only for a generation that rewrote nothing;
      // emit zero rows with the generation's schema
      readFrom(spark, table, m, Some(Nil))
    } else {
      // readFrom's schema discipline: the merge that published gen wrote
      // its segments with m's FULL column list, so probing one current-gen
      // segment types every column of m.cols
      readFrom(spark, table, m,
        Some(delta.keys.toSeq))
    }
  }

  /** Resolve generation `gen`'s retained anchor manifest, distinguishing
    * the three failure shapes a change-feed consumer hits: a generation
    * that never existed yet (ahead of the writer), one aged past the
    * retain window (lagging consumer — names the readable range), or the
    * current head (served from `_commit` itself, no anchor needed). */
  private[graft] def resolveAnchor(fs: FileSystem, table: Path, path: String,
      gen: Long, cur: Manifest): Manifest = {
    if (gen > cur.gen) throw new java.io.IOException(
      s"generation $gen of $path has not been published yet (current ${cur.gen})")
    if (gen == cur.gen) cur
    else readManifestFile(fs, new Path(table, s"$CommitGen$gen"))
      .filter(_ => gen >= retainedFloor(fs, table, cur))
      .getOrElse(throw new java.io.IOException(
        s"generation $gen of $path is not retained (current ${cur.gen}, " +
          s"retain ${cur.retain}" +
          cur.retainHours.map(h => s", retainHours $h").getOrElse("") +
          s" ⇒ readable " +
          s"${math.max(1, retainedFloor(fs, table, cur))}..${cur.gen}); a " +
          "change-feed consumer must not lag more than retainGenerations - 1 " +
          "behind the writer"))
  }

  /** KEY-LEVEL change batch of generation `gen`: [[changesFor]] minus the
    * rows that rode along unchanged. A merge rewrites every AFFECTED
    * partition in full, so the partition-granularity feed amplifies one
    * upserted row in a hot partition into the whole partition's contents;
    * this variant anti-joins the rewritten partitions against the SAME
    * partitions' previous-generation snapshot on `(key, versionCol)` and
    * emits only rows whose pair is new — the actual upserts, bounded by
    * the rewrite (never a full-table diff: both sides are manifest-pruned
    * to the touched partitions).
    *
    * Contract: identity of a row is `(key, version)` — a row re-asserted
    * with an unchanged version is reported UNCHANGED even if other
    * columns (including its partition) differ, and a key retired by a
    * partition move emits no tombstone (the key surfaces in its new
    * partition's batch only if its version advanced). Needs generation
    * `gen - 1` retained too, so a key-level consumer must not lag more
    * than `retainGenerations - 2` behind the writer; generation 1 (the
    * initial load) is all-new by definition. */
  def changesForKeys(spark: SparkSession, path: String, gen: Long,
      key: String, versionCol: String): DataFrame = {
    val full = changesFor(spark, path, gen)
    if (gen <= 1L) return full
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    val m = resolveAnchor(fs, table, path, gen, cur)
    val touched = m.segments.keys.filter(touchedAt(m, _, gen)).toSeq
    if (touched.isEmpty) return full
    val prev =
      try resolveAnchor(fs, table, path, gen - 1, cur)
      catch {
        case e: java.io.IOException => throw new java.io.IOException(
          s"key-level delta for generation $gen of $path needs generation " +
            s"${gen - 1} retained as its baseline (${e.getMessage}); keep a " +
            "key-level consumer within retainGenerations - 2 of the writer", e)
      }
    // baseline = the previous generation's rows that could have become
    // this batch's rows: the SAME touched partitions, plus partitions
    // that DISAPPEARED at gen — a key carried out of a retired partition
    // (a move that emptied it) or re-keyed by a partition EVOLUTION
    // ([[repartitionTable]], where every old name vanishes) is UNCHANGED
    // unless its version advanced, and missing those sources would
    // re-emit whole partitions as phantom upserts
    val prevTouched = (touched.filter(prev.segments.contains) ++
      prev.segments.keys.filterNot(m.segments.contains)).distinct
    if (prevTouched.isEmpty) return full
    val baseline = readFrom(spark, table, prev, Some(prevTouched))
      .select(col(key), col(versionCol))
    full.join(baseline, Seq(key, versionCol), "left_anti")
  }

  /** Change-type marker column of [[changesCdf]] (the Delta CDF model). */
  val ChangeTypeColumn = "_change_type"

  /** FULL change-data-feed batch of generation `gen`, the Delta-CDF
    * model: every row of the touched partitions classified against the
    * previous generation's same partitions by `key` —
    *
    *  - `insert`: key absent before — the new row;
    *  - `update_postimage` / `update_preimage`: key present on both
    *    sides with `versionCol` changed — the new and the replaced row
    *    (a key MOVE between touched partitions classifies here too);
    *  - `delete`: key present before, gone now (a [[delete]], or a key
    *    that lost latest-version-wins) — the removed row, the TOMBSTONE
    *    [[changesForKeys]] deliberately lacks.
    *
    * A row whose (key, version) pair is unchanged emits nothing — a
    * compact generation's CDF is EMPTY (layout is not change). Both
    * sides are manifest-pruned to the touched partitions, so the feed
    * costs O(rewritten data), never a full-table diff; preimage rows of
    * a pre-widen generation NULL-fill widened columns. Same retention
    * contract as [[changesForKeys]]: generation `gen - 1` must be
    * retained (lag ≤ retainGenerations − 2); generation 1 is all
    * `insert`. Downstream, [[graft.streaming.ChangeFeed.applyCdf]]
    * replays a CDF batch into a replica — deletes included. */
  def changesCdf(spark: SparkSession, path: String, gen: Long,
      key: String, versionCol: String): DataFrame = {
    val full = changesFor(spark, path, gen)
    require(!full.columns.contains(ChangeTypeColumn),
      s"table at $path already has a $ChangeTypeColumn column; the CDF " +
        "reserves that name for its change marker")
    if (gen <= 1L) return full.withColumn(ChangeTypeColumn, lit("insert"))
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    val m = resolveAnchor(fs, table, path, gen, cur)
    val touched = m.segments.keys.filter(touchedAt(m, _, gen)).toSeq
    // NOTE: touched may be EMPTY for a retirement-only generation (a
    // delete that emptied partitions stages nothing) — its tombstones
    // come from the prev-side diff below, so no early return here
    val prev =
      try resolveAnchor(fs, table, path, gen - 1, cur)
      catch {
        case e: java.io.IOException => throw new java.io.IOException(
          s"CDF for generation $gen of $path needs generation ${gen - 1} " +
            s"retained as its baseline (${e.getMessage}); keep a CDF " +
            "consumer within retainGenerations - 2 of the writer", e)
      }
    // a retired partition (all rows deleted/moved away) is still TOUCHED
    // history: its entry left the manifest, so its previous rows must
    // surface as deletes — diff against every previously-live partition
    // that is either rewritten at gen or absent from gen's manifest
    val prevDiff = prev.segments.keys.filter(pv =>
      touched.contains(pv) || !m.segments.contains(pv)).toSeq
    val prevRows =
      if (prevDiff.isEmpty) null else readFrom(spark, table, prev, Some(prevDiff))
    if (prevRows == null) return full.withColumn(ChangeTypeColumn, lit("insert"))

    val k = col(key)
    val inserts = full.join(prevRows.select(k), Seq(key), "left_anti")
      .withColumn(ChangeTypeColumn, lit("insert"))
    val deletes = prevRows.join(full.select(k), Seq(key), "left_anti")
      .withColumn(ChangeTypeColumn, lit("delete"))
    val changed = full.select(k, col(versionCol))
      .join(prevRows.select(k.as(key), col(versionCol).as("__pv")), Seq(key))
      .filter(!(col(versionCol) <=> col("__pv")))
      .select(k)
    val posts = full.join(changed, Seq(key), "left_semi")
      .withColumn(ChangeTypeColumn, lit("update_postimage"))
    val pres = prevRows.join(changed, Seq(key), "left_semi")
      .withColumn(ChangeTypeColumn, lit("update_preimage"))
    // preimage/delete rows of a pre-widen generation NULL-fill the wider
    // schema; column order pinned to the new generation's
    inserts.unionByName(posts, allowMissingColumns = true)
      .unionByName(pres, allowMissingColumns = true)
      .unionByName(deletes, allowMissingColumns = true)
      .select((full.columns :+ ChangeTypeColumn).map(col).toIndexedSeq: _*)
  }

  /** Bulk key-set DELETE: removes every row whose `key` appears in
    * `keys` (one column or a DataFrame projected to it) — the CDF-replay
    * and retention-takedown primitive ([[delete]]'s predicate form would
    * need a driver-side isin for this). Affected partitions come from a
    * semi-join (broadcast when small — never a collect of the key set);
    * same staging/publish/fencing envelope as [[delete]]. */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
      key: String, partitionCol: String,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openScoped(spark, path, "to delete from", partitionCol)
      .getOrElse(return)
    val keySet = keys.select(col(key)).distinct()
    // sidecar prune FIRST: the affected-partition discovery scan opens
    // only segments that can contain a probed key
    val candidates = keyCandidates(spark, t.table, t.m, keySet, key)
    if (candidates.exists(_.isEmpty)) return // no segment can hold any key
    val affected = readFrom(spark, t.table, t.m, candidates)
      .join(keySet, Seq(key), "left_semi")
      .select(col(partitionCol)).distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    if (affected.isEmpty) return
    publishCow(t, "delete-keys", partitionCol, affected,
      readFrom(spark, t.table, t.m, Some(affected))
        .join(keySet, Seq(key), "left_anti"),
      checked = false, crashPoint)
  }

  /** PARTITION EVOLUTION: re-key the table's physical layout to
    * `newPartitionCol` — one content-preserving full rewrite published
    * as an ordinary forward generation, so time travel keeps serving
    * every retained generation under ITS OWN layout (each anchor
    * manifest records its own partcol and segments; nothing about old
    * anchors changes) and the change feed sees a layout-only generation
    * (empty CDF, like compact — (key, version) pairs are untouched).
    * The old partition column stays an ordinary data column; roles,
    * CHECKs, declared clustering, bucketing, zone-map/bloom columns all
    * carry over; the rewrite sheds dropped-column and rename residue
    * like any full compact, and materializes MoR vectors/deltas.
    *
    * The 100 TB story: partitioning choices age — a table keyed by
    * ingest source needs to become date-keyed once downstream queries
    * filter by day. This is an honest O(table) rewrite (there is no
    * metadata trick that re-keys data files), but it is ONE atomic
    * generation: readers resolve the old layout or the new, never a
    * mix, and a crash leaves the old table untouched.
    *
    * Contract: the new column must be STRING-typed (the stage layer
    * keys directories by string; derive one — e.g. [[compositeKey]] or
    * a date_format — rather than letting this verb silently cast your
    * column's type) and non-NULL for every row (staging refuses loudly
    * otherwise). Re-declaring the CURRENT partition column is refused —
    * a layout rewrite under the same key is [[compact]]'s job. */
  def repartitionTable(spark: SparkSession, path: String,
      newPartitionCol: String,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openTable(spark, path, "to repartition")
    import t.{fs, hconf, m, table}
    require(m.cols.contains(newPartitionCol),
      s"$newPartitionCol is not a column of the committed table " +
        s"(${m.cols.mkString(",")})")
    require(!m.partitionCol.contains(newPartitionCol),
      s"the table is already partitioned by $newPartitionCol — a layout " +
        "rewrite under the same key is compact()'s job")
    if (m.segments.isEmpty) {
      // schema-only table: the re-key is one metadata line
      publishOrAbort(hconf, table, m.gen,
        m.copy(gen = m.gen + 1, partitionCol = Some(newPartitionCol)),
        Map.empty, op = Some("repartition"))
      return
    }
    val schema = schemaOf(spark, table, m)
    schema.fields.find(_.name == newPartitionCol).foreach { f =>
      require(f.dataType == org.apache.spark.sql.types.StringType,
        s"partition columns are STRING by the stage contract; " +
          s"$newPartitionCol is ${f.dataType.simpleString} — derive a " +
          "string column (date_format, compositeKey, cast) and " +
          "repartition by that")
    }
    val cur = read(spark, path).select(m.cols.map(col).toIndexedSeq: _*)
    crashPoint("before-staging")
    val gen = m.gen + 1
    val (clSort, clFpp) = m.clusterBy.filter(_ => m.bucketing.isEmpty)
      .getOrElse((Nil, 1))
    val staged = stageSegments(cur, path, newPartitionCol, gen,
      sortCols = clSort, filesPerPartition = clFpp,
      bucketing = m.bucketing,
      rangeClusterParts = if (clFpp > 1) Some(m.segments.size) else None)
    crashPoint("after-staging")
    // content-preserving: rows already passed the table's CHECKs
    val (segStats, segCounts, segFileStats) =
      statsFromStaged(spark, table, staged, newPartitionCol, m.statsCols,
        m.bloomCols)
    crashPoint("before-swap")
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = gen, segments = staged, stats = segStats,
        rowCounts = segCounts,
        fileStats = m.fileStats ++ segFileStats,
        partitionCol = Some(newPartitionCol),
        // the full rewrite sheds tombstone residue, like compact
        droppedCols = Nil, renames = Map.empty), staged, op = Some("repartition"))
    crashPoint("after-swap")
    collectGarbage(fs, table)
  }

  /** Merge-on-read [[deleteKeys]] — the bulk key-set takedown (CDF
    * replay, compliance retraction) with [[deleteMor]]'s cost shape: the
    * matched rows' (file, row_index) positions publish as a deletion
    * vector, O(deleted rows) written, zero segments rewritten. The
    * discovery scan is bloom-sidecar-pruned exactly like [[deleteKeys]]'
    * (segments that cannot hold a probed key are never opened), so a
    * 1k-key takedown against a thousand-partition table is: probe the
    * sidecars, open the surviving segments once, write 1k positions,
    * swap one manifest. */
  def deleteKeysMor(spark: SparkSession, path: String, keys: DataFrame,
      key: String, partitionCol: String,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openScoped(spark, path, "to delete from", partitionCol)
      .getOrElse(return)
    val keySet = keys.select(col(key)).distinct()
    val candidates = keyCandidates(spark, t.table, t.m, keySet, key)
    if (candidates.exists(_.isEmpty)) return // no segment can hold any key
    val hits = positions(readFrom(spark, t.table, t.m, candidates,
        keepPos = true).join(keySet, Seq(key), "left_semi"), partitionCol)
      .persist()
    try publishMor(t, "delete-keys-mor", partitionCol, hits, None,
      inserts = false, crashPoint)
    finally hits.unpersist()
  }

  /** Per-partition zone-map stats (min/max of each stats column, in the
    * manifest's canonical string encoding) AND row counts for the rows of
    * `df`. One aggregate job whose output is PARTITION-bounded (one row
    * per value — the same metadata-bounded collect class as merge's
    * affected-set). Counts ride every manifest (the O(1) COUNT path);
    * stats only when `statsCols` is set. */
  /** Publish-time read-back over segments ALREADY staged on disk (which
    * carry the partition column as data, so no per-segment value
    * reattachment): counts, per-file zone maps, partition zone maps and
    * CHECK enforcement all come out of ONE aggregate pass — group by
    * (partition value, `<segLeaf>/<file>`), per-group count + typed
    * min/max per stats column + violation count per declared check, the
    * canonical string encoding applied to the aggregate's output inside
    * the same job. The collected intermediate is one row per staged FILE
    * (metadata-bounded: files per partition × touched partitions); the
    * partition-level fold runs on the driver through [[widenStats]] —
    * the same canonical-string comparator ([[statCompare]]) zone pruning
    * and the MoR stat-widening already define, so both levels agree by
    * construction. Checks keep SQL semantics (NULL passes, FALSE fails)
    * and throw BEFORE the manifest swap; per-group violation counts sum
    * to exactly the old whole-batch count. Versus the previous
    * three-job shape (separate check scan, per-file aggregate + cached
    * partition fold, then blooms) this charges the staged bytes exactly
    * one pass — plus [[writeBloomSidecars]]' one extra pass only when
    * the table blooms (sidecar sizing needs the partition counts first). */
  private def statsFromStaged(spark: SparkSession, table: Path,
      staged: Map[String, String], partitionCol: String,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      checks: Seq[(String, String)] = Nil)
      : (Map[String, Seq[(Option[String], Option[String])]], Map[String, Long],
         Map[String, Seq[(Option[String], Option[String])]]) =
    if (staged.isEmpty) (Map.empty, Map.empty, Map.empty)
    else try {
      import org.apache.spark.sql.types._
      val stagedDirs = staged.values.toSeq.sorted
        .map(d => new Path(table, d).toString)
      // all staged segments come from ONE write job: the first dir's
      // footer types the whole read-back, skipping the per-publish
      // schema-inference footer sweep
      val fresh = spark.read
        .schema(dirSchema(spark, new Path(stagedDirs.head)))
        .parquet(stagedDirs: _*)
      statsCols.foreach(c => require(fresh.columns.contains(c),
        s"stats column $c absent from the batch (${fresh.columns.mkString(",")})"))
      def canon(c: String, agg: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column = fresh.schema(c).dataType match {
        case TimestampType => unix_micros(agg).cast("string")
        case _ => agg.cast("string")
      }
      // per-file grouping only when zone maps are wanted: a stats-less
      // table needs no _metadata column and no file-level rows
      val perFile = statsCols.nonEmpty
      val keys =
        if (perFile) Seq(col(partitionCol).cast("string").as("__pv"),
          expr("substring_index(_metadata.file_path, '/', -2)").as("__fk"))
        else Seq(col(partitionCol).cast("string").as("__pv"))
      val aggs = org.apache.spark.sql.functions.count(lit(1)).as("__cnt") +:
        (statsCols.flatMap(c => Seq(
          canon(c, min(col(c))).as(s"__mn_$c"),
          canon(c, max(col(c))).as(s"__mx_$c"))) ++
         checks.zipWithIndex.map { case ((_, e), i) =>
           org.apache.spark.sql.functions.count(
             when(!coalesce(expr(e), lit(true)), 1)).as(s"__ck$i") })
      val rows = fresh.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*).collect()
      val statBase = (if (perFile) 2 else 1) + 1 // keys, then __cnt
      val checkBase = statBase + 2 * statsCols.size
      if (checks.nonEmpty) {
        val bad = checks.zipWithIndex.flatMap { case ((n, e), i) =>
          val viol = rows.iterator.map(_.getLong(checkBase + i)).sum
          if (viol > 0) Some(s"$n ($e): $viol row(s)") else None }
        if (bad.nonEmpty) throw new IllegalStateException(
          s"CHECK constraint violation publishing to $table: " +
            bad.mkString("; ") + " — publish aborted, the table is unchanged " +
            "(staged segments are orphans, swept by the next GC)")
      }
      val counts = rows.groupBy(_.getString(0)).view
        .mapValues(_.iterator.map(_.getLong(statBase - 1)).sum).toMap
      val (stats, fileStats) =
        if (!perFile)
          (Map.empty[String, Seq[(Option[String], Option[String])]],
           Map.empty[String, Seq[(Option[String], Option[String])]])
        else {
          def bounds(r: org.apache.spark.sql.Row)
              : Seq[(Option[String], Option[String])] =
            statsCols.indices.map(i =>
              (Option(r.getString(statBase + 2 * i)),
               Option(r.getString(statBase + 2 * i + 1)))).toSeq
          val fileStats = rows.map(r => r.getString(1) -> bounds(r)).toMap
          val stats = rows.groupBy(_.getString(0)).flatMap { case (pv, rs) =>
            rs.iterator.map(r => Option(bounds(r)))
              .reduce((a, b) => widenStats(a, b, fresh.schema, statsCols))
              .map(pv -> _)
          }
          (stats, fileStats)
        }
      writeBloomSidecars(spark, table, staged, partitionCol, bloomCols,
        counts, fresh)
      (stats, counts, fileStats)
    }
    catch {
      case e: Exception =>
        val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // any throw from here aborts the caller's publish before
        // publishOrAbort ever runs, so its commit/abort intent clearing
        // never fires: drop the staged nonces' GC shields NOW, or a
        // CHECK-violation's orphans sit unsweepable behind a "live"
        // intent for the whole crashed-writer age-out window
        staged.values.map(segNonce).toSet[String].filter(_.nonEmpty)
          .foreach(n => fs.delete(new Path(table, s"$IntentPrefix$n"), false))
        // a concurrent writer can WIN the generation between our staging
        // and this read-back; its start-of-merge GC then collects our
        // staged (unreferenced, superseded-name) segments. That is the
        // fence loss, just observed one step early — surface it as the
        // documented race outcome, not a missing-path analysis error
        if (staged.values.exists(d => !fs.exists(new Path(table, d))))
          throw new java.util.ConcurrentModificationException(
            s"staged segments for $table vanished before publish — a " +
              "concurrent writer won this generation and collected them; " +
              "re-run the merge to land on top of the winner", e)
        else throw e
    }

  private val BloomFpp = 0.01
  // ≈4 MB ceiling per sidecar: past ~3.5M rows/segment the fpp degrades
  // gracefully instead of the sidecar growing without bound
  private val BloomMaxBits = 1L << 25
  // deleteKeys/readKeys probe sets above this skip the sidecar prune (a
  // bulk retraction touching most partitions gains nothing from it)
  private val BloomProbeLimit = 100000

  private def bloomSidecarName(colName: String) = s"_bloom-${esc(colName)}"

  /** Write one `_bloom-<col>` sidecar per staged segment per bloom
    * column: ONE aggregate job over the fresh files (same shape as
    * [[computeStats]] — grouped by partition value, output bounded by
    * the AFFECTED partition set), filters streamed to the driver one
    * result-partition at a time (`toLocalIterator` — never all blooms in
    * driver memory at once) and dropped inside the still-unpublished
    * segment dirs, so the sidecar is atomic WITH the segment: the
    * manifest swap publishes both or neither, and segment GC removes
    * both. Sized for the largest staged partition at 1% fpp (the
    * aggregate's size literal is per-job, not per-group), capped at
    * [[BloomMaxBits]]. Hash domain = `xxhash64(col)` — the same
    * `BloomFilterAggregate` longs the consult side probes with. */
  private def writeBloomSidecars(spark: SparkSession, table: Path,
      staged: Map[String, String], partitionCol: String,
      bloomCols: Seq[String], counts: Map[String, Long],
      fresh: DataFrame): Unit = {
    if (bloomCols.isEmpty || staged.isEmpty) return
    import org.apache.spark.sql.graft.bridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    bloomCols.foreach(c => require(fresh.columns.contains(c),
      s"bloom column $c absent from the staged batch (${fresh.columns.mkString(",")})"))
    val maxRows = math.max(64L, counts.values.foldLeft(0L)(math.max))
    val nBits = math.min(BloomMaxBits, math.ceil(
      -maxRows * math.log(BloomFpp) / (math.log(2) * math.log(2))).toLong)
    val aggs = bloomCols.map { c =>
      column(new BloomFilterAggregate(
        expression(xxhash64(col(c))),
        expression(lit(maxRows)), expression(lit(nBits)))
        .toAggregateExpression()).as(s"__bf_$c")
    }
    val rows = fresh
      .groupBy(col(partitionCol).cast("string").as("__pv"))
      .agg(aggs.head, aggs.tail: _*)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = rows.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      staged.get(r.getString(0)).foreach { seg =>
        bloomCols.zipWithIndex.foreach { case (c, i) =>
          val bytes = r.getAs[Array[Byte]](1 + i)
          if (bytes != null) {
            val out = fs.create(
              new Path(new Path(table, seg), bloomSidecarName(c)), true)
            try out.write(bytes) finally out.close()
          }
        }
      }
    }
  }

  /** Segment-level point-lookup prune: partitions whose `_bloom-<col>`
    * sidecar cannot contain ANY of `hashes` (xxhash64 of the probed
    * values) are dropped. `None` when the column carries no sidecars
    * (prune not applicable); a segment MISSING its sidecar (written
    * before the column was bloomed) conservatively survives. Driver-side
    * metadata I/O: one small-file read per live segment, the same cost
    * class as the manifest itself — never a data scan. No false
    * negatives by the Bloom contract, so callers compose an exact
    * predicate on top and the sidecars change the I/O, never the
    * answer. */
  private[graft] def bloomSurvivors(spark: SparkSession, table: Path,
      m: Manifest, colName: String, hashes: Array[Long]): Option[Seq[String]] = {
    if (!m.bloomCols.contains(colName)) return None
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a partition survives if ANY of its data dirs (base segment + live
    // delta dirs) might contain a probed hash — a key upserted by a MoR
    // merge lives only in a delta, whose own sidecar must answer
    def mightContain(dir: String): Boolean = {
      val p = new Path(new Path(table, dir), bloomSidecarName(colName))
      if (!fs.exists(p)) true
      else {
        val in = fs.open(p)
        val bf =
          try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
          finally in.close()
        hashes.exists(bf.mightContainLong)
      }
    }
    Some(m.segments.toSeq.sortBy(_._1).collect { case (pv, seg)
      if (seg +: liveDeltas(m, pv).map(_.dir)).exists(mightContain) => pv })
  }

  /** xxhash64 probe hashes for a small key set, or None above
    * [[BloomProbeLimit]] (bulk probes skip the sidecar prune). Hashes
    * are computed by Spark's own `xxhash64` so driver probes and the
    * sidecar's `BloomFilterAggregate` inserts share one hash domain
    * across every input type. */
  private def probeHashes(keySet: DataFrame, key: String): Option[Array[Long]] = {
    val hs = keySet.select(xxhash64(col(key)).as("__h"))
      .limit(BloomProbeLimit + 1).collect()
    if (hs.length > BloomProbeLimit) None else Some(hs.map(_.getLong(0)))
  }

  /** Point-lookup read: rows whose `key` appears in `keys`, identical to
    * `read().join(keys, semi)` — but when the table blooms `key`, only
    * sidecar-surviving segments are listed, opened, or planned. The
    * 100 TB story: an id probe against a thousand-partition table opens
    * the handful of segments that can contain it, from metadata alone —
    * zone maps answer ranges, sidecars answer equality. */
  def readKeys(spark: SparkSession, path: String, keys: DataFrame,
      key: String): DataFrame = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    require(m.cols.contains(key),
      s"$key is not a column of the committed table (${m.cols.mkString(",")})")
    val keySet = keys.select(col(key)).distinct()
    readFrom(spark, table, m, keyCandidates(spark, table, m, keySet, key))
      .join(keySet, Seq(key), "left_semi")
  }

  /** The partitions a probe of `keySet` on `key` can touch, from the
    * bloom sidecars alone — None when `key` is not bloomed (the probe
    * collect is skipped outright rather than discarded) or the probe set
    * is too large to prune by. */
  private def keyCandidates(spark: SparkSession, table: Path, m: Manifest,
      keySet: DataFrame, key: String): Option[Seq[String]] =
    if (!m.bloomCols.contains(key)) None
    else probeHashes(keySet, key)
      .flatMap(hs => bloomSurvivors(spark, table, m, key, hs))

  // ---- Composite (multi-column) partitioning -----------------------------
  //
  // Real lakehouse tables partition by PAIRS — (date, source), (region,
  // day). The committed protocol is single-partition-column by design (one
  // manifest line per value); multi-column partitioning is a first-class
  // ENCODING on top: [[compositeKey]] derives one string key per row
  // ('%'→'%25', '/'→'%2F' per component, then '/'-joined — unambiguous,
  // order-preserving, reversible), stored as an ordinary data column the
  // whole surface already understands: merge/delete/update/deleteKeys scope
  // rewrites by composite value, the change feed / CDF / time travel are
  // untouched, and SQL routes DML through the same column.
  //
  // Pruning is BETTER than hive-style nested dirs: declare the component
  // columns as statsCols ([[writeComposite]] does) and every segment —
  // holding exactly one composite value — has min==max per component, so
  // zone maps prune EXACTLY on ANY component subset ((source) alone, (date)
  // alone, both), not just key prefixes. `readRangeMulti`/SQL need no new
  // machinery.

  /** The composite partition key for `components` (each cast to string,
    * percent-escaped, '/'-joined) — pure codegen'd column arithmetic. A
    * NULL component poisons the whole key to NULL, which every write path
    * rejects loudly (a silently skipped component would alias distinct
    * tuples). */
  def compositeKey(components: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column = {
    require(components.nonEmpty, "compositeKey needs at least one component")
    val escaped = components.map(c =>
      replace(replace(c.cast("string"), lit("%"), lit("%25")),
        lit("/"), lit("%2F")))
    escaped.reduceLeft((a, b) => concat(a, lit("/"), b))
  }

  /** Component `i` (0-based) of a [[compositeKey]] column, unescaped, as
    * string; NULL past the end. */
  def compositeComponent(key: org.apache.spark.sql.Column, i: Int)
      : org.apache.spark.sql.Column = {
    require(i >= 0, s"component index must be >= 0, got $i")
    val part = split(key, "/").getItem(i)
    replace(replace(part, lit("%2F"), lit("/")), lit("%25"), lit("%"))
  }

  /** Driver-side form of [[compositeKey]] for partition-value lists: the
    * manifest key a row with these component values lands under. */
  def compositeValue(components: Seq[String]): String = {
    require(components.nonEmpty, "compositeValue needs at least one component")
    components.map(c => c.replace("%", "%25").replace("/", "%2F"))
      .mkString("/")
  }

  /** [[write]] partitioned by the composite of `partitionCols`: derives
    * the key column (named `keyName`, stored as data like any partition
    * column), declares the components as zone-map stats columns (exact
    * per-component pruning — see the section note), and carries the
    * caller's extra statsCols on top. Every other verb takes `keyName` as
    * the table's partition column. */
  def writeComposite(df: DataFrame, path: String,
      partitionCols: Seq[String], keyName: String = "part_key",
      retainGenerations: Int = 2, statsCols: Seq[String] = Nil,
      sortCols: Seq[String] = Nil, filesPerPartition: Int = 1,
      keyCol: Option[String] = None, versionCol: Option[String] = None,
      bloomCols: Seq[String] = Nil,
      checks: Seq[(String, String)] = Nil): Unit = {
    require(partitionCols.size >= 2,
      s"writeComposite needs >= 2 partition columns, got $partitionCols " +
        "(use write() for one)")
    partitionCols.foreach(c => require(df.columns.contains(c),
      s"partition column $c absent from the table (${df.columns.mkString(",")})"))
    require(!df.columns.contains(keyName),
      s"$keyName already exists in the table; pass a fresh keyName")
    write(df.withColumn(keyName, compositeKey(partitionCols.map(col): _*)),
      path, keyName, retainGenerations,
      (partitionCols ++ statsCols).distinct, sortCols, filesPerPartition,
      keyCol, versionCol, bloomCols, checks)
  }

  /** [[merge]] into a [[writeComposite]] table: derives the same
    * composite key on the update batch (the batch carries the COMPONENT
    * columns, not the key) and routes to the standard keyed merge. */
  def mergeComposite(spark: SparkSession, path: String, updates: DataFrame,
      key: String, versionCol: String, partitionCols: Seq[String],
      keyName: String = "part_key", allowAddColumns: Boolean = false): Unit =
    merge(spark, path, withCompositeKey(updates, partitionCols, keyName),
      key, versionCol, keyName, allowAddColumns)

  /** [[mergeComposite]] with [[mergeMor]]'s cost shape: derives the
    * composite partition key for the batch and publishes superseded
    * rows as a deletion vector + winners as delta segments — composite
    * layouts are the ones with the MOST partitions, so per-partition
    * rewrite amplification hurts them worst and MoR pays off first.
    * Same arbitration/refusal contracts as [[mergeMor]]. */
  def mergeCompositeMor(spark: SparkSession, path: String,
      updates: DataFrame, key: String, versionCol: String,
      partitionCols: Seq[String], keyName: String = "part_key"): Unit =
    mergeMor(spark, path, withCompositeKey(updates, partitionCols, keyName),
      key, versionCol, keyName)

  /** An update batch carrying the COMPONENT columns, with the composite
    * partition key derived as `keyName`. */
  private def withCompositeKey(updates: DataFrame, partitionCols: Seq[String],
      keyName: String): DataFrame = {
    partitionCols.foreach(c => require(updates.columns.contains(c),
      s"partition column $c absent from the update batch " +
        s"(${updates.columns.mkString(",")})"))
    updates.withColumn(keyName, compositeKey(partitionCols.map(col): _*))
  }

  private def statCompare(dt: org.apache.spark.sql.types.DataType)
      : (String, String) => Int = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType =>
        (a, b) => BigDecimal(a).compare(BigDecimal(b))
      case TimestampType => (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
      case _ => (a, b) => a.compareTo(b)
    }
  }

  private def canonBound(dt: org.apache.spark.sql.types.DataType, b: Any): String = {
    import org.apache.spark.sql.types._
    (dt, b) match {
      case (TimestampType, t: java.sql.Timestamp) =>
        (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
      case (TimestampType, l: Long) => l.toString
      case (TimestampType, s: String) =>
        canonBound(dt, java.sql.Timestamp.valueOf(s))
      case (_, x) => x.toString
    }
  }

  /** Zone-map-pruned range read: segments whose stored [min,max] for
    * `statsCol` cannot intersect [lower, upper] (inclusive; None =
    * unbounded) are dropped from METADATA — never listed, opened, or
    * planned — and the exact predicate is applied on top, so the result
    * is identical to `read().filter(between)`; the zone maps change the
    * I/O, never the answer. Conservative by construction: a segment with
    * no stats (pre-feature manifest, or a column not in `statsCols`) is
    * kept, an all-NULL segment is dropped only when a bound exists (a
    * BETWEEN predicate never selects NULLs). Composes with
    * `partitionValues` (both prunings are driver-side manifest filters).
    * The at-scale story: a sorted-ish column (event time, ingest date,
    * monotonic id) over thousands of partitions turns a range query into
    * a handful of segment scans — the same reason [[compact]] sorts
    * within segments for parquet row-group skipping one level down. */
  def readRange(spark: SparkSession, path: String, statsCol: String,
      lower: Option[Any] = None, upper: Option[Any] = None,
      partitionValues: Option[Seq[String]] = None,
      atGen: Option[Long] = None): DataFrame =
    readRangeMulti(spark, path, Seq((statsCol, lower, upper)),
      partitionValues, atGen)

  /** Multi-column zone-map range read: a CONJUNCTION of [lower, upper]
    * bounds (inclusive; None = unbounded), pruned in ONE metadata pass —
    * real range queries AND several predicates (date ∧ price), and a
    * segment must be scanned only if EVERY bounded column's stored
    * [min,max] can intersect its range, so the per-column survival sets
    * intersect driver-side in the same manifest scan. The metadata cost
    * stays one manifest read + one newest-segment schema probe no matter
    * how many columns are bounded; adding a predicate only ever shrinks
    * the I/O. Per-column fallbacks are [[readRange]]'s, independently:
    * a column with no stats in the manifest prunes nothing (its exact
    * filter still applies), an all-NULL segment is dropped when that
    * column carries any bound, an unparsable stored bound (NaN/Infinity
    * from float min/max) degrades that segment to KEEP. The answer is
    * always identical to `read()` + the same filters — zone maps change
    * the I/O, never the result. */
  def readRangeMulti(spark: SparkSession, path: String,
      ranges: Seq[(String, Option[Any], Option[Any])],
      partitionValues: Option[Seq[String]] = None,
      atGen: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.TimestampType
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path (missing $Commit)"))
    // time travel composes: the zone maps of a RETAINED generation are
    // frozen in its anchor manifest, so range pruning against a snapshot
    // is the same metadata filter against that manifest
    val m = atGen match {
      case None => live
      case Some(g) if g == live.gen => live
      case Some(g) =>
        readManifestFile(fs, new Path(table, s"$CommitGen$g"))
          .filter(_ => g < live.gen && g >= retainedFloor(fs, table, live))
          .getOrElse(throw new java.io.IOException(
            s"generation $g of $path is not retained (current ${live.gen}, " +
              s"retain ${live.retain}" +
              live.retainHours.map(h => s", retainHours $h").getOrElse("") + ")"))
    }
    ranges.foreach { case (statsCol, _, _) =>
      require(m.cols.contains(statsCol),
        s"$statsCol is not a column of the committed table (${m.cols.mkString(",")})")
    }
    // ONE schema probe serves every bounded column's type lookup; a
    // renamed column may appear in the probed file under a FORMER name —
    // normalize to the current name (same type by the rename contract)
    val probed =
      if (m.segments.isEmpty) None // unreachable below; readFrom throws
      else Some {
        val raw = spark.read.parquet(
          new Path(table, m.segments.values.maxBy(genOf)).toString).schema
        if (m.renames.isEmpty) raw
        else {
          val toCur = m.renames.toSeq
            .flatMap { case (cur, olds) => olds.map(_ -> cur) }.toMap
          val present = raw.fieldNames.toSet
          org.apache.spark.sql.types.StructType(raw.fields.map(f =>
            toCur.get(f.name) match {
              case Some(cur) if !present.contains(cur) => f.copy(name = cur)
              case _ => f
            }))
        }
      }
    val base = partitionValues.map(_.filter(m.segments.contains))
      .getOrElse(m.segments.keys.toSeq)
    val kept = zoneSurvivors(m, probed,
      ranges.map { case (c, lo, hi) => (c, Seq((lo, hi))) }, base)
    // a POINT range (lower == upper) on a bloomed column additionally
    // consults the `_bloom-<col>` sidecars — zone maps answer "could the
    // range intersect", the sidecar answers "is this exact value
    // possibly here", which is decisive on high-cardinality unsorted
    // keys where every segment's [min,max] straddles the probe. Skipped
    // when the probe value cannot cast to the column type (the hash
    // domain would not match; the exact filter below still decides).
    val keptB = ranges.foldLeft(kept) {
      case (acc, (c, Some(lo), Some(hi))) if lo == hi && m.bloomCols.contains(c) =>
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
        val dt = typeOf(probed, c)
        val casted = Cast(Literal(lo), dt,
          Some(java.time.ZoneOffset.UTC.getId)).eval(null)
        if (casted == null) acc
        else {
          val hash = new XxHash64(Seq(Literal.create(casted, dt)))
            .eval(null).asInstanceOf[Long]
          bloomSurvivors(spark, table, m, c, Array(hash)) match {
            case Some(surv) => val keep = surv.toSet; acc.filter(keep)
            case None => acc
          }
        }
      case (acc, _) => acc
    }
    val pruned = readFrom(spark, table, m, Some(keptB),
      fileRanges = ranges.map { case (c, lo, hi) => (c, Seq((lo, hi))) })
    val preds = ranges.map { case (statsCol, lower, upper) =>
      (statsCol, typeOf(probed, statsCol),
        lower.map(canonBound(typeOf(probed, statsCol), _)),
        upper.map(canonBound(typeOf(probed, statsCol), _)), lower, upper)
    }.flatMap { case (statsCol, dt, lo, hi, lower, upper) =>
      val c =
        if (dt == TimestampType) unix_micros(col(statsCol)) else col(statsCol)
      lo.map(l => if (dt == TimestampType) c >= lit(l.toLong) else c >= lit(lower.get)).toSeq ++
        hi.map(h => if (dt == TimestampType) c <= lit(h.toLong) else c <= lit(upper.get)).toSeq
    }
    preds.foldLeft(pruned)((df, p) => df.filter(p))
  }

  private def typeOf(probed: Option[org.apache.spark.sql.types.StructType],
      statsCol: String): org.apache.spark.sql.types.DataType =
    probed.fold(org.apache.spark.sql.types.TimestampType
        : org.apache.spark.sql.types.DataType)(
      _.find(_.name == statsCol).map(_.dataType)
        .getOrElse(throw new java.io.IOException(
          s"stats column $statsCol absent from the newest segment")))

  /** Zone-map pruning core, shared by [[readRangeMulti]] and the SQL
    * surface's [[graft.sql.GraftFileIndex]]: of `base` partition values,
    * those whose stored per-column [min,max] can intersect EVERY bounded
    * column's [lower, upper]. Purely a metadata filter — conservative on
    * missing stats / unparsable bounds (KEEP), all-NULL segments dropped
    * only under a bound (a range predicate never selects NULLs). */
  /** Compiled zone plans against `m.statsCols` — shared by the
    * partition-level [[zoneSurvivors]] and the per-FILE skipping in
    * [[graft.sql.GraftFileIndex]]. Each conjunct is a DISJUNCTION of
    * intervals on one column: a plain comparison is one interval, `IN`
    * is a point interval per literal, a same-column `OR` of ranges is
    * the union of its sides' — the extent survives a conjunct if ANY of
    * its intervals can overlap the recorded (min, max). */
  private[graft] def zonePlans(m: Manifest,
      probed: Option[org.apache.spark.sql.types.StructType],
      ranges: Seq[(String, Seq[(Option[Any], Option[Any])])])
      : Seq[(Int, (String, String) => Int,
             Seq[(Option[String], Option[String])])] =
    ranges.map { case (statsCol, intervals) =>
      val dt = typeOf(probed, statsCol)
      (m.statsCols.indexOf(statsCol), statCompare(dt),
        intervals.map { case (lower, upper) =>
          (lower.map(canonBound(dt, _)), upper.map(canonBound(dt, _))) })
    }

  /** One zone-map keep decision given a stats lookup (per-partition or
    * per-file): can the described extent contain a matching row? */
  private[graft] def zoneKeep(
      plans: Seq[(Int, (String, String) => Int,
                  Seq[(Option[String], Option[String])])],
      statsAt: Int => Option[(Option[String], Option[String])]): Boolean =
    plans.forall { case (idx, cmp, intervals) =>
      if (idx < 0) true
      else statsAt(idx) match {
        case None => true // no stats recorded for this extent: keep
        case Some((None, None)) => // all-NULL extent: only an unbounded
          // interval (no comparison at all) can admit it
          intervals.exists { case (lo, hi) => lo.isEmpty && hi.isEmpty }
        case Some((mn, mx)) =>
          intervals.exists { case (lo, hi) =>
            // an unparsable bound (a float segment whose min/max
            // propagated NaN/Infinity into the manifest, or a NaN query
            // bound) must degrade to KEEP — the exact filter on top owns
            // correctness; zone maps only ever change the I/O
            try {
              val aboveLo = lo.forall(l => mx.exists(x => cmp(x, l) >= 0))
              val belowHi = hi.forall(h => mn.exists(n => cmp(n, h) <= 0))
              aboveLo && belowHi
            } catch { case _: NumberFormatException => true }
          }
      }
    }

  private[graft] def zoneSurvivors(m: Manifest,
      probed: Option[org.apache.spark.sql.types.StructType],
      ranges: Seq[(String, Seq[(Option[Any], Option[Any])])],
      base: Seq[String]): Seq[String] = {
    val colPlans = zonePlans(m, probed, ranges)
    base.filter(v => zoneKeep(colPlans, idx => m.stats.get(v).map(_(idx))))
  }

  private def readFrom(spark: SparkSession, table: Path, m: Manifest,
      partitionValues: Option[Seq[String]],
      keepPos: Boolean = false,
      // per-FILE skipping for the Scala ranged read ([[readRangeMulti]]):
      // the caller's interval conjuncts, applied against the manifest's
      // fs= zone maps — surviving partitions list only the files whose
      // recorded range can overlap. Requires EVERY wanted segment to
      // carry a recorded file list (else the dir read stands — a listing
      // could race a concurrent GC); a file without a stats entry keeps.
      fileRanges: Seq[(String, Seq[(Option[Any], Option[Any])])] = Nil)
      : DataFrame = {
    val wanted = partitionValues match {
      case Some(vs) => val keep = vs.toSet; m.segments.view.filterKeys(keep).toMap
      case None => m.segments
    }
    // empty results must still honor keepPos — a caller probing with
    // provenance (mergeMor's bloom-pruned existing-side read can prune
    // to NOTHING when every updated key is new) selects the pos columns
    def withNullPos(df: DataFrame): DataFrame =
      if (!keepPos) df
      else df.withColumn(DvFileCol, lit(null).cast("string"))
        .withColumn(DvPosCol, lit(null).cast("long"))
    if (m.segments.isEmpty) {
      // schema-only-created (or fully retired) table: typed empty result
      // from the manifest declarations — schemaOf throws if untyped
      val schema = schemaOf(spark, table, m)
      return withNullPos(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    }
    val newestDir = m.segments.values.maxBy(genOf)
    val schema = schemaOf(spark, table, m)
    // metadata-only renames: unrewritten files carry a FORMER name, so the
    // physical read schema requests the old names too (typed as the
    // current column) and the projection coalesces newest-name-first —
    // by-name correctness across the rename with zero data movement
    val readSchema =
      if (m.renames.isEmpty) schema
      else org.apache.spark.sql.types.StructType(schema.fields.toSeq ++
        m.renames.toSeq.flatMap { case (cur, olds) =>
          schema.find(_.name == cur).toSeq.flatMap(f =>
            olds.map(o => f.copy(name = o, nullable = true))) })
    def project(df: DataFrame): DataFrame =
      if (m.renames.isEmpty) df
      else df.select(m.cols.map { c =>
        m.renames.get(c) match {
          case Some(olds) => coalesce((c +: olds).map(col): _*).as(c)
          case None => col(c)
        }
      } ++ (if (keepPos) Seq(col(DvFileCol), col(DvPosCol)) else Nil): _*)
    if (wanted.isEmpty)
      // prune-to-nothing: schema preserved, statically no rows
      return project(withNullPos(spark.read.schema(readSchema)
        .parquet(new Path(table, newestDir).toString).filter(lit(false))))
    // a partition's data = its base segment UNION its live delta dirs
    // (MoR merge/update appendages — same read, the dv anti-join below
    // removes the superseded base rows)
    val segs = wanted.toSeq.flatMap { case (pv, seg) =>
      seg +: liveDeltas(m, pv).map(_.dir) }.distinct.sorted
    val paths: Seq[String] =
      if (fileRanges.isEmpty || m.fileStats.isEmpty ||
          !segs.forall(m.files.contains))
        segs.map(d => new Path(table, d).toString)
      else {
        val plans = zonePlans(m, Some(schema), fileRanges)
        segs.flatMap { seg =>
          val leaf = segLeaf(seg)
          m.files(seg).collect {
            case (name, _) if zoneKeep(plans,
                idx => m.fileStats.get(s"$leaf/$name").map(_(idx))) =>
              new Path(new Path(table, seg), name).toString
          }
        } match {
          // every file of every partition pruned: fall back to the
          // empty-but-typed shape below via an impossible filter
          case Nil => return project(withNullPos(spark.read.schema(readSchema)
            .parquet(new Path(table, newestDir).toString).filter(lit(false))))
          case fs => fs
        }
      }
    project(applyDv(spark, table, m, wanted.keys.toSeq,
      spark.read.schema(readSchema).parquet(paths: _*), keepPos))
  }

  /** Deletion-vector position columns: `<segment-leaf>/<file-name>` and
    * the row's `_metadata.row_index` — the exact identity a dv entry
    * stores. Immutable segments make both stable for the file's life. */
  private val DvFileCol = "__gdv_file"
  private val DvPosCol = "__gdv_pos"

  /** The deletion-vector file schema — fixed by [[stageDvDir]]. */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, pos BIGINT")

  private def dvDirPath(table: Path, dir: String): Path =
    if (dir.contains("/")) new Path(dir) else new Path(table, dir)

  private def withDvPos(df: DataFrame): DataFrame = df
    .withColumn(DvFileCol,
      expr("substring_index(_metadata.file_path, '/', -2)"))
    .withColumn(DvPosCol, col("_metadata.row_index"))

  /** Anti-join `parts`' LIVE deletion vectors out of `df` (a raw scan of
    * exactly those partitions' segments). The no-dv fast path returns
    * `df` untouched — zero plan overhead for tables that never MoR
    * delete. `keepPos` retains the (file, pos) provenance columns for
    * [[deleteMor]]'s own position capture. */
  private def applyDv(spark: SparkSession, table: Path, m: Manifest,
      parts: Seq[String], df: DataFrame,
      keepPos: Boolean = false): DataFrame = {
    val live = parts.flatMap(p => liveDv(m, p))
    if (live.isEmpty && !keepPos) return df
    val withMeta = withDvPos(df)
    val filtered =
      if (live.isEmpty) withMeta
      else {
        // dv files carry exactly (file, pos) — typed statically, no
        // per-read schema-inference footer sweep
        val dv = spark.read.schema(DvSchema).parquet(live.map(_.dir).distinct
            .map(d => dvDirPath(table, d).toString): _*)
          .select(col("file").as("__gdv_f2"), col("pos").as("__gdv_p2"))
        withMeta.join(dv,
          withMeta(DvFileCol) === dv("__gdv_f2") &&
            withMeta(DvPosCol) === dv("__gdv_p2"),
          "left_anti")
      }
    if (keepPos) filtered else filtered.drop(DvFileCol, DvPosCol)
  }

  private[graft] def genOf(segDir: String): Long = {
    // a shallow clone's manifest references segments by ABSOLUTE path —
    // the generation is encoded in the directory's own name either way
    val base = segDir.substring(segDir.lastIndexOf('/') + 1)
    base.stripPrefix("seg-g").takeWhile(_.isDigit).toLong
  }

  /** The table's typed schema in manifest column order — types from ONE
    * probe of a newest-generation segment (the merge that introduced the
    * current manifest wrote its segments with the FULL current column
    * list, so after a schema widen the older segments' missing columns
    * NULL-fill by-name under the explicit schema; zero extra footers
    * read, never a mergeSchema sweep). */
  private[graft] def schemaOf(spark: SparkSession, table: Path,
      m: Manifest): org.apache.spark.sql.types.StructType = {
    // a root-only (or pruned) hydration of a sharded manifest carries no
    // segment entries, but the root's `probe=` line names the newest
    // segment — one parquet footer probe, zero shard reads
    if ((m.partial || m.segments.isEmpty) && m.probeSeg.isDefined)
      return schemaFromProbe(spark, table, m, m.probeSeg.get)
    if (m.segments.isEmpty) {
      // a schema-only [[create]] (or a table every partition of which was
      // retired) types entirely from the manifest's virtual declarations —
      // no file to probe, and none needed
      val declared = m.virtualCols.toMap
      if (m.cols.nonEmpty && m.cols.forall(declared.contains))
        return org.apache.spark.sql.types.StructType(
          m.cols.map(c => org.apache.spark.sql.types.StructField(
            c, org.apache.spark.sql.types.DataType.fromDDL(declared(c)),
            nullable = true)))
      throw new java.io.IOException(s"committed table $table is empty; no schema")
    }
    schemaFromProbe(spark, table, m, m.segments.values.maxBy(genOf))
  }

  /** Physical schema of an immutable segment/staging dir from ONE
    * parquet footer read driver-side (every file of a dir is written by
    * one job, so all footers agree): replaces the
    * `spark.read.parquet(dir).schema` probe, whose DataSource
    * resolution + footer-merge pass over every file was the
    * second-hottest driver frame in the multi-publish gates (one probe
    * per read × one read per DML generation). Falls back to the full
    * inference on any footer surprise — never a different answer, only
    * fewer footers read. */
  private def dirSchema(spark: SparkSession, dir: Path)
      : org.apache.spark.sql.types.StructType = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFile = fs.listStatus(dir).iterator.collectFirst {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") => st.getPath
    }
    dataFile.flatMap { f =>
      scala.util.Try(
        org.apache.spark.sql.graft.bridge.parquetFooterSchema(spark, f))
        .toOption
    }.getOrElse(spark.read.parquet(dir.toString).schema)
  }

  private def schemaFromProbe(spark: SparkSession, table: Path, m: Manifest,
      newestDir: String): org.apache.spark.sql.types.StructType = {
    val probed = dirSchema(spark, new Path(table, newestDir))
    val declared = m.virtualCols.toMap
    org.apache.spark.sql.types.StructType(
      m.cols.map(c => probed.find(_.name == c).orElse(
        // a renamed column no rewrite has materialized yet: the probed
        // file carries a FORMER name — same type, new name
        m.renames.getOrElse(c, Nil).iterator
          .flatMap(o => probed.find(_.name == o)).nextOption()
          .map(_.copy(name = c))).orElse(
        // a metadata-only column no rewrite has materialized yet: typed
        // from its ALTER-time declaration, NULL-filled by the explicit
        // schema in every file that lacks it
        declared.get(c).map(t => org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.DataType.fromDDL(t),
          nullable = true))).getOrElse(
        throw new java.io.IOException(
          s"manifest column $c absent from newest segment $newestDir"))))
  }

  /** Current manifest, or a loud error naming the path — the SQL
    * surface's entry point ([[graft.sql.GraftCatalog]]). */
  private[graft] def manifestAt(spark: SparkSession, path: String): Manifest = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, table).getOrElse(throw new java.io.IOException(
      s"no committed table at $path (missing $Commit)"))
  }

  // ---- row-level DML -----------------------------------------------------
  // Every DML verb — merge, delete, deleteKeys, update, mergeClauses, each
  // in a copy-on-write and a merge-on-read (`*Mor`) form — runs one
  // pipeline: verb → retired + written rows → copy-on-write or
  // merge-on-read publish (Iceberg's row-level modes; Delta deletion
  // vectors). [[openTable]] loads the manifest and collects garbage; the
  // verb works out only its own change; then
  //  - [[publishCow]] retires whole partitions: it restages every
  //    affected partition from the verb's replacement rows (survivors
  //    plus written rows) and points the partition's entry at the new
  //    segment;
  //  - [[publishMor]] retires rows by (file, row_index) position into one
  //    deletion vector and appends the written rows as delta segments
  //    (a brand-new partition's as its first segment); base segments
  //    stay untouched. It is the one place that counts retired rows per
  //    partition and builds DvRef/DeltaRef entries.
  // Both are the DML verbs' only route to [[publishOrAbort]], and both
  // fire the crashPoint test seam in one order: before-staging,
  // after-staging, before-dv-write (merge-on-read only), before-swap,
  // after-swap — a vector-only change (the MoR deletes) stages nothing
  // and skips the two staging labels. Every verb is scan-scoped: it
  // never rebases and aborts loudly under contention (re-run it on top
  // of the winner).

  /** A row-rewriting verb's target: the table and the manifest it plans
    * against. */
  private final case class Target(spark: SparkSession, path: String,
      m: Manifest) {
    val table = new Path(path)
    def hconf = spark.sparkContext.hadoopConfiguration
    def fs: FileSystem = table.getFileSystem(hconf)
  }

  /** The prelude of every row-rewriting verb (DML, compaction,
    * repartition, overwrite): the manifest (a loud error naming the path
    * and `what` the verb wanted when absent), then GC — which also frees
    * a crashed generation's segment names. */
  private def openTable(spark: SparkSession, path: String,
      what: String): Target = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path $what"))
    collectGarbage(fs, table)
    Target(spark, path, m)
  }

  /** [[openTable]] for a verb scoped by a caller-named partition column:
    * None — nothing to change, no generation burned — on an empty table
    * or a `noop` call, else the column must belong to the table. */
  private def openScoped(spark: SparkSession, path: String, what: String,
      partitionCol: String, noop: Boolean = false): Option[Target] = {
    val t = openTable(spark, path, what)
    if (t.m.segments.isEmpty || noop) return None
    require(t.m.cols.contains(partitionCol),
      s"$partitionCol is not a column of the committed table (${t.m.cols.mkString(",")})")
    Some(t)
  }

  /** Partitions holding a row `matched` selects (one metadata-bounded
    * collect; the scan is manifest-resolved and the predicate pushed). */
  private def partsMatching(spark: SparkSession, path: String,
      partitionCol: String, matched: org.apache.spark.sql.Column)
      : IndexedSeq[String] =
    read(spark, path).filter(matched)
      .select(col(partitionCol)).distinct()
      .collect().map(_.getString(0)).toIndexedSeq

  /** Retired-row positions of `df` (a `keepPos` read, possibly joined
    * under the `qual` alias): (`__part`, `file`, `pos`). */
  private def positions(df: DataFrame, partitionCol: String,
      qual: String = ""): DataFrame =
    df.select(col(s"$qual$partitionCol").cast("string").as("__part"),
      col(s"$qual$DvFileCol").as("file"), col(s"$qual$DvPosCol").as("pos"))

  /** Copy-on-write publish of a change that retires every live row of
    * `affected` and writes `rows` — those partitions' complete new
    * content. Stages under the declared clustering and the table's
    * bucketing, reads the staged files back once (counts, zone maps,
    * blooms, and — when the verb creates or modifies rows, `checked` —
    * the table's CHECKs), and swaps a manifest whose affected entries
    * name the staged segments; an affected partition that staged nothing
    * lost its last row, and dropping its entry IS its retirement. */
  private def publishCow(t: Target, op: String, partitionCol: String,
      affected: Seq[String], rows: DataFrame, checked: Boolean,
      crashPoint: String => Unit): Unit = {
    val m = t.m
    crashPoint("before-staging")
    val gen = m.gen + 1
    val (clSort, clFpp, clParts) = clusterArgs(m, affected.length)
    val staged = stageSegments(rows, t.path, partitionCol, gen,
      sortCols = clSort, filesPerPartition = clFpp,
      bucketing = m.bucketing, rangeClusterParts = clParts)
    crashPoint("after-staging")
    val (segStats, segCounts, segFileStats) =
      statsFromStaged(t.spark, t.table, staged, partitionCol, m.statsCols,
        m.bloomCols, if (checked) m.checks else Nil)
    val mine = affected.toSet
    val next = m.copy(gen = gen,
      fileStats = m.fileStats ++ segFileStats,
      segments = (m.segments -- affected) ++ staged.view.filterKeys(mine),
      stats = (m.stats -- affected) ++ segStats.view.filterKeys(mine),
      rowCounts = (m.rowCounts -- affected) ++ segCounts.view.filterKeys(mine))
    crashPoint("before-swap")
    publishOrAbort(t.hconf, t.table, m.gen, next, staged, op = Some(op))
    crashPoint("after-swap")
    collectGarbage(t.fs, t.table)
  }

  /** Merge-on-read publish of a change that retires `retired` — the
    * (`__part`, `file`, `pos`) [[positions]] of live rows — and writes
    * `written` (None: a vector-only change). `inserts` says whether the
    * written rows may include rows that retire nothing; when they cannot,
    * a change that retires nothing is a no-op before any crash point,
    * and any change that ends up neither retiring nor writing burns no
    * generation. Written rows stage with the declared clustering's SORT
    * (zone-map tightness), never its file fan-out — a delta batch is
    * small — and through the table's bucketing (pmod(murmur3, n) split,
    * `_NNNNN` names), so base ∪ delta files keep grouping by bucket id
    * and the exchange-free join survives; they re-validate the table's
    * CHECKs (carried rows already passed). The retired positions fold
    * into ONE deletion vector with the touched partitions' prior ones
    * (the sets are disjoint: prior rows are invisible to every scan, so
    * counts stay exact), and an extended partition's zone map widens to
    * the union bound over base ∪ delta. */
  private def publishMor(t: Target, op: String, partitionCol: String,
      retired: DataFrame, written: Option[DataFrame], inserts: Boolean,
      crashPoint: String => Unit): Unit = {
    val m = t.m
    val dvPerPart: Map[String, Long] = retired.groupBy("__part").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (dvPerPart.isEmpty && !inserts) return
    val gen = m.gen + 1
    val staged: Map[String, String] = written match {
      case None => Map.empty
      case Some(rows) =>
        crashPoint("before-staging")
        val s = stageSegments(rows, t.path, partitionCol, gen,
          sortCols = m.clusterBy.map(_._1).getOrElse(Nil),
          bucketing = m.bucketing)
        if (s.isEmpty && dvPerPart.isEmpty) return
        crashPoint("after-staging")
        s
    }
    val (dStats, dCounts, dFileStats) =
      statsFromStaged(t.spark, t.table, staged, partitionCol, m.statsCols,
        m.bloomCols, m.checks)
    val newParts = staged.keySet -- m.segments.keySet
    val deltaParts = staged.keySet & m.segments.keySet
    crashPoint("before-dv-write")
    val dvName =
      if (dvPerPart.isEmpty) None
      else Some(stageDvDir(t.spark, t.table, m,
        retired.select(col("file"), col("pos")), dvPerPart.keySet, gen))
    val stats =
      if (deltaParts.isEmpty) m.stats
      else {
        val schema = schemaOf(t.spark, t.table, m)
        deltaParts.foldLeft(m.stats) { (acc, p) =>
          widenStats(acc.get(p), dStats.get(p), schema, m.statsCols) match {
            case Some(s) => acc + (p -> s)
            case None => acc - p
          }
        }
      }
    val next = m.copy(gen = gen,
      segments = m.segments ++ staged.view.filterKeys(newParts),
      stats = stats ++ dStats.view.filterKeys(newParts),
      rowCounts = m.rowCounts ++ dCounts.view.filterKeys(newParts),
      fileStats = m.fileStats ++ dFileStats,
      deltas = m.deltas ++ deltaParts.map(p =>
        p -> (liveDeltas(m, p) :+ DeltaRef(segLeaf(m.segments(p)),
          staged(p), dCounts(p), gen))),
      dvs = m.dvs ++ dvName.toSeq.flatMap(n => dvPerPart.map { case (p, rows) =>
        p -> DvRef(segLeaf(m.segments(p)), n,
          rows + liveDv(m, p).map(_.rows).getOrElse(0L), gen) }))
    crashPoint("before-swap")
    try publishOrAbort(t.hconf, t.table, m.gen, next, staged, op = Some(op))
    catch { case e: Throwable =>
      dvName.foreach(n => t.fs.delete(new Path(t.table, n), true)); throw e }
    crashPoint("after-swap")
    collectGarbage(t.fs, t.table)
  }

  /** Keyed latest-version-wins merge with an ATOMIC publish: identical
    * merge semantics to [[Warehouse.merge]] (same affected-partition set,
    * same window, only affected partitions rewritten), but the publish is
    * one manifest swap — a reader or a crash can never observe a mix of
    * generations. */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
      key: String, versionCol: String, partitionCol: String,
      allowAddColumns: Boolean = false,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openTable(spark, path, "to merge into")
    val m = t.m
    // same evolution contract as Warehouse.merge, recorded in the manifest
    // itself (the natural home for table schema): adds allowed behind the
    // opt-in, drops/renames rejected loudly
    requireMergeBatch(m, updates, key, versionCol, partitionCol, "merge")
    val added = updates.columns.toSeq.filterNot(m.cols.contains)
    require(added.isEmpty || allowAddColumns,
      s"updates carry columns ${added.mkString(",")} the table lacks; pass " +
        "allowAddColumns=true to widen the schema")
    val cols = (m.cols ++ added).toArray
    val upd = updates.withColumn(partitionCol, col(partitionCol).cast("string"))
    // a fully-retired table (every partition emptied by key moves) still
    // accepts an insert-only batch: its "existing rows" are simply none
    val existing =
      if (m.segments.isEmpty) upd.filter(lit(false)) else read(spark, path)

    // affected = partitions receiving updates ∪ partitions holding an
    // updated key (key moves shed the old copy) — same metadata-bounded
    // collects as Warehouse.merge
    val updKeys = upd.select(col(key)).distinct()
    val oldParts = existing.select(col(key), col(partitionCol))
      .join(updKeys, Seq(key), "left_semi")
      .select(col(partitionCol)).distinct()
    val newParts = upd.select(col(partitionCol)).distinct()
    val affected: Array[String] =
      oldParts.union(newParts).distinct().collect().map(_.getString(0))
    // fail before any work: a NULL here would stage under the hive default
    // dir while the affected-set holds null — the staged segment would
    // silently miss the manifest (stageSegments guards empty-string too)
    require(!affected.contains(null),
      s"updates carry NULL $partitionCol values; CommittedTable requires a " +
        "concrete partition value per row (normalize upstream)")
    if (affected.isEmpty) return

    // latest version per key over (existing rows of affected partitions —
    // manifest-pruned read — ∪ the update batch); allowMissingColumns
    // NULL-fills a widened column for the existing side
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col(versionCol).desc)
    val merged = (if (m.segments.isEmpty) upd.filter(lit(false))
      else read(spark, path, Some(affected.toIndexedSeq)))
      .unionByName(upd, allowMissingColumns = true)
      .select(cols.map(col).toIndexedSeq: _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    publishCow(t.copy(m = withRoles(m.copy(cols = cols.toSeq), partitionCol,
      key, versionCol)), "merge", partitionCol, affected.toIndexedSeq,
      merged, checked = true, crashPoint)
  }

  /** The keyed batch contract [[merge]] and [[mergeMor]] share: the batch
    * carries key, version and partition, and every table column. */
  private def requireMergeBatch(m: Manifest, updates: DataFrame, key: String,
      versionCol: String, partitionCol: String, verb: String): Unit = {
    require(updates.columns.contains(partitionCol) && updates.columns.contains(key)
        && updates.columns.contains(versionCol),
      s"updates must carry $key, $versionCol, $partitionCol")
    val dropped = m.cols.toSet -- updates.columns.toSet
    require(dropped.isEmpty,
      s"updates are missing table columns ${dropped.mkString(",")}: dropping " +
        s"or renaming a column is not supported by $verb")
  }

  /** Role metadata backfills from the first keyed merge of a pre-feature
    * table (the merge call IS the declaration of the key protocol). */
  private def withRoles(m: Manifest, partitionCol: String, key: String,
      versionCol: String): Manifest =
    m.copy(partitionCol = m.partitionCol.orElse(Some(partitionCol)),
      keyCol = m.keyCol.orElse(Some(key)),
      verCol = m.verCol.orElse(Some(versionCol)))

  /** One WHEN clause of [[mergeClauses]]. Conditions and assignment /
    * insert values are Columns over the TWO-SIDED namespace `t.<col>`
    * (the table's current row) and `s.<col>` (the source row) — e.g.
    * `expr("s.o_totalprice > t.o_totalprice")`,
    * `Map("o_totalprice" -> expr("t.o_totalprice + s.delta"))`. The SQL
    * front end ([[graft.sql.GraftAnalysis]]) produces exactly these from
    * a `MERGE INTO` statement's WHEN clauses. */
  sealed trait MatchedClause { def condition: Option[org.apache.spark.sql.Column] }
  /** WHEN MATCHED [AND condition] THEN UPDATE SET `set` — unassigned
    * columns keep the target row's value; assignments are simultaneous
    * against pre-merge values. */
  final case class MatchedUpdate(condition: Option[org.apache.spark.sql.Column],
      set: Map[String, org.apache.spark.sql.Column]) extends MatchedClause
  /** WHEN MATCHED [AND condition] THEN DELETE. */
  final case class MatchedDelete(condition: Option[org.apache.spark.sql.Column])
    extends MatchedClause
  /** WHEN NOT MATCHED [AND condition] THEN INSERT — `values` must assign
    * the key and partition columns (a row must land somewhere);
    * unassigned table columns insert as typed NULL. Conditions/values
    * here may reference `s.<col>` only (there is no target row). */
  final case class NotMatchedInsert(condition: Option[org.apache.spark.sql.Column],
      values: Map[String, org.apache.spark.sql.Column])
  /** WHEN NOT MATCHED BY SOURCE clauses — conditions/assignments may
    * reference `t.<col>` only (there is no source row). */
  sealed trait BySourceClause { def condition: Option[org.apache.spark.sql.Column] }
  final case class BySourceUpdate(condition: Option[org.apache.spark.sql.Column],
      set: Map[String, org.apache.spark.sql.Column]) extends BySourceClause
  final case class BySourceDelete(condition: Option[org.apache.spark.sql.Column])
    extends BySourceClause

  /** General clause-driven MERGE (the full SQL `MERGE INTO` surface:
    * conditional WHEN MATCHED UPDATE/DELETE chains, conditional
    * WHEN NOT MATCHED INSERTs, WHEN NOT MATCHED BY SOURCE), with the
    * same atomic partition-scoped publish as [[merge]]. Rows pair on the
    * table's manifest-declared key; clauses arbitrate per SQL semantics —
    * within each group, conditions are tested in declaration order and
    * the FIRST true clause acts (a NULL condition does not match); a
    * matched / by-source row no clause claims is kept unchanged; an
    * unmatched source row no insert clause claims is ignored.
    *
    * Contracts (each enforced loudly):
    *  - the source must have AT MOST ONE row per key — several matches
    *    per target row are nondeterministic (pre-collapse with a
    *    latest-version row_number; the canonical [[merge]] does that
    *    arbitration for the plain upsert shape);
    *  - updates must not assign the key (re-keying is a DELETE plus an
    *    INSERT — say that); inserts must assign key and partition;
    *  - on a version-consuming table (manifest verCol), every UPDATE and
    *    INSERT must assign the version column — [[update]]'s CDC
    *    visibility contract;
    *  - assigning the PARTITION column in an update moves the row (both
    *    the shedding and the receiving partition are rewritten). On a
    *    composite-partitioned table the composite key column is the
    *    partition column: assign it via [[compositeKey]] when moving, and
    *    keep component columns in sync yourself — the encoding is a
    *    convention, not a trigger.
    *
    * Scale shape: without by-source clauses the rewrite is bounded by the
    * SOURCE — touched partitions are discovered through [[readKeys]]
    * (bloom-sidecar-pruned (key, partition) probe), the clause join reads
    * only those partitions, and partitions receiving moved/inserted rows
    * carry their other rows forward in the same staged generation.
    * BY SOURCE clauses are a WHOLE-TABLE verb by definition (every
    * unmatched target row must be tested): every live partition is read
    * and rewritten — the same honest cost Delta pays for the clause.
    *
    * Cites `/root/reference/etl_pipeline_beam_auto.py:174-181`
    * (WRITE_APPEND per-file loads — the reference's only "merge"; this
    * generalizes the downstream table maintenance its BigQuery users
    * would hand-write as MERGE statements). */
  /** The clause-merge contract checks shared by [[mergeClauses]] and
    * [[mergeClausesMor]]: role resolution (key + partition column from
    * the manifest), assignment validity (no unknown/key/partition-
    * contract violations), the verCol CDC guard on every writing
    * clause, and the at-most-one-source-row-per-key determinism check.
    * Returns (key, partitionCol). */
  private def validateMergeClauses(m: Manifest, path: String,
      source: DataFrame, matched: Seq[MatchedClause],
      notMatched: Seq[NotMatchedInsert], bySource: Seq[BySourceClause])
      : (String, String) = {
    import org.apache.spark.sql.Column
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "mergeClauses needs at least one WHEN clause")
    val key = m.keyCol.getOrElse(throw new IllegalArgumentException(
      s"mergeClauses on $path: the manifest records no key column — declare " +
        "keyCol at write()/merge(), or SET TBLPROPERTIES('keycol'=…)"))
    val pc = m.partitionCol.getOrElse(throw new IllegalArgumentException(
      s"mergeClauses on $path: the manifest records no partition column"))
    require(m.segments.nonEmpty,
      s"mergeClauses on $path: the table is empty — use write() or the " +
        "canonical merge() for the first rows")
    require(source.columns.contains(key),
      s"the merge source must carry the key column $key " +
        s"(has ${source.columns.mkString(",")})")
    val reserved = Seq("__graft_t", "__graft_s", "__graft_act")
    require(!reserved.exists(source.columns.contains),
      s"source must not carry reserved columns ${reserved.mkString(",")}")

    val cols = m.cols
    // CDC visibility: a version-consuming table must see every change as
    // a (key, version) transition — update()'s contract, enforced here
    // for every clause that writes rows
    def reqVer(set: Map[String, Column], what: String): Unit =
      m.verCol.foreach(v => require(set.contains(v),
        s"this table is consumed via keys/cdf change feeds keyed on " +
          s"version column $v: $what must assign a bumped $v in the same " +
          "clause or the change is invisible to CDC consumers"))
    def checkSet(set: Map[String, Column], what: String): Unit = {
      val unknown = set.keySet -- cols.toSet
      require(unknown.isEmpty,
        s"$what assigns columns the table lacks: ${unknown.mkString(",")} " +
          "(schema widening is the canonical merge's allowAddColumns)")
      require(!set.contains(key),
        s"$what must not assign the key column $key: re-keying a row is a " +
          "DELETE plus an INSERT — write it as those clauses")
      reqVer(set, what)
    }
    matched.foreach {
      case MatchedUpdate(_, set) => checkSet(set, "WHEN MATCHED UPDATE")
      case _ => ()
    }
    bySource.foreach {
      case BySourceUpdate(_, set) =>
        checkSet(set, "WHEN NOT MATCHED BY SOURCE UPDATE")
      case _ => ()
    }
    notMatched.foreach { c =>
      val unknown = c.values.keySet -- cols.toSet
      require(unknown.isEmpty,
        s"WHEN NOT MATCHED INSERT assigns columns the table lacks: " +
          unknown.mkString(","))
      require(c.values.contains(key) && c.values.contains(pc),
        s"WHEN NOT MATCHED INSERT must assign the key ($key) and " +
          s"partition ($pc) columns")
      reqVer(c.values, "WHEN NOT MATCHED INSERT")
    }

    // deterministic pairing: at most one source row per key (Delta's
    // multiple-matches error, caught before any rewrite)
    val dup = source.groupBy(col(key))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__graft_n"))
      .filter(col("__graft_n") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"mergeClauses source has multiple rows for $key=${dup.head.get(0)}: " +
        "collapse to one row per key first (e.g. a latest-version " +
        "row_number) — several matches per target row are nondeterministic")
    (key, pc)
  }

  def mergeClauses(spark: SparkSession, path: String, source: DataFrame,
      matched: Seq[MatchedClause] = Nil,
      notMatched: Seq[NotMatchedInsert] = Nil,
      bySource: Seq[BySourceClause] = Nil,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openTable(spark, path, "to merge into")
    val p = planClauses(t, source, matched, notMatched, bySource) {
      (scope, tSchema) =>
        if (scope.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tSchema)
        else read(spark, path, Some(scope))
    }
    // DROP = an unmatched source row no insert clause claims
    val dropActs: Seq[Int] = -2 +:
      (matched.zipWithIndex.collect { case (MatchedDelete(_), i) => i } ++
       bySource.zipWithIndex.collect { case (BySourceDelete(_), i) => 2000 + i })
    val assembled = p.withAct
      .filter(!col("__graft_act").isin(dropActs.map(Int.box): _*))
      .select(p.outCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // output partitions: updates may move rows, inserts may mint brand-
      // new partitions — partitions gaining rows that were NOT in scope
      // carry their existing content forward in the same generation
      val outParts = assembled.select(col(p.pc).cast("string")).distinct()
        .collect().map(_.getString(0))
      require(!outParts.contains(null),
        s"a WHEN clause produced a NULL ${p.pc} value; CommittedTable requires " +
          "a concrete partition value per row (normalize in the clause)")
      val scopeSet = p.scope.toSet
      val carry = outParts.filterNot(scopeSet.contains)
        .filter(t.m.segments.contains).toSeq
      val finalDf =
        if (carry.isEmpty) assembled
        else assembled.unionByName(read(spark, path, Some(carry))
          .select(t.m.cols.map(col).toIndexedSeq: _*))
      val affected = (scopeSet ++ outParts).toSeq
      if (affected.isEmpty) return
      publishCow(t, "merge-clauses", p.pc, affected, finalDf,
        checked = true, crashPoint)
    } finally assembled.unpersist()
  }

  /** [[mergeClauses]]' and [[mergeClausesMor]]' shared plan: the contract
    * checks, the scope (partitions whose rows can participate — matched
    * keys found through the bloom-pruned point probe ([[readKeys]]), so
    * segments that cannot hold a source key are never opened; BY SOURCE
    * widens it to every live partition, the clause's definition), the
    * `target` rows of that scope full-outer-joined to the source on the
    * key, and the clause arbitration: ONE integer action per row in
    * `__graft_act`, conditions tested in declaration order (SQL's
    * first-true-wins), each evaluated once — matched clause i → i, insert
    * i → 1000 + i, by-source i → 2000 + i, KEEP(-1) passes the target row
    * through, DROP(-2) is an unmatched source row no insert claims.
    * `outCols` is one output expression per table column: the acting
    * clause's assignment, else the target value (NULL for a source-only
    * row's unassigned insert columns since its t side is all-NULL), cast
    * to the table's type so a clause can never drift a column's parquet
    * type. */
  private final case class ClausePlan(pc: String, scope: Seq[String],
      withAct: DataFrame, outCols: Seq[org.apache.spark.sql.Column])

  private def planClauses(t: Target, source: DataFrame,
      matched: Seq[MatchedClause], notMatched: Seq[NotMatchedInsert],
      bySource: Seq[BySourceClause])(
      target: (Seq[String], org.apache.spark.sql.types.StructType) => DataFrame)
      : ClausePlan = {
    import org.apache.spark.sql.Column
    val (key, pc) = validateMergeClauses(t.m, t.path, source, matched,
      notMatched, bySource)
    val scope: Seq[String] =
      if (bySource.nonEmpty) t.m.segments.keys.toSeq
      else readKeys(t.spark, t.path, source.select(col(key)).distinct(), key)
        .select(col(pc)).distinct().collect().map(_.getString(0)).toSeq
    val tSchema = schemaOf(t.spark, t.table, t.m)
    val joined = target(scope, tSchema)
      .withColumn("__graft_t", lit(true)).alias("t")
      .join(source.withColumn("__graft_s", lit(true)).alias("s"),
        col(s"t.$key") === col(s"s.$key"), "full_outer")
    val isM = col("__graft_t").isNotNull && col("__graft_s").isNotNull
    val sOnly = col("__graft_s").isNotNull && col("__graft_t").isNull
    val tOnly = col("__graft_t").isNotNull && col("__graft_s").isNull
    val cases: Seq[(Column, Int)] =
      matched.zipWithIndex.map { case (cl, i) =>
        (isM && cl.condition.getOrElse(lit(true)), i) } ++
      notMatched.zipWithIndex.map { case (cl, i) =>
        (sOnly && cl.condition.getOrElse(lit(true)), 1000 + i) } ++
      bySource.zipWithIndex.map { case (cl, i) =>
        (tOnly && cl.condition.getOrElse(lit(true)), 2000 + i) }
    val act = cases.foldRight(when(sOnly, lit(-2)).otherwise(lit(-1))) {
      case ((c, v), acc) => when(c, lit(v)).otherwise(acc) }
    val outCols = tSchema.fields.toSeq.map { f =>
      val c = f.name
      val byAct: Seq[(Int, Column)] =
        matched.zipWithIndex.collect {
          case (MatchedUpdate(_, set), i) if set.contains(c) => i -> set(c) } ++
        notMatched.zipWithIndex.map { case (cl, i) =>
          (1000 + i) -> cl.values.getOrElse(c, lit(null)) } ++
        bySource.zipWithIndex.collect {
          case (BySourceUpdate(_, set), i) if set.contains(c) =>
            (2000 + i) -> set(c) }
      byAct.foldRight(col(s"t.$c")) { case ((v, e), acc) =>
        when(col("__graft_act") === v, e).otherwise(acc) }
        .cast(f.dataType).as(c)
    }
    ClausePlan(pc, scope, joined.withColumn("__graft_act", act), outCols)
  }

  /** Merge-on-read [[mergeClauses]] — the full SQL `MERGE INTO` clause
    * surface with [[mergeMor]]'s cost shape: target rows an UPDATE or
    * DELETE clause claims publish their (file, row_index) positions as a
    * deletion vector; rows the clauses WRITE (matched updates' images,
    * NOT MATCHED inserts, by-source updates' images) publish as
    * per-partition delta segments. Unclaimed target rows are NEVER
    * read into the output or restaged — the decisive difference from
    * the copy-on-write clause merge, which rewrites every affected
    * partition whole (and must carry moved-into partitions forward).
    * O(claimed + written rows) published; clause semantics, arbitration
    * order, contracts and loud errors are [[mergeClauses]]' exactly
    * (shared validation). BY SOURCE clauses still SCAN every live
    * partition (their definition: every unmatched target row must be
    * tested) but write only the claimed rows. Routed from SQL
    * `MERGE INTO` when the table declares TBLPROPERTIES
    * 'updatemode'='mor'. */
  def mergeClausesMor(spark: SparkSession, path: String, source: DataFrame,
      matched: Seq[MatchedClause] = Nil,
      notMatched: Seq[NotMatchedInsert] = Nil,
      bySource: Seq[BySourceClause] = Nil,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openTable(spark, path, "to merge into")
    // target side WITH (file, pos) provenance — the positions a claiming
    // clause will retire
    val p = planClauses(t, source, matched, notMatched, bySource)(
      (scope, _) => readFrom(spark, t.table, t.m, Some(scope.toIndexedSeq),
        keepPos = true))
    // actions that RETIRE the target row (update: superseded by its new
    // image; delete: gone) and actions that WRITE a row
    val retireActs: Seq[Int] =
      matched.indices ++ bySource.indices.map(2000 + _)
    val writeActs: Seq[Int] =
      matched.zipWithIndex.collect { case (MatchedUpdate(_, _), i) => i } ++
      notMatched.indices.map(1000 + _) ++
      bySource.zipWithIndex.collect {
        case (BySourceUpdate(_, _), i) => 2000 + i }
    val withAct = p.withAct
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val superseded = positions(withAct.filter(col("__graft_t").isNotNull &&
          col("__graft_act").isin(retireActs.map(Int.box): _*)), p.pc, "t.")
      val written = withAct
        .filter(col("__graft_act").isin(writeActs.map(Int.box): _*))
        .select(p.outCols: _*)
      publishMor(t, "merge-clauses-mor", p.pc, superseded, Some(written),
        inserts = true, crashPoint)
    } finally withAct.unpersist()
  }

  /** Morton (Z-order) key over equal-width bucketizations of `cols`,
    * each given as (column, min, max): bucket `b_i` gets `bits` bits and
    * the key interleaves them — bit `j` of column `i` lands at position
    * `j·n + i` — so sorting by the key clusters rows that are close in
    * EVERY dimension. NULL and out-of-range values clamp to the edge
    * buckets (they sort to the ends, never error). Pure column
    * arithmetic (floor/shift/and/or) — codegen'd, no UDF. */
  private[sources] def mortonKey(cols: Seq[(org.apache.spark.sql.Column, Double, Double)],
      bits: Int): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && bits >= 1 && bits * cols.size <= 60,
      s"need 1..60 total key bits, got ${bits * cols.size}")
    val n = cols.size
    val terms = for (((c, mn, mx), ci) <- cols.zipWithIndex; b <- 0 until bits)
      yield {
        val range = if (mx > mn) mx - mn else 1.0
        // Long shift: Int `1 << bits` wraps mod 32 for bits >= 31 (the
        // single-column guard admits up to 60), degenerating the key to a
        // constant and silently publishing an unclustered layout
        val buckets = 1L << bits
        val bucket = least(greatest(
          floor((c.cast("double") - lit(mn)) / lit(range) * lit(buckets.toDouble)),
          lit(0.0)), lit(buckets - 1.0)).cast("long")
        shiftleft(shiftrightunsigned(coalesce(bucket, lit(0L)), b)
          .bitwiseAND(lit(1L)), b * n + ci)
      }
    terms.reduce(_ bitwiseOR _)
  }

  /** [[compact]] with MULTI-dimensional clustering: every live partition
    * rewritten as one fresh segment whose rows are sorted by the Morton
    * key over `zCols` (equal-width buckets between each column's table-
    * wide min/max — one tiny aggregate job, driver-bounded). Content is
    * untouched; what changes is which rows share a parquet ROW GROUP:
    * after a single-column sort, a range predicate on any OTHER column
    * skips nothing (every row group spans its full range), while z-order
    * gives every `zCols` member row-group ranges ~2^(bits/n) narrower —
    * the Delta/Iceberg OPTIMIZE ZORDER move, feeding the same pushed-
    * filter row-group skipping [[compact]]'s sortCols feeds for one
    * column. Equal-width bucketing is skew-sensitive by design (rank
    * bucketing would cost a global sort per column); heavy skew wants a
    * pre-transform (log, clamp) in the caller's column expression. */
  def compactZOrder(spark: SparkSession, path: String, partitionCol: String,
      zCols: Seq[String], bits: Int = 12,
      crashPoint: String => Unit = _ => (),
      filesPerPartition: Int = 1): Unit = {
    val t = openTable(spark, path, "to compact")
    import t.{fs, hconf, m, table}
    if (m.segments.isEmpty) return
    require(zCols.nonEmpty && zCols.forall(m.cols.contains),
      s"zCols must be table columns (${m.cols.mkString(",")}); got ${zCols.mkString(",")}")
    val cur = read(spark, path).select(m.cols.map(col).toIndexedSeq: _*)
    // table-wide min/max per z column: one aggregate, 2·|zCols| numbers
    val bounds = cur.select(zCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"mn_$c"),
        max(col(c).cast("double")).as(s"mx_$c"))).toIndexedSeq: _*)
      .collect().head
    val dims = zCols.zipWithIndex.map { case (c, i) =>
      val mn = Option(bounds.get(2 * i)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      val mx = Option(bounds.get(2 * i + 1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      (col(c), mn, mx)
    }
    crashPoint("before-staging")
    val gen = m.gen + 1
    require(m.bucketing.isEmpty,
      "compactZOrder on a bucketed table: z-order and bucketing are " +
        "competing physical layouts — this table's files must stay " +
        "bucket-grouped (use compact(), which preserves the buckets and " +
        "sorts within them via sortCols)")
    // filesPerPartition > 1 range-clusters the output on the MORTON key:
    // each staged file covers a contiguous z-range, so its per-file zone
    // map is tight on EVERY z dimension and a range predicate on any of
    // them skips files inside the partition — one z-ordered file per
    // partition only helps parquet row-group stats; the multi-file
    // layout is what makes the manifest skip files without opening them
    val staged = stageSegments(cur, path, partitionCol, gen,
      sortExprs = Seq(mortonKey(dims, bits)),
      filesPerPartition = filesPerPartition,
      rangeClusterParts = Some(m.segments.size))
    crashPoint("after-staging")
    // a manifest-provably-empty partition (vector retired every row)
    // legitimately stages nothing: the rewrite retires it (compact's rule)
    val missing = (m.segments.keySet -- staged.keySet).filterNot(p =>
      m.rowCounts.get(p).exists(n => n + morRowAdj(m, p) == 0L))
    if (missing.nonEmpty)
      throw new java.io.IOException(
        s"compactZOrder staged no segment for partitions ${missing.mkString(",")}")
    val (segStats, segCounts, segFileStats) =
      statsFromStaged(spark, table, staged, partitionCol, m.statsCols,
        m.bloomCols)
    crashPoint("before-swap")
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = gen, segments = staged, stats = segStats,
        rowCounts = segCounts, fileStats = segFileStats,
        // a full rewrite physically sheds dropped-column (and renamed
        // former-name) residue
        droppedCols = Nil, renames = Map.empty), staged, op = Some("zorder"))
    crashPoint("after-swap")
    collectGarbage(fs, table)
  }

  /** Row-level DELETE with the table's atomic publish: removes every row
    * where `predicate` is TRUE (NULL = not matched = kept, the SQL DELETE
    * contract) by rewriting ONLY the partitions that hold a matching row
    * — the right-to-be-forgotten primitive a training-data lakehouse
    * needs, with the same fencing/retention/GC envelope as [[merge]].
    *
    * Scale shape: the affected set is one metadata-bounded collect
    * (distinct partition values of matching rows — the predicate scan is
    * manifest-resolved and Catalyst pushes the predicate down); untouched
    * partitions are never listed, opened, or rewritten. A partition whose
    * every row matches retires (its manifest entry drops) — no empty
    * segment is written. Retained generations still serve the pre-delete
    * rows via [[readAt]] until they age out: a DELETE is durable going
    * forward, and the retention window is the compliance clock for
    * history (shrink `retainGenerations` accordingly).
    *
    * Change-feed interplay: the delete generation's [[changesFor]] batch
    * is the surviving contents of the rewritten partitions (a downstream
    * latest-wins consumer re-merging by key will NOT drop the rows —
    * partition-granularity CDC carries no tombstones); in `keys` mode the
    * delete generation emits ZERO rows (no (key, version) pair is new).
    * Propagating deletes downstream needs an explicit anti-join against
    * the source table — the documented no-tombstone contract. */
  def delete(spark: SparkSession, path: String, predicate:
      org.apache.spark.sql.Column, partitionCol: String,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openScoped(spark, path, "to delete from", partitionCol)
      .getOrElse(return)
    val matched = predicate.isNotNull && predicate // NULL-safe: TRUE only
    val affected = partsMatching(spark, path, partitionCol, matched)
    if (affected.isEmpty) return // nothing matches: no generation burned
    // survivors of the affected partitions only (manifest-pruned read)
    publishCow(t, "delete", partitionCol, affected,
      read(spark, path, Some(affected)).filter(!matched),
      checked = false, crashPoint)
  }

  /** Stage ONE deletion-vector parquet dir holding `newEntries` (file,
    * pos) FOLDED with the `affected` partitions' prior live vectors'
    * entries (their dirs may be shared with unaffected partitions — only
    * entries under the affected partitions' data-dir leafs carry over:
    * base segments AND live delta dirs, since a prior MoR delete may
    * have retired rows a MoR merge appended). Renamed into the table dir
    * under its generation-stamped name and returned; the caller
    * references it from the manifest it publishes — or deletes it on
    * publish abort (the dir is invisible until the swap). */
  private def stageDvDir(spark: SparkSession, table: Path, m: Manifest,
      newEntries: DataFrame, affected: Set[String], gen: Long): String = {
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val priors: Map[String, DvRef] =
      affected.iterator.flatMap(p => liveDv(m, p).map(p -> _)).toMap
    val affectedLeafs = affected.toSeq.flatMap(p =>
      segLeaf(m.segments(p)) +: liveDeltas(m, p).map(d => segLeaf(d.dir)))
    val allEntries = priors.values.map(_.dir).toSeq.distinct match {
      case Nil => newEntries
      case dirs =>
        spark.read.schema(DvSchema)
          .parquet(dirs.map(d => dvDirPath(table, d).toString): _*)
          .filter(expr("substring_index(file, '/', 1)")
            .isin(affectedLeafs: _*))
          .select(col("file"), col("pos"))
          .unionByName(newEntries)
    }
    // NOT resized: an A/B (OPTIMIZATION_r21.md "dv write sizing") measured
    // coalesce(1) here serializing the entire upstream (prior-dv scan +
    // union + the caller's join output) into one task — the classic
    // coalesce trap — costing the MoR gates ~9% while saving only a
    // handful of tiny file commits; a shuffle-based resize adds a job.
    // The write keeps the upstream's partitioning.
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(table.toString + StagingInfix + nonce)
    allEntries.write.mode(SaveMode.Overwrite)
      .parquet(new Path(staging, "dv").toString)
    val dvName = s"${DvPrefix}g$gen-$nonce"
    if (!fs.rename(new Path(staging, "dv"), new Path(table, dvName)))
      throw new java.io.IOException(
        s"staging deletion vector into $table/$dvName failed")
    fs.delete(staging, true)
    dvName
  }

  /** Merge-on-read DELETE (deletion vectors, the Delta DV / Iceberg
    * position-delete model): instead of REWRITING every affected
    * partition ([[delete]]'s copy-on-write — O(affected partitions'
    * bytes) written to remove one row), publish the matched rows'
    * (file, `_metadata.row_index`) positions as a parquet deletion
    * vector and reference it from the manifest — O(deleted rows)
    * written, segments untouched. Every read (Scala, SQL, time travel,
    * CDF, incremental feeds) anti-joins live vectors out, so answers are
    * identical to the copy-on-write delete's; at 100 TB this is the
    * difference between a compliance takedown of 1k rows costing 1k
    * positions and costing a multi-TB partition rewrite.
    *
    * Protocol: a dv entry records the SEGMENT it was computed against —
    * any later rewrite of the partition (merge/update/compact/z-order,
    * which all read through the vectors and so MATERIALIZE the deletes)
    * changes the segment name and the entry self-invalidates; no verb
    * clears anything. Manifest row counts stay physical; every count surface
    * (COUNT(*) metadata fold, root shard totals, CBO stats) subtracts
    * the per-partition dv rows, so logical counts stay EXACT with zero
    * scans. Zone maps / Bloom sidecars become conservative (they may
    * describe deleted rows): pruning stays sound — a vector only removes
    * rows — but the metadata MIN/MAX fold bails on dv-carrying
    * partitions. Unreferenced vector dirs age out via GC exactly
    * like manifest shards; a full [[compact]]/[[compactPartitions]] of
    * the affected partitions sheds the vectors entirely. */
  def deleteMor(spark: SparkSession, path: String, predicate:
      org.apache.spark.sql.Column, partitionCol: String,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openScoped(spark, path, "to delete from", partitionCol)
      .getOrElse(return)
    val matched = predicate.isNotNull && predicate // NULL-safe: TRUE only
    // visible rows (prior vectors already anti-joined) with (file, pos)
    // provenance — the positions this publish will retire
    val hits = positions(readFrom(spark, t.table, t.m, None, keepPos = true)
      .filter(matched), partitionCol).persist()
    try publishMor(t, "delete-mor", partitionCol, hits, None,
      inserts = false, crashPoint)
    finally hits.unpersist()
  }

  /** Row-level UPDATE with the table's atomic publish: for every row
    * where `predicate` is TRUE (NULL = not matched = untouched, the SQL
    * UPDATE contract), replace each assigned column with its expression
    * (evaluated against the row's CURRENT values, all assignments
    * simultaneous — `a -> b, b -> a` swaps). Only partitions holding a
    * match are restaged.
    *
    * The partition column cannot be assigned (a row changing partition
    * is a key MOVE — that is [[merge]]'s latest-version-wins job, and
    * letting update do it silently would bypass the version protocol);
    * assigned columns must exist (widening is merge's
    * `allowAddColumns`).
    *
    * CDC visibility contract: [[changesForKeys]]/[[changesCdf]] detect a
    * row's change by its (key, version) pair — an update that rewrites
    * data columns WITHOUT bumping the table's version column leaves the
    * pair unchanged, so keys/cdf consumers (CDF replicas, incremental
    * views) classify the row UNCHANGED and silently drift from the
    * source. A table consumed through those feeds must bump its version
    * column in the same update; pass it as `versionCol` and this method
    * ENFORCES that (refusing an assignment set that omits it) rather
    * than trusting every call site to remember. */
  def update(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      partitionCol: String,
      crashPoint: String => Unit = _ => (),
      versionCol: Option[String] = None): Unit = {
    val t = openScoped(spark, path, "to update", partitionCol,
      noop = assignments.isEmpty).getOrElse(return)
    validateUpdate(t.m, partitionCol, assignments, versionCol)
    val matched = predicate.isNotNull && predicate
    val affected = partsMatching(spark, path, partitionCol, matched)
    if (affected.isEmpty) return
    // simultaneous assignment: every expression sees pre-update values
    val rewritten = t.m.cols.map { c =>
      assignments.get(c) match {
        case Some(e) => when(matched, e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
    publishCow(t, "update", partitionCol, affected,
      read(spark, path, Some(affected)).select(rewritten.toIndexedSeq: _*),
      checked = true, crashPoint)
  }

  /** [[update]]'s and [[updateMor]]'s shared contract checks. */
  private def validateUpdate(m: Manifest, partitionCol: String,
      assignments: Map[String, org.apache.spark.sql.Column],
      versionCol: Option[String]): Unit = {
    val unknown = assignments.keySet -- m.cols.toSet
    require(unknown.isEmpty,
      s"cannot assign columns the table lacks: ${unknown.mkString(",")} " +
        "(schema widening is merge's allowAddColumns)")
    require(!assignments.contains(partitionCol),
      s"cannot assign the partition column $partitionCol: a row changing " +
        "partition is a key move — use merge (latest-version-wins) instead")
    versionCol.foreach { v =>
      require(m.cols.contains(v),
        s"versionCol $v is not a column of the committed table (${m.cols.mkString(",")})")
      require(assignments.contains(v),
        s"this table is consumed via keys/cdf change feeds keyed on version " +
          s"column $v: an update that does not assign $v leaves (key, version) " +
          "unchanged and the change invisible to CDC consumers — assign a " +
          "bumped version in the same update")
    }
  }

  /** Pair-wise min/max widening of a partition's zone-map entry by a
    * freshly staged delta segment's: the union bound over base ∪ delta
    * rows, type-aware via the same comparator pruning uses. Exact when
    * both inputs are exact (min/max of a union is the merge of the
    * parts' min/max). None — drop the partition's stats entry, "unknown"
    * (pruning keeps, metadata MIN/MAX bails) — when either side is
    * missing or a bound is unmergeable (NaN/Infinity residue). */
  private def widenStats(
      base: Option[Seq[(Option[String], Option[String])]],
      add: Option[Seq[(Option[String], Option[String])]],
      schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String])
      : Option[Seq[(Option[String], Option[String])]] =
    (base, add) match {
      case (Some(b), Some(a))
          if b.size == statsCols.size && a.size == statsCols.size =>
        try Some(statsCols.zipWithIndex.map { case (c, i) =>
          val cmp = statCompare(typeOf(Some(schema), c))
          (b(i), a(i)) match {
            // an all-NULL extent contributes nothing to min/max
            case ((None, None), p) => p
            case (p, (None, None)) => p
            case ((Some(bn), Some(bx)), (Some(an), Some(ax))) =>
              (Some(if (cmp(an, bn) < 0) an else bn),
               Some(if (cmp(ax, bx) > 0) ax else bx))
            // a half-bounded pair never serializes; treat as unmergeable
            case _ => throw new NumberFormatException("half-bounded stat")
          }
        })
        catch { case _: NumberFormatException => None }
      case _ => None
    }

  /** Merge-on-read keyed merge — deletion vector + DELTA SEGMENT, the
    * write-amplification complement of [[deleteMor]]: identical
    * latest-version-wins answers to [[merge]], but instead of REWRITING
    * every affected partition it publishes (a) the superseded existing
    * rows' (file, row_index) positions as a deletion vector and (b) the
    * winning update rows as per-partition delta dirs the manifest unions
    * with the base segment at read time — O(changed + new rows) written,
    * base segments untouched. At 100 TB, a 1k-row upsert scattered over
    * hot multi-GB partitions costs 1k rows of parquet, not the
    * partitions' rewrite. Every read surface (Scala, SQL, time travel,
    * change feeds, metadata counts, zone maps, bloom probes) folds the
    * delta state; any rewriting verb (merge/update/delete/compact/
    * z-order/overwrite of the partition) materializes it, upon which the
    * entries self-invalidate — the [[DvRef]] protocol, shared.
    *
    * The arbitration matches [[merge]] with one determinization: a
    * version TIE keeps the EXISTING row (strict advance supersedes) —
    * merge's union-window tie is arbitrary, and (key, version) unchanged
    * ⇒ row unchanged is the CDC identity every feed consumer already
    * assumes. A NULL update version never supersedes; a row whose
    * existing versions are all NULL is never superseded (version
    * protocols don't have NULL versions — [[merge]] the table if yours
    * somehow does). Pre-existing duplicate key copies are collapsed only
    * as far as they are superseded (merge rewrites whole partitions and
    * collapses everything; a MoR publish touches only changed rows) — a
    * table whose writes all go through the keyed verbs never has
    * duplicates. Schema widening stays on [[merge]] with
    * allowAddColumns (every file of a partition must agree on its
    * column set) and is refused loudly here.
    *
    * Candidate partitions come from the bloom-sidecar key probe
    * ([[readKeys]]' prune) when the key is bloomed — the existing-side
    * read opens the handful of segments that can hold an updated key,
    * from metadata alone. */
  def mergeMor(spark: SparkSession, path: String, updates: DataFrame,
      key: String, versionCol: String, partitionCol: String,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openTable(spark, path, "to merge into")
    val m = t.m
    requireMergeBatch(m, updates, key, versionCol, partitionCol, "mergeMor")
    val added = updates.columns.toSeq.filterNot(m.cols.contains)
    require(added.isEmpty,
      s"updates carry columns ${added.mkString(",")} the table lacks; " +
        "schema widening is merge(allowAddColumns = true) — a copy-on-write " +
        "verb, so every file of a partition agrees on its column set")
    if (m.segments.isEmpty) {
      // empty / schema-only / fully-retired table: the batch IS the
      // initial load — the canonical merge stages it as first segments
      merge(spark, path, updates, key, versionCol, partitionCol,
        crashPoint = crashPoint)
      return
    }

    import org.apache.spark.sql.expressions.Window
    // arbitrate the batch itself first: one row per key, latest version
    // (the same window merge uses)
    val w = Window.partitionBy(col(key)).orderBy(col(versionCol).desc)
    val upd = updates.withColumn(partitionCol, col(partitionCol).cast("string"))
      .select(m.cols.map(col).toIndexedSeq: _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .persist()
    try {
      val updKeys = upd.select(col(key)).distinct()
      // matched existing rows WITH (file, pos) provenance, partition set
      // bloom-pruned when the key carries sidecars
      val existing = readFrom(spark, t.table, m,
          keyCandidates(spark, t.table, m, updKeys, key), keepPos = true)
        .join(updKeys, Seq(key), "left_semi").persist()
      try {
        val exVer = existing.select(col(key).as("__exk"),
            col(versionCol).as("__exv"))
          .groupBy("__exk").agg(max(col("__exv")).as("__exv"))
        // winners: strictly newer than EVERY existing copy of the key
        val winners = upd.join(exVer, upd(key) === exVer("__exk"), "left")
          .filter(col("__exk").isNull || col(versionCol) > col("__exv"))
          .select(m.cols.map(c => upd(c)).toIndexedSeq: _*)
        // superseded: existing rows a strictly newer update replaces
        val updVer = upd.select(col(key).as("__upk"),
          col(versionCol).as("__upv"))
        val superseded = positions(existing.join(updVer,
            existing(key) === updVer("__upk"))
          .filter(col("__upv") > existing(versionCol)), partitionCol)
          .persist()
        try publishMor(t.copy(m = withRoles(m, partitionCol, key, versionCol)),
          "merge-mor", partitionCol, superseded, Some(winners),
          inserts = true, crashPoint)
        finally superseded.unpersist()
      } finally existing.unpersist()
    } finally upd.unpersist()
  }

  /** Merge-on-read row-level UPDATE: [[update]]'s exact semantics
    * (simultaneous assignments against pre-update values, NULL predicate
    * = untouched, partition column unassignable, the versionCol CDC
    * guard) with [[mergeMor]]'s cost shape — the matched rows' positions
    * publish as a deletion vector and their updated images as delta
    * segments, O(matched rows) written instead of O(affected partitions'
    * bytes) rewritten. */
  def updateMor(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      partitionCol: String,
      crashPoint: String => Unit = _ => (),
      versionCol: Option[String] = None): Unit = {
    val t = openScoped(spark, path, "to update", partitionCol,
      noop = assignments.isEmpty).getOrElse(return)
    validateUpdate(t.m, partitionCol, assignments, versionCol)
    val matched = predicate.isNotNull && predicate
    val hits = readFrom(spark, t.table, t.m, None, keepPos = true)
      .filter(matched).persist()
    try {
      // one image per matched row: the partition column is unassignable,
      // so every image extends an existing partition
      val images = hits.select(t.m.cols.map { c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))
      }.toIndexedSeq: _*)
      publishMor(t, "update-mor", partitionCol, positions(hits, partitionCol),
        Some(images), inserts = false, crashPoint)
    } finally hits.unpersist()
  }

  /** Rewrite every live partition as ONE fresh-generation segment, one
    * file per partition sorted by `sortCols` (parquet row-group stats then
    * support range skipping within the partition — the
    * [[Warehouse.compact]] treatment), published through a single manifest
    * swap. Content is untouched — only layout: a long merge history leaves
    * partitions on scattered generations with shuffle-order rows; compact
    * re-establishes the canonical form and lets the superseded segments
    * age out through the normal one-cycle reader grace (an in-flight
    * reader of the pre-compact manifest keeps working). Same fencing as
    * merge: racing writers lose loudly, nothing vanishes. */
  /** REPLACE the table's content in ONE atomic generation: the new
    * dataframe stages as generation gen+1 under the same manifest lineage
    * and publishes with the usual single swap — so history inside the
    * retention window stays TIME-TRAVELABLE across the replace (readAt /
    * `VERSION AS OF` the pre-replace generation still serves it), the
    * change feed sees the replace as one generation's diff (partitions
    * absent from the new data read as deletes), and fencing is identical
    * to merge (a concurrent writer aborts the slower publisher).
    *
    * Schema and roles MAY change: `partitionCol`/`statsCols`/`keyCol`/
    * `versionCol`/`bloomCols` default to the CURRENT manifest's values,
    * each inherited only while its column still exists in the new data —
    * a role whose column the replace drops is cleared (later routed DML
    * needing it fails loudly, as on any role-less table). */
  def overwrite(df: DataFrame, path: String,
      partitionCol: Option[String] = None,
      statsCols: Option[Seq[String]] = None,
      sortCols: Seq[String] = Nil, filesPerPartition: Int = 1,
      keyCol: Option[String] = None, versionCol: Option[String] = None,
      bloomCols: Option[Seq[String]] = None): Unit = {
    val spark = df.sparkSession
    val t = openTable(spark, path, "to overwrite; use write() to create")
    import t.{fs, hconf, m, table}
    val cols = df.columns.toSet
    def inherit(explicit: Option[String], cur: Option[String]): Option[String] =
      explicit.orElse(cur.filter(cols.contains))
    val pc = partitionCol.orElse(m.partitionCol).getOrElse(
      throw new IllegalArgumentException(
        s"overwrite of $path needs a partition column (manifest records " +
          "none — pre-metadata table)"))
    val newStats = statsCols.getOrElse(m.statsCols.filter(cols.contains))
    val newBlooms = bloomCols.getOrElse(m.bloomCols.filter(cols.contains))
    val newKey = inherit(keyCol, m.keyCol)
    val newVer = inherit(versionCol, m.verCol)
    (Seq(pc) ++ newStats ++ sortCols ++ newKey ++ newVer ++ newBlooms)
      .foreach(c => require(df.columns.contains(c),
        s"column $c absent from the replacement (${df.columns.mkString(",")})"))
    val gen = m.gen + 1
    // bucketing carries across a full overwrite only while every bucket
    // column survives the new schema; otherwise it clears (like roles
    // whose column a REPLACE drops) — the invariant is that a manifest
    // with bucketby= references ONLY bucket-suffixed files
    val keptBucketing = m.bucketing.filter(_._2.forall(df.columns.contains))
    val staged = stageSegments(df, path, pc, gen, sortCols,
      filesPerPartition = filesPerPartition, bucketing = keptBucketing)
    val (stats, counts, fStats) = statsFromStaged(spark, table, staged, pc,
      newStats, newBlooms, m.checks)
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = gen, cols = df.columns.toSeq, segments = staged,
        statsCols = newStats, stats = stats, rowCounts = counts,
        fileStats = fStats,
        partitionCol = Some(pc), keyCol = newKey, verCol = newVer,
        bloomCols = newBlooms, bucketing = keptBucketing,
        // the replacement materializes every column it declares and
        // physically sheds any dropped-column / renamed-residue bytes
        virtualCols = Nil, droppedCols = Nil, renames = Map.empty), staged, op = Some("overwrite"))
    collectGarbage(fs, table)
  }

  /** Dynamic-partition OVERWRITE — the lakehouse backfill verb: every
    * partition PRESENT in `df` is replaced wholesale by df's rows for it,
    * in ONE atomic generation; partitions absent from df are carried
    * forward untouched — their segment files, zone-map entries and bloom
    * sidecars are REUSED, not rewritten, so recomputing one day of a
    * 3 650-day table moves one day's bytes. Schema must match the table
    * exactly (this is overwrite-of-content, not evolution — widen via
    * merge(allowAddColumns) and reshape via [[overwrite]]). History
    * inside the retention window stays time-travelable, the change feed
    * sees one generation whose diff is exactly the replaced partitions,
    * and fencing is merge's (a racing writer aborts loudly). NULL/empty
    * partition values are rejected before publish by [[stageSegments]].
    *
    * CDC caveat (the [[update]] contract generalized): FULL-mode feeds
    * see the replacement exactly; keys/cdf-mode feeds classify by
    * `(key, version)` pairs, so a backfilled row that keeps both
    * unchanged while its other columns differ reads as UNCHANGED there —
    * a backfill feeding key-level consumers must bump the version column
    * for rows it intends them to see. */
  def overwritePartitions(df: DataFrame, path: String,
      sortCols: Seq[String] = Nil, filesPerPartition: Int = 1,
      crashPoint: String => Unit = _ => ()): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val table = new Path(path)
    val fs = table.getFileSystem(hconf)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(
        s"no committed table at $path to overwrite partitions of"))
    val pc = m.partitionCol.getOrElse(
      throw new UnsupportedOperationException(
        s"overwritePartitions on $path needs the manifest's partition " +
          "column (partcol=); the table predates that metadata — " +
          "re-publish via write/merge to record it"))
    collectGarbage(fs, table)
    require(df.columns.toSet == m.cols.toSet,
      s"overwritePartitions must match the table schema exactly (table: " +
        s"${m.cols.mkString(",")}; got: ${df.columns.mkString(",")}) — " +
        "schema changes go through merge(allowAddColumns=true) or overwrite()")
    val data = df.select(m.cols.map(col).toIndexedSeq: _*)
    // TYPE drift is as fatal as column drift: a backfilled segment whose
    // column type differs from the carried segments' makes the table
    // unreadable (one explicit schema, two parquet physical types) — the
    // exact failure class the IncrementalAgg r14 finding fixed. One
    // footer probe against the current schema, loud before any staging.
    if (m.segments.nonEmpty) {
      val cur = schemaOf(spark, table, m)
      data.schema.fields.zip(cur.fields).foreach { case (n, o) =>
        require(n.dataType == o.dataType,
          s"overwritePartitions type drift on ${n.name}: table has " +
            s"${o.dataType.simpleString}, batch has " +
            s"${n.dataType.simpleString} — cast the batch (carried " +
            "segments keep the old physical type and one explicit " +
            "schema cannot read both)")
      }
    }
    crashPoint("before-staging")
    val gen = m.gen + 1
    // caller layout wins; otherwise a DECLARED clustering shapes the
    // batch (one distinct-count job sizes the range exchange)
    val (ovSort, ovFpp, ovParts) =
      if (sortCols.nonEmpty || filesPerPartition > 1)
        (sortCols, filesPerPartition, None)
      else m.clusterBy match {
        case Some((cs, n)) if m.bucketing.isEmpty =>
          (cs, n, Some(math.max(1L,
            data.select(col(pc)).distinct().count()).toInt))
        case _ => (sortCols, filesPerPartition, None)
      }
    val staged = stageSegments(data, path, pc, gen, ovSort,
      filesPerPartition = ovFpp, bucketing = m.bucketing,
      rangeClusterParts = ovParts)
    if (staged.isEmpty) return // an empty batch overwrites nothing
    crashPoint("after-staging")
    val (segStats, segCounts, segFileStats) = statsFromStaged(spark, table,
      staged, pc, m.statsCols, m.bloomCols, m.checks)
    val affected = staged.keySet
    crashPoint("before-swap")
    // the staged bytes are a pure function of the BATCH (the table is
    // never read), so a concurrent commit to OTHER partitions rebases —
    // readParts = ∅ is the strongest possible credential
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = gen,
        fileStats = m.fileStats ++ segFileStats,
        segments = (m.segments -- affected) ++ staged,
        stats = (m.stats -- affected) ++ segStats,
        rowCounts = (m.rowCounts -- affected) ++ segCounts), staged,
      rebase = Some(Rebase(m, affected, Set.empty)), op = Some("overwrite-partitions"))
    crashPoint("after-swap")
    collectGarbage(fs, table)
  }

  def compact(spark: SparkSession, path: String, partitionCol: String,
      sortCols: Seq[String] = Nil,
      crashPoint: String => Unit = _ => (),
      filesPerPartition: Int = 1): Unit = {
    val t = openTable(spark, path, "to compact")
    import t.{fs, hconf, m, table}
    if (m.segments.isEmpty) return
    val cur = read(spark, path).select(m.cols.map(col).toIndexedSeq: _*)
    crashPoint("before-staging")
    val gen = m.gen + 1
    require(m.cols.contains(partitionCol),
      s"$partitionCol is not a column of the committed table (${m.cols.mkString(",")})")
    // caller layout wins; a DECLARED clustering is the default — so a
    // bare compact() re-establishes the declared layout over history
    val (cSort, cFpp) =
      if (sortCols.nonEmpty || filesPerPartition > 1)
        (sortCols, filesPerPartition)
      else m.clusterBy.filter(_ => m.bucketing.isEmpty)
        .getOrElse((sortCols, filesPerPartition))
    val staged = stageSegments(cur, path, partitionCol, gen, cSort,
      filesPerPartition = cFpp, bucketing = m.bucketing,
      // manifest-known partition count -> multi-file output is RANGE
      // clustered by the sort key (near-disjoint per-file zone maps)
      rangeClusterParts = Some(m.segments.size))
    crashPoint("after-staging")
    // every live partition restaged; a value absent from staged would mean
    // data loss — unless the manifest PROVES it logically empty (its
    // deletion vector retired every row): the full rewrite retires the
    // entry, publishing nothing for it (the compactPartitions rule)
    val missing = (m.segments.keySet -- staged.keySet).filterNot(p =>
      m.rowCounts.get(p).exists(n => n + morRowAdj(m, p) == 0L))
    if (missing.nonEmpty)
      throw new java.io.IOException(
        s"compact staged no segment for partitions ${missing.mkString(",")}")
    crashPoint("before-swap")
    val (compactStats, compactCounts, compactFileStats) =
      statsFromStaged(spark, table, staged, partitionCol, m.statsCols,
        m.bloomCols)
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = gen, segments = staged, stats = compactStats,
        rowCounts = compactCounts, fileStats = compactFileStats,
        // a full rewrite physically sheds dropped-column (and renamed
        // former-name) residue
        droppedCols = Nil, renames = Map.empty), staged, op = Some("compact"))
    crashPoint("after-swap")
    collectGarbage(fs, table)
  }

  /** Partition-scoped [[compact]]: rewrite ONLY the named partitions'
    * segments (coalescing their files, optionally re-sorting in), leaving
    * every other partition's segments carried by reference — the
    * maintenance verb that matters at 100 TB, where whole-table compact
    * is a non-starter and fragmentation is LOCAL (the hot partitions
    * streams and frequent merges keep appending to). Reads only the named
    * partitions (manifest-pruned), and publishes with [[Rebase]]
    * credentials (readParts = touched): a concurrent commit to DISJOINT
    * partitions does not abort the compaction — the staged rewrite is
    * still exact, so its manifest delta replays on top of the winner and
    * maintenance never blocks ingestion. Content-preserving: rows
    * already passed the table's CHECKs, so none re-validate; dropped/
    * rename residue sheds only in the rewritten partitions (the
    * tombstones stay until a full [[compact]] sheds it everywhere).
    * Select targets with [[fragmentedPartitions]] — manifest metadata
    * alone, zero listings. */
  def compactPartitions(spark: SparkSession, path: String,
      partitions: Seq[String], sortCols: Seq[String] = Nil,
      filesPerPartition: Int = 1,
      crashPoint: String => Unit = _ => ()): Unit = {
    val t = openTable(spark, path, "to compact")
    import t.{fs, hconf, m, table}
    if (partitions.isEmpty) return
    val pc = m.partitionCol.getOrElse(
      throw new UnsupportedOperationException(
        s"compactPartitions on $path needs the manifest's partition column " +
          "(partcol=); the table predates that metadata — re-publish via " +
          "write/merge to record it"))
    val missing = partitions.filterNot(m.segments.contains)
    require(missing.isEmpty,
      s"compactPartitions: no live partition(s) ${missing.mkString(",")} on " +
        s"$path (live: ${m.segments.keys.toSeq.sorted.take(20).mkString(",")})")
    val cur = read(spark, path, Some(partitions.toIndexedSeq))
      .select(m.cols.map(col).toIndexedSeq: _*)
    crashPoint("before-staging")
    val gen = m.gen + 1
    val (cpSort, cpFpp) =
      if (sortCols.nonEmpty || filesPerPartition > 1)
        (sortCols, filesPerPartition)
      else m.clusterBy.filter(_ => m.bucketing.isEmpty)
        .getOrElse((sortCols, filesPerPartition))
    val staged = stageSegments(cur, path, pc, gen, cpSort,
      filesPerPartition = cpFpp, bucketing = m.bucketing,
      rangeClusterParts = Some(partitions.size))
    crashPoint("after-staging")
    // content-preserving cover check: every named partition must restage
    // (its rows came straight from the live segment) — EXCEPT a
    // partition whose deletion vector retired every row: it is
    // legitimately empty (the manifest proves it: base count + MoR
    // adjustment = 0), and materializing the emptiness IS retiring its
    // entry, exactly as delete() retires partitions it drains. Without
    // this, CALL graft.optimize would throw forever on any partition a
    // MoR takedown fully emptied. A lost partition the manifest CANNOT
    // prove empty keeps the loud data-loss throw.
    val lost = partitions.toSet -- staged.keySet
    val (drained, unexplained) = lost.partition(p =>
      m.rowCounts.get(p).exists(n => n + morRowAdj(m, p) == 0L))
    if (unexplained.nonEmpty)
      throw new java.io.IOException(
        s"compactPartitions staged no segment for ${unexplained.mkString(",")}")
    val (segStats, segCounts, segFileStats) =
      statsFromStaged(spark, table, staged, pc, m.statsCols, m.bloomCols)
    crashPoint("before-swap")
    publishOrAbort(hconf, table, m.gen,
      m.copy(gen = gen,
        fileStats = m.fileStats ++ segFileStats,
        segments = (m.segments -- drained) ++ staged,
        stats = (m.stats -- drained) ++ segStats,
        rowCounts = (m.rowCounts -- drained) ++ segCounts), staged,
      rebase = Some(Rebase(m, partitions.toSet, partitions.toSet)), op = Some("compact-partitions"))
    crashPoint("after-swap")
    collectGarbage(fs, table)
  }

  /** Partitions whose live segment holds more than `maxFiles` data files,
    * answered from the manifest's f= lists alone — zero listStatus RPCs
    * at any table size. The [[compactPartitions]] target selector:
    * streaming sinks and frequent small merges fragment exactly the
    * partitions they touch; this finds those and nothing else. A segment
    * with no recorded file list (pre-feature manifest) reports as
    * fragmented — unknown is worth compacting once, and the rewrite
    * records the list. */
  def fragmentedPartitions(spark: SparkSession, path: String,
      maxFiles: Int = 8): Seq[String] = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path"))
    // a partition's file count spans its base segment AND its live delta
    // dirs — MoR merges fragment exactly like streaming appends do, and
    // the compaction that fixes it also materializes the dv/delta state
    m.segments.toSeq.collect {
      case (p, seg)
          if (seg +: liveDeltas(m, p).map(_.dir))
            .map(d => m.files.get(d).map(_.size).getOrElse(Int.MaxValue))
            .foldLeft(0L)((a, b) => a + b) > maxFiles =>
        p
    }.sorted
  }

  /** Partitions whose reads pay for DEAD rows: the live deletion
    * vector's row count exceeds `maxDeadRatio` of the partition's LIVE
    * PHYSICAL rows (base segment + live delta segments — the rows a
    * scan actually opens; the dv may retire positions in either, so a
    * base-only denominator would overstate the ratio after delta-heavy
    * workloads and could exceed 1.0) — the complement of
    * [[fragmentedPartitions]]' signal (a partition can be one tidy file
    * and still anti-join half its rows away on every scan after enough
    * MoR deletes/updates). Manifest metadata alone, zero listings; a
    * partition without a recorded count is skipped (unknown, not
    * amplifiable evidence). The second [[compactPartitions]] target
    * selector — `CALL graft.optimize` unions both. */
  def readAmplifiedPartitions(spark: SparkSession, path: String,
      maxDeadRatio: Double = 0.5): Seq[String] = {
    require(maxDeadRatio > 0.0,
      s"maxDeadRatio must be positive, got $maxDeadRatio")
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readManifest(fs, table).getOrElse(
      throw new java.io.IOException(s"no committed table at $path"))
    m.segments.keys.filter { p =>
      liveDv(m, p).exists(d => m.rowCounts.get(p).exists { n =>
        val physical = n + liveDeltas(m, p).map(_.rows).sum
        physical > 0 && d.rows.toDouble / physical > maxDeadRatio
      })
    }.toSeq.sorted
  }
}
