package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.acl.PartitionAcl
import graft.util.{DriverRows, TtlCache}

/** A minimal Delta-style transaction log: versioned JSON commits of
  * add-file actions over a Hive-partitioned parquet layout, plus a
  * log-driven snapshot/pruning reader.
  *
  * This reproduces the part of the Delta protocol the reference engine
  * actually exercises (no Delta jars ship in this environment):
  *   - S4 snapshot load: replay the `_delta_log` JSON adds/removes
  *     (/root/reference/src/main.rs:344-367)
  *   - S5 log-as-data: the log itself is readable as a DataFrame
  *     (/root/reference/src/main.rs:532-538 proxies it verbatim)
  *   - P5 partition pruning: resolve union-of-conjunctive equality
  *     predicates to the exact file set from log METADATA only — no
  *     data IO (/root/reference/src/main.rs:388-415)
  *   - S9/P9 write path: append-only commits behind a read-only gate
  *     (/root/reference/src/main.rs:941-948, 1048-1110)
  *
  * Scale: the log is metadata (KBs per commit); snapshot replay is a
  * groupBy(path) over log entries — at 100 TB the data never moves, which
  * is the whole point of log-driven pruning. Snapshot cost is bounded by
  * parquet checkpoints (every [[checkpointInterval]] commits): replay =
  * latest checkpoint + tail JSON, O(since-last-checkpoint) not O(history),
  * mirroring the reference's "log JSON/checkpoint" passthrough
  * (/root/reference/src/main.rs:532-538) and delta-rs's open_table replay.
  *
  * Concurrency: commits use optimistic create-if-absent on the version
  * file. Blind appends commute, so a losing appender rebases onto the next
  * version and retries ([[writeCommit]]); OPTIMIZE/VACUUM read the snapshot
  * first, so their commits do NOT retry — a conflict throws, the caller
  * re-runs against the fresh snapshot (the Delta protocol's conflict rule).
  */
object MiniDelta {

  final class ReadOnlyTableException(path: String)
    extends RuntimeException(s"405: table at $path is read-only")

  final class ConcurrentCommitException(path: String, version: Long)
    extends RuntimeException(
      s"409: commit $version at $path lost a concurrent-writer race")

  /** A real-Delta table demands a capability this engine lacks (reader
    * version, table feature, an unknown
    * deletion-vector storage form). Failing loudly here is the
    * protocol's own rule — a reader that ignores the gate returns
    * silently wrong rows. */
  final class UnsupportedTableFeatureException(msg: String)
    extends RuntimeException(msg)

  /** `delta.columnMapping.mode` renames columns through metadata —
    * the exact client hazard the reference documents
    * (/root/reference/README.md:249-270). `name` mode is READ by
    * relabeling physical parquet columns to the schema's logical names
    * ([[readFilesAs]]) and WRITTEN by the inverse rename
    * ([[toPhysical]] inside [[writeAndCapture]]); `id` mode is READ via
    * Spark's parquet field-id resolution and WRITTEN by the same
    * relabeling projection plus `parquet.field.id` footer metadata on
    * every written column (Spark's native field-id write support); a
    * malformed mapping (mode without ids, an unknown mode, mapping
    * metadata without a mode) refuses both directions. */
  final class ColumnMappingUnsupportedException(table: String, mode: String,
                                                op: String = "read")
    extends RuntimeException(
      s"$table sets delta.columnMapping.mode=$mode; this engine cannot " +
        s"$op it — name and id modes are fully supported; other modes " +
        "(or mapping metadata without a resolvable mode) refuse")

  /** `delta.appendOnly=true` forbids any commit that removes data
    * (DELETE/UPDATE/MERGE/OVERWRITE/RESTORE) — the Delta appendOnly
    * writer feature. OPTIMIZE survives: its removes carry
    * dataChange=false (a rewrite, not a change). */
  final class AppendOnlyTableException(table: String)
    extends RuntimeException(
      s"$table sets delta.appendOnly=true; commits that remove data are " +
        "forbidden on append-only tables")

  /** Time travel (or a plain read) asked for history that log-retention
    * cleanup ([[cleanupLogs]]) has already deleted. Replaying a partial
    * tail would silently return a WRONG (incomplete) snapshot — the
    * same reason delta-rs raises VersionNotFound past the horizon. */
  final class HistoryCleanedException(table: String, version: Long)
    extends RuntimeException(
      s"$table: cannot reconstruct version $version — the pre-checkpoint " +
        "JSON history was removed by log retention cleanup")

  /** A commit file holds a line that does not parse as a JSON action —
    * a torn or truncated write. Skipping the line would drop its action
    * (a torn `remove` brings deleted rows back), so both replay arms
    * refuse by name: corrupt log state fails loudly, the Delta
    * protocol's rule. */
  final class MalformedCommitException(table: String, version: Long,
                                       line: String)
    extends RuntimeException(
      s"$table: commit $version holds a malformed action line: " +
        line.take(200))

  /** A selected checkpoint carries no `protocol` row. The Delta
    * protocol requires one (and a `metaData` row) in every checkpoint;
    * guessing the contract could skip a feature gate, so the table
    * refuses by name. */
  final class MalformedCheckpointException(table: String, version: Long)
    extends RuntimeException(
      s"$table: checkpoint $version carries no protocol action; the " +
        "Delta protocol requires one in every checkpoint")

  /** Reader features (protocol minReaderVersion 3) this engine honors.
    * deletionVectors masks are READ (u/i/p roaring forms decoded by
    * [[RoaringDv]]; only unknown storage forms are refused).
    * timestampNtz reads natively on Spark 4. vacuumProtocolCheck
    * constrains vacuum, not reads. v2Checkpoint manifests (UUID-named,
    * sidecar action files) are assembled by [[checkpointActionDF]]. */
  private val supportedReaderFeatures =
    Set("deletionVectors", "timestampNtz", "vacuumProtocolCheck",
      "v2Checkpoint", "columnMapping",
      // widened declared types read narrower files through Spark's
      // parquet upcast (int→long, float→double, date→timestamp_ntz,
      // int→decimal all verified on this Spark)
      "typeWidening",
      // Spark 4 reads the variant parquet shape natively
      "variantType")

  /** The table's auto-checkpoint cadence: `delta.checkpointInterval`
    * when set (Delta's property), else [[checkpointInterval]]. Resolved
    * through tableConfig's memo, so the commit funnel pays
    * nothing. The pointer-gallop in [[latestCheckpoint]] keeps probing
    * at the DEFAULT stride — reading the config there would recurse
    * into checkpoint resolution, and a missed foreign checkpoint ahead
    * of the pointer only lengthens the JSON tail, never wrongs it. */
  private def checkpointEvery(spark: SparkSession, table: String): Int =
    tableConfig(spark, table).get("delta.checkpointInterval")
      .flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(checkpointInterval)

  /** DV storage forms this engine decodes ([[RoaringDv]]): `u` (file
    * under the table root, Z85 UUID name), `i` (inline Z85 payload),
    * `p` (absolute file path). */
  private val supportedDvStorage = Set("u", "i", "p")

  /** Write a parquet checkpoint automatically after every N commits —
    * the default when the table does not set `delta.checkpointInterval`
    * (Delta's property, honored per-table at the commit funnel via
    * [[checkpointEvery]]). */
  val checkpointInterval = 10

  private def logDir(table: String) = s"$table/_delta_log"

  /** JSON string-body escaping (RFC 8259): backslash, quote, and ALL
    * control characters. A raw newline inside a min/max stat or
    * partition value would split one action across two log lines,
    * corrupting the one-action-per-line commit for every later reader. */
  private[graft] def jsonEscape(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => b.append("\\\\")
        case '"' => b.append("\\\"")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      i += 1
    }
    b.toString
  }

  private def jstr(s: String): String = "\"" + jsonEscape(s) + "\""

  /** `input_file_name()` yields the URL-ENCODED file URI while
    * [[listDataFiles]] yields decoded filesystem paths — decode before
    * any endsWith match or partition values containing spaces/%/
    * non-ASCII never resolve. Falls back to the raw string for inputs
    * that are not valid URIs. */
  private def decodeFileUri(abs: String): String =
    try new java.net.URI(abs).getPath
    catch { case _: java.net.URISyntaxException => abs }

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The one key every memo files `table` under: its Hadoop-qualified
    * root, so each spelling of a table (`/t`, `file:/t`, `file:///t/`)
    * reads and clears the same entries. */
  private def rootOf(spark: SparkSession, table: String): String =
    fs(spark, table).makeQualified(new Path(table)).toString

  /** Resolve an add/remove action's path against the table root. The
    * Delta protocol allows ABSOLUTE paths in add actions (how shallow
    * clones reference the source table's files without copying them,
    * delta-rs `add.path` semantics); relative paths resolve under the
    * table directory as usual. */
  private def resolvePath(table: String, rel: String): String =
    LogFileIndex.resolve(table, rel)

  /** True once the table has a `_delta_log` directory (first commit). */
  def tableExists(spark: SparkSession, table: String): Boolean =
    fs(spark, table).exists(new Path(logDir(table)))

  private def commitPath(table: String, v: Long): String =
    f"${logDir(table)}%s/$v%020d.json"

  /** `_delta_log/_last_checkpoint` pointer (Delta protocol): names the
    * newest checkpoint so log discovery starts from it instead of
    * listing the whole history. */
  private def lastCheckpointPath(table: String): String =
    s"${logDir(table)}/_last_checkpoint"

  private val lastCheckpointVersion = "\"version\"\\s*:\\s*([0-9]+)".r

  private def readLastCheckpoint(spark: SparkSession,
                                 table: String): Option[Long] = {
    val p = new Path(lastCheckpointPath(table))
    val f = fs(spark, table)
    if (!f.exists(p)) return None
    val txt =
      try {
        val in = f.open(p)
        try {
          val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
          in.readFully(bytes)
          Some(new String(bytes, "UTF-8"))
        } finally in.close()
      } catch { case _: Exception => None } // corrupt pointer: fall back
    // a "parts" field means the multi-part NAMING scheme
    // (<v>.checkpoint.<i>.<n>.parquet) — discovery resolves both shapes
    // through [[checkpointActionDF]], so the pointer only yields the
    // version either way
    txt.flatMap(t =>
      lastCheckpointVersion.findFirstMatchIn(t).map(_.group(1).toLong))
  }

  /** Diagnostic: number of full `_delta_log` directory listings taken
    * (the O(history) fallback). The steady-state paths below never list
    * — specs assert this stays flat on pointer-bearing tables. */
  private[graft] val logListings = new java.util.concurrent.atomic.AtomicLong

  /** Latest committed version, WITHOUT listing `_delta_log`. Commit
    * versions are contiguous, so "does version v exist" is monotone:
    * gallop forward from the `_last_checkpoint` hint, then binary-search
    * the first gap — O(log tail-since-checkpoint) existence probes
    * instead of an O(history) directory listing (the fix for 10⁶-commit
    * tables, where per-commit listings dominate). Returns -1 before the
    * first commit. */
  private[graft] def latestVersion(spark: SparkSession, table: String): Long = {
    val f = fs(spark, table)
    if (!f.exists(new Path(logDir(table)))) return -1L
    def exists(v: Long) = f.exists(new Path(commitPath(table, v)))
    val hint = readLastCheckpoint(spark, table)
    // anchor on the pointer's commit; a real cleaner may delete the
    // JSON AT the checkpoint version too (the checkpoint supersedes
    // it), so fall to the next commit — or, with no tail at all, to
    // the checkpoint itself attesting its version (a pointer that
    // outlives a fully hand-deleted log attests nothing)
    var known = hint.filter(exists).getOrElse(-1L)
    if (known < 0) hint match {
      case Some(p) if exists(p + 1) => known = p + 1
      case Some(p) if checkpointComplete(spark, table, p) => return p
      case _ => ()
    }
    if (known < 0 && !exists(0L)) return -1L
    if (known < 0) known = 0L
    var step = 1L
    while (exists(known + step)) { known += step; step *= 2 }
    // first missing version lies in (known, known + step]
    var missing = known + step
    while (missing - known > 1) {
      val mid = known + (missing - known) / 2
      if (exists(mid)) known = mid else missing = mid
    }
    known
  }

  private def nextVersion(spark: SparkSession, table: String): Long =
    latestVersion(spark, table) + 1

  /** S9 + P9: append `df` as a new commit. Writes Hive-partitioned
    * parquet, then logs the newly created files as add actions.
    * `statsCols` opts into Delta-protocol per-file `stats` JSON
    * (numRecords + minValues/maxValues for those columns), collected in
    * one aggregate pass over ONLY the just-written files — the
    * data-skipping index for [[filesForRange]]. */
  def append(spark: SparkSession, df: DataFrame, table: String,
             partitionBy: Seq[String], readOnly: Boolean = false,
             statsCols: Seq[String] = Nil,
             txn: Option[(String, Long)] = None): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    // validate schema compatibility AND check constraints BEFORE any
    // data lands on disk (Delta invariant enforcement on write). A
    // constraint may reference a declared column the incoming frame
    // omits (legal subset append, reads null-fill it) — enforce on the
    // null-aligned view, matching what a reader will see.
    val declared0 = latestSchema(spark, table)
    requireMappingWritable(declared0, table, spark)
    val mergedProbe = mergedSchema(declared0, df.schema)
    val cfg0 = tableConfig(spark, table)
    // enforcement/validation + write = multiple evaluations of df;
    // cache across them (only when an extra pass actually exists, and
    // without disturbing a caller's own persist)
    val hasProvidedGen = declared0.exists(_.fields.exists(f =>
      f.metadata.contains(GenExprKey) &&
        df.columns.exists(_.equalsIgnoreCase(f.name))))
    val mustCache = (constraintsOf(cfg0).nonEmpty || hasProvidedGen) &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (mustCache) df.persist()
    try {
      val df1 = applyGenerated(applyDefaults(df, declared0), declared0,
        table)
      val idFields = declared0.map(_.fields.filter(
        _.metadata.contains(IdentityStartKey))).getOrElse(Array.empty)
      // identity branch BEFORE the constraint pass: a CHECK constraint
      // referencing the identity column must validate the ASSIGNED
      // values, not the null-fill (appendWithIdentity enforces on the
      // assigned frame)
      val v =
        if (idFields.nonEmpty)
          appendWithIdentity(spark, df1, table, partitionBy,
            statsCols, cfg0, txn, declared0.get, idFields)
        // mapped evolution (late r13, closing the blind-append
        // refusal; deep since r17): new columns — top-level OR nested
        // struct growth — joining a column-mapped schema get their
        // mapping metadata assigned HERE, under a PINNED commit — see
        // [[appendWithMappedEvolution]]. json-diff, not column-count:
        // nested growth keeps the column count.
        else if (declared0.exists(isColumnMapped) &&
            mergedProbe.json != declared0.get.json)
          appendWithMappedEvolution(spark, df1, table, partitionBy,
            statsCols, txn)
        else {
          enforceConstraints(alignForCheck(df1, declared0), cfg0,
            declared0)
          val added = writeAndCapture(spark,
            optimizeWriteFrame(df1, partitionBy, cfg0), table,
            partitionBy)
          appendCommit(spark, df1, table, partitionBy, statsCols, added,
            cfg0, txn)
        }
      maybeAutoCompact(spark, table, partitionBy)
      v
    } finally if (mustCache) { df.unpersist(); () }
  }

  /** Delta's optimized writes (`delta.autoOptimize.optimizeWrite`):
    * shuffle the incoming frame by the table's Hive partition columns
    * before the write, so each partition value's rows co-locate into
    * few tasks. Without it, T input tasks touching P partitions write
    * T×P files — the small-file explosion that makes streaming ingest
    * unreadable at scale; with it a partition lands in (typically) one
    * file per batch, and AQE's partition coalescing keeps low-volume
    * batches from fanning out to empty shuffle tasks. Unpartitioned
    * tables pass through: bin-packing them pre-write needs a size
    * model; [[maybeAutoCompact]] and OPTIMIZE are the recovery paths
    * Delta itself uses. */
  private def optimizeWriteFrame(df: DataFrame, partitionBy: Seq[String],
      cfg: Map[String, String]): DataFrame =
    if (partitionBy.nonEmpty && cfg.get("delta.autoOptimize.optimizeWrite")
        .exists(_.equalsIgnoreCase("true")))
      df.repartition(partitionBy.map(c => col(s"`$c`")): _*)
    else df

  /** Post-commit auto compaction (`delta.autoOptimize.autoCompact`):
    * after a data-adding commit, any partition holding at least
    * `spark.graft.autoCompact.minNumFiles` (default 50) files smaller
    * than `spark.graft.autoCompact.maxFileSize` (default 128 MiB) is
    * bin-packed through the existing OPTIMIZE machinery — scoped to
    * exactly those partitions AND to the small files (large files are
    * neither read nor rewritten), committing `dataChange = false` with
    * the compaction conflict rule, so it lands under concurrent ingest
    * without losing races. Discovery is one aggregation over the
    * snapshot manifest (metadata-scale); a no-trigger append pays one
    * config lookup (a memo hit) and nothing else. */
  private def maybeAutoCompact(spark: SparkSession, table: String,
      partitionBy: Seq[String]): Unit = {
    val cfg = tableConfig(spark, table)
    if (!cfg.get("delta.autoOptimize.autoCompact")
        .exists(_.equalsIgnoreCase("true"))) return
    // the TTL-cached snapshot may predate the commit that just landed —
    // discovery must see the files this very append wrote
    invalidateSnapshot(table)
    val minN = spark.conf.getOption("spark.graft.autoCompact.minNumFiles")
      .map(_.toInt).getOrElse(50)
    val maxSz = spark.conf.getOption("spark.graft.autoCompact.maxFileSize")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val small = snapshotFiles(spark, table).where(col("size") < maxSz)
    val scopes: Seq[Map[String, String]] =
      if (partitionBy.isEmpty) {
        if (small.limit(minN).count() >= minN) Seq(Map.empty)
        else Seq.empty
      } else small.groupBy(col("partitionValues")).count()
        .where(col("count") >= minN)
        .collect().map(_.getAs[scala.collection.Map[String, String]](0)
          .toMap).toSeq
    if (scopes.isEmpty) return
    // best-effort, like Delta's: the APPEND already committed, so a
    // compaction that loses its race past the rebase budget must not
    // surface as a failed write — the small files stay until the next
    // trigger (or an explicit OPTIMIZE)
    try {
      compact(spark, table, partitionBy,
        where = if (partitionBy.isEmpty) Seq.empty else scopes,
        maxInputFileSize = maxSz)
      ()
    } catch {
      case _: ConcurrentCommitException => ()
    } finally invalidateSnapshot(table)
  }

  /** Identity-column append (Delta writer v6 / `identityColumns`): an
    * omitted GENERATED ALWAYS AS IDENTITY column is ASSIGNED values on
    * the chain `start + k*step` strictly past the recorded high-water
    * mark (uniqueness and chain membership are the contract; gaps are
    * legal, exactly as Delta documents), and the same commit's metaData
    * advances `delta.identity.highWaterMark`. A provided column refuses
    * unless `delta.identity.allowExplicitInsert` (GENERATED BY
    * DEFAULT), in which case the mark syncs over the provided values.
    *
    * The commit is PINNED at readVersion + 1 (the DML rule, not the
    * blind-append rebase): two concurrent identity appends would read
    * the same mark and assign OVERLAPPING values — any intervening
    * commit throws [[ConcurrentCommitException]] for the caller to
    * re-run. Assignment is one count pass + one narrow numbering pass
    * (partition-offset arithmetic, no sort, no single-partition
    * window). */
  private def appendWithIdentity(spark: SparkSession, df: DataFrame,
      table: String, partitionBy: Seq[String], statsCols: Seq[String],
      cfg0: Map[String, String], txn: Option[(String, Long)],
      declared0: org.apache.spark.sql.types.StructType,
      idFields0: Array[org.apache.spark.sql.types.StructField]): Long = {
    // capture the read version FIRST and resolve the schema (and so
    // the high-water mark) AT that version: resolving the mark before
    // pinning would let a commit land in between, making the pinned
    // write at readVersion+1 succeed against a STALE mark and assign
    // duplicate identity values — the exact overlap the pin prevents
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion)
      .getOrElse(declared0)
    // config resolves at the SAME pinned version as the schema: the
    // high-water-mark metaData re-states the table configuration, so a
    // SET TBLPROPERTIES landing between the caller's cfg0 resolution
    // and this pin would be silently reverted by a stale cfg0 — the
    // same race class the schema pin closes
    val cfgPinned = tableConfig(spark, table, readVersion)
    val idFields = declared.fields.filter(
      _.metadata.contains(IdentityStartKey))
    require(idFields.length == 1,
      s"$table declares ${idFields.length} identity columns; at most " +
        "one is supported")
    // schema evolution COMPOSES with identity (the pre-r16 refusal is
    // gone, matching delta-spark's inline evolution): source-only
    // columns are APPENDED to the declared schema, and the SAME
    // metaData line that advances the high-water mark declares them —
    // one metaData action per commit, the identity field's own
    // metadata carried verbatim. On a column-mapped table the new
    // fields get fresh physicalName/ids ratcheted past the PINNED
    // maxColumnId (the [[appendWithMappedEvolution]] rule); the
    // readVersion+1 pin already serializes the mark AND the id
    // ratchet against concurrent writers in one throw.
    val evolved0 = mergedSchema(Some(declared), df.schema)
    val (evolvedSchema, evolvedCfg) =
      if (isColumnMapped(declared) && evolved0.json != declared.json)
        assignMappingMetaDeep(evolved0, cfgPinned)
      else (evolved0, cfgPinned)
    val schemaChanged = evolvedSchema.json != declared.json
    val evolveOverride =
      if (schemaChanged) Some(evolvedSchema) else None
    val f = idFields.head
    val start = f.metadata.getLong(IdentityStartKey)
    val step =
      if (f.metadata.contains(IdentityStepKey))
        f.metadata.getLong(IdentityStepKey)
      else 1L
    require(step != 0L, s"identity step of ${f.name} must be non-zero")
    val hwm: Option[Long] =
      if (f.metadata.contains(IdentityHwmKey))
        Some(f.metadata.getLong(IdentityHwmKey))
      else None
    // with no constraints/invariants to validate, the data write is
    // the ONLY traversal of the assigned frame — skip the numbering
    // pass's localCheckpoint (one job per identity append, r20) and
    // release the count pass's cache after the write instead
    val hasChecks = constraintsOf(cfgPinned).nonEmpty ||
      invariantEntries(Some(evolvedSchema)).nonEmpty
    val preCached =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val (outDf, newHwm) = resolveIdentityFrame(df, f, start, step, hwm,
      materialize = hasChecks)
    // constraints validate the ASSIGNED frame (a predicate referencing
    // the identity column sees real values), against the PINNED config
    // — the commit lands at readVersion + 1, so readVersion's
    // constraints are the authoritative set
    enforceConstraints(alignForCheck(outDf, Some(evolvedSchema)),
      cfgPinned, Some(evolvedSchema))
    val added = writeAndCapture(spark,
      optimizeWriteFrame(outDf, partitionBy, cfgPinned), table,
      partitionBy, schemaOverride = evolveOverride)
    if (!hasChecks && !preCached) df.unpersist()
    val stats = fileStats(spark, table, added.map(_._1), statsCols,
      schemaOverride = evolveOverride)
    val txnLines = txn.toSeq.map { case (appId, v) =>
      s"""{"txn":{"appId":${jstr(appId)},"version":$v,""" +
        s""""lastUpdated":${System.currentTimeMillis()}}}""" }
    val metaLines =
      if (newHwm == hwm && !schemaChanged) Nil
      else {
        val f2 =
          if (newHwm == hwm) f
          else f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong(IdentityHwmKey, newHwm.get).build())
        val schema2 = org.apache.spark.sql.types.StructType(
          evolvedSchema.fields.map(fd => if (fd.name == f.name) f2 else fd))
        Seq(metaDataLine(table, schema2, partitionBy, evolvedCfg))
      }
    beforeDmlCommitHook()
    writeCommit(spark, table, readVersion + 1,
      metaLines ++ txnLines ++ added.map { case (p, s2, m) =>
        addLine(p, s2, stats.get(p), modTime = Some(m)) },
      "WRITE")
  }

  /** Distributed identity assignment: per-partition counts → driver
    * offsets → one narrow numbering pass (the GlobalRowNumber shape
    * without the sort — identity values need uniqueness + chain
    * membership, not any row order). */
  private def assignIdentity(df: DataFrame, name: String, start: Long,
      step: Long, hwm: Option[Long],
      // materialize=false skips the numbering pass's localCheckpoint
      // for SINGLE-TRAVERSAL callers (the plain identity append, no
      // constraints): the one write reads the numbering lazily off the
      // persisted input, saving a whole materialization job per
      // append. Contract: the caller traverses the result EXACTLY
      // once and only then releases the input's cache — the
      // partition->offset map is aligned with the persisted blocks,
      // exactly the window the checkpointed shape also lives in
      // between its count and checkpoint passes.
      materialize: Boolean = true): (DataFrame, Option[Long]) = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val mustCache =
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (mustCache) df.persist()
    // single-stage per-partition count (r19 opt): the former
    // groupBy(spark_partition_id).count() paid a shuffle + 3-4 AQE
    // stage jobs per identity write for what is one narrow pass; this
    // emits one (pid, n) row per partition with no exchange. Also the
    // cache-populating pass, like before. Empty partitions now yield
    // n=0 rows — the offsets fold treats missing and zero alike.
    val counts = df.toDF().mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(Row(
        Integer.valueOf(org.apache.spark.TaskContext.getPartitionId()),
        java.lang.Long.valueOf(n)))
    }(Encoders.row(StructType(Seq(
      StructField("pid", org.apache.spark.sql.types.IntegerType),
      StructField("n", LongType)))))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    if (total == 0L) {
      if (mustCache) df.unpersist()
      return (df.withColumn(name, lit(null).cast(LongType)), hwm)
    }
    val maxPid = counts.keys.max
    val offsets = new Array[Long](maxPid + 2)
    var acc = 0L
    for (p <- 0 to maxPid) { offsets(p) = acc; acc += counts.getOrElse(p, 0L) }
    val first = hwm.fold(start)(_ + step)
    val bc = df.sparkSession.sparkContext.broadcast(offsets)
    val outSchema = StructType(df.schema.fields :+
      StructField(name, LongType, nullable = true))
    // guard BEFORE indexing the offsets: the counts groupBy yields no
    // row for empty partitions, so a frame with empty partitions past
    // the last populated pid (a filtered/repartitioned input) would
    // index out of bounds — an empty iterator needs no offset at all
    val out0 = df.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var i = bc.value(pid) - 1
        it.map { r => i += 1; Row.fromSeq(r.toSeq :+ (first + i * step)) }
      }
    }(Encoders.row(outSchema))
    val out = if (materialize) out0.localCheckpoint() else out0
    if (materialize && mustCache) df.unpersist()
    (out, Some(first + (total - 1) * step))
  }

  /** Shared identity resolution for row-producing writes (append and
    * OVERWRITE): a provided column requires GENERATED BY DEFAULT
    * (`allowExplicitInsert`) and syncs the mark past its extremum; an
    * omitted one is ASSIGNED fresh chain values via [[assignIdentity]].
    * Returns the resolved frame + the new mark (== `hwm` when
    * unchanged). */
  private def resolveIdentityFrame(df: DataFrame,
      f: org.apache.spark.sql.types.StructField,
      start: Long, step: Long, hwm: Option[Long],
      materialize: Boolean = true)
      : (DataFrame, Option[Long]) = {
    val allowExplicit = f.metadata.contains(IdentityAllowExplicitKey) &&
      f.metadata.getBoolean(IdentityAllowExplicitKey)
    val provided = df.columns.exists(_.equalsIgnoreCase(f.name))
    def further(a: Long, b: Long): Long =
      if (step > 0) math.max(a, b) else math.min(a, b)
    if (provided) {
      require(allowExplicit,
        s"${f.name} is GENERATED ALWAYS AS IDENTITY — explicit values " +
          "refuse (declare it GENERATED BY DEFAULT to allow them)")
      val mx = df.agg(
        (if (step > 0) max(col(s"`${f.name}`"))
        else min(col(s"`${f.name}`"))).cast("long")).collect().head
      val sync =
        if (mx.isNullAt(0)) hwm
        else Some(hwm.fold(mx.getLong(0))(further(_, mx.getLong(0))))
      (df, sync)
    } else assignIdentity(df, f.name, start, step, hwm, materialize)
  }

  /** Mapped-evolution append: an append whose frame carries columns a
    * COLUMN-MAPPED table has not declared yet. The blind-append path
    * refuses this (the new fields would land in files without
    * physicalName/id, poisoning the mapping); here they are assigned
    * fresh mapping metadata ([[assignMappingMeta]] — new physical
    * names, ids ratcheted past `maxColumnId`) and the files are written
    * under the EXTENDED physical schema (footer field_ids included),
    * with the same commit's metaData declaring the evolved schema and
    * ratcheted config.
    *
    * The commit is PINNED at readVersion + 1, not rebased: two
    * concurrent evolving appends would ratchet the SAME ids for
    * different columns — any intervening commit throws
    * [[ConcurrentCommitException]] for the caller to re-run, the
    * identity-append rule for the identical overlap class. */
  private def appendWithMappedEvolution(spark: SparkSession,
      df: DataFrame, table: String, partitionBy: Seq[String],
      statsCols: Seq[String], txn: Option[(String, Long)]): Long = {
    // pin FIRST, then resolve schema/config AT the pin (the
    // appendWithIdentity discipline): ids must ratchet past the
    // maxColumnId the commit will actually land against
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table lost its schema between probe and pin"))
    val cfgPinned = tableConfig(spark, table, readVersion)
    require(isColumnMapped(declared),
      s"$table stopped being column-mapped between probe and pin")
    // full evolution rule, then deep mapping assignment: top-level
    // appended columns AND nested struct growth both get fresh
    // physicalName/ids at their own depth (r17 — delta-spark assigns
    // at every level); already-declared fields pass through verbatim
    val (merged, cfg2) = assignMappingMetaDeep(
      mergedSchema(Some(declared), df.schema), cfgPinned)
    enforceConstraints(alignForCheck(df, Some(merged)), cfgPinned,
      Some(merged))
    val added = writeAndCapture(spark,
      optimizeWriteFrame(df, partitionBy, cfgPinned), table, partitionBy,
      schemaOverride = Some(merged))
    val stats = fileStats(spark, table, added.map(_._1), statsCols,
      schemaOverride = Some(merged))
    val txnLines = txn.toSeq.map { case (appId, v) =>
      s"""{"txn":{"appId":${jstr(appId)},"version":$v,""" +
        s""""lastUpdated":${System.currentTimeMillis()}}}""" }
    beforeDmlCommitHook()
    writeCommit(spark, table, readVersion + 1,
      Seq(metaDataLine(table, merged, partitionBy, cfg2)) ++ txnLines ++
        added.map { case (p, s2, m) =>
          addLine(p, s2, stats.get(p), modTime = Some(m)) },
      "WRITE")
  }

  private def appendCommit(spark: SparkSession, df: DataFrame, table: String,
                           partitionBy: Seq[String], statsCols: Seq[String],
                           added: Seq[(String, Long, Long)],
                           cfg0: Map[String, String],
                           txn: Option[(String, Long)] = None): Long = {
    val stats = fileStats(spark, table, added.map(_._1), statsCols)
    val txnLines = txn.toSeq.map { case (appId, v) =>
      s"""{"txn":{"appId":${jstr(appId)},"version":$v,""" +
        s""""lastUpdated":${System.currentTimeMillis()}}}""" }
    val addLines = txnLines ++ added.map { case (p, s2, m) =>
      addLine(p, s2, stats.get(p), modTime = Some(m)) }
    // blind append: the add actions commute, so losing the version race
    // is harmless — but the metaData line does NOT commute (a stale one
    // would roll back a concurrent writer's schema evolution), so each
    // attempt re-merges against the CURRENT declared schema
    var attempt = 0
    while (true) {
      val prior = latestSchema(spark, table)
      val merged = mergedSchema(prior, df.schema)
      // the table BECAME column-mapped since [[append]]'s dispatch
      // probe (an upgrade raced in) and this frame grows its schema:
      // the files staged above carry no mapping metadata for the new
      // columns, so they cannot land — drop them (they are invisible
      // until an add action references them; this is the crashed-write
      // cleanup shape) and re-enter through the mapped-evolution path,
      // which re-pins and rewrites under the extended physical schema
      // with fresh physicalName/ids ratcheted past maxColumnId.
      if (prior.exists(isColumnMapped) &&
          merged.json != prior.get.json) {
        val fsys = fs(spark, table)
        added.foreach { case (rel, _, _) =>
          fsys.delete(new Path(s"$table/$rel"), false) }
        return appendWithMappedEvolution(spark, df, table, partitionBy,
          statsCols, txn)
      }
      val cfg = tableConfig(spark, table)
      // a commit race may mean a constraint was ADDED since the
      // pre-write enforcement (addConstraint validated only the rows it
      // could see) — re-validate under the fresh config before landing
      if (constraintsOf(cfg) != constraintsOf(cfg0))
        enforceConstraints(alignForCheck(df, prior), cfg, prior)
      val metaLines =
        if (prior.exists(_.json == merged.json)) Nil
        // schema evolution re-emits metaData: carry the CURRENT config
        // forward or the new action would silently drop constraints
        else Seq(metaDataLine(table, merged, partitionBy, cfg))
      try
        return writeCommit(spark, table, nextVersion(spark, table),
          metaLines ++ addLines, "WRITE")
      catch {
        case _: ConcurrentCommitException if attempt < 20 => attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Per-file stats JSON (Delta protocol shape: numRecords, minValues,
    * maxValues) for the given relative paths — one distributed aggregate
    * over just those files, one result row per file (metadata-scale
    * collect).
    *
    * Callers that pass explicit `statsCols` get exactly those; with an
    * EMPTY list the columns DEFAULT per Delta's contract — the first
    * `delta.dataSkippingNumIndexedCols` (32 unless the property says
    * otherwise; 0 disables) min/max-able data columns of the written
    * files, in schema order. Without the default, every write that
    * doesn't hand-pick columns (every SQL INSERT/DML) lands stat-less
    * adds and the table loses data skipping entirely — at 100 TB that
    * is the difference between pruning to the overlapping files and
    * scanning the table. Partition columns never appear (the Hive
    * layout strips them from the files; their exact values ride
    * partitionValues). */
  private def fileStats(spark: SparkSession, table: String,
                        rels: Seq[String],
                        statsCols0: Seq[String],
                        schemaOverride: Option[
                          org.apache.spark.sql.types.StructType] = None)
      : Map[String, String] = {
    if (rels.isEmpty) return Map.empty
    val indexedCols =
      if (statsCols0.nonEmpty) -1 // explicit list wins
      else tableConfig(spark, table)
        .get("delta.dataSkippingNumIndexedCols")
        .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
        .getOrElse(32)
    if (statsCols0.isEmpty && indexedCols <= 0) return Map.empty
    // column-mapped table: the files (and therefore the stats JSON
    // keys) use PHYSICAL names — Delta's contract, and what makes a
    // mapped reader's data skipping resolve. `schemaOverride` carries
    // the not-yet-committed schema of an evolving write (the probe
    // would miss the new columns' fresh mapping metadata).
    val mapped = schemaOverride.orElse(latestSchema(spark, table))
      .filter(isColumnMapped)
    val explicitCols = if (statsCols0.isEmpty) None
      else Some(mapped.fold(statsCols0)(st =>
        statsCols0.map(physicalColOf(Some(st), _))))
    // fast path: min/max straight from the parquet FOOTERS the write
    // just produced — no second job over the data (delta-rs reads
    // footers; delta-spark captures stats inside the write task).
    // Anything the footer cannot answer faithfully falls back to the
    // one-aggregate pass.
    footerFileStats(spark, table, rels, explicitCols, indexedCols)
      .getOrElse(aggregateFileStats(spark, table, rels, explicitCols,
        indexedCols))
  }

  /** Per-file stats from parquet footer metadata: numRecords = the
    * blocks' row counts, min/max merged across the row groups' column
    * statistics — O(files) footer reads (distributed past 128 files),
    * ZERO data IO. None (→ aggregate fallback) when any requested
    * column's physical type lies outside the footer-faithful set
    * (decimal, ntz, int96, non-string binary), a column is absent from
    * the file schema, or any footer read fails; a column whose chunks
    * lack usable statistics renders null (stat-less, conservatively
    * kept by every consumer). String merges compare UTF-8 bytes
    * UNSIGNED — parquet's own STRING sort order and Spark's binary
    * collation, where UTF-16 code-unit order would disagree above the
    * BMP. */
  private def footerFileStats(spark: SparkSession, table: String,
                              rels: Seq[String],
                              explicitCols: Option[Seq[String]],
                              indexedCols: Int)
      : Option[Map[String, String]] = scala.util.Try {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sparkContext.hadoopConfiguration
    val partCols = partitionColsOf(rels.take(1))
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    def footerOf(c: org.apache.hadoop.conf.Configuration, rel: String) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(s"$table/$rel"), c)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter finally r.close()
    }
    // footer-faithful kinds; anything else throws → fallback
    def kindOf(t: org.apache.parquet.schema.Type): Int = {
      if (!t.isPrimitive) sys.error("nested")
      val p = t.asPrimitiveType
      val anno = p.getLogicalTypeAnnotation
      p.getPrimitiveTypeName match {
        case INT64 => anno match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if ts.isAdjustedToUTC && ts.getUnit ==
                LogicalTypeAnnotation.TimeUnit.MICROS => 7 // timestamp
          case null => 1 // long
          case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => 1
          case _ => sys.error("int64 anno")
        }
        case INT32 => anno match {
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
            6 // date
          case null => 2 // int
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if i.isSigned => 2
          case _ => sys.error("int32 anno")
        }
        case DOUBLE => 3
        case FLOAT => 4
        case BOOLEAN => 5
        case BINARY => anno match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => 8
          case _ => sys.error("binary anno")
        }
        case _ => sys.error("primitive") // INT96, FIXED_LEN (decimal)
      }
    }
    val schema0 = footerOf(conf, rels.head).getFileMetaData.getSchema
    // the default selection must MIRROR the aggregate fallback's
    // eligibility (Spark-typed min/max-able): a column the aggregate
    // WOULD stat but the footer cannot answer faithfully — INT96
    // timestamps (Spark's legacy default output type), ntz, decimals —
    // fails the whole footer path rather than silently dropping the
    // column's stats. (The engine's own sessions write
    // TIMESTAMP_MICROS, so their footers answer everything.)
    def aggregateWouldStat(t: org.apache.parquet.schema.Type): Boolean =
      t.isPrimitive && {
        val p = t.asPrimitiveType
        scala.util.Try(kindOf(t)).isSuccess ||
          p.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.INT96 || // legacy timestamp
          (p.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              true
            case ts: LogicalTypeAnnotation
                .TimestampLogicalTypeAnnotation => true // ntz/millis
            case _ => false
          })
      }
    val statsCols: Seq[String] = explicitCols.getOrElse(
      schema0.getFields.asScala.toSeq.take(indexedCols)
        .filter(f => aggregateWouldStat(f) &&
          !partCols.contains(f.getName.toLowerCase(java.util.Locale.ROOT)))
        .map(_.getName))
    if (statsCols.isEmpty) return Some(Map.empty)
    // resolve every requested column's kind against the first footer —
    // an absent or unsupported column throws here (fallback), so the
    // render below never half-answers
    val kinds: Seq[(String, Int)] = statsCols.map(c =>
      c -> kindOf(schema0.getFields.get(schema0.getFieldIndex(c)))) // throws on absent
    def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i) & 0xff; val y = b(i) & 0xff
        if (x != y) return x < y
        i += 1
      }
      a.length < b.length
    }
    // capture the SESSION zone driver-side: jsonFor may run on
    // executors (wide commits), where SQLConf.get would not carry it
    val sessionZone =
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    def tsString(micros: Long): String =
      renderTimestampInZone(micros, sessionZone)
    def renderVal(kind: Int, v: Any): String = kind match {
      case 1 | 2 => v.toString
      case 3 =>
        val d = v.asInstanceOf[java.lang.Double]
        if (d.isNaN || d.isInfinite) "null" else d.toString
      case 4 =>
        val f = v.asInstanceOf[java.lang.Float]
        if (f.isNaN || f.isInfinite) "null" else f.toString
      case 5 => v.toString
      case 6 => jstr(java.time.LocalDate
        .ofEpochDay(v.asInstanceOf[java.lang.Integer].longValue).toString)
      case 7 => jstr(tsString(v.asInstanceOf[java.lang.Long].longValue))
      case 8 => jstr(v.asInstanceOf[org.apache.parquet.io.api.Binary]
        .toStringUsingUTF8)
    }
    def less(kind: Int, a: Any, b: Any): Boolean = kind match {
      case 1 | 7 => a.asInstanceOf[java.lang.Long] <
        b.asInstanceOf[java.lang.Long]
      case 2 | 6 => a.asInstanceOf[java.lang.Integer] <
        b.asInstanceOf[java.lang.Integer]
      case 3 => a.asInstanceOf[java.lang.Double] <
        b.asInstanceOf[java.lang.Double]
      case 4 => a.asInstanceOf[java.lang.Float] <
        b.asInstanceOf[java.lang.Float]
      case 5 => !a.asInstanceOf[java.lang.Boolean] &&
        b.asInstanceOf[java.lang.Boolean]
      case 8 => unsignedLess(
        a.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
        b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
    }
    val kindsArr = kinds.toArray
    def jsonFor(c: org.apache.hadoop.conf.Configuration,
                rel: String): String = {
      val md = footerOf(c, rel)
      val blocks = md.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      // merged (min, max) per column; None = no usable value anywhere
      val merged = kindsArr.map { case (name, kind) =>
        var mn: Any = null; var mx: Any = null; var usable = true
        blocks.foreach { b =>
          val chunk = b.getColumns.asScala
            .find(_.getPath.toDotString == name)
            .getOrElse(sys.error(s"column $name missing from a block"))
          val st = chunk.getStatistics
          if (st == null || st.isEmpty)
            usable = false // unknown values in this chunk: col → null
          else if (st.hasNonNullValue) {
            val lo = st.genericGetMin; val hi = st.genericGetMax
            if (mn == null || less(kind, lo, mn)) mn = lo
            if (mx == null || less(kind, mx, hi)) mx = hi
          } // all-null chunk: contributes nothing
        }
        if (!usable) (name, kind, null: Any, null: Any)
        else (name, kind, mn, mx)
      }
      def side(takeMin: Boolean) = merged.map { case (n2, k2, mn, mx) =>
        val v = if (takeMin) mn else mx
        s""""$n2":${if (v == null) "null" else renderVal(k2, v)}"""
      }.mkString("{", ",", "}")
      s"""{"numRecords":$numRecords,"minValues":${side(true)},""" +
        s""""maxValues":${side(false)}}"""
    }
    val pairs: Seq[(String, String)] =
      if (rels.size <= 4) rels.map(r => r -> jsonFor(conf, r))
      else if (rels.size <= 128) {
        // a commit routinely lands tens of files (one per write task);
        // the footer opens are independent driver-side I/O, so run them
        // on the common pool instead of sequentially — ~N x 2-5 ms off
        // every commit's critical path (no Spark job either way)
        import scala.jdk.CollectionConverters._
        rels.toVector.asJava.parallelStream()
          .map[(String, String)](r => r -> jsonFor(conf, r))
          .collect(java.util.stream.Collectors.toList[(String, String)])
          .asScala.toSeq
      } else {
        // wide commits (the initial build of a many-file table): one
        // footer read per task slice, the driver conf shipped like the
        // distributed vacuum's
        val h = org.apache.spark.sql.graft.HadoopConfBridge.handle(conf)
        val slices = math.max(1, math.min(
          spark.sparkContext.defaultParallelism * 4, rels.size / 64 + 1))
        spark.sparkContext.parallelize(rels, slices)
          .map(r => r -> jsonFor(h.conf, r)).collect().toSeq
      }
    pairs.toMap
  }.toOption

  /** The one-aggregate fallback for [[footerFileStats]]: one
    * distributed pass over just the written files, one result row per
    * file (metadata-scale collect). */
  private def aggregateFileStats(spark: SparkSession, table: String,
                                 rels: Seq[String],
                                 explicitCols: Option[Seq[String]],
                                 indexedCols: Int)
      : Map[String, String] = {
    val src = spark.read.option("basePath", table)
      .parquet(rels.map(r => s"$table/$r").toIndexedSeq: _*)
    def minMaxable(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case _: NumericType | StringType | DateType | TimestampType |
             TimestampNTZType | BooleanType => true
        case _ => false // nested/binary/variant: no min/max stats
      }
    }
    // defaulted columns EXCLUDE the partition layout: their exact
    // values ride partitionValues (Delta skips them too), and the
    // basePath-inferred frame would stat them under the path-inferred
    // type, not the declared one
    val partCols = partitionColsOf(rels.take(1))
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val statsCols = explicitCols.getOrElse(
      src.schema.fields.take(indexedCols)
        .filter(f => minMaxable(f.dataType) &&
          !partCols.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
        .map(_.name).toSeq)
    if (statsCols.isEmpty) return Map.empty
    val aggs = count(lit(1)).as("numRecords") +:
      statsCols.flatMap(c => Seq(min(col(s"`$c`")).as(s"min_$c"),
        max(col(s"`$c`")).as(s"max_$c")))
    val rows = src
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      val abs = decodeFileUri(r.getString(0))
      val rel = rels.find(abs.endsWith(_)).getOrElse(
        sys.error(s"stats file $abs matches no added path"))
      def jlit(v: Any): String = v match {
        case null => "null"
        case s: String => jstr(s)
        // NaN/Infinity are not JSON — a malformed stats string would
        // silently disable skipping for the whole file
        case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
        case f: java.lang.Float if f.isNaN || f.isInfinite => "null"
        case n: java.lang.Number => n.toString
        case b: java.lang.Boolean => b.toString
        // timestamps render in the SESSION zone (consumers cast the
        // string back under it), not Timestamp.toString's JVM default
        case t: java.sql.Timestamp =>
          jstr(renderTimestampInZone(
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L,
            org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
        // Date/etc. ride as quoted strings (Delta does the same)
        case x => jstr(x.toString)
      }
      def jsonOf(prefix: String) = statsCols.map { c =>
        s""""$c":${jlit(r.get(r.fieldIndex(s"${prefix}_$c")))}"""
      }.mkString("{", ",", "}")
      rel -> (s"""{"numRecords":${r.getLong(r.fieldIndex("numRecords"))},""" +
        s""""minValues":${jsonOf("min")},"maxValues":${jsonOf("max")}}""")
    }.toMap
  }

  /** Diagnostic: number of full recursive DATA-directory listings taken.
    * Only [[vacuum]] (dead-file discovery is inherently a listing) and
    * [[convertToDelta]] (promoting a raw directory IS a listing) may
    * bump this; every commit path captures its written files from a
    * per-commit staging directory instead ([[writeAndCapture]]) — specs
    * assert appends/DML keep this counter flat, the O(new files)
    * guarantee that matters at 10⁷-file tables. */
  private[graft] val dataListings = new java.util.concurrent.atomic.AtomicLong

  /** Tables whose first-level (partition) directory count exceeds this
    * fan the candidate listing out over the cluster instead of walking
    * the whole tree on one driver thread — at 10⁷ objects the LISTING,
    * not the deletes, is the vacuum wall-clock (Delta's vacuum
    * parallelizes the same step). Test seam. */
  private[graft] var vacuumListParallelThreshold = 64

  /** Distributed listing fan-outs taken — bumped on the DRIVER after
    * the job (the [[distributedDeletes]] rule). Specs assert
    * many-partition tables actually take the fan-out. */
  private[graft] val distributedListings =
    new java.util.concurrent.atomic.AtomicLong

  /** (relative path, size, modification time) of every data file on
    * disk. Listing the DATA directory is proportional to the table's
    * file count — used only by [[vacuum]] and [[convertToDelta]]; never
    * by commits (see [[writeAndCapture]]) or the per-query read path.
    * The driver lists only the FIRST level; past
    * [[vacuumListParallelThreshold]] partition directories the
    * per-directory recursive walks run as one cluster job (one
    * FileSystem per task, the [[deleteDataFiles]] discipline), so the
    * serial driver cost is O(partition dirs), never O(files). */
  private def listDataFiles(spark: SparkSession,
                            table: String): Seq[(String, Long, Long)] = {
    dataListings.incrementAndGet()
    val root = new Path(table)
    val f = fs(spark, table)
    if (!f.exists(root)) return Seq.empty
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def walk(fsys: org.apache.hadoop.fs.FileSystem,
             dir: Path): Seq[(String, Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long)]
      val it = fsys.listFiles(dir, true)
      while (it.hasNext) {
        val s = it.next()
        val p = s.getPath.toUri.getPath
        if (p.endsWith(".parquet") && !p.contains("_delta_log"))
          out += ((p, s.getLen, s.getModificationTime))
      }
      out.toSeq
    }
    def rel(t: (String, Long, Long)): (String, Long, Long) =
      (t._1.stripPrefix(rootUri).stripPrefix("/"), t._2, t._3)
    val top = f.listStatus(root)
      .filterNot(_.getPath.getName == "_delta_log")
    val (dirs, files) = top.partition(_.isDirectory)
    buf ++= files.filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => rel((s.getPath.toUri.getPath, s.getLen,
        s.getModificationTime)))
    if (dirs.length <= vacuumListParallelThreshold) {
      dirs.foreach(d => buf ++= walk(f, d.getPath).map(rel))
    } else {
      val h = org.apache.spark.sql.graft.HadoopConfBridge.handle(
        spark.sparkContext.hadoopConfiguration)
      val dirStrs = dirs.map(_.getPath.toString).toSeq
      val slices = math.max(1, math.min(
        spark.sparkContext.defaultParallelism * 2, dirStrs.size))
      buf ++= spark.sparkContext.parallelize(dirStrs, slices)
        .flatMap { ds =>
          val p = new Path(ds)
          walk(p.getFileSystem(h.conf), p)
        }.collect().map(rel)
      distributedListings.incrementAndGet()
      ()
    }
    buf.toSeq
  }

  /** Write `df` as Hive-partitioned parquet under `table` and return
    * (relative path, size, modification time) of EXACTLY the files this
    * write produced — without ever listing the table root. The write
    * lands in a per-commit staging directory (`_staging_<uuid>/`, the
    * task-commit pattern of FileCommitProtocol), only THAT directory is
    * listed (O(new files)), and each file renames into its final
    * partition location — a metadata move on every Hadoop FileSystem.
    * The previous design diffed two full recursive listings of the
    * table root per commit: free at sf0.1, two O(10⁷)-entry
    * object-store listings per append at scale — the exact cost the
    * Delta log exists to avoid. Part-file names carry the writer's
    * job UUID, so renames into a live table cannot collide; a crashed
    * commit leaves an orphaned staging dir that [[vacuum]] ages out
    * like any unreferenced debris. */
  private def writeAndCapture(spark: SparkSession, df: DataFrame,
                              table: String, partitionBy: Seq[String],
                              maxRecordsPerFile: Long = 0L,
                              schemaOverride: Option[
                                org.apache.spark.sql.types.StructType] = None)
      : Seq[(String, Long, Long)] = {
    // column-mapped table: the files store PHYSICAL names — rename the
    // logical frame through the declared mapping (and the partition
    // directories with it) so a compliant mapped reader of these files
    // resolves every column. When the mapping carries ids (it always
    // does for self-created mapped tables, both modes), the footer
    // field_ids land too — real mapped writers write both, and an
    // id-mode reader resolves EXCLUSIVELY by them. Unmapped tables pay
    // one metadata probe. `schemaOverride` carries the not-yet-committed
    // schema of an evolving write (the probe would miss the new
    // columns' fresh mapping metadata and silently DROP them).
    val mapped = schemaOverride.orElse(latestSchema(spark, table))
      .filter(isColumnMapped)
    val withIds =
      mapped.exists(_.fields.exists(_.metadata.contains(MapIdKey)))
    val physDf0 = mapped.fold(df)(toPhysical(df, _, withIds))
    val physDf =
      if (withIds) ensureFieldIdWriteSession(physDf0) else physDf0
    val physPartitionBy = mapped.fold(partitionBy)(st =>
      partitionBy.map(physicalColOf(Some(st), _)))
    val staging =
      s"$table/_staging_${java.util.UUID.randomUUID().toString.take(12)}"
    val f = fs(spark, table)
    // file:// staging capture rides java.nio (the claimVersionSlot
    // discipline): without the Hadoop native library every local
    // mkdirs/create/permission probe FORKS a chmod/ls process — at a
    // few ms per fork the per-commit capture was paying more in
    // processes than in metadata. Pure path work, byte-identical
    // results; non-local FileSystems (object stores at scale) keep the
    // Hadoop calls verbatim.
    val localFs = f.getUri == null || f.getUri.getScheme == null ||
      f.getUri.getScheme == "file"
    try {
      val writer = physDf.write.mode("append")
        .option("maxRecordsPerFile", maxRecordsPerFile)
      (if (physPartitionBy.nonEmpty)
        writer.partitionBy(physPartitionBy: _*)
       else writer).parquet(staging)
      val stRoot = new Path(staging).toUri.getPath.stripSuffix("/")
      val buf =
        scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      if (localFs) {
        import java.nio.file.{Files, Paths}
        val root = Paths.get(stRoot)
        val walk = Files.walk(root)
        try {
          val it = walk.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (p.toString.endsWith(".parquet") && Files.isRegularFile(p)) {
              val a = Files.readAttributes(p,
                classOf[java.nio.file.attribute.BasicFileAttributes])
              buf += ((root.relativize(p).toString.replace('\\', '/'),
                a.size(), a.lastModifiedTime().toMillis))
            }
          }
        } finally walk.close()
        def crcOf(p: java.nio.file.Path) =
          p.resolveSibling("." + p.getFileName.toString + ".crc")
        buf.toSeq.sortBy(_._1).map { case (rel, size, m) =>
          val dst = Paths.get(
            new Path(s"$table/$rel").toUri.getPath)
          val src = Paths.get(s"$stRoot/$rel")
          Files.createDirectories(dst.getParent)
          try Files.move(src, dst)
          catch {
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.io.IOException =>
              sys.error(s"commit staging: rename of $rel into $table " +
                "failed (destination exists or filesystem refused the " +
                "move)")
          }
          // carry the checksum sidecar the way the Hadoop rename would
          // (same bytes -> same checksum); best-effort, a missing crc
          // just skips read-time verification
          try {
            if (Files.exists(crcOf(src)))
              Files.move(crcOf(src), crcOf(dst))
          } catch { case _: java.io.IOException => () }
          (rel, size, m)
        }
      } else {
        val it = f.listFiles(new Path(staging), true)
        while (it.hasNext) {
          val s = it.next()
          val p = s.getPath.toUri.getPath
          if (p.endsWith(".parquet"))
            buf += ((p.stripPrefix(stRoot).stripPrefix("/"), s.getLen,
              s.getModificationTime))
        }
        buf.toSeq.sortBy(_._1).map { case (rel, size, m) =>
          val dst = new Path(s"$table/$rel")
          f.mkdirs(dst.getParent)
          if (!f.rename(new Path(s"$staging/$rel"), dst))
            sys.error(s"commit staging: rename of $rel into $table failed " +
              "(destination exists or filesystem refused the move)")
          (rel, size, m)
        }
      }
    } finally {
      if (localFs) {
        import java.nio.file.{Files, Paths}
        val root = Paths.get(new Path(staging).toUri.getPath)
        if (Files.exists(root)) {
          val walk = Files.walk(root)
          try
            walk.sorted(java.util.Comparator.reverseOrder[
                java.nio.file.Path]())
              .forEach(p => { Files.deleteIfExists(p); () })
          finally walk.close()
        }
      } else f.delete(new Path(staging), true)
      ()
    }
  }

  /** Write a commit's row-level change feed as REAL Delta cdc files
    * (`_change_data/…` parquet holding the data columns plus the
    * writer-computed `_change_type`) and return the commit's `cdc`
    * action lines. Same staging-capture discipline as
    * [[writeAndCapture]] — but the `_change_data` root has no log of
    * its own, so the mapping relabel writeAndCapture probes for never
    * fires there; the column-mapping contract is applied HERE instead:
    * on mapped tables the data columns land under their physical names
    * (+ footer field_ids whenever the mapping carries ids, exactly
    * like the data files), the partition directories use the physical
    * partition names, and `_change_type` — not a schema column — keeps
    * its literal name and carries no id. Hive-partitioned like the data
    * files; the action's partitionValues derive from the path exactly
    * as adds do, and `dataChange=false` keeps the files feed-only —
    * never part of any snapshot. Scale shape: cdc volume is the
    * commit's CHANGED rows, written once, distributed — the feed a
    * real CDF reader would otherwise have to reconstruct with a
    * per-commit diff of full file contents.
    *
    * Determinism assumption: the change frame re-evaluates the DML's
    * expressions (the data write is a separate pass), so
    * nondeterministic SET/source expressions could land different
    * values in the feed than in the table — the standard Delta DML
    * determinism expectation; deterministic expressions (the SQL
    * surface's case) are exact. */
  private def writeCdcFiles(spark: SparkSession, table: String,
                            changes: DataFrame,
                            partitionBy: Seq[String],
                            schemaOverride: Option[
                              org.apache.spark.sql.types.StructType] = None)
      : Seq[String] = {
    val mapped = schemaOverride.orElse(latestSchema(spark, table))
      .filter(isColumnMapped)
    val withIds =
      mapped.exists(_.fields.exists(_.metadata.contains(MapIdKey)))
    val phys0 = mapped.fold(changes)(
      toPhysical(changes, _, withIds, passthrough = Seq("_change_type")))
    val phys = if (withIds) ensureFieldIdWriteSession(phys0) else phys0
    val physPartitionBy = mapped.fold(partitionBy)(st =>
      partitionBy.map(physicalColOf(Some(st), _)))
    writeAndCapture(spark, phys, s"$table/_change_data", physPartitionBy)
      .map { case (rel, size, _) => cdcLine(s"_change_data/$rel", size) }
  }

  /** Delta protocol cdc action: names a change-data file. A commit
    * carrying ANY cdc action serves its change feed exclusively from
    * them (the spec's rule, and [[readCdf]]'s) — so the DML sites must
    * put the commit's COMPLETE change set into the cdc files. */
  private def cdcLine(rel: String, size: Long): String = {
    val parts = pathPartitionValues(rel)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")
    s"""{"cdc":{"path":${jstr(rel)},"partitionValues":{$parts},""" +
      s""""size":$size,"dataChange":false}}"""
  }

  /** Delta-log action schema (the subset this engine writes/reads).
    * Explicit — JSON inference would type partitionValues as a struct of
    * the keys it happens to see instead of map<string,string>. */
  val logSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("commitInfo", StructType(Seq(
        StructField("operation", StringType),
        StructField("version", LongType),
        // wall-clock commit time (Delta protocol timestamp) — the basis
        // for TIMESTAMP AS OF time travel; null on legacy commits
        StructField("timestamp", LongType),
        // Delta inCommitTimestamp feature: when a writer enables it,
        // THIS is the commit's authoritative clock (monotonic, stored
        // in the log, immune to file-mtime drift) and readers must
        // prefer it for time travel
        StructField("inCommitTimestamp", LongType),
        // Delta's per-operation metrics map (values rendered as
        // strings, the delta-spark convention) — numAddedFiles /
        // numRemovedFiles / numCdcFiles on every funnel commit
        StructField("operationMetrics",
          MapType(StringType, StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        // Delta protocol: file creation time (ms) — required on add
        // actions; legacy commits read null and checkpoints omit it
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        // Delta protocol: per-file stats ride as a JSON-escaped STRING
        StructField("stats", StringType),
        // the Delta protocol's DV descriptor (roaring bitmap, inline or
        // file storage); an unknown storage form is refused loudly
        // instead of silently resurrecting deleted rows (see
        // requireReadable)
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))),
        // Delta rowTracking writer feature: first row id of the file
        // (rows are implicitly numbered baseRowId..baseRowId+numRecords)
        // and the version whose commit first added the file — re-adds
        // of the same physical file must PRESERVE both
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      // Delta protocol txn action: per-application transaction
      // watermark — the streaming sink's exactly-once contract (a
      // retried micro-batch with version <= the recorded watermark is
      // a no-op)
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      // Delta protocol cdc action: change-data files a CDF writer
      // lands under _change_data/ — for commits that carry them, the
      // change feed is served FROM these (the add/remove
      // reconstruction is only the fallback; the spec's rule)
      StructField("cdc", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("dataChange", BooleanType)))),
      // Delta protocol action: reader/writer version gates + (v3) the
      // table-feature lists — the contract a client checks BEFORE
      // trusting its own replay of the log
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("dataChange", BooleanType),
        // Delta protocol: when the file was de-referenced (vacuum
        // retention is measured against this; null on legacy commits)
        StructField("deletionTimestamp", LongType)))),
      // Delta domainMetadata action (the domainMetadata writer
      // feature): per-domain configuration carried by the log; the
      // rowTracking feature keeps its row-id high-water mark in domain
      // delta.rowTracking. Latest action per domain wins on replay.
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType)))),
      // Delta protocol: table schema rides as a JSON-escaped STRING
      StructField("metaData", StructType(Seq(
        // stable table id + storage format — required by real readers
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        // Delta protocol: table properties; CHECK constraints live here
        // as delta.constraints.<name> -> <sql predicate>
        StructField("configuration", MapType(StringType, StringType)))))))
  }

  /** (version, path) of the JSON commits in [`fromInclusive`,
    * `toInclusive`] that exist. Commit file names are a pure function of
    * the version, so the index is COMPUTED from [[latestVersion]] — no
    * `_delta_log` listing, and each caller pays O(its own window), not
    * O(history) (replay tails and change-feed windows are a handful of
    * files; only the rare full-log read walks everything). The
    * existence filter lets hand-cleaned pre-checkpoint history (log
    * retention) degrade gracefully instead of crashing a full-log read
    * on a computed path that is gone. */
  private def logJsonVersions(spark: SparkSession, table: String,
                              fromInclusive: Long = 0L,
                              toInclusive: Long = Long.MaxValue)
      : Seq[(Long, String)] = {
    val lo = math.max(0L, fromInclusive)
    val hi = math.min(latestVersion(spark, table), toInclusive)
    if (hi < lo) return Seq.empty
    val f = fs(spark, table)
    (lo to hi).map(v => (v, commitPath(table, v)))
      .filter { case (_, p) => f.exists(new Path(p)) }
  }

  /** Change-feed windows must be CONTIGUOUS: a commit JSON missing
    * inside `(fromVersion, toVersion]` means log-retention cleanup
    * ([[cleanupLogs]]) removed history the feed needs — silently
    * skipping it would lose the consumer's data without a trace, the
    * exact failure replaySnapshot refuses by name. */
  private def requireFeedWindow(spark: SparkSession, table: String,
                                fromVersion: Long, toVersion: Long,
                                got: Seq[Long]): Unit = {
    val lo = math.max(0L, fromVersion + 1)
    // judge the returned window by ITS OWN shape — re-probing the
    // latest version here would race a concurrent committer (a commit
    // landing between the listing and this check is not a gap)
    if (got.isEmpty) return
    if (got.head != lo)
      throw new HistoryCleanedException(table, lo)
    if (got.last - got.head + 1 != got.size.toLong)
      throw new HistoryCleanedException(table,
        ((got.head to got.last).toSet -- got.toSet).min)
  }

  /** S5: the raw log as a DataFrame (one row per action). Reads the
    * commit files only, on the executor arm of the one log scan
    * ([[executorScan]]): every line goes through [[parseAction]], so a
    * torn line fails the read with [[MalformedCommitException]] and an
    * add carrying the legacy `dv` field with [[legacyDvRefusal]],
    * whatever columns or rows the caller selects. */
  def logDF(spark: SparkSession, table: String): DataFrame = {
    val lines = executorScan(spark, logJsonVersions(spark, table))(
      (_, nodes) => nodes.map(_.toString))
    spark.read.schema(logSchema).json(
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
  }

  /** An add action carrying `dv` (a parquet-sidecar deletion vector
    * under `_delta_log/_dv/`, the form early versions of this engine
    * wrote) or a checkpoint add row with a non-null `dv.path`. The form
    * is no longer read, and replaying the add without its mask would
    * bring the masked rows back, so every reader refuses it by name. */
  private def legacyDvRefusal(table: String) =
    new UnsupportedTableFeatureException(
      s"$table carries legacy parquet-sidecar deletion vectors (add.dv), " +
        "a form this engine no longer reads; reading past them would " +
        "resurrect deleted rows")

  /** The table's protocol, metaData and domain state at one version,
    * the metadata half of a snapshot (the file half is [[reconcile]]).
    * Every gate and metadata reader reads fields of it:
    *  - `protocol`: the newest protocol action, whole;
    *  - `schemaString`, `configuration`, `partitionColumns`: each from
    *    the newest metaData action where the field is non-null (a null
    *    configuration is "not stated", never "empty");
    *  - `domains`: the live domainMetadata, domain -> configuration; a
    *    `removed: true` action retires its domain;
    *  - `unreadableDv`: deletion-vector storage forms this engine cannot
    *    decode, seen in the checkpoint's add rows or the tail's adds. */
  private[graft] case class TableState(
      protocol: Option[ProtocolAction] = None,
      schemaString: Option[String] = None,
      configuration: Option[Map[String, String]] = None,
      partitionColumns: Option[Seq[String]] = None,
      domains: Map[String, String] = Map.empty,
      unreadableDv: Set[String] = Set.empty) {
    lazy val schema: Option[org.apache.spark.sql.types.StructType] =
      schemaString.map(parseSchema)
    def config: Map[String, String] = configuration.getOrElse(Map.empty)
    def proto: ProtocolAction = protocol.getOrElse(basicProtocol)

    /** This state with one more log action applied. `malformed` is the
      * error for a protocol action missing a version field. */
    def fold(node: com.fasterxml.jackson.databind.JsonNode,
             malformed: => Exception): TableState = {
      import scala.jdk.CollectionConverters._
      def strings(n: com.fasterxml.jackson.databind.JsonNode) =
        n.elements().asScala.map(_.asText()).toSeq
      var s = this
      jnode(node, "protocol").foreach { p =>
        def version(k: String) = jnode(p, k).filter(_.canConvertToInt)
          .map(_.asInt()).getOrElse(throw malformed)
        def feats(k: String) = jnode(p, k).fold(Seq.empty[String])(strings)
        s = s.copy(protocol = Some(ProtocolAction(version("minReaderVersion"),
          version("minWriterVersion"), feats("readerFeatures"),
          feats("writerFeatures"))))
      }
      jnode(node, "metaData").foreach { m =>
        s = s.copy(
          schemaString = jnode(m, "schemaString").map(_.asText())
            .orElse(s.schemaString),
          configuration = jnode(m, "configuration").map(_.properties()
              .asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
            .orElse(s.configuration),
          partitionColumns = jnode(m, "partitionColumns").map(strings)
            .orElse(s.partitionColumns))
      }
      for (d <- jnode(node, "domainMetadata");
           name <- jnode(d, "domain").map(_.asText()))
        s = s.copy(domains = jnode(d, "configuration")
          .filterNot(_ => jnode(d, "removed").exists(_.asBoolean()))
          .fold(s.domains - name)(c => s.domains + (name -> c.asText())))
      jnode(node, "add").flatMap(jnode(_, "deletionVector")).foreach { dv =>
        val st = jnode(dv, "storageType").map(_.asText()).getOrElse("<absent>")
        if (!supportedDvStorage(st))
          s = s.copy(unreadableDv = s.unreadableDv + st)
      }
      s
    }
  }

  // memo: (table root, committed version) -> its state; a miss is one
  // fold. The log below a committed version is immutable, so an entry
  // never goes stale for a live table; a table REPLACED at the same
  // path clears through [[invalidateSnapshot]].
  private[graft] val tableStates = new TtlCache[(String, Long), TableState](
    4096, 0L)

  /** The [[TableState]] at committed `version`: the newest complete
    * checkpoint at or below `cpAtMost` ([[checkpointState]]) with the
    * JSON tail after it folded forward through [[logActions]], one pass
    * on the driver. Kept per (table root, version) in [[tableStates]]:
    * the state is one fact whichever checkpoint it was folded from, so
    * `cpAtMost` only bounds what a miss may read ([[writeCheckpoint]]
    * reads below the checkpoint it is replacing; -1 folds from v0).
    * A checkpoint state is itself the memo entry at the checkpoint's
    * version, so a checkpoint is read once while its entry stays. Nothing
    * is kept when the fold throws. Empty before the first commit. */
  private[graft] def tableState(spark: SparkSession, table: String,
      version: Long, cpAtMost: Long = Long.MaxValue): TableState =
    if (version < 0) TableState()
    else tableStates.getOrElseUpdate((rootOf(spark, table), version)) {
      val cp = if (cpAtMost < 0) None
               else latestCheckpoint(spark, table, math.min(cpAtMost, version))
      val base = cp.fold(TableState()) { c =>
        if (c == version) checkpointState(spark, table, c)
        else tableState(spark, table, c)
      }
      logActions(spark, table, cp.getOrElse(-1L) + 1, version)
        .foldLeft(base) { case (s, (v, n)) =>
          s.fold(n, new MalformedCommitException(table, v, n.toString))
        }
    }

  /** [[tableState]] as of `atMost`, clamped to the latest commit. */
  private def stateAt(spark: SparkSession, table: String, atMost: Long,
                      cpAtMost: Long = Long.MaxValue): TableState =
    tableState(spark, table, math.min(latestVersion(spark, table), atMost),
      cpAtMost)

  /** The state checkpoint `v` carries, read in one Spark job: its
    * protocol, metaData and domainMetadata rows, rendered as action
    * lines and folded like the JSON tail, and the distinct DV storage
    * forms of its add rows. A checkpoint without a protocol row raises
    * [[MalformedCheckpointException]]; an add row with a non-null legacy
    * `dv.path` raises [[legacyDvRefusal]] (this engine's older
    * checkpoints carry the column all-null). A metaData field the
    * checkpoint leaves null falls back to the log below it. */
  private def checkpointState(spark: SparkSession, table: String,
                              v: Long): TableState = {
    val raw = checkpointActionDF(spark, table, v)
    val kinds = Seq("protocol", "metaData", "domainMetadata")
      .filter(raw.columns.contains)
    def malformed = new MalformedCheckpointException(table, v)
    if (!kinds.contains("protocol")) throw malformed
    val addT = Some(raw.schema).filter(_.fieldNames.contains("add"))
      .map(_("add").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames)
      .getOrElse(Array.empty[String])
    val isMeta = kinds.map(col(_).isNotNull).reduce(_ || _)
    val storage =
      if (addT.contains("deletionVector")) col("add.deletionVector.storageType")
      else lit(null).cast("string")
    val legacy =
      if (addT.contains("dv")) col("add.dv.path").isNotNull else lit(false)
    // (action line, DV storage form, legacy dv), deduplicated per task
    // so the add rows ship one row per form, not one per file
    val rows = raw.where(isMeta || storage.isNotNull || legacy)
      .select(when(isMeta, to_json(struct(kinds.map(col): _*))), storage,
        legacy)
      .rdd.mapPartitions(_.map(r => (Option(r.getString(0)),
        Option(r.getString(1)), r.getBoolean(2))).toSet.iterator)
      .collect()
    if (rows.exists(_._3)) throw legacyDvRefusal(table)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val st = rows.flatMap(_._1).foldLeft(TableState(unreadableDv =
        rows.flatMap(_._2).filterNot(supportedDvStorage).toSet))(
      (s, line) => s.fold(om.readTree(line), malformed))
    if (st.protocol.isEmpty) throw malformed
    if (st.schemaString.isDefined && st.configuration.isDefined &&
        st.partitionColumns.isDefined) st
    else {
      val below = tableState(spark, table, v - 1)
      st.copy(
        schemaString = st.schemaString.orElse(below.schemaString),
        configuration = st.configuration.orElse(below.configuration),
        partitionColumns = st.partitionColumns.orElse(below.partitionColumns))
    }
  }

  /** The table's declared schema as of `atMost`: the newest metaData
    * action's ([[tableState]]; Delta keeps schema in the log, not in
    * data files, and old files simply lack newer columns and read as
    * null). None before the first commit or on pre-metaData tables. */
  def latestSchema(spark: SparkSession, table: String,
                   atMost: Long = Long.MaxValue)
      : Option[org.apache.spark.sql.types.StructType] =
    stateAt(spark, table, atMost).schema

  private def parseSchema(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The table's configuration (properties map) as of `atMost`: the
    * newest metaData action that states one ([[tableState]]; a null
    * configuration is "not stated", an explicit {} overrides). */
  def tableConfig(spark: SparkSession, table: String,
                  atMost: Long = Long.MaxValue): Map[String, String] =
    stateAt(spark, table, atMost).config

  /** Render epoch-micros as `yyyy-MM-dd HH:mm:ss[.f…]` in `zoneId` —
    * java.sql.Timestamp.toString's shape (fraction trimmed of trailing
    * zeros, at least one digit), but in the SESSION timezone instead of
    * the driver JVM's default. Stats consumers cast the JSON string
    * back under `spark.sql.session.timeZone`, so the two must agree
    * regardless of where the driver runs. */
  private[graft] def renderTimestampInZone(micros: Long,
                                           zoneId: String): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val micInSec = (micros - secs * 1000000L).toInt
    val ldt = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(secs, micInSec * 1000L),
      java.time.ZoneId.of(zoneId))
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-" +
      f"${ldt.getDayOfMonth}%02d ${ldt.getHour}%02d:" +
      f"${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    var frac = f"$micInSec%06d"
    while (frac.length > 1 && frac.endsWith("0"))
      frac = frac.dropRight(1)
    s"$base.$frac"
  }

  private val constraintKeyPrefix = "delta.constraints."

  /** CHECK constraints in `config`: name -> SQL predicate. */
  def constraintsOf(config: Map[String, String]): Map[String, String] =
    config.collect { case (k, v) if k.startsWith(constraintKeyPrefix) =>
      k.stripPrefix(constraintKeyPrefix) -> v }

  /** Delta generated columns: the `delta.generationExpression` field
    * metadata key (writer feature `generatedColumns` / legacy writer
    * version 4). */
  private[graft] val GenExprKey = "delta.generationExpression"

  /** Delta identity columns (writer v6 / `identityColumns`): the four
    * field-metadata keys of GENERATED [ALWAYS | BY DEFAULT] AS
    * IDENTITY. */
  private[graft] val IdentityStartKey = "delta.identity.start"
  private[graft] val IdentityStepKey = "delta.identity.step"
  private[graft] val IdentityHwmKey = "delta.identity.highWaterMark"
  private[graft] val IdentityAllowExplicitKey =
    "delta.identity.allowExplicitInsert"

  /** Column DEFAULT values (writer feature `allowColumnDefaults`):
    * Spark's own StructField metadata keys — the wire shape delta-spark
    * commits. CURRENT_DEFAULT is the SQL a writer MATERIALIZES into any
    * row-producing write that omits the column (that obligation is why
    * it is a writer feature); EXISTS_DEFAULT is the value rows
    * predating the declaration read (carried for wire fidelity — this
    * engine's writes always materialize, so its own tables never have
    * such rows). */
  private[graft] val CurrentDefaultKey = "CURRENT_DEFAULT"
  private[graft] val ExistsDefaultKey = "EXISTS_DEFAULT"

  /** Dotted paths of every field carrying a `CURRENT_DEFAULT`, at any
    * struct depth — the deep census the feature-declaration and DROP
    * FEATURE guards need once defaults can live on nested fields. */
  private def defaultedPathsDeep(
      st: org.apache.spark.sql.types.StructType,
      prefix: String = ""): Seq[String] =
    st.fields.toIndexedSeq.flatMap { f =>
      val here =
        if (f.metadata.contains(CurrentDefaultKey))
          Seq(prefix + f.name)
        else Seq.empty
      here ++ (f.dataType match {
        case inner: org.apache.spark.sql.types.StructType =>
          defaultedPathsDeep(inner, s"$prefix${f.name}.")
        case _ => Seq.empty
      })
    }

  /** True when a struct type carries a `CURRENT_DEFAULT` on any field
    * at any struct depth (arrays/maps excluded — their elements have
    * no omission event for a default to fill). */
  private[graft] def hasDeepDefault(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      st.fields.exists(f => f.metadata.contains(CurrentDefaultKey) ||
        hasDeepDefault(f.dataType))
    case _ => false
  }

  /** The value an OMITTED struct column with nested defaults
    * materializes as: each defaulted field reads its default, every
    * other field the null a reader's fill would produce (recursing
    * into deeper defaulted structs). */
  private def structFromDefaults(
      st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column =
    struct(st.fields.toIndexedSeq.map { f =>
      val c =
        if (f.metadata.contains(CurrentDefaultKey))
          expr(f.metadata.getString(CurrentDefaultKey)).cast(f.dataType)
        else f.dataType match {
          case inner: org.apache.spark.sql.types.StructType
              if hasDeepDefault(inner) => structFromDefaults(inner)
          case _ => lit(null).cast(f.dataType)
        }
      c.as(f.name)
    }: _*)

  /** Layer nested defaults onto a PROVIDED struct column whose type
    * lacks a defaulted field (subset-struct write): `withField` fills
    * exactly the missing defaulted fields; provided fields keep their
    * values (DEFAULT constrains omission, not content). */
  private def fillNestedDefaults(c: org.apache.spark.sql.Column,
      provided: org.apache.spark.sql.types.DataType,
      decl: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column =
    provided match {
      case pt: org.apache.spark.sql.types.StructType =>
        decl.fields.foldLeft(c) { (acc, nf) =>
          pt.fields.find(_.name.equalsIgnoreCase(nf.name)) match {
            case None if nf.metadata.contains(CurrentDefaultKey) =>
              acc.withField(s"`${nf.name}`",
                expr(nf.metadata.getString(CurrentDefaultKey))
                  .cast(nf.dataType))
            case None => nf.dataType match {
              case inner: org.apache.spark.sql.types.StructType
                  if hasDeepDefault(inner) =>
                acc.withField(s"`${nf.name}`", structFromDefaults(inner))
              case _ => acc
            }
            case Some(pf) => (pf.dataType, nf.dataType) match {
              case (pi: org.apache.spark.sql.types.StructType,
                    ni: org.apache.spark.sql.types.StructType)
                  if hasDeepDefault(ni) =>
                acc.withField(s"`${nf.name}`",
                  fillNestedDefaults(acc.getField(nf.name), pi, ni))
              case _ => acc
            }
          }
        }
      case _ => c
    }

  /** The column-DEFAULT writer contract, applied at every row-producing
    * write: a declared `CURRENT_DEFAULT` column the incoming frame
    * omits is FILLED with its (constant) default expression — one
    * narrow projection, free. Runs BEFORE [[applyGenerated]] so a
    * generated column may reference a defaulted one. A provided column
    * keeps its values (DEFAULT constrains omission, not content).
    * Since r18 defaults live on NESTED struct fields too: an omitted
    * struct column with nested defaults materializes as the defaults
    * (nulls elsewhere); a provided struct whose type LACKS a defaulted
    * field gets exactly that field filled. Zero cost when no nested
    * default is declared (one metadata scan). */
  private def applyDefaults(df: DataFrame,
      declared: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val dl = declared.map(_.fields).getOrElse(Array.empty)
    val defs = dl.filter(f =>
      f.metadata.contains(CurrentDefaultKey) &&
        !df.columns.exists(_.equalsIgnoreCase(f.name)))
    val df1 = defs.foldLeft(df)((acc, f) => acc.withColumn(f.name,
      expr(f.metadata.getString(CurrentDefaultKey)).cast(f.dataType)))
    val nested = dl.filter(f => !f.metadata.contains(CurrentDefaultKey) &&
      hasDeepDefault(f.dataType))
    nested.foldLeft(df1) { (acc, f) =>
      val st = f.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      acc.columns.find(_.equalsIgnoreCase(f.name)) match {
        case None => acc.withColumn(f.name, structFromDefaults(st))
        case Some(cn) =>
          acc.schema(cn).dataType match {
            case pt: org.apache.spark.sql.types.StructType =>
              acc.withColumn(cn,
                fillNestedDefaults(col(s"`$cn`"), pt, st))
            case _ => acc // type mismatch refuses later, loudly
          }
      }
    }
  }

  /** The generated-column writer contract, applied at every
    * row-producing write: a column the incoming frame OMITS is
    * COMPUTED from its expression (one narrow projection, free); a
    * column the frame PROVIDES is VALIDATED against it (one aggregate
    * pass, null-safe equality) — committing unvalidated values would
    * silently break the invariant every other client of the table
    * relies on (Delta's own rule). Throws with the failing column and
    * row count on mismatch. */
  private def applyGenerated(df: DataFrame,
      declared: Option[org.apache.spark.sql.types.StructType],
      table: String): DataFrame = {
    val gens = declared.map(_.fields.filter(_.metadata.contains(GenExprKey)))
      .getOrElse(Array.empty)
    if (gens.isEmpty) return df
    var out = df
    val provided = gens.filter(f =>
      df.columns.exists(_.equalsIgnoreCase(f.name)))
    gens.filterNot(provided.contains).foreach { f =>
      out = out.withColumn(f.name,
        expr(f.metadata.getString(GenExprKey)).cast(f.dataType))
    }
    if (provided.nonEmpty) {
      val checks = provided.toSeq.map { f =>
        val g = expr(f.metadata.getString(GenExprKey)).cast(f.dataType)
        sum(when(!(col(s"`${f.name}`") <=> g), 1L).otherwise(0L))
          .as(f.name)
      }
      val row = out.agg(checks.head, checks.tail: _*).collect().head
      provided.toSeq.zipWithIndex.foreach { case (f, i) =>
        val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
        require(bad == 0L,
          s"$table: ${bad} row(s) provide a value for generated column " +
            s"${f.name} that does not match its expression " +
            s"${f.metadata.getString(GenExprKey)}")
      }
    }
    out
  }

  final class ConstraintViolationException(violated: Seq[(String, String, Long)])
    extends RuntimeException(
      "CHECK constraint violated: " + violated.map { case (n, sql, c) =>
        s"$n ($sql): $c row(s)" }.mkString("; "))

  /** The incoming frame as a READER will see it: declared columns the
    * frame omits are null-filled (subset appends are legal), so CHECK
    * predicates referencing them evaluate to null (pass) instead of
    * failing analysis. */
  private def alignForCheck(df: DataFrame,
                            declared: Option[org.apache.spark.sql.types.StructType])
      : DataFrame =
    declared.fold(df) { d =>
      val missing = d.fields.filterNot(f => df.columns.contains(f.name))
      missing.foldLeft(df)((acc, f) =>
        acc.withColumn(f.name, lit(null).cast(f.dataType)))
    }

  /** Enforce every CHECK constraint on `df` in ONE aggregate pass
    * (Delta invariant semantics: a row violates when the predicate
    * evaluates to FALSE; null passes, as in SQL CHECK). Throws
    * [[ConstraintViolationException]] naming every violated constraint
    * and its violation count. Costs one extra evaluation of `df` when
    * constraints exist — callers persist the frame around the
    * check+write pair when the double pass matters. */
  /** Delta field invariants (`delta.invariants` metadata, writer v2):
    * the per-field predicate a compliant writer must enforce on every
    * write — JSON-wrapped (`{"expression":{"expression":"..."}}`).
    * Enforced through the same one-aggregate pass as CHECK
    * constraints. */
  private val InvariantsKey = "delta.invariants"

  private def invariantEntries(
      declared: Option[org.apache.spark.sql.types.StructType])
      : Seq[(String, String)] =
    declared.map(_.fields.filter(_.metadata.contains(InvariantsKey))
      .toSeq.map { f =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(f.metadata.getString(InvariantsKey))
        val e = node.path("expression").path("expression").asText(null)
        require(e != null,
          s"malformed delta.invariants on field ${f.name}: " +
            f.metadata.getString(InvariantsKey))
        (s"invariant(${f.name})", e)
      }).getOrElse(Nil)

  private def enforceConstraints(df: DataFrame,
      config: Map[String, String],
      declared: Option[org.apache.spark.sql.types.StructType] = None)
      : Unit = {
    val cs = constraintsOf(config).toSeq.sortBy(_._1) ++
      invariantEntries(declared)
    if (cs.isEmpty) return
    val aggs = cs.map { case (name, sql) =>
      sum(when(coalesce(expr(sql), lit(true)), 0L).otherwise(1L)).as(name)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val violated = cs.zipWithIndex.collect {
      case ((name, sql), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        (name, sql, row.getLong(i))
    }
    if (violated.nonEmpty) throw new ConstraintViolationException(violated)
  }

  /** ALTER TABLE ... ADD CONSTRAINT (Delta CHECK): validates the
    * EXISTING rows first (one scan), then commits a metaData action
    * whose configuration carries the predicate. The commit is pinned at
    * `readVersion + 1` — rows landing concurrently re-validate against
    * the fresh snapshot after the conflict. */
  def addConstraint(spark: SparkSession, table: String, name: String,
                    sql: String, readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(name.nonEmpty && !name.contains("."), s"bad constraint name: $name")
    val readVersion = latestVersion(spark, table)
    val cfg = tableConfig(spark, table, readVersion)
    // Delta raises on a duplicate name — silently replacing a predicate
    // other writers rely on would relax an invariant in place
    require(!cfg.contains(constraintKeyPrefix + name),
      s"constraint $name already exists (drop it first)")
    enforceConstraints(readFiltered(spark, table, Seq.empty),
      Map(constraintKeyPrefix + name -> sql))
    val schema = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema to constrain"))
    val parts = partitionColsOf(snapshotFilesAt(spark, table, readVersion)
      .select("path").collect().map(_.getString(0)))
    writeCommit(spark, table, readVersion + 1,
      Seq(metaDataLine(table, schema, parts,
        cfg + (constraintKeyPrefix + name -> sql))), "ADD CONSTRAINT")
  }

  /** ALTER TABLE ... SET TBLPROPERTIES: merge `props` into the table
    * configuration (one pinned metaData commit). Deletion vectors are
    * enabled this way: `delta.enableDeletionVectors -> "true"` routes
    * [[delete]] through the DV path. */
  def setTableProperties(spark: SparkSession, table: String,
                         props: Map[String, String],
                         readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    // constraints have their own API: addConstraint validates the
    // EXISTING rows and rejects duplicates — letting them in here would
    // arm an invariant the current data may already violate
    require(!props.keySet.exists(_.startsWith(constraintKeyPrefix)),
      s"use addConstraint/dropConstraint for $constraintKeyPrefix* keys")
    requireValidIsolation(props)
    val readVersion = latestVersion(spark, table)
    val cfg = tableConfig(spark, table, readVersion)
    val schema = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    val parts = partitionColsOf(snapshotFilesAt(spark, table, readVersion)
      .select("path").limit(1).collect().map(_.getString(0)))
    // delta.columnMapping.mode = name is an UPGRADE (Delta's own):
    // every field gets physicalName = its current name (the files on
    // disk already store those names, so nothing rewrites) plus a
    // depth-first columnMapping.id, maxColumnId lands in the config,
    // and the columnMapping table feature joins the protocol. 'none'
    // is Delta's documented default — an explicit no-op when no mode
    // is established (real writers accept it the same way). `id` is
    // refused on EXISTING tables because the files already on disk
    // carry no footer field-ids — delta-spark enforces the identical
    // create-only rule ('Changing column mapping mode ... is not
    // supported'); declare it at CREATE instead. Changing or removing
    // an established mode is refused (it would orphan physical names).
    val enablingMapping = props.get("delta.columnMapping.mode") match {
      case None => false
      case Some(m) if cfg.get("delta.columnMapping.mode").contains(m) =>
        false // idempotent re-set
      case Some("none") if !cfg.contains("delta.columnMapping.mode") =>
        false // explicit default: a no-op, recorded in the config
      case Some("name") if !cfg.contains("delta.columnMapping.mode") =>
        // partitioned tables upgrade too: physicalName = the current
        // name, so the partition directories already on disk ARE the
        // physical names — nothing renames, and every later write
        // partitions by the (stable) physical key exactly like a
        // table created mapped+partitioned
        require(!isColumnMapped(schema),
          s"$table already carries mapping metadata without a mode — " +
            "malformed; refuse rather than reassign")
        true
      case Some(other) => throw new IllegalArgumentException(
        s"cannot set delta.columnMapping.mode=$other on $table " +
          (if (cfg.contains("delta.columnMapping.mode"))
            "(changing an established mapping mode would orphan the " +
              "physical names)"
          else if (other == "id")
            "(id mode can only be declared at CREATE — the files " +
              "already on disk carry no parquet footer field-ids; " +
              "delta-spark enforces the same create-only rule)"
          else "(only 'name' mode can be enabled on an existing table)"))
    }
    val (schema2, mapCfg) =
      if (!enablingMapping) (schema, Map.empty[String, String])
      else {
        val (mapped, maxId) = assignMapping(schema, 0L)
        (mapped, Map("delta.columnMapping.maxColumnId" -> maxId.toString))
      }
    // enabling DVs / column mapping is a PROTOCOL upgrade under real
    // Delta — emit the table-feature protocol action so a real reader
    // of this log sees the same contract a real writer would have
    // recorded. UNIONED onto the resolved protocol: a table already
    // declaring (3, timestampNtz) must keep that feature, not have the
    // upgrade overwrite its lists.
    val needDv = props.get("delta.enableDeletionVectors").contains("true") &&
      !cfg.get("delta.enableDeletionVectors").contains("true")
    // ICT enablement (Delta's inCommitTimestamp writer feature): the
    // feature joins the protocol and the provenance properties record
    // WHERE the in-log clock starts being authoritative — time travel
    // below the enablement version falls back to wall-clock timestamps
    val needIct =
      props.get("delta.enableInCommitTimestamps").contains("true") &&
        !cfg.get("delta.enableInCommitTimestamps").contains("true")
    // CDF enablement: the changeDataFeed writer feature joins the
    // protocol; from the NEXT data-changing commit on, the DML paths
    // write real cdc files. Mapped+CDF composes freely in both
    // directions: [[writeCdcFiles]] lands change-data files under the
    // physical schema exactly like data files, and a mapping upgrade
    // on a CDF table keeps old (logical-named) cdc files readable
    // because upgrade semantics set physicalName = the current name.
    val needCdf =
      props.get("delta.enableChangeDataFeed").contains("true") &&
        !cfg.get("delta.enableChangeDataFeed").contains("true")
    // rowTracking enablement on an EXISTING table: the protocol gains
    // the feature (+ its domainMetadata prerequisite) and the SAME
    // commit backfills — re-adds every live file with its fresh
    // baseRowId/defaultRowCommitVersion assigned INLINE while the
    // manifest STREAMS through [[writeCommitStreamed]] (the driver
    // holds one manifest partition, never the rendered whole), closing
    // with the advanced high-water mark. O(live files) metadata IO, an
    // explicit user action with convertToDelta's cost shape — but
    // bounded driver memory at any file count.
    val needRt =
      props.get("delta.enableRowTracking").contains("true") &&
        !cfg.get("delta.enableRowTracking").contains("true")
    // reserve the enablement commit's ICT NOW and stamp the SAME value
    // into the provenance property: the Delta spec requires the
    // enablement timestamp to equal the enablement commit's
    // inCommitTimestamp (a mismatch skews a real reader's time-travel
    // cutover by one version)
    val enablementIct =
      if (!needIct) None
      else Some(nextIct(spark, table, readVersion + 1, commitClock()))
    val ictCfg =
      if (!needIct) Map.empty[String, String]
      else Map(
        "delta.inCommitTimestampEnablementVersion" ->
          (readVersion + 1).toString,
        "delta.inCommitTimestampEnablementTimestamp" ->
          enablementIct.get.toString)
    val protoUpgrade =
      if (!needDv && !enablingMapping && !needIct && !needRt && !needCdf)
        Seq.empty
      else {
        var p = tableState(spark, table, readVersion).proto
        if (needDv) p = p.withDeletionVectors
        if (enablingMapping) p = p.withColumnMapping
        if (needIct) p = p.withWriterFeature("inCommitTimestamp")
        if (needRt) p = p.withWriterFeature("rowTracking")
          .withWriterFeature("domainMetadata")
        if (needCdf) p = p.withWriterFeature("changeDataFeed")
        Seq(p.render)
      }
    val head = protoUpgrade ++
      Seq(metaDataLine(table, schema2, parts,
        cfg ++ props ++ mapCfg ++ ictCfg))
    if (!needRt)
      writeCommit(spark, table, readVersion + 1, head,
        "SET TBLPROPERTIES", fixedIct = enablementIct)
    else {
      // streamed backfill: ids assigned in arrival order (uniqueness +
      // chain-past-the-mark is the contract; WHICH file gets which
      // range is unspecified, as with any writer). numRecords comes
      // from each add's stats; stats-less files get one count scan of
      // JUST those files up front (exact-path keyed, empty files = 0).
      val snapDF = snapshotFilesAt(spark, table, readVersion)
      val statsLess = snapDF.where(col("stats").isNull ||
          get_json_object(col("stats"), "$.numRecords").isNull)
        .select("path").collect().map(_.getString(0)).toSeq
      val counted: Map[String, Long] =
        if (statsLess.isEmpty) Map.empty
        else {
          val byAbs = statsLess
            .map(p => decodeFileUri(resolvePath(table, p)) -> p).toMap
          val scanned = spark.read.option("basePath", table)
            .parquet(statsLess.map(p => resolvePath(table, p)): _*)
            .groupBy(input_file_name().as("f")).count().collect()
            .map { r =>
              val abs = decodeFileUri(r.getString(0))
              byAbs.getOrElse(abs, sys.error(
                s"counted file $abs matches no live path")) -> r.getLong(1)
            }.toMap
          statsLess.map(p => p -> scanned.getOrElse(p, 0L)).toMap
        }
      // TOP-LEVEL $.numRecords only — the same path the stats-less
      // filter above keys on. A substring regex would match a nested
      // occurrence in foreign-written stats (e.g. minValues of a
      // column literally named numRecords) and hand back a bogus
      // count, producing overlapping baseRowId ranges and a wrong
      // high-water mark. Driver-side iterator → one shared mapper.
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      def topNumRecords(s: String): Option[Long] =
        try {
          val node = om.readTree(s).get("numRecords")
          if (node == null || !node.canConvertToLong) None
          else Some(node.asLong())
        } catch {
          case _: com.fasterxml.jackson.core.JsonProcessingException => None
        }
      var hwm = rowIdHighWaterMark(spark, table, readVersion)
      def bodyIt: Iterator[String] = {
        val adds = localRowIterator(snapDF).map { r =>
          val path = r.getString(0)
          val stats = Option(r.getString(r.fieldIndex("stats")))
          val n = stats.flatMap(topNumRecords)
            .orElse(counted.get(path))
            .getOrElse(sys.error(
              s"rowTracking backfill: no record count for $path"))
          val base = hwm + 1
          hwm += n
          val dvIdx = r.fieldIndex("dv_path")
          val mtIdx = r.fieldIndex("modificationTime")
          addLine(path, r.getLong(r.fieldIndex("size")), stats,
            dataChange = false,
            dv = if (r.isNullAt(dvIdx)) None
              else Some((r.getString(dvIdx),
                r.getLong(r.fieldIndex("dv_card")))),
            partitionValues = Some(r.getMap[String, String](
              r.fieldIndex("partitionValues")).toMap),
            modTime = if (r.isNullAt(mtIdx)) None
              else Some(r.getLong(mtIdx)),
            rowIds = Some((base, readVersion + 1)))
        }
        // the closing mark evaluates AFTER the adds drain (Iterator#++
        // is by-name) — it records the final high-water mark. An empty
        // (or all-empty-file) table assigned nothing: no mark, same as
        // the pre-streaming funnel.
        adds ++ {
          if (hwm < 0) Iterator.empty
          else Iterator.single(domainMetadataLine(RowTrackingDomain,
            s"""{"rowIdHighWaterMark":$hwm}"""))
        }
      }
      writeCommitStreamed(spark, table, readVersion + 1, head, bodyIt,
        "SET TBLPROPERTIES", fixedIct = enablementIct)
    }
  }

  /** ALTER TABLE ... UNSET TBLPROPERTIES: a metaData commit without the
    * named keys. Dropping a feature-enabling property (e.g.
    * `delta.enableDeletionVectors`) turns the BEHAVIOR off but never
    * downgrades the protocol — table features are append-only under
    * real Delta, and existing DV-bearing files stay readable. Without
    * `ifExists`, absent keys refuse by name (Spark's own contract). */
  def unsetTableProperties(spark: SparkSession, table: String,
                           keys: Seq[String], ifExists: Boolean = false,
                           readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(!keys.exists(_.startsWith(constraintKeyPrefix)),
      s"use dropConstraint for $constraintKeyPrefix* keys")
    require(!keys.exists(_.startsWith("delta.columnMapping.")),
      "unsetting delta.columnMapping.* would orphan the physical names " +
        "the files already store — column mapping cannot be disabled")
    val readVersion = latestVersion(spark, table)
    val cfg = tableConfig(spark, table, readVersion)
    val missing = keys.filterNot(cfg.contains)
    if (!ifExists) require(missing.isEmpty,
      s"UNSET TBLPROPERTIES: key(s) ${missing.mkString(", ")} not set " +
        "on the table (IF EXISTS skips them)")
    val schema = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    val parts = partitionColsOf(snapshotFilesAt(spark, table, readVersion)
      .select("path").limit(1).collect().map(_.getString(0)))
    writeCommit(spark, table, readVersion + 1,
      Seq(metaDataLine(table, schema, parts, cfg -- keys)),
      "UNSET TBLPROPERTIES")
  }

  /** The table features `ALTER TABLE ... DROP FEATURE` can remove —
    * Delta's own removable-feature allowlist restated for the features
    * this engine writes. Everything else refuses by name: dropping a
    * feature whose traces cannot be purged (rowTracking's materialized
    * ids, columnMapping's physical names, clustering's domain) would
    * leave a table whose data silently violates its downgraded
    * contract. */
  private val removableFeatures: Set[String] = Set(
    "deletionVectors", "typeWidening", "variantType", "v2Checkpoint",
    "inCommitTimestamp", "allowColumnDefaults")

  /** Of [[removableFeatures]], the READER features: dropping one
    * changes what a reader must support, so history still carrying the
    * feature's traces gates the drop (see [[dropFeature]]). */
  private val removableReaderFeatures: Set[String] = Set(
    "deletionVectors", "typeWidening", "variantType", "v2Checkpoint")

  /** `ALTER TABLE ... DROP FEATURE <f> [TRUNCATE HISTORY]` — Delta's
    * protocol DOWNGRADE, the inverse of the feature upgrades the
    * property/DDL paths perform. Three phases, like delta-spark:
    *
    *  1. PRE-DOWNGRADE — remove the feature's live traces, each a
    *     normal commit: deletionVectors disables the property and runs
    *     the REORG purge (masks materialize, descriptors leave the
    *     snapshot); v2Checkpoint flips `delta.checkpointPolicy` to
    *     classic and writes a CLASSIC checkpoint; inCommitTimestamp
    *     unsets the enablement/provenance properties. Traces this
    *     engine cannot purge refuse by name instead (a variant column
    *     still declared, a column DEFAULT still set, `delta.typeChanges`
    *     records whose pre-widen files still store the narrow physical
    *     type — delta-spark rewrites those files; here the drop refuses
    *     until history holds no widen, keeping the downgrade sound).
    *  2. HISTORY GATE (reader features only) — any surviving log entry
    *     below the downgrade still references the feature (the
    *     enablement commit, DV descriptors, a checkpoint's protocol
    *     row), so a post-downgrade reader time-traveling there would be
    *     broken. Without TRUNCATE HISTORY the drop refuses while such
    *     traces survive (Delta's wait-for-retention rule: after
    *     [[cleanupLogs]] ages the history out, the drop passes); with
    *     it, the downgrade commits, a checkpoint pins the new contract,
    *     and the ENTIRE prior log is cleaned up — time travel below the
    *     downgrade then fails loudly (replay refuses a gapped window).
    *  3. DOWNGRADE — one commit carrying the protocol action minus the
    *     feature. minReaderVersion normalizes to 1 when no reader
    *     feature remains (Delta's normalization); the writer contract
    *     stays feature-enumerated.
    *
    * Returns the downgrade commit's version. */
  def dropFeature(spark: SparkSession, table: String, feature: String,
                  truncateHistory: Boolean = false,
                  partitionBy: Seq[String] = Nil,
                  readOnly: Boolean = false,
                  nowMs: () => Long = () => System.currentTimeMillis())
      : Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(tableExists(spark, table),
      s"DROP FEATURE: $table has no _delta_log")
    require(removableFeatures.contains(feature),
      s"DROP FEATURE $feature is not supported on $table — removable " +
        s"features: ${removableFeatures.toSeq.sorted.mkString(", ")}")
    require(!truncateHistory ||
        removableReaderFeatures.contains(feature),
      s"DROP FEATURE $feature: TRUNCATE HISTORY applies to reader " +
        "features only (a writer feature never gates reads)")
    // ---- phase 0: the declared + history gates run BEFORE any
    // mutating commit — a refusal must leave the table exactly as it
    // found it (the earlier ordering had already committed the
    // property unsets / purge when the history gate threw)
    val gateVersion = latestVersion(spark, table)
    val proto0 = tableState(spark, table, gateVersion).proto
    require(proto0.readerFeats.contains(feature) ||
        proto0.writerFeats.contains(feature),
      s"DROP FEATURE $feature: not declared in $table's protocol " +
        s"(readerFeatures=${proto0.readerFeats.mkString(",")} " +
        s"writerFeatures=${proto0.writerFeats.mkString(",")})")
    if (removableReaderFeatures.contains(feature) && !truncateHistory)
      historyTraceReason(spark, table, feature, gateVersion).foreach { r =>
        throw new IllegalArgumentException(
          s"DROP FEATURE $feature: $r — a reader honoring the " +
            "downgraded protocol could time-travel into history that " +
            s"still needs the feature. Re-run as DROP FEATURE $feature " +
            "TRUNCATE HISTORY (removes the history below the downgrade)")
      }
    // ---- phase 1: pre-downgrade (live-trace removal / refusal)
    val cfg0 = tableConfig(spark, table)
    val schema0 = latestSchema(spark, table)
    feature match {
      case "deletionVectors" =>
        if (cfg0.get("delta.enableDeletionVectors").contains("true"))
          unsetTableProperties(spark, table,
            Seq("delta.enableDeletionVectors"))
        reorgPurge(spark, table, partitionBy) // no-op without live masks
      case "v2Checkpoint" =>
        if (cfg0.get("delta.checkpointPolicy").contains("v2"))
          setTableProperties(spark, table,
            Map("delta.checkpointPolicy" -> "classic"))
        // a classic checkpoint must cover the log so no reader ever
        // needs a v2 manifest again
        writeCheckpoint(spark, table, latestVersion(spark, table), nowMs)
      case "inCommitTimestamp" =>
        if (cfg0.contains("delta.enableInCommitTimestamps") ||
            cfg0.contains("delta.inCommitTimestampEnablementVersion"))
          unsetTableProperties(spark, table, Seq(
            "delta.enableInCommitTimestamps",
            "delta.inCommitTimestampEnablementVersion",
            "delta.inCommitTimestampEnablementTimestamp"),
            ifExists = true)
      case "variantType" =>
        require(!schema0.exists(_.fields.exists(f =>
            containsVariant(f.dataType))),
          s"DROP FEATURE variantType: $table still declares a VARIANT " +
            "column — drop those columns first")
      case "allowColumnDefaults" =>
        val defaulted = schema0.toSeq.flatMap(defaultedPathsDeep(_))
        require(defaulted.isEmpty,
          s"DROP FEATURE allowColumnDefaults: column(s) " +
            s"${defaulted.mkString(", ")} still declare a DEFAULT — " +
            "ALTER COLUMN ... DROP DEFAULT first")
      case "typeWidening" =>
        if (cfg0.get("delta.enableTypeWidening").contains("true"))
          unsetTableProperties(spark, table,
            Seq("delta.enableTypeWidening"))
        val widened = schema0.toSeq.flatMap(_.fields)
          .filter(_.metadata.contains("delta.typeChanges")).map(_.name)
        require(widened.isEmpty,
          s"DROP FEATURE typeWidening: column(s) " +
            s"${widened.mkString(", ")} carry delta.typeChanges " +
            "records and files written before the widen still store " +
            "the narrow physical type — this engine does not rewrite " +
            "them; the drop would break compliant readers")
    }
    // ---- phase 2: the downgrade commit (the protocol re-resolves at
    // the post-phase-1 version — the gates above ran pre-mutation)
    val readVersion = latestVersion(spark, table)
    val proto = tableState(spark, table, readVersion).proto
    val newReader = proto.readerFeats.filterNot(_ == feature)
    val newProto = ProtocolAction(
      if (newReader.isEmpty) 1 else proto.minReader,
      proto.minWriter, newReader,
      proto.writerFeats.filterNot(_ == feature))
    val v = writeCommit(spark, table, readVersion + 1,
      Seq(newProto.render), "DROP FEATURE")
    if (truncateHistory) {
      // pin the downgraded contract in a checkpoint, then age out the
      // ENTIRE prior log (Delta's retention-zero cleanup)
      writeCheckpoint(spark, table, v, nowMs)
      cleanupLogs(spark, table, retainMs = Some(0L), nowMs = nowMs)
    }
    invalidateSnapshot(table)
    v
  }

  /** Why a bare (no TRUNCATE HISTORY) reader-feature drop must refuse,
    * or None when it may proceed: a surviving commit JSON at or below
    * `version` containing the feature's trace marker (enablement
    * property, protocol declaration, DV descriptor, widen record), or
    * ANY checkpoint below the downgrade — a checkpoint re-states the
    * then-current protocol, which by construction still declares the
    * feature, and [[cleanupLogs]] always preserves the latest
    * checkpoint, so no retention wait can ever age it out (which is
    * why the message demands TRUNCATE HISTORY instead of suggesting a
    * retry). The marker test runs over each parsed action's JSON text
    * ([[logActions]]), so a torn line refuses by name. */
  private def historyTraceReason(spark: SparkSession, table: String,
                                 feature: String, version: Long)
      : Option[String] = {
    val markers = feature match {
      case "deletionVectors" => Seq("deletionVector")
      case "typeWidening" => Seq("typeWidening", "delta.typeChanges")
      case "variantType" => Seq("variant")
      case "v2Checkpoint" => Seq("v2Checkpoint", "checkpointPolicy")
      case other => Seq(other)
    }
    val jsonTraced = logActions(spark, table, 0L, version).exists {
      case (_, n) => val txt = n.toString; markers.exists(txt.contains)
    }
    if (jsonTraced)
      Some("historical log entries still reference the feature")
    else if (latestCheckpoint(spark, table, version).isDefined)
      Some("the table has checkpointed, and a checkpoint re-states the " +
        "feature-bearing protocol (log cleanup always preserves the " +
        "latest checkpoint, so it can never age out)")
    else None
  }

  /** CREATE TABLE: an empty v0 commit declaring the schema, partition
    * layout, and table properties — the Delta create-then-insert
    * lifecycle. Refuses a path already holding a log (the table exists)
    * or raw parquet (a v0 referencing nothing would orphan those rows
    * for every later log-driven read — the same guard as SQL INSERT). */
  /** Delta names exactly two isolation levels; a typo'd value would
    * silently run as WriteSerializable (the conflict resolver treats
    * anything non-'Serializable' as the default). Validated at EVERY
    * property-accepting entry point — CREATE/REPLACE TABLE and SET
    * TBLPROPERTIES — matching delta-spark's DeltaConfigs validation. */
  private def requireValidIsolation(props: Map[String, String]): Unit =
    props.get("delta.isolationLevel").foreach { lvl =>
      require(Set("serializable", "writeserializable")
          .contains(lvl.toLowerCase),
        s"delta.isolationLevel must be Serializable or " +
          s"WriteSerializable, got '$lvl'")
    }

  def createTable(spark: SparkSession, table: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partitionBy: Seq[String] = Nil,
                  properties: Map[String, String] = Map.empty,
                  readOnly: Boolean = false,
                  clusterBy: Seq[String] = Nil): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    requireValidIsolation(properties)
    require(!tableExists(spark, table),
      s"CREATE TABLE: $table already has a _delta_log")
    // clustered tables (Delta writer feature `clustering`, late r13):
    // the clustering layout replaces Hive partitioning — Delta refuses
    // the combination too — and the columns must exist
    require(clusterBy.isEmpty || partitionBy.isEmpty,
      s"CREATE TABLE $table: CLUSTER BY and PARTITIONED BY are " +
        "mutually exclusive (Delta's rule)")
    clusterBy.foreach(c => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"CLUSTER BY column $c is not in the schema"))
    val missing = partitionBy.filterNot(p =>
      schema.fieldNames.exists(_.equalsIgnoreCase(p)))
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(", ")} not in the schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    val f = fs(spark, table)
    val it = if (f.exists(new Path(table)))
      Some(f.listFiles(new Path(table), true)) else None
    it.foreach { files =>
      while (files.hasNext)
        require(!files.next().getPath.getName.endsWith(".parquet"),
          s"CREATE TABLE at $table refused: the path already holds raw " +
            "parquet; convertToDelta promotes it without orphaning rows")
    }
    // generated columns demand legacy writer version 4 (the
    // generatedColumns feature) — declare it at v0 so a compliant
    // foreign writer knows to uphold the expressions
    val legacy =
      if (schema.fields.exists(_.metadata.contains(IdentityStartKey)))
        ProtocolAction(1, 6, Nil, Nil)
      else if (schema.fields.exists(_.metadata.contains(GenExprKey)))
        ProtocolAction(1, 4, Nil, Nil)
      else basicProtocol
    // feature-enabling properties declare their table feature at v0,
    // exactly as replaceTable/setTableProperties union it in later: a
    // v0 carrying delta.enableDeletionVectors=true WITHOUT the
    // deletionVectors feature (reader gate included) would let a
    // spec-compliant reader at minReaderVersion 1 ignore the DV
    // descriptors and resurrect deleted rows. rowTracking additionally
    // pulls in its domainMetadata prerequisite so the writeCommit
    // funnel assigns row ids from the very first append.
    var declared = legacy
    if (properties.get("delta.enableDeletionVectors").contains("true"))
      declared = declared.withDeletionVectors
    if (properties.get("delta.enableRowTracking").contains("true"))
      declared = declared.withWriterFeature("rowTracking")
        .withWriterFeature("domainMetadata")
    // CDF from v0: the writer feature joins the protocol (a compliant
    // foreign writer must know to uphold the cdc contract) and the DML
    // paths write real cdc files from the first commit on — on mapped
    // tables under the physical schema, like the data files.
    if (properties.get("delta.enableChangeDataFeed").contains("true"))
      declared = declared.withWriterFeature("changeDataFeed")
    // delta.columnMapping.mode at CREATE: both modes assign each
    // declared field physicalName = its logical name plus a depth-first
    // id (nothing exists on disk yet, so footers and partition dirs
    // will be written under exactly those physical names — no renames,
    // unlike the SET TBLPROPERTIES upgrade's partitioned-table hazard),
    // maxColumnId joins the config and columnMapping the protocol.
    // Under 'id' mode every write additionally lands the ids as parquet
    // footer field_ids ([[toPhysical]] attaches `parquet.field.id`), so
    // a compliant id-mode reader resolves columns by id exactly as with
    // a real writer's files; physicalName = logical-at-create is legal
    // in id mode (names are the protocol's documented fallback, and a
    // later RENAME COLUMN diverges them without touching the files).
    // 'none' is Delta's documented default value — an explicit no-op.
    val (schemaOut, mapCfg) =
      properties.get("delta.columnMapping.mode") match {
        case None | Some("none") => (schema, Map.empty[String, String])
        case Some("name") | Some("id") =>
          val (mapped, maxId) = assignMapping(schema, 0L)
          declared = declared.withColumnMapping
          (mapped, Map("delta.columnMapping.maxColumnId" -> maxId.toString))
        case Some(other) => throw new IllegalArgumentException(
          s"cannot create $table with delta.columnMapping.mode=$other — " +
            "supported modes: none, name, id")
      }
    // ICT from v0: the feature joins the protocol and writeCommit's
    // funnel stamps inCommitTimestamp into every commitInfo including
    // this one; no enablement-provenance properties are needed when
    // the in-log clock is authoritative from creation (Delta's rule)
    if (properties.get("delta.enableInCommitTimestamps").contains("true"))
      declared = declared.withWriterFeature("inCommitTimestamp")
    // column DEFAULTs at v0 (any struct depth since r18): the
    // allowColumnDefaults writer feature joins the protocol — a
    // compliant writer must MATERIALIZE the default into any write
    // that omits the column ([[applyDefaults]])
    if (defaultedPathsDeep(schema).nonEmpty)
      declared = declared.withWriterFeature("allowColumnDefaults")
    // VARIANT columns at v0: the variantType reader+writer feature
    // joins the protocol (a pre-feature reader would see an unknown
    // schema type; Spark reads/writes the parquet shape natively)
    if (schema.fields.exists(f => containsVariant(f.dataType)))
      declared = declared.withFeature("variantType")
    // CLUSTER BY at v0: the clustering writer feature (+ its
    // domainMetadata prerequisite) joins the protocol and the layout
    // lands in the delta.clustering domain — PHYSICAL column names on
    // mapped tables, the same rule stats keys follow. OPTIMIZE resolves
    // the domain and z-orders by these columns ([[compact]]).
    val clusterLines =
      if (clusterBy.isEmpty) Seq.empty[String]
      else {
        declared = declared.withWriterFeature("clustering")
          .withWriterFeature("domainMetadata")
        val phys = clusterBy.map(c => schemaOut.fields
          .find(_.name.equalsIgnoreCase(c)).fold(c)(physicalNameOf))
        Seq(domainMetadataLine(ClusteringDomain, clusteringConfig(phys)))
      }
    val proto =
      if (declared == basicProtocol) Seq.empty else Seq(declared.render)
    writeCommit(spark, table, 0L,
      proto ++ Seq(metaDataLine(table, schemaOut, partitionBy,
        properties ++ mapCfg)) ++ clusterLines,
      "CREATE TABLE")
  }

  /** TRUNCATE TABLE: one metadata commit tombstoning every live file —
    * schema, partition layout, and properties survive; the data is
    * gone from the next snapshot on (and physically after VACUUM ages
    * the tombstones out). O(live files) metadata, STREAMED through
    * [[writeCommitStreamed]] so a 10⁷-file truncate never materializes
    * the manifest driver-side. Same posture screens as DELETE:
    * appendOnly refuses, CDF-enabled refuses (a data-changing commit
    * without cdc files would silently vanish from a real reader's
    * feed). */
  def truncate(spark: SparkSession, table: String,
               readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(tableExists(spark, table), s"TRUNCATE TABLE: $table has no log")
    val readVersion = latestVersion(spark, table)
    requireMappingWritable(latestSchema(spark, table, readVersion),
      table, spark)
    val cfg = tableConfig(spark, table, readVersion)
    if (cfg.get("delta.appendOnly").contains("true"))
      throw new AppendOnlyTableException(table)
    // CDF-enabled tables TRUNCATE fine without cdc files: a
    // remove-only commit's add/remove derivation (every row of every
    // removed file deleted) IS the correct feed — [[cdfDerivableOps]]
    val snapDF = snapshotFilesAt(spark, table, readVersion)
    // one metadata count serves BOTH the emptiness gate and the
    // streamed render's batch sizing (the known-count overload)
    val nFiles = snapDF.count()
    if (nFiles == 0) return readVersion // already empty: no commit
    val now = System.currentTimeMillis()
    def bodyIt: Iterator[String] =
      localRowIterator(snapDF.select("path"), nFiles, 100000L)
        .map(r => removeLine(r.getString(0), dataChange = true, now))
    beforeDmlCommitHook()
    writeCommitStreamed(spark, table, readVersion + 1, Seq.empty, bodyIt,
      "TRUNCATE")
  }

  /** CREATE OR REPLACE TABLE: on a fresh path this is
    * [[createTable]]; on an existing table it is ONE commit that swaps
    * the declared schema/partitioning/properties AND tombstones every
    * live file (Delta's REPLACE semantics: the table identity and
    * history survive, the contents and contract are new). The manifest
    * streams like [[truncate]]'s; the new properties REPLACE the old
    * configuration wholesale. */
  def replaceTable(spark: SparkSession, table: String,
                   schema: org.apache.spark.sql.types.StructType,
                   partitionBy: Seq[String] = Nil,
                   properties: Map[String, String] = Map.empty,
                   readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    requireValidIsolation(properties)
    if (!tableExists(spark, table))
      return createTable(spark, table, schema, partitionBy, properties)
    val missing = partitionBy.filterNot(p =>
      schema.fieldNames.exists(_.equalsIgnoreCase(p)))
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(", ")} not in the schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    val readVersion = latestVersion(spark, table)
    requireMappingWritable(latestSchema(spark, table, readVersion),
      table, spark)
    val cfg = tableConfig(spark, table, readVersion)
    if (cfg.get("delta.appendOnly").contains("true"))
      throw new AppendOnlyTableException(table)
    // CDF survives REPLACE without cdc files: old era all-deleted, new
    // era all-inserted — the add/remove derivation is exactly right
    // feature-enabling properties upgrade the protocol exactly as a
    // CREATE would declare them (never a downgrade — the resolved
    // protocol is the floor)
    val resolved = tableState(spark, table, readVersion).proto
    var p = resolved
    if (properties.get("delta.enableDeletionVectors").contains("true"))
      p = p.withDeletionVectors
    if (properties.get("delta.enableRowTracking").contains("true"))
      p = p.withWriterFeature("rowTracking")
        .withWriterFeature("domainMetadata")
    if (properties.get("delta.enableChangeDataFeed").contains("true"))
      p = p.withWriterFeature("changeDataFeed")
    if (defaultedPathsDeep(schema).nonEmpty)
      p = p.withWriterFeature("allowColumnDefaults")
    if (schema.fields.exists(f => containsVariant(f.dataType)))
      p = p.withFeature("variantType")
    // REPLACE declaring a mapping mode assigns fresh metadata exactly
    // like CREATE (the old contents are tombstoned in this same
    // commit, so nothing on disk constrains the assignment) — without
    // this, the mode would land in the config over an UNMAPPED schema
    // and every subsequent read would refuse the table as malformed.
    // Ids ratchet past the old maxColumnId (Delta's monotonicity rule:
    // a stale reader of the pre-replace schema must never see its ids
    // reused for different columns).
    val (schemaOut, mapCfg) =
      properties.get("delta.columnMapping.mode") match {
        case None | Some("none") => (schema, Map.empty[String, String])
        case Some("name") | Some("id") =>
          val startId = cfg.get("delta.columnMapping.maxColumnId")
            .map(_.toLong).getOrElse(0L)
          val (mapped, maxId) = assignMapping(schema, startId)
          p = p.withColumnMapping
          (mapped, Map("delta.columnMapping.maxColumnId" -> maxId.toString))
        case Some(other) => throw new IllegalArgumentException(
          s"cannot replace $table with delta.columnMapping.mode=$other " +
            "— supported modes: none, name, id")
      }
    val protoLines = if (p == resolved) Seq.empty else Seq(p.render)
    val now = System.currentTimeMillis()
    val snapDF = snapshotFilesAt(spark, table, readVersion)
    def bodyIt: Iterator[String] =
      localRowIterator(snapDF.select("path"))
        .map(r => removeLine(r.getString(0), dataChange = true, now))
    beforeDmlCommitHook()
    val v = writeCommitStreamed(spark, table, readVersion + 1,
      protoLines :+ metaDataLine(table, schemaOut, partitionBy,
        properties ++ mapCfg),
      bodyIt, "REPLACE TABLE")
    invalidateSnapshot(table)
    v
  }

  /** ALTER TABLE ... ADD COLUMNS: appends nullable columns to the
    * declared schema in one metadata commit — existing files read the
    * new columns as null (the engine's standard evolution-read rule),
    * zero data rewritten. Name collisions (case-insensitive, Spark's
    * resolution rule) are refused. */
  /** Assign mapping metadata to NEW fields joining a mapped table's
    * schema ([[addColumns]] and the mapped-evolution append): each gets
    * a FRESH physical name (never a reused logical one — a
    * dropped-then-readded column must not resurrect the old column's
    * data) and the next ids past `delta.columnMapping.maxColumnId`,
    * which the returned config ratchets. Underscore form keeps the
    * stats-skipping JSON paths parseable. */
  private def assignMappingMeta(
      cols: Seq[org.apache.spark.sql.types.StructField],
      cfg: Map[String, String])
      : (Seq[org.apache.spark.sql.types.StructField],
         Map[String, String]) = {
    val (st, cfg2) = assignMappingMetaDeep(
      org.apache.spark.sql.types.StructType(cols.toIndexedSeq), cfg)
    (st.fields.toSeq, cfg2)
  }

  /** Deep form (r17, closing the nested-evolution-on-mapped refusal):
    * walk a MERGED schema and stamp fresh mapping metadata onto every
    * field that lacks it — at ANY depth, delta-spark assigns ids at
    * every nesting level — pre-order, ratcheting past maxColumnId.
    * Fields already mapped (everything the table declared before the
    * evolution) pass through verbatim, so the call is idempotent and
    * safe over a schema that is only PARTLY new (a struct column
    * growing one nested field). */
  private def assignMappingMetaDeep(
      merged: org.apache.spark.sql.types.StructType,
      cfg: Map[String, String])
      : (org.apache.spark.sql.types.StructType, Map[String, String]) = {
    import org.apache.spark.sql.types._
    var next = cfg.get("delta.columnMapping.maxColumnId")
      .map(_.toLong).getOrElse(0L)
    def mapField(f: StructField): StructField = {
      val f2 =
        if (f.metadata.contains(PhysNameKey)) f
        else {
          next += 1
          val phys = s"col_${next}_" +
            java.util.UUID.randomUUID().toString.take(8)
          f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata).putString(PhysNameKey, phys)
            .putLong(MapIdKey, next).build())
        }
      f2.copy(dataType = walk(f2.dataType))
    }
    def walk(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(mapField))
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType => m.copy(keyType = walk(m.keyType),
        valueType = walk(m.valueType))
      case other => other
    }
    (StructType(merged.fields.map(mapField)),
      cfg + ("delta.columnMapping.maxColumnId" -> next.toString))
  }

  /** Carry established mapping metadata from a declared field onto a
    * same-named incoming one — RECURSIVELY, so the nested fields of a
    * struct surviving an overwriteSchema swap keep resolving to the
    * same physical columns. Fields the declared side lacks pass
    * through untouched for [[assignMappingMetaDeep]] to stamp fresh. */
  private def carryMappingMeta(
      old: org.apache.spark.sql.types.StructField,
      f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.types.StructField = {
    import org.apache.spark.sql.types._
    val meta =
      if (!old.metadata.contains(PhysNameKey)) f.metadata
      else {
        val mb = new MetadataBuilder().withMetadata(f.metadata)
          .putString(PhysNameKey, old.metadata.getString(PhysNameKey))
        if (old.metadata.contains(MapIdKey))
          mb.putLong(MapIdKey, old.metadata.getLong(MapIdKey))
        mb.build()
      }
    def walk(odt: DataType, fdt: DataType): DataType = (odt, fdt) match {
      case (o: StructType, s: StructType) =>
        StructType(s.fields.map { sf =>
          o.fields.find(_.name.equalsIgnoreCase(sf.name)) match {
            case Some(osf) => carryMappingMeta(osf, sf)
            case None => sf
          }
        })
      case (o: ArrayType, a: ArrayType) =>
        a.copy(elementType = walk(o.elementType, a.elementType))
      case (o: MapType, m: MapType) =>
        m.copy(keyType = walk(o.keyType, m.keyType),
          valueType = walk(o.valueType, m.valueType))
      case _ => fdt
    }
    f.copy(dataType = walk(old.dataType, f.dataType), metadata = meta)
  }

  /** ALTER TABLE ... ADD COLUMNS — one metadata commit appending
    * nullable columns; existing files read them as null. Since r17 a
    * column name may be a dotted NESTED path (`a.c` appends field c
    * inside struct a, delta-spark's syntax) — the leaf is forced
    * nullable and, on mapped tables, gets its fresh physicalName/id at
    * depth like every other evolution. */
  def addColumns(spark: SparkSession, table: String,
                 cols: Seq[org.apache.spark.sql.types.StructField],
                 readOnly: Boolean = false): Long =
    addColumnsAt(spark, table, cols.map { f =>
      val path = f.name.split("\\.").toSeq
      (path, f.copy(name = path.last))
    }, readOnly)

  /** Path-parts form of [[addColumns]]: each entry pairs the FULL
    * dotted path (ending at the new field's name) with the field
    * definition carrying the BARE leaf name — the SQL layer threads
    * the parser's segments through unjoined, so a backtick-quoted
    * identifier containing a literal dot never reads as nesting. */
  def addColumnsAt(spark: SparkSession, table: String,
                   cols: Seq[(Seq[String],
                     org.apache.spark.sql.types.StructField)],
                   readOnly: Boolean = false): Long =
    addColumnsPositioned(spark, table,
      cols.map(c => (c._1, c._2, None)), readOnly)

  /** [[addColumnsAt]] with an optional POSITION per column (r18,
    * delta-spark's `ADD COLUMNS (c TYPE FIRST / AFTER other)`):
    * `None` appends at the end, `Some(None)` is FIRST, `Some(Some(a))`
    * inserts after sibling `a` — among the TOP-level columns or inside
    * the parent struct of a nested path. Position is declaration
    * metadata only (name-resolved reads), same contract as
    * [[moveColumn]]. */
  def addColumnsPositioned(spark: SparkSession, table: String,
                   cols: Seq[(Seq[String],
                     org.apache.spark.sql.types.StructField,
                     Option[Option[String]])],
                   readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema — nothing to evolve"))
    requireMappingWritable(Some(declared), table, spark)
    val (nested, top0) = cols.partition(_._1.length > 1)
    val top = top0.map(_._2)
    val clash = top.map(_.name).filter(n =>
      declared.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"column(s) already exist: ${clash.mkString(", ")}")
    val dup = cols.groupBy(_._1.map(_.toLowerCase)).collect {
      case (_, vs) if vs.size > 1 => vs.head._1.mkString(".") }
    require(dup.isEmpty, s"duplicate new column(s): ${dup.mkString(", ")}")
    // a generation expression is materialized/validated on writes at
    // the TOP level only ([[applyGenerated]]): declaring one on a
    // nested field would record an obligation no write enforces —
    // refuse loudly (delta-spark does not support nested generated
    // columns either)
    val nestedGen = nested.filter(_._2.metadata.contains(GenExprKey))
    require(nestedGen.isEmpty,
      s"ADD COLUMNS: generated columns must be top-level (got " +
        s"${nestedGen.map(_._1.mkString(".")).mkString(", ")})")
    val cfg = tableConfig(spark, table, readVersion)
    // insert `leaf` into `st` at `pos` (None = append, Some(None) =
    // FIRST, Some(Some(a)) = AFTER sibling a) — [[moveColumn]]'s rule
    def insertField(st: org.apache.spark.sql.types.StructType,
                    leaf: org.apache.spark.sql.types.StructField,
                    pos: Option[Option[String]], where: String)
        : org.apache.spark.sql.types.StructType = {
      val at = pos match {
        case None => st.fields.length
        case Some(None) => 0
        case Some(Some(a)) =>
          val i = st.fields.indexWhere(_.name.equalsIgnoreCase(a))
          require(i >= 0, s"no such column: $a$where")
          i + 1
      }
      org.apache.spark.sql.types.StructType(
        st.fields.toIndexedSeq.patch(at, Seq(leaf), 0))
    }
    val withNested = nested.foldLeft(declared) {
      case (sch, (path, f, pos)) =>
        // forced nullable: every existing row reads the new field as
        // null
        val leaf = f.copy(nullable = true)
        // the parent path may end INSIDE an array/map (`a.element.x`
        // appends x to a's element struct, r18): rewrite at the last
        // named field and descend the trailing container run to the
        // struct that grows
        val (fieldPath, suffix) = splitTrailingContainers(sch, path.init)
        import org.apache.spark.sql.types._
        rewriteFieldAt(sch, fieldPath, "ADD COLUMNS") { (_, pf) =>
          Some(pf.copy(dataType =
            rewriteTypeAtSuffix(pf.dataType, suffix, "ADD COLUMNS") {
              case st: StructType =>
                require(!st.fieldNames.exists(
                    _.equalsIgnoreCase(leaf.name)),
                  s"column(s) already exist: ${path.mkString(".")}")
                insertField(st, leaf, pos,
                  s" inside ${path.init.mkString(".")}")
              case other => throw new IllegalArgumentException(
                s"ADD COLUMNS: ${path.init.mkString(".")} is " +
                  s"${other.simpleString}, not a struct — nested " +
                  "paths address struct fields only")
            }))
        }
    }
    val merged0 = top0.foldLeft(withNested) {
      case (sch, (_, f, pos)) => insertField(sch, f, pos, "")
    }
    val (merged, cfg2) =
      if (!isColumnMapped(declared)) (merged0, cfg)
      else assignMappingMetaDeep(merged0, cfg)
    val parts = partitionColumns(spark, table)
    // adding a generated column upgrades the writer contract in the
    // same commit (legacy v4, or the feature on a v7 table); a VARIANT
    // column pulls in the variantType reader+writer feature the same
    // way
    val genProto = {
      val needsGen = cols.exists(_._2.metadata.contains(GenExprKey))
      val needsVariant = cols.exists(c => containsVariant(c._2.dataType))
      if (!needsGen && !needsVariant) Seq.empty
      else {
        val cur = tableState(spark, table, readVersion).proto
        var up = cur
        if (needsGen) {
          up = if (up.minWriter >= 7) up.withWriterFeature(
            "generatedColumns")
          else if (up.minWriter < 4)
            ProtocolAction(up.minReader, 4, Nil, Nil)
          else up
        }
        if (needsVariant) up = up.withFeature("variantType")
        if (up == cur) Seq.empty else Seq(up.render)
      }
    }
    writeCommit(spark, table, readVersion + 1,
      genProto ++ Seq(metaDataLine(table, merged, parts, cfg2)),
      "ADD COLUMNS")
  }

  /** ALTER TABLE ... ALTER COLUMN c SET DEFAULT e / DROP DEFAULT — one
    * metadata commit updating the field's `CURRENT_DEFAULT` (Spark's
    * own key, delta-spark's wire shape). SET validates the expression
    * is a CONSTANT (analyzed against a columnless frame — a default
    * referencing other columns must refuse, Delta's rule) and declares
    * the `allowColumnDefaults` writer feature in the same commit when
    * the protocol lacks it. Applies to FUTURE writes only: existing
    * rows keep their stored values (every write materializes, so no
    * row on disk ever "reads through" a default). DROP removes the
    * obligation; the feature stays declared (features never retract).
    *
    * INTEROP CAVEAT — nested paths: this engine accepts dotted struct
    * paths (`meta.score SET DEFAULT`) and its own writes materialize
    * the deep fill ([[applyDefaults]]); stock delta-spark declares
    * `CURRENT_DEFAULT` on TOP-LEVEL columns only, so on a table shared
    * with other allowColumnDefaults-compliant writers a nested default
    * fills only for rows THIS engine wrote — keep defaults top-level
    * on cross-writer tables. Paths through arrays/maps refuse
    * (structOnly below): an element has no omission event to
    * materialize at — elements arrive wholesale. */
  def setColumnDefault(spark: SparkSession, table: String, column: String,
                       defaultSql: Option[String],
                       readOnly: Boolean = false): Long =
    setColumnDefault(spark, table, column.split("\\.").toSeq, defaultSql,
      readOnly)

  def setColumnDefault(spark: SparkSession, table: String,
                       path: Seq[String], defaultSql: Option[String],
                       readOnly: Boolean): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    val column = path.mkString(".")
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    requireMappingWritable(Some(declared), table, spark)
    // structOnly: a default inside an array/map element has no
    // omission event to materialize at (elements arrive wholesale)
    val schema2 = rewriteFieldAt(declared, path, "ALTER COLUMN",
        structOnly = true) { (_, f) =>
      val f2 = defaultSql match {
        case Some(sql) =>
          // constant-only, checked in two layers: first reject any column
          // reference syntactically (the eval frame below is built on
          // spark.range(1), which exposes an `id` column a reference
          // could silently resolve against), then evaluate for type fit
          val refs = org.apache.spark.sql.catalyst.parser
            .CatalystSqlParser.parseExpression(sql).collect {
              case a: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => a.name
            }
          if (refs.nonEmpty) throw new IllegalArgumentException(
            s"DEFAULT for $column must be a constant expression of " +
              s"type ${f.dataType.simpleString}: $sql references " +
              s"column(s) ${refs.distinct.mkString(", ")}")
          try spark.range(1).select(expr(sql).cast(f.dataType)).head()
          catch {
            case e: Exception => throw new IllegalArgumentException(
              s"DEFAULT for $column must be a constant expression of " +
                s"type ${f.dataType.simpleString}: $sql (${e.getMessage})")
          }
          f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(CurrentDefaultKey, sql).build())
        case None =>
          require(f.metadata.contains(CurrentDefaultKey),
            s"$column has no DEFAULT to drop")
          f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).remove(CurrentDefaultKey).build())
      }
      Some(f2)
    }
    val protoLines =
      if (defaultSql.isEmpty) Seq.empty
      else {
        val cur = tableState(spark, table, readVersion).proto
        val up = cur.withWriterFeature("allowColumnDefaults")
        if (up == cur) Seq.empty else Seq(up.render)
      }
    writeCommit(spark, table, readVersion + 1,
      protoLines ++ Seq(metaDataLine(table, schema2,
        partitionColumns(spark, table),
        tableConfig(spark, table, readVersion))),
      "ALTER COLUMN")
  }

  /** The Delta typeWidening feature's allowed no-rewrite widenings:
    * existing (narrower) files read through Spark's parquet upcast, so
    * widening is one metadata commit. The matrix is the spec's:
    * integral chain byte→short→int→long, float→double, integral→double,
    * date→timestamp_ntz, decimal precision growth with non-shrinking
    * scale headroom, and integral→decimal with enough integer digits. */
  private def isWidening(from: org.apache.spark.sql.types.DataType,
                         to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    // the spec's integral→decimal matrix requires precision−scale ≥ 10
    // for byte/short/int and ≥ 20 for long — NOT merely enough digits
    // to hold the source range. A laxer threshold (byte→3) would record
    // a delta.typeChanges entry outside the spec matrix, which
    // compliant readers validate and reject (table unreadable to them).
    def intDigits(t: DataType): Option[Int] = t match {
      case ByteType | ShortType | IntegerType => Some(10)
      case LongType => Some(20)
      case _ => None
    }
    (from, to) match {
      case (a, b) if a == b => false // not a change at all
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          (d2.precision - d2.scale) >= (d1.precision - d1.scale) &&
          (d2.precision > d1.precision || d2.scale > d1.scale)
      case (f, d: DecimalType) =>
        intDigits(f).exists(n => (d.precision - d.scale) >= n)
      case _ => false
    }
  }

  /** ALTER TABLE ... ALTER COLUMN c TYPE <wider> — Delta typeWidening:
    * ONE metadata commit re-declares the column at the wider type and
    * appends the change to the field's `delta.typeChanges` metadata
    * (the spec's record of every widening, which a reader may use to
    * plan upcasts); the typeWidening table feature (reader + writer —
    * a pre-feature reader would mis-type the narrow files) joins the
    * protocol in the same commit. No file is rewritten: reads scan
    * under the DECLARED (wide) schema and Spark's parquet reader
    * upcasts the narrow files. Non-widening changes refuse — they
    * would need a rewrite. */
  def widenColumnType(spark: SparkSession, table: String, column: String,
                      to: org.apache.spark.sql.types.DataType,
                      readOnly: Boolean = false): Long =
    widenColumnType(spark, table, column.split("\\.").toSeq, to, readOnly)

  /** Path-parts form (the SQL front door threads the parser's
    * multipart name through UNJOINED, so a backtick-quoted identifier
    * containing a literal dot is never conflated with a nested path). */
  def widenColumnType(spark: SparkSession, table: String,
                      path: Seq[String],
                      to: org.apache.spark.sql.types.DataType,
                      readOnly: Boolean): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    val column = path.mkString(".")
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    requireMappingWritable(Some(declared), table, spark)
    require(path.length > 1 || !partitionColumns(spark, table)
        .exists(_.equalsIgnoreCase(column)),
      s"cannot widen partition column $column — the Hive directory " +
        "values are typed by the layout")
    // expressions are NOT width-stable: hash(int) != hash(long) for the
    // same value, so widening a column a CHECK constraint or another
    // field's generation expression reads would silently diverge
    // recomputation from stored values — refuse, like delta-spark
    // (nested paths match the full dotted path since r18)
    requireNotInConstraints(tableConfig(spark, table, readVersion),
      path, "ALTER")
    requireNotInGenerated(declared, path, "ALTER")
    // since r17 `column` may be a dotted NESTED path: the
    // delta.typeChanges record lives on the nested field itself (each
    // StructField carries its own metadata, the spec's shape), and the
    // narrow files upcast through the same declared-schema read.
    // Since r18 a TRAILING element/key/value run widens the type
    // INSIDE the last named field (`a.element`, `m.value` —
    // delta-spark's array/map widening surface); the record then
    // carries the spec's `fieldPath` pointing inside that field.
    val (fieldPath, suffix) = splitTrailingContainers(declared, path)
    val schema2 = rewriteFieldAt(declared, fieldPath, "ALTER COLUMN") {
      (_, f) =>
        import org.apache.spark.sql.types._
        var fromLeaf: DataType = f.dataType
        val newType = rewriteTypeAtSuffix(f.dataType, suffix,
            s"ALTER COLUMN ${path.mkString(".")}") { dt =>
          fromLeaf = dt
          require(isWidening(dt, to),
            s"ALTER COLUMN TYPE only widens without a rewrite: " +
              s"${dt.simpleString} -> ${to.simpleString} is " +
              "not a supported widening (byte->short->int->long, " +
              "float->double, integral->double, date->timestamp_ntz, " +
              "decimal growth)")
          to
        }
        val cb = new org.apache.spark.sql.types.MetadataBuilder()
        if (suffix.nonEmpty)
          cb.putString("fieldPath", suffix.mkString("."))
        val change = cb.putString("fromType", fromLeaf.typeName)
          .putString("toType", to.typeName).build()
        val prior =
          if (f.metadata.contains("delta.typeChanges"))
            f.metadata.getMetadataArray("delta.typeChanges").toSeq
          else Seq.empty
        Some(f.copy(dataType = newType,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putMetadataArray("delta.typeChanges",
              (prior :+ change).toArray).build()))
    }
    val cur = tableState(spark, table, readVersion).proto
    val up = cur.withFeature("typeWidening")
    val protoLines = if (up == cur) Seq.empty else Seq(up.render)
    writeCommit(spark, table, readVersion + 1,
      protoLines :+ metaDataLine(table, schema2,
        partitionColumns(spark, table),
        tableConfig(spark, table, readVersion)),
      "ALTER COLUMN")
  }

  /** ALTER TABLE ... REPLACE COLUMNS (c1 T1, c2 T2, ...) — one
    * metadata commit RE-DECLARING the top-level column list
    * (delta-spark's verb): columns absent from the new list DROP
    * (metadata-only — mapping keeps their bytes dark, same rule as
    * DROP COLUMN), new columns ADD (forced nullable: existing rows
    * read null; fresh physicalName/id), and SURVIVING same-name
    * columns may REORDER and re-comment but keep their exact TYPE
    * (changing a type needs the widening verb or a rewrite) and their
    * FULL established metadata — mapping ids, delta.typeChanges,
    * identity marks, defaults — because silently shedding those would
    * break narrow-file reads / chain invariants / fill obligations.
    * Requires column mapping, like DROP COLUMN and for the same
    * reason; dropped columns hit the same constraint/generated
    * guards; partition columns must survive (the directory layout
    * encodes them). */
  def replaceColumns(spark: SparkSession, table: String,
                     cols: Seq[org.apache.spark.sql.types.StructField],
                     readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    import org.apache.spark.sql.types._
    require(cols.nonEmpty, "REPLACE COLUMNS needs at least one column")
    val dup = cols.groupBy(_.name.toLowerCase).collect {
      case (_, vs) if vs.size > 1 => vs.head.name }
    require(dup.isEmpty,
      s"duplicate column(s) in REPLACE COLUMNS: ${dup.mkString(", ")}")
    val readVersion = latestVersion(spark, table)
    val cfg = tableConfig(spark, table, readVersion)
    require(cfg.get("delta.columnMapping.mode").exists(Set("name", "id")),
      s"REPLACE COLUMNS needs column mapping (mode name or id): ALTER " +
        "TABLE ... SET TBLPROPERTIES ('delta.columnMapping.mode' = " +
        "'name') first")
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    requireMappingWritable(Some(declared), table, spark)
    val missingParts = partitionColumns(spark, table).filterNot(pc =>
      cols.exists(_.name.equalsIgnoreCase(pc)))
    require(missingParts.isEmpty,
      s"REPLACE COLUMNS must keep partition column(s) " +
        s"${missingParts.mkString(", ")} — the directory layout " +
        "encodes them")
    val dropped = declared.fields.filterNot(of =>
      cols.exists(_.name.equalsIgnoreCase(of.name)))
    dropped.foreach { d =>
      requireNotInConstraints(cfg, Seq(d.name), "DROP")
      requireNotInGenerated(declared, Seq(d.name), "DROP")
    }
    // same clustering guard as [[dropColumn]]: the delta.clustering
    // domain stores PHYSICAL names, so letting REPLACE COLUMNS shed a
    // clustering column would leave the domain pointing at a dead
    // physical name and break every later bare OPTIMIZE/compact
    val clustered = clusteringPhysicalCols(tableState(spark, table,
      readVersion))
    if (dropped.nonEmpty && clustered.nonEmpty) {
      dropped.foreach { d =>
        require(!clustered.exists(_.contains(physicalNameOf(d))),
          s"REPLACE COLUMNS cannot drop ${d.name}: it is a " +
            "clustering column — ALTER TABLE ... CLUSTER BY a layout " +
            "without it first")
      }
    }
    val out = cols.map { f =>
      declared.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(old) =>
          require(DataType.equalsIgnoreNullability(old.dataType,
              f.dataType),
            s"REPLACE COLUMNS cannot change ${old.name}: " +
              s"${old.dataType.simpleString} -> " +
              s"${f.dataType.simpleString} (use ALTER COLUMN TYPE for " +
              "a widening; anything else needs a rewrite)")
          // survivor: full old metadata + the new comment (set or
          // cleared by the restated list), old name spelling kept
          val mb = new MetadataBuilder().withMetadata(old.metadata)
          val meta =
            (if (f.metadata.contains("comment"))
              mb.putString("comment", f.metadata.getString("comment"))
            else mb.remove("comment")).build()
          old.copy(metadata = meta,
            nullable = old.nullable || f.nullable)
        case None =>
          // a NEW column may not smuggle in a generation or default
          // obligation: those keys imply writer features
          // (generatedColumns / allowColumnDefaults) this one-commit
          // re-declaration does not negotiate, and the SQL surface
          // refuses them here too — use ADD COLUMNS (generated) or
          // ALTER COLUMN ... SET DEFAULT, which upgrade the protocol
          // in their own commit
          require(!f.metadata.contains(GenExprKey),
            s"REPLACE COLUMNS cannot introduce generated column " +
              s"${f.name}: use ADD COLUMNS, which declares the " +
              "generatedColumns writer feature in the same commit")
          require(!f.metadata.contains(CurrentDefaultKey),
            s"REPLACE COLUMNS cannot introduce a DEFAULT on new " +
              s"column ${f.name}: declare the list, then ALTER " +
              "COLUMN ... SET DEFAULT (which declares the " +
              "allowColumnDefaults writer feature)")
          // nor pre-stamped mapping metadata: a caller-supplied
          // physicalName on a NEW column could only alias bytes some
          // DROPPED column left behind — the no-resurrection contract
          // says new columns get FRESH physical names, assigned here
          require(!f.metadata.contains(PhysNameKey) &&
              !f.metadata.contains(MapIdKey),
            s"REPLACE COLUMNS: new column ${f.name} carries column-" +
              "mapping metadata — physical names are assigned by the " +
              "engine (a caller-chosen one could resurrect dropped " +
              "bytes)")
          f.copy(nullable = true)
      }
    }
    val (merged, cfg2) = assignMappingMetaDeep(StructType(out), cfg)
    val needsVariant = out.exists(f => containsVariant(f.dataType)) &&
      !declared.fields.exists(f => containsVariant(f.dataType))
    val protoLines =
      if (!needsVariant) Seq.empty
      else {
        val cur = tableState(spark, table, readVersion).proto
        val up = cur.withFeature("variantType")
        if (up == cur) Seq.empty else Seq(up.render)
      }
    writeCommit(spark, table, readVersion + 1,
      protoLines ++ Seq(metaDataLine(table, merged,
        partitionColumns(spark, table), cfg2)),
      "REPLACE COLUMNS")
  }

  /** ALTER TABLE ... ALTER COLUMN c COMMENT 'txt' — one metadata
    * commit stamping the field's `comment` metadata (Spark's own key;
    * what DESCRIBE/SHOW CREATE render and delta-spark writes). Nested
    * paths compose (incl. through arrays/maps via element/key/value);
    * an empty string clears the comment, matching Spark's surface
    * (COMMENT '' — there is no DROP COMMENT verb). */
  def setColumnComment(spark: SparkSession, table: String,
                       path: Seq[String], comment: String,
                       readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    requireMappingWritable(Some(declared), table, spark)
    val schema2 = rewriteFieldAt(declared, path, "ALTER COLUMN") {
      (_, f) =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        Some(f.copy(metadata =
          (if (comment.isEmpty) mb.remove("comment")
           else mb.putString("comment", comment)).build()))
    }
    writeCommit(spark, table, readVersion + 1,
      Seq(metaDataLine(table, schema2, partitionColumns(spark, table),
        tableConfig(spark, table, readVersion))),
      "ALTER COLUMN")
  }

  /** ALTER TABLE ... ALTER COLUMN c DROP NOT NULL — one metadata
    * commit relaxing the declared field to nullable (Delta's verb; a
    * compliant reader stops validating the contract). SET NOT NULL
    * refuses BY NAME: this engine's write paths deliberately allow
    * subset appends whose omitted columns read null (the Delta
    * null-fill), so declaring NOT NULL would record a contract no
    * write enforces — an enforced `CHECK (c IS NOT NULL)` constraint
    * expresses the same intent through [[addConstraint]], which every
    * row-producing write validates. */
  def setColumnNullability(spark: SparkSession, table: String,
                           path: Seq[String], nullable: Boolean,
                           readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(nullable,
      s"ALTER COLUMN ${path.mkString(".")} SET NOT NULL is not " +
        "supported: this engine's writes allow subset appends whose " +
        "omitted columns read null, so the schema flag would be an " +
        "unenforced contract — ADD CONSTRAINT ... CHECK (" +
        s"${path.mkString(".")} IS NOT NULL) is validated on every " +
        "write instead")
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    requireMappingWritable(Some(declared), table, spark)
    val schema2 = rewriteFieldAt(declared, path, "ALTER COLUMN") {
      (_, f) => Some(f.copy(nullable = true))
    }
    writeCommit(spark, table, readVersion + 1,
      Seq(metaDataLine(table, schema2, partitionColumns(spark, table),
        tableConfig(spark, table, readVersion))),
      "ALTER COLUMN")
  }

  /** ALTER TABLE ... ALTER COLUMN c FIRST / AFTER other — one metadata
    * commit reordering the field among its SIBLINGS (top level, or
    * inside its parent struct at any depth). Order is declaration
    * metadata only: parquet resolution is by name (or by
    * physicalName/field-id on mapped tables), so no file is rewritten
    * and every era keeps reading — the same reason rename needs
    * mapping but reorder does not. `after = None` means FIRST. */
  def moveColumn(spark: SparkSession, table: String, path: Seq[String],
                 after: Option[String],
                 readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    import org.apache.spark.sql.types._
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    requireMappingWritable(Some(declared), table, spark)
    def reorder(st: StructType): StructType = {
      val idx = st.fields.indexWhere(
        _.name.equalsIgnoreCase(path.last))
      require(idx >= 0, s"no such column: ${path.mkString(".")}")
      val f = st.fields(idx)
      val rest = st.fields.toIndexedSeq.patch(idx, Nil, 1)
      val at = after match {
        case None => 0
        case Some(a) =>
          require(!a.equalsIgnoreCase(path.last),
            s"ALTER COLUMN ${path.mkString(".")}: AFTER itself")
          val i = rest.indexWhere(_.name.equalsIgnoreCase(a))
          require(i >= 0, s"no such column: $a" +
            (if (path.length > 1) s" inside ${path.init.mkString(".")}"
             else ""))
          i + 1
      }
      StructType(rest.patch(at, Seq(f), 0))
    }
    val schema2 =
      if (path.length == 1) reorder(declared)
      else {
        // the parent path may end inside an array/map — descend the
        // trailing container run to the struct whose siblings reorder
        val (fieldPath, suffix) = splitTrailingContainers(declared,
          path.init)
        rewriteFieldAt(declared, fieldPath, "ALTER COLUMN") { (_, pf) =>
          Some(pf.copy(dataType =
            rewriteTypeAtSuffix(pf.dataType, suffix, "ALTER COLUMN") {
              case st: StructType => reorder(st)
              case other => throw new IllegalArgumentException(
                s"ALTER COLUMN: ${path.init.mkString(".")} is " +
                  s"${other.simpleString}, not a struct")
            }))
        }
      }
    writeCommit(spark, table, readVersion + 1,
      Seq(metaDataLine(table, schema2, partitionColumns(spark, table),
        tableConfig(spark, table, readVersion))),
      "ALTER COLUMN")
  }

  /** ALTER TABLE ... ALTER COLUMN c SYNC IDENTITY — Delta's identity
    * resync: recompute `delta.identity.highWaterMark` from the values
    * actually STORED in the column. The verb exists for GENERATED BY
    * DEFAULT columns, where explicit inserts can land values the mark
    * never saw (delta-spark allows the reverse drift too — a mark
    * beyond freshly-deleted rows re-tightens to the surviving data,
    * reclaiming chain range on the user's explicit request). The new
    * mark is the extremum of the stored values in step direction (max
    * for positive step, min for negative); an empty or all-null column
    * CLEARS the mark, so the next assignment restarts at `start`. One
    * metadata commit, PINNED at readVersion + 1 like every
    * mark-advancing write (a concurrent identity append reading the
    * stale mark must conflict, not silently overlap). Returns the new
    * mark. Cost: one aggregate over the single column — column-pruned
    * scan, no shuffle. */
  def syncIdentity(spark: SparkSession, table: String, column: String,
                   readOnly: Boolean = false): Option[Long] = {
    if (readOnly) throw new ReadOnlyTableException(table)
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    val f = declared.fields.find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column $column in $table " +
          s"(has ${declared.fieldNames.mkString(", ")})"))
    require(f.metadata.contains(IdentityStartKey),
      s"SYNC IDENTITY: $column is not an identity column")
    val step =
      if (f.metadata.contains(IdentityStepKey))
        f.metadata.getLong(IdentityStepKey)
      else 1L
    // read AT the pinned version: the TTL-cached latest snapshot can
    // lag readVersion, and a stale extremum would commit a too-low
    // mark that later assignments duplicate from
    val mx = readFiltered(spark, table, Seq.empty,
      versionAsOf = Some(readVersion)).agg(
      (if (step > 0) max(col(s"`${f.name}`"))
      else min(col(s"`${f.name}`"))).cast("long")).collect().head
    val newHwm: Option[Long] =
      if (mx.isNullAt(0)) None else Some(mx.getLong(0))
    val prior: Option[Long] =
      if (f.metadata.contains(IdentityHwmKey))
        Some(f.metadata.getLong(IdentityHwmKey))
      else None
    if (newHwm != prior) {
      // MetadataBuilder has no remove — clearing round-trips the field
      // metadata through its JSON form minus the key, preserving every
      // unrelated entry (comments, typeChanges, mapping ids)
      val m2 = newHwm match {
        case Some(v) => new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(IdentityHwmKey, v).build()
        case None =>
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(f.metadata.json)
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          node.remove(IdentityHwmKey)
          org.apache.spark.sql.types.Metadata.fromJson(node.toString)
      }
      val f2 = f.copy(metadata = m2)
      val schema2 = org.apache.spark.sql.types.StructType(
        declared.fields.map(fd => if (fd.name == f.name) f2 else fd))
      writeCommit(spark, table, readVersion + 1,
        Seq(metaDataLine(table, schema2, partitionColumns(spark, table),
          tableConfig(spark, table, readVersion))),
        "ALTER COLUMN")
      invalidateSnapshot(table)
    }
    newHwm
  }

  /** Split `path` after the LAST segment that resolves as a struct
    * FIELD under `schema`, walking Delta's element/key/value container
    * segments by TYPE — field resolution wins over the container
    * keywords (a literal column named `element` stays a field,
    * matching [[rewriteFieldAt]]'s precedence), so the returned suffix
    * is exactly the trailing container run addressing INSIDE the last
    * named field (`a.element`, `m.value`). A path that resolves to no
    * field at all returns `(path, Nil)` and the caller's rewrite
    * refuses it loudly by name. */
  private def splitTrailingContainers(
      schema: org.apache.spark.sql.types.StructType,
      path: Seq[String]): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    var cur: Option[DataType] = Some(schema)
    var lastField = -1
    for ((seg, i) <- path.zipWithIndex) {
      cur = cur.flatMap {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(seg)).map { f =>
            lastField = i; f.dataType }
        case ArrayType(et, _) if seg.equalsIgnoreCase("element") =>
          Some(et)
        case MapType(kt, _, _) if seg.equalsIgnoreCase("key") => Some(kt)
        case MapType(_, vt, _) if seg.equalsIgnoreCase("value") =>
          Some(vt)
        case _ => None
      }
    }
    val suffix = path.drop(lastField + 1)
    // a suffix holding anything but the container keywords is a
    // MISSING FIELD, not a container descent — return the whole path
    // so the rewrite refuses it by name ("no such column")
    if (lastField < 0 || suffix.exists(s =>
        !Set("element", "key", "value").contains(s.toLowerCase)))
      (path, Seq.empty)
    else (path.take(lastField + 1), suffix)
  }

  /** Rebuild `dt` applying `fn` to the type addressed by a TRAILING
    * run of Delta's element/key/value container segments (empty
    * `suffix` applies `fn` to `dt` itself) — the shared descent for
    * every verb that transforms a type INSIDE the last named field
    * (TYPE widening, positioned nested ADD, nested reorder). A
    * segment that does not address into the current type refuses by
    * name. */
  private def rewriteTypeAtSuffix(
      dt: org.apache.spark.sql.types.DataType,
      suffix: Seq[String], op: String)(
      fn: org.apache.spark.sql.types.DataType =>
          org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    suffix match {
      case Seq() => fn(dt)
      case s +: rest => (dt, s.toLowerCase) match {
        case (ArrayType(et, n), "element") =>
          ArrayType(rewriteTypeAtSuffix(et, rest, op)(fn), n)
        case (MapType(kt, vt, n), "key") =>
          MapType(rewriteTypeAtSuffix(kt, rest, op)(fn), vt, n)
        case (MapType(kt, vt, n), "value") =>
          MapType(kt, rewriteTypeAtSuffix(vt, rest, op)(fn), n)
        case (other, seg) => throw new IllegalArgumentException(
          s"$op: segment $seg does not address into " +
            other.simpleString)
      }
    }
  }

  /** Rebuild `schema` rewriting the struct field at the dotted
    * `path` (case-insensitive per segment, Spark's resolution): `fn`
    * receives the PARENT struct and the addressed field and returns
    * the replacement, or None to drop it. Missing segments refuse by
    * name. Since r18 a path may CROSS arrays and maps with Delta's own
    * path segments — `a.element.x` addresses field x of a's element
    * struct, `m.key.x` / `m.value.x` the key/value struct of map m —
    * matching delta-spark's nested ALTER surface; `structOnly` callers
    * (DEFAULT, which needs an omission event that array/map elements
    * never have) keep the struct-nesting-only refusal. A path ENDING
    * at element/key/value still refuses: those are containers, not
    * fields the verbs address. */
  private def rewriteFieldAt(
      schema: org.apache.spark.sql.types.StructType,
      path: Seq[String], op: String, structOnly: Boolean = false)(
      fn: (org.apache.spark.sql.types.StructType,
           org.apache.spark.sql.types.StructField)
        => Option[org.apache.spark.sql.types.StructField])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    // descend through containers at p.head = element/key/value until a
    // struct surfaces; returns the rebuilt type and the path remainder
    def recType(dt: DataType, p: Seq[String], trail: String): DataType =
      (dt, p.head.toLowerCase) match {
        case (ArrayType(et, n), "element") if !structOnly =>
          require(p.length > 1, s"$op: $trail${p.head} addresses the " +
            "array element itself — ALTER the array column instead")
          ArrayType(recType(et, p.tail, s"$trail${p.head}."), n)
        case (MapType(kt, vt, n), "key") if !structOnly =>
          require(p.length > 1, s"$op: $trail${p.head} addresses the " +
            "map key itself — ALTER the map column instead")
          MapType(recType(kt, p.tail, s"$trail${p.head}."), vt, n)
        case (MapType(kt, vt, n), "value") if !structOnly =>
          require(p.length > 1, s"$op: $trail${p.head} addresses the " +
            "map value itself — ALTER the map column instead")
          MapType(kt, recType(vt, p.tail, s"$trail${p.head}."), n)
        case (st: StructType, _) => rec(st, p, trail)
        case (other, _) => throw new IllegalArgumentException(
          s"$op: $trail${p.head} descends into ${other.simpleString}, " +
            "not a struct — " +
            (if (structOnly) "nested paths address struct fields only"
             else "use element/key/value to cross arrays and maps"))
      }
    def rec(st: StructType, p: Seq[String], trail: String): StructType = {
      val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(p.head))
      require(idx >= 0, s"no such column: $trail${p.head}")
      val f = st.fields(idx)
      if (p.length == 1)
        StructType(fn(st, f)
          .fold(st.fields.toIndexedSeq.patch(idx, Nil, 1))(f2 =>
            st.fields.toIndexedSeq.updated(idx, f2)))
      else
        StructType(st.fields.toIndexedSeq.updated(idx, f.copy(
          dataType = recType(f.dataType, p.tail, s"$trail${p.head}."))))
    }
    rec(schema, path, "")
  }

  /** ALTER TABLE ... RENAME COLUMN — the operation column mapping
    * exists FOR (the reference documents exactly this client hazard,
    * README.md:249-270): one metaData commit changes the LOGICAL name,
    * the physicalName keeps pointing at the bytes already on disk, no
    * file is rewritten. Requires column mapping, either mode (enable
    * name mode with SET TBLPROPERTIES, or declare id mode at CREATE);
    * since r17 `from` may be a dotted NESTED path (`a.b` renames field
    * b inside struct a — legal because mapping metadata lives at every
    * depth, so the nested physicalName keeps pointing at the stored
    * bytes); refuses names a CHECK constraint references (the
    * constraint text would silently stop binding — Delta refuses the
    * same; for nested paths the guard is conservative on the leaf
    * name). */
  def renameColumn(spark: SparkSession, table: String, from: String,
                   to: String, readOnly: Boolean = false): Long =
    renameColumn(spark, table, from.split("\\.").toSeq, to, readOnly)

  /** Path-parts form (see [[widenColumnType]]'s note — the SQL layer
    * passes the parser's segments unjoined). */
  def renameColumn(spark: SparkSession, table: String, path: Seq[String],
                   to: String, readOnly: Boolean): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(!to.contains("."),
      "RENAME COLUMN: the new name must be a bare field name (the " +
        "field stays inside its parent struct)")
    val readVersion = latestVersion(spark, table)
    val cfg = tableConfig(spark, table, readVersion)
    require(cfg.get("delta.columnMapping.mode")
        .exists(Set("name", "id")),
      s"RENAME COLUMN needs column mapping (mode name or id): ALTER " +
        "TABLE ... SET TBLPROPERTIES ('delta.columnMapping.mode' = " +
        "'name') first")
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    requireNotInConstraints(cfg, path, "RENAME")
    requireNotInGenerated(declared, path, "RENAME")
    val schema2 = rewriteFieldAt(declared, path, "RENAME COLUMN") {
      (parent, f) =>
        require(!parent.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column $to already exists" +
            (if (path.length > 1) s" inside ${path.init.mkString(".")}"
             else ""))
        Some(f.copy(name = to))
    }
    writeCommit(spark, table, readVersion + 1,
      Seq(metaDataLine(table, schema2,
        partitionColumns(spark, table), cfg)),
      "RENAME COLUMN")
  }

  /** ALTER TABLE ... DROP COLUMN: a metaData commit without the field —
    * the data stays in the files, unread (Delta's drop is metadata-only
    * too; physical cleanup is a table rewrite). Requires column mapping
    * for the same reason rename does: without it, a later add of the
    * same name would resurrect the dropped bytes. Since r17 `name` may
    * be a dotted NESTED path (`a.b` drops field b inside struct a) —
    * the struct must keep at least one field (parquet cannot store an
    * empty group), and the constraint/generated guards stay
    * conservative on the leaf name. */
  def dropColumn(spark: SparkSession, table: String, name: String,
                 readOnly: Boolean = false): Long =
    dropColumn(spark, table, name.split("\\.").toSeq, readOnly)

  /** Path-parts form (see [[widenColumnType]]'s note). */
  def dropColumn(spark: SparkSession, table: String, path: Seq[String],
                 readOnly: Boolean): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    val name = path.mkString(".")
    val readVersion = latestVersion(spark, table)
    val cfg = tableConfig(spark, table, readVersion)
    require(cfg.get("delta.columnMapping.mode")
        .exists(Set("name", "id")),
      s"DROP COLUMN needs column mapping (mode name or id): ALTER " +
        "TABLE ... SET TBLPROPERTIES ('delta.columnMapping.mode' = " +
        "'name') first")
    val declared = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    requireNotInConstraints(cfg, path, "DROP")
    requireNotInGenerated(declared, path, "DROP")
    // the delta.clustering domain stores PHYSICAL names: dropping a
    // clustering column would leave the domain pointing at a dead
    // physical name, and every later bare OPTIMIZE (and checkpoint
    // domain carry) would target a non-existent column. Refuse
    // (Delta's rule). Clustering columns are top-level by construction,
    // so nested drops skip it.
    val clustered = clusteringPhysicalCols(tableState(spark, table,
      readVersion))
    if (path.length == 1 && clustered.nonEmpty) {
      val idx = declared.fields.indexWhere(_.name.equalsIgnoreCase(name))
      require(idx >= 0, s"no such column: $name")
      val physDropped = physicalNameOf(declared.fields(idx))
      require(!clustered.exists(_.contains(physDropped)),
        s"DROP COLUMN $name refused: it is a clustering column — " +
          "ALTER TABLE ... CLUSTER BY a layout without it first")
    }
    val schema2 = rewriteFieldAt(declared, path, "DROP COLUMN") {
      (parent, _) =>
        require(parent.fields.length > 1,
          if (path.length == 1) "cannot drop the table's only column"
          else s"cannot drop the only field of struct " +
            path.init.mkString("."))
        None
    }
    writeCommit(spark, table, readVersion + 1,
      Seq(metaDataLine(table, schema2,
        partitionColumns(spark, table), cfg)),
      "DROP COLUMNS")
  }

  /** The regexes an expression-text guard uses to decide whether a
    * CHECK constraint / generation expression references the column at
    * `path`. Top-level (length 1): word-boundary match on the bare or
    * backticked name, conservative (r17 behavior). Nested (r18,
    * path-aware — the old leaf-only match refused renaming `meta.a`
    * whenever any constraint mentioned an unrelated top-level `a`):
    *   - the FULL dotted path, each segment optionally backticked,
    *     with `.` counting as a TRAILING boundary so a reference to a
    *     DEEPER field (`meta.a.b`) still blocks altering its ancestor
    *     `meta.a` (the access path goes through it);
    *   - any ANCESTOR struct used WHOLE (`to_json(meta)`, `meta =
    *     ...`): altering a field inside it changes the struct value's
    *     shape. Ancestor-followed-by-`.field` is ordinary field access
    *     and does NOT block — that is the false refusal this fixes. */
  private def pathRefRegexes(path: Seq[String])
      : Seq[scala.util.matching.Regex] = {
    def seg(s: String) = "`?" + java.util.regex.Pattern.quote(s) + "`?"
    if (path.length == 1)
      Seq(("(?i)(^|[^a-z0-9_`])" +
        java.util.regex.Pattern.quote(path.head) + "($|[^a-z0-9_`])").r,
        ("(?i)" + java.util.regex.Pattern.quote(
          s"`${path.head}`")).r)
    else {
      // `\s*\.\s*` between segments: SQL accepts whitespace around the
      // dot in qualified names (`meta . a`), and a guard that missed
      // that spelling would let the rename silently unbind it
      val dot = "\\s*\\.\\s*"
      val full = ("(?i)(^|[^a-z0-9_`])" + path.map(seg).mkString(dot) +
        "($|[^a-z0-9_`])").r
      // ancestor WHOLE-use: not followed by (whitespace-)dot — that
      // would be ordinary field access, which must not block
      val ancestors = (1 until path.length).map { n =>
        ("(?i)(^|[^a-z0-9_`])" + path.take(n).map(seg).mkString(dot) +
          "(?!\\s*\\.)($|[^a-z0-9_`])").r
      }
      full +: ancestors
    }
  }

  /** A CHECK constraint that references the column by name would
    * silently stop binding after a rename/drop — refuse, like Delta
    * (regex match on the constraint SQL; path-aware for nested
    * targets, see [[pathRefRegexes]]). */
  private def requireNotInConstraints(cfg: Map[String, String],
                                      path: Seq[String], op: String): Unit = {
    val res = pathRefRegexes(path)
    val hits = constraintsOf(cfg).filter { case (_, sql) =>
      res.exists(_.findFirstIn(sql).isDefined)
    }
    require(hits.isEmpty,
      s"$op COLUMN ${path.mkString(".")} refused: CHECK constraint(s) " +
        s"${hits.keys.mkString(", ")} reference it — drop them first")
  }

  /** A generation expression that reads the column would silently stop
    * binding (rename/drop) or diverge recomputation from stored values
    * (widen — hash(int) != hash(long)); refuse, like delta-spark. Same
    * path-aware match as the constraint guard. */
  private def requireNotInGenerated(
      schema: org.apache.spark.sql.types.StructType,
      path: Seq[String], op: String): Unit = {
    val res = pathRefRegexes(path)
    val hits = schema.fields.filter { fld =>
      !(path.length == 1 && fld.name.equalsIgnoreCase(path.head)) &&
        fld.metadata.contains(GenExprKey) && {
          val sql = fld.metadata.getString(GenExprKey)
          res.exists(_.findFirstIn(sql).isDefined)
        }
    }
    require(hits.isEmpty,
      s"$op COLUMN ${path.mkString(".")} refused: generated column(s) " +
        s"${hits.map(_.name).mkString(", ")} derive from it")
  }

  /** ALTER TABLE ... DROP CONSTRAINT. */
  def dropConstraint(spark: SparkSession, table: String, name: String,
                     readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    val readVersion = latestVersion(spark, table)
    val cfg = tableConfig(spark, table, readVersion)
    require(cfg.contains(constraintKeyPrefix + name),
      s"no such constraint: $name")
    val schema = latestSchema(spark, table, readVersion).getOrElse(
      sys.error(s"$table has no declared schema"))
    val parts = partitionColsOf(snapshotFilesAt(spark, table, readVersion)
      .select("path").collect().map(_.getString(0)))
    writeCommit(spark, table, readVersion + 1,
      Seq(metaDataLine(table, schema, parts,
        cfg - (constraintKeyPrefix + name))), "DROP CONSTRAINT")
  }

  private def metaDataLine(table: String,
                           schema: org.apache.spark.sql.types.StructType,
                           partitionBy: Seq[String],
                           config: Map[String, String] = Map.empty): String = {
    // protocol shape: schemaString is the schema JSON, carried escaped.
    // id/format are REQUIRED by real readers; the id must be stable
    // across one table's metaData commits, so it is the name-UUID of
    // the table path (relocating a table changes future ids — rare,
    // and readers treat id as informational)
    val id = java.util.UUID
      .nameUUIDFromBytes(s"graft:$table".getBytes("UTF-8")).toString
    val parts = partitionBy.map(jstr).mkString(",")
    val conf = config.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")
    s"""{"metaData":{"id":${jstr(id)},""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(schema.json)},""" +
      s""""partitionColumns":[$parts],"configuration":{$conf}}}"""
  }

  /** Recursive NESTED-struct evolution (delta-spark's autoMerge rule,
    * r16): an incoming STRUCT column may APPEND fields at any depth to
    * the declared struct — declared fields keep their position, type,
    * nullability and metadata; leaf retypes still reject (None); new
    * fields land nullable at the end of their struct. Structs INSIDE
    * arrays and map VALUES evolve the same way (Delta's rule); map
    * KEYS and every scalar pair keep the exact-match requirement. */
  private[graft] def mergeStructTypes(
      old: org.apache.spark.sql.types.DataType,
      inc: org.apache.spark.sql.types.DataType,
      // evolving-MERGE only (r18): a nested leaf whose incoming type
      // WIDENS the declared one (the typeWidening matrix) merges to
      // the wider type; appends/overwrites keep the refuse-on-retype
      // rule (Delta widens through MERGE evolution, not blind append)
      widenLeaves: Boolean = false)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    (old, inc) match {
      case (o, i) if DataType.equalsIgnoreNullability(o, i) => Some(o)
      case (o: StructType, i: StructType) =>
        val kept = o.fields.map { of =>
          i.fields.find(_.name.equalsIgnoreCase(of.name)) match {
            case None => Some(of)
            case Some(inf) =>
              mergeStructTypes(of.dataType, inf.dataType, widenLeaves)
                .map(dt => of.copy(dataType = dt))
          }
        }
        val appended = i.fields.filterNot(f =>
            o.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          .map(f => f.copy(nullable = true))
        if (kept.exists(_.isEmpty)) None
        else Some(StructType((kept.map(_.get) ++ appended).toIndexedSeq))
      case (o: ArrayType, i: ArrayType) =>
        mergeStructTypes(o.elementType, i.elementType, widenLeaves)
          .map(dt => o.copy(elementType = dt))
      case (o: MapType, i: MapType)
          if DataType.equalsIgnoreNullability(o.keyType, i.keyType) =>
        mergeStructTypes(o.valueType, i.valueType, widenLeaves)
          .map(dt => o.copy(valueType = dt))
      case (o, i) if widenLeaves && isWidening(o, i) => Some(i)
      case _ => None
    }
  }

  /** Stamp the spec's `delta.typeChanges` records onto every field the
    * evolving merge WIDENED (diff of the declared vs evolved schema):
    * a struct field's own scalar change records on that field (at any
    * struct depth, incl. structs inside arrays/maps — fields are
    * addressable and carry their own metadata); a bare container
    * element/value change records on the owning field with the spec's
    * `fieldPath`. Returns the stamped schema and whether ANY change
    * was recorded (the caller declares the typeWidening feature in the
    * same commit — the contract [[widenColumnType]] keeps, fused into
    * the merge). */
  private def stampTypeChanges(
      from: org.apache.spark.sql.types.StructType,
      to: org.apache.spark.sql.types.StructType)
      : (org.apache.spark.sql.types.StructType, Boolean) = {
    import org.apache.spark.sql.types._
    var any = false
    def walkField(ff: StructField, tf: StructField): StructField = {
      if (DataType.equalsIgnoreNullability(ff.dataType, tf.dataType)) tf
      else {
        val legs =
          scala.collection.mutable.ArrayBuffer
            .empty[(Seq[String], DataType, DataType)]
        def dt(a: DataType, b: DataType, path: Seq[String]): DataType =
          (a, b) match {
            case _ if DataType.equalsIgnoreNullability(a, b) => b
            case (as: StructType, bs: StructType) =>
              StructType(bs.fields.map { bf =>
                as.fields.find(_.name.equalsIgnoreCase(bf.name)) match {
                  case None => bf // appended — no type change
                  case Some(af) => walkField(af, bf)
                }
              })
            case (aa: ArrayType, ba: ArrayType) =>
              ba.copy(elementType =
                dt(aa.elementType, ba.elementType, path :+ "element"))
            case (am: MapType, bm: MapType) =>
              bm.copy(
                keyType = dt(am.keyType, bm.keyType, path :+ "key"),
                valueType = dt(am.valueType, bm.valueType, path :+ "value"))
            case (a0, b0) =>
              any = true
              legs += ((path, a0, b0))
              b0
          }
        val newT = dt(ff.dataType, tf.dataType, Seq.empty)
        if (legs.isEmpty) tf.copy(dataType = newT)
        else {
          val prior =
            if (tf.metadata.contains("delta.typeChanges"))
              tf.metadata.getMetadataArray("delta.typeChanges").toSeq
            else Seq.empty
          val records = legs.toSeq.map { case (p, a0, b0) =>
            val cb = new MetadataBuilder()
            if (p.nonEmpty) cb.putString("fieldPath", p.mkString("."))
            cb.putString("fromType", a0.typeName)
              .putString("toType", b0.typeName).build()
          }
          tf.copy(dataType = newT,
            metadata = new MetadataBuilder().withMetadata(tf.metadata)
              .putMetadataArray("delta.typeChanges",
                (prior ++ records).toArray).build())
        }
      }
    }
    val out = StructType(to.fields.map { tf =>
      from.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
        case None => tf
        case Some(ff) => walkField(ff, tf)
      }
    })
    (out, any)
  }

  /** Recursively widen `c` (currently typed `from`) to the EVOLVED
    * type `to`: new struct fields null-fill at any depth, array
    * elements widen element-wise, a NULL struct stays null (never a
    * struct of nulls), and agreeing types pass through untouched —
    * the alignment every pre-evolution frame (rewrite survivors, CDF
    * preimages) needs before a union with evolved rows. */
  private def widenTo(c: org.apache.spark.sql.Column,
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (f0, t0) if DataType.equalsIgnoreNullability(f0, t0) => c
      // only a genuine WIDENING rebuilds (every source nested field
      // exists in the target); any other struct mismatch falls through
      // to the cast below, which fails LOUDLY instead of silently
      // dropping source fields
      case (f0: StructType, t0: StructType)
          if f0.fields.forall(ff =>
            t0.fields.exists(_.name.equalsIgnoreCase(ff.name))) =>
        val rebuilt = struct(t0.fields.map { tf =>
          f0.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
            case Some(ff) =>
              widenTo(c.getField(ff.name), ff.dataType, tf.dataType)
                .as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }.toIndexedSeq: _*)
        when(c.isNull, lit(null).cast(t0)).otherwise(rebuilt)
      case (f0: ArrayType, t0: ArrayType) =>
        transform(c, x => widenTo(x, f0.elementType, t0.elementType))
      case (f0: MapType, t0: MapType) =>
        transform_values(c,
          (_, v) => widenTo(v, f0.valueType, t0.valueType))
      case _ => c.cast(to)
    }
  }

  /** Schema evolution rule (Delta mergeSchema semantics): existing
    * columns keep their position and type; columns the incoming frame
    * adds are APPENDED, and STRUCT columns evolve RECURSIVELY
    * ([[mergeStructTypes]] — new nested fields append inside their
    * struct). Dropping/retyping requires an explicit rewrite, exactly
    * like Delta without overwriteSchema. */
  private def mergedSchema(prior: Option[org.apache.spark.sql.types.StructType],
                           incoming: org.apache.spark.sql.types.StructType,
                           // evolving-MERGE only: nested leaves may
                           // WIDEN (see [[mergeStructTypes]])
                           widenLeaves: Boolean = false)
      : org.apache.spark.sql.types.StructType = prior match {
    case None => incoming
    case Some(old) =>
      // retyping an existing column is REJECTED (Delta does the same
      // without overwriteSchema): silently keeping the old declared type
      // while parquet files carry the new physical type would poison
      // every subsequent declared-schema read of the table
      // structural comparison: raw DataType equality includes nested
      // field METADATA, which would flag a mapped struct column as
      // "retyped" by any metadata-less incoming frame
      val nestedEvolved =
        scala.collection.mutable.Map.empty[String,
          org.apache.spark.sql.types.DataType]
      // existing columns match CASE-INSENSITIVELY (Spark's default
      // resolution, the nested rule above and the SQL gate's rule): a
      // source spelling `Qty` for declared `qty` must MATCH it, never
      // append a case-duplicate Spark could no longer resolve
      val conflicts = incoming.fields.flatMap { f =>
        old.fields.find(_.name.equalsIgnoreCase(f.name)).flatMap { o =>
          if (org.apache.spark.sql.types.DataType
              .equalsIgnoreNullability(o.dataType, f.dataType)) None
          else mergeStructTypes(o.dataType, f.dataType,
              widenLeaves) match {
            case Some(m) => nestedEvolved(o.name) = m; None
            case None => Some(s"${f.name}: ${o.dataType.simpleString} " +
              s"-> ${f.dataType.simpleString}")
          }
        }
      }
      if (conflicts.nonEmpty)
        throw new IllegalArgumentException(
          s"append would retype existing column(s) [${conflicts.mkString("; ")}]" +
            " — rewrite the table explicitly to change a column's type")
      val have = old.fieldNames.map(_.toLowerCase).toSet
      // appended columns are ALWAYS nullable regardless of the source
      // frame's nullability (delta-spark's rule): every pre-evolution
      // row null-fills them, so a carried-over nullable=false would
      // declare a contract the table immediately violates
      val appended = incoming.fields
        .filterNot(f => have.contains(f.name.toLowerCase))
        .map(_.copy(nullable = true))
      // a frame carrying two spellings of one NEW column (`Qty` and
      // `qty`) would evolve an unresolvable schema — the ADD COLUMNS
      // dup rule applied to the evolved set
      val dup = appended.groupBy(_.name.toLowerCase).collect {
        case (_, vs) if vs.length > 1 => vs.head.name }
      require(dup.isEmpty,
        s"schema evolution would append case-duplicate column(s): " +
          s"${dup.mkString(", ")}")
      // a variant column joining an EXISTING table needs the
      // variantType feature declared in the same commit — only ADD
      // COLUMNS does that; the evolution paths commit metaData alone.
      // Scoped to the NEW fields: a struct that already legitimately
      // holds a VARIANT (feature declared at CREATE/ADD COLUMNS) must
      // not block unrelated nested growth beside it
      require(!appended.exists(f => containsVariant(f.dataType)) &&
          !nestedEvolved.exists { case (n, m) =>
            newFieldsContainVariant(
              old.fields.find(_.name == n).get.dataType, m) },
        "schema evolution cannot introduce a VARIANT column (the " +
          "variantType table feature must join the protocol); add it " +
          "with ALTER TABLE ... ADD COLUMNS")
      org.apache.spark.sql.types.StructType(
        old.fields.map(of => nestedEvolved.get(of.name)
          .map(dt => of.copy(dataType = dt)).getOrElse(of)) ++ appended)
  }

  /** Whether the fields `merged` ADDS over `old` contain VariantType —
    * fields present in both recurse, so a pre-existing (feature-backed)
    * VARIANT never blocks unrelated evolution beside it. */
  private def newFieldsContainVariant(
      old: org.apache.spark.sql.types.DataType,
      merged: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (old, merged) match {
      case (o: StructType, m: StructType) =>
        m.fields.exists { mf =>
          o.fields.find(_.name.equalsIgnoreCase(mf.name)) match {
            case None => containsVariant(mf.dataType)
            case Some(of) =>
              newFieldsContainVariant(of.dataType, mf.dataType)
          }
        }
      case (o: ArrayType, m: ArrayType) =>
        newFieldsContainVariant(o.elementType, m.elementType)
      case (o: MapType, m: MapType) =>
        newFieldsContainVariant(o.valueType, m.valueType)
      case _ => false
    }
  }

  /** Whether a (nested) type contains Spark's VariantType — the Delta
    * `variantType` reader+writer feature's trigger. */
  private def containsVariant(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case VariantType => true
      case s: StructType => s.fields.exists(f => containsVariant(f.dataType))
      case a: ArrayType => containsVariant(a.elementType)
      case m: MapType =>
        containsVariant(m.keyType) || containsVariant(m.valueType)
      case _ => false
    }
  }

  /** Optimistic commit: create-if-absent on the version file. A losing
    * writer either rebases to the next free version and retries (blind
    * appends — add-only commits commute under the Delta conflict rules)
    * or, when `retry = false` (OPTIMIZE/VACUUM, which read the snapshot
    * first), throws [[ConcurrentCommitException]] so the caller re-runs
    * against the fresh snapshot. Returns the version actually committed. */
  private[graft] def writeCommit(spark: SparkSession, table: String,
                                 version: Long, lines: Seq[String],
                                 operation: String, retry: Boolean = false,
                                 maxRetries: Int = 20,
                                 fixedIct: Option[Long] = None): Long = {
    val f = fs(spark, table)
    // the Delta writer contract, checked at the single commit funnel:
    // protocol writer version/features first, then the two
    // property-gated commit rules. The remove screen is a string check
    // (zero metadata cost on the append path); config resolves only
    // when a data-changing remove is actually present.
    // feature posture is a function of the commit's BASE version, so a
    // rebased retry re-resolves it: a concurrent writer may have
    // enabled ICT/rowTracking between the original base and the rebase,
    // and the rebased commit must honor the now-live features. Cheap —
    // requireWritable rides the incremental writer-protocol memo.
    def featuresAt(base: Long): (Boolean, Boolean) = {
      val protoNow = requireWritable(spark, table, base)
      // in-commit timestamps (the ICT writer feature, which this
      // engine's TIMESTAMP AS OF already PREFERS on read): once the
      // table's protocol carries the feature, every commitInfo stamps
      // a monotonic in-log clock. The ENABLEMENT commit itself stamps
      // too (its own protocol line carries the feature).
      val ict =
        protoNow.exists(_.writerFeats.contains("inCommitTimestamp")) ||
          lines.exists(l => l.contains("\"protocol\"") &&
            l.contains("inCommitTimestamp"))
      // rowTracking: the funnel upholds the feature on every commit
      // (fresh/preserved baseRowId + defaultRowCommitVersion per add,
      // high-water mark domainMetadata) — including the enablement
      // commit itself
      val rt =
        protoNow.exists(_.writerFeats.contains("rowTracking")) ||
          lines.exists(l => l.contains("\"protocol\"") &&
            l.contains("rowTracking"))
      (ict, rt)
    }
    var (ictEnabled, rtEnabled) = featuresAt(version - 1)
    if (lines.exists(l => l.contains("\"remove\"") &&
        l.contains("\"dataChange\":true"))) {
      val cfg = tableConfig(spark, table)
      if (cfg.get("delta.appendOnly").contains("true"))
        throw new AppendOnlyTableException(table)
      // a CDF-enabled table's partial-file DML commits must carry cdc
      // files (a real reader serves the change feed FROM them; without
      // them it derives from add/remove actions, which mislabels every
      // UNCHANGED row of a rewritten file as deleted+reinserted). The
      // DML sites write them ([[writeCdcFiles]]); whole-file-semantics
      // operations are exempt because the add/remove derivation IS
      // their correct feed (TRUNCATE removes every row, REPLACE/RESTORE
      // swap eras, OVERWRITE's contract replaces the scoped rows) —
      // the same per-operation split delta-spark applies. Anything
      // else (an internal path that forgot its feed) refuses rather
      // than silently corrupt the feed.
      if (cfg.get("delta.enableChangeDataFeed").contains("true") &&
          !lines.exists(_.contains("\"cdc\":")) &&
          !cdfDerivableOps(operation))
        throw new UnsupportedTableFeatureException(
          s"$table sets delta.enableChangeDataFeed=true; a " +
            s"data-changing $operation commit must carry cdc files " +
            "(written by the DML paths for unmapped tables) — " +
            "committing without them would corrupt a real reader's feed")
    }
    f.mkdirs(new Path(logDir(table)))
    var v = version
    var attempt = 0
    while (true) {
      val p = new Path(f"${logDir(table)}%s/$v%020d.json")
      val now = commitClock()
      // a caller may have RESERVED the commit's ICT up front (the
      // enablement commit stamps the same value into its provenance
      // property — the Delta spec requires them equal); reservations
      // ride non-retrying pinned commits, so v never drifts past them
      val ict =
        if (!ictEnabled) ""
        else s""","inCommitTimestamp":${
          fixedIct.getOrElse(nextIct(spark, table, v, now))}"""
      // operationMetrics (Delta's commitInfo convention, values as
      // strings): derived from the lines themselves, so every commit
      // site gets them for free. Engine-rendered actions start their
      // line with the action key, making the count a prefix check —
      // no JSON parse on the commit hot path. Counted on the caller's
      // lines (rowTracking injection rewrites add CONTENT, never the
      // action count).
      val nAddM = lines.count(_.startsWith("{\"add\""))
      val nRemoveM = lines.count(_.startsWith("{\"remove\""))
      val nCdcM = lines.count(_.startsWith("{\"cdc\""))
      val metrics =
        s""","operationMetrics":{"numAddedFiles":"$nAddM",""" +
          s""""numRemovedFiles":"$nRemoveM"""" +
          (if (nCdcM > 0) s""","numCdcFiles":"$nCdcM"""" else "") + "}"
      val ci = s"""{"commitInfo":{"operation":"$operation","version":$v,""" +
        s""""timestamp":$now$ict$metrics}}"""
      // rowTracking rides per ATTEMPT: a rebased retry must re-read the
      // high-water mark (a concurrent commit advanced it) and re-stamp
      // defaultRowCommitVersion with the rebased version
      val attemptLines =
        if (!rtEnabled) lines
        else injectRowTracking(spark, table, v, lines)
      // the protocol action a real Delta reader REQUIRES at v0: this
      // engine's tables read under basic protocol (1, 2) unless the
      // commit itself carries an explicit protocol (DV enablement
      // upgrades, [[setTableProperties]])
      val proto =
        if (v == 0L && !lines.exists(_.contains("\"protocol\"")))
          Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
        else Seq.empty
      val commit = (ci +: (proto ++ attemptLines)).mkString("\n")
      // render to a dot-prefixed temp file (commit/checkpoint name
      // regexes never match it), then claim the slot atomically: the
      // commit becomes visible only fully written, and a lost race
      // surfaces as a conflict instead of the silent clobber a raw
      // local rename (or the old create(p,false) check-then-create)
      // could allow — see [[claimVersionSlot]]
      val tmp = new Path(
        s"${logDir(table)}/.${java.util.UUID.randomUUID()}.json.tmp")
      // file:// render rides java.nio (the claimVersionSlot
      // discipline): a Hadoop local create forks a chmod process per
      // file without the native library — one fork per commit attempt
      // on the write-lifecycle hot path
      val localLog = f.getUri == null || f.getUri.getScheme == null ||
        f.getUri.getScheme == "file"
      if (localLog) {
        val t = java.nio.file.Paths.get(tmp.toUri.getPath)
        try {
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.write(t, commit.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          ()
        } catch {
          case e: Throwable =>
            try java.nio.file.Files.deleteIfExists(t)
            catch { case _: Exception => () }
            throw e
        }
      } else {
        val out = f.create(tmp, false)
        try {
          out.write(commit.getBytes("UTF-8"))
          out.close()
        } catch {
          case e: Throwable =>
            try out.close() catch { case _: Exception => () }
            f.delete(tmp, false)
            throw e
        }
      }
      val created =
        if (claimVersionSlot(f, tmp, p)) true
        else {
          f.delete(tmp, false)
          if (!retry) throw new ConcurrentCommitException(table, v)
          attempt += 1
          if (attempt > maxRetries)
            throw new ConcurrentCommitException(table, v)
          v = nextVersion(spark, table)
          // the rebase may cross a concurrent ICT/rowTracking
          // enablement — the rebased attempt must stamp what the NEW
          // base requires
          val fs2 = featuresAt(v - 1)
          ictEnabled = fs2._1; rtEnabled = fs2._2
          false
        }
      if (created) {
        // OUTSIDE the conflict try: a failed checkpoint job must not be
        // misread as a commit conflict (the commit itself persisted)
        checkpointAfterCommit(spark, table, v)
        return v
      }
    }
    v // unreachable
  }

  /** Operations whose change feed derives CORRECTLY from add/remove
    * actions alone (whole-file semantics): every row of a removed file
    * is genuinely deleted and every row of an added file genuinely
    * inserted, so no cdc files are needed — the Delta CDF derivation
    * rule, and the same exemption delta-spark applies. */
  private val cdfDerivableOps: Set[String] =
    Set("TRUNCATE", "REPLACE TABLE", "RESTORE", "OVERWRITE")

  /** Delta's optimistic-concurrency conflict RESOLUTION for predicate
    * DML (DELETE/UPDATE): the commit pins `version` like every
    * snapshot-dependent write, but a lost race re-examines the
    * intervening winners instead of giving up — Delta's
    * ConflictChecker restated. The rebase is sound iff every winner is
    * logically disjoint from this transaction:
    *   - no `metaData` / `protocol` action (the schema, config or
    *     contract changed under us — MetadataChanged/ProtocolChanged);
    *   - no `domainMetadata` outside the rowTracking high-water domain
    *     (that one re-reads per attempt inside the commit funnel);
    *   - no `remove` of a file THIS commit references (our removes,
    *     which include every DV re-add target —
    *     ConcurrentDeleteDelete/ConcurrentDeleteRead);
    *   - every `dataChange` add provably holds no row matching the
    *     DML's predicate, screened with the SAME file-level
    *     (partitionValues, stats) condition discovery pruned with
    *     ([[dmlFileCondition]]) — the ConcurrentAppend check. The
    *     surviving history is equivalent to DML-before-winner, the
    *     write reordering WriteSerializable (Delta's default
    *     isolation) permits; a winner that MAY hold a matching row
    *     still conflicts, so Serializable-grade anomalies (a DELETE
    *     missing rows it should have seen) never commit silently.
    * Anything unprovable throws exactly as before — resolution only
    * widens the commits that SUCCEED, never what they mean. A winner
    * with a torn line cannot be screened and raises
    * [[MalformedCommitException]] by name ([[logActions]]).
    * `readCond = None` (untranslatable predicate) makes every
    * dataChange add a conflict. Winners are driver-read ONCE across
    * the whole rebase sequence, not once per attempt — `base` advances
    * past every screened winner, so attempt N+1 reads only the commits
    * that landed since attempt N's screen (pinned by
    * [[winnerCommitsScreened]] + CommitRaceSpec); the add screen is
    * ONE local evaluation over the collected add actions.
    *
    * `delta.isolationLevel = Serializable` (Delta's strict level — the
    * default is WriteSerializable) disables the add screen entirely:
    * EVERY intervening dataChange add conflicts, even one provably
    * disjoint from the predicate, because Serializable forbids the
    * DML-before-winner reordering the screen licenses (the winner's
    * rows would be invisible to a DML that serialized AFTER them).
    * Removes/metaData/protocol conflict identically at both levels. */
  private def writeCommitResolving(spark: SparkSession, table: String,
      version: Long, lines: Seq[String], operation: String,
      readCond: Option[org.apache.spark.sql.Column],
      maxRebase: Int = 5): Long = {
    require(!lines.exists(_.contains("\"txn\"")),
      "resolving commits do not carry txn markers")
    // any winner carrying metaData conflicts below, so the isolation
    // level cannot change mid-rebase — resolving it once at entry is
    // exact for every path that reaches a successful commit
    val strictSerializable = tableConfig(spark, table)
      .get("delta.isolationLevel")
      .exists(_.equalsIgnoreCase("Serializable"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val ourRemoved: Set[String] = lines.iterator
      .filter(_.contains("\"remove\""))
      .flatMap(l => jnode(parseAction(om, commitPath(table, version), l),
        "remove"))
      .map(_.get("path").asText()).toSet
    var base = version
    var attempt = 0
    while (true) {
      try return writeCommit(spark, table, base, lines, operation)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRebase) throw e
          val latest = latestVersion(spark, table)
          val addRows = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.Row]
          var screened = -1L
          logActions(spark, table, base, latest).foreach { case (wv, node) =>
            if (wv != screened) {
              recordWinnerScreened(s"$table@$wv")
              screened = wv
            }
            def has(k: String) = jnode(node, k).isDefined
            if (has("metaData") || has("protocol")) throw e
            if (has("domainMetadata") &&
                node.get("domainMetadata").get("domain").asText() !=
                  RowTrackingDomain) throw e
            if (has("remove") && ourRemoved.contains(
                node.get("remove").get("path").asText())) throw e
            jnode(node, "add").foreach { a =>
              if (jnode(a, "dataChange").forall(_.asBoolean(true))) {
                if (strictSerializable || readCond.isEmpty) throw e
                addRows += org.apache.spark.sql.Row(
                  Option(pvOfNode(a, "partitionValues")).getOrElse(Map.empty),
                  jnode(a, "stats").map(_.asText()).orNull)
              }
            }
          }
          if (addRows.nonEmpty) {
            import org.apache.spark.sql.types._
            import scala.jdk.CollectionConverters._
            val schema = StructType(Seq(
              StructField("partitionValues",
                MapType(StringType, StringType, valueContainsNull = true)),
              StructField("stats", StringType)))
            val df = spark.createDataFrame(
              new java.util.ArrayList(addRows.toSeq.asJava), schema)
            if (df.where(coalesce(readCond.get, lit(false)))
                .limit(1).count() > 0)
              throw new ConcurrentCommitException(table, base)
          }
          onRebaseScreenHook()
          base = latest + 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Claim commit slot `dst` by moving fully-rendered temp file `tmp`
    * onto it with CREATE-IF-ABSENT semantics; false = another writer
    * owns the slot (`tmp` is left for the caller to clean up). On
    * local `file://` paths the claim is a HARD LINK: link(2) fails
    * atomically with EEXIST when the destination exists, where POSIX
    * rename(2) — what Hadoop's RawLocalFileSystem rename compiles to —
    * silently REPLACES it, so a screen+rename claim could clobber a
    * commit that landed inside the screen-to-rename window (a lost
    * commit, strictly worse than the conflict exception). Elsewhere
    * the claim is the exists screen + rename, which HDFS-like stores
    * refuse natively onto an existing destination; see ARCHITECTURE.md
    * for the storage-atomicity assumptions. */
  private def claimVersionSlot(f: org.apache.hadoop.fs.FileSystem,
                               tmp: Path, dst: Path): Boolean = {
    val local = f.getUri == null || f.getUri.getScheme == null ||
      f.getUri.getScheme == "file"
    if (local) {
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      val d = java.nio.file.Paths.get(dst.toUri.getPath)
      try {
        java.nio.file.Files.createLink(d, t)
        // the slot is WON from this point — everything below is
        // best-effort cleanup that must never surface as a failed
        // commit (a leftover temp/crc is debris vacuum ages out)
        def crc(p: java.nio.file.Path) =
          p.resolveSibling("." + p.getFileName.toString + ".crc")
        try {
          // carry the Hadoop checksum sidecar the way rename would
          // have (same bytes → same checksum); a missing crc just
          // skips read-time verification
          if (java.nio.file.Files.exists(crc(t)))
            java.nio.file.Files.createLink(crc(d), crc(t))
          java.nio.file.Files.deleteIfExists(crc(t))
          java.nio.file.Files.delete(t)
        } catch { case _: java.io.IOException => () }
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      // non-local: claim through FileContext.rename, whose DEFAULT is
      // Options.Rename.NONE — the no-overwrite contract is enforced by
      // the store itself (atomic on HDFS-like filesystems), where
      // FileSystem.rename on several object-store connectors silently
      // REPLACES an existing destination, so a raw exists+rename screen
      // would be check-then-act (a commit landing inside the window is
      // clobbered — a lost commit).
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          f.getUri, f.getConf)
        fc.rename(tmp, dst) // default Options.Rename.NONE: no overwrite
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no AbstractFileSystem binding for this scheme: fall back to
          // the screen + rename and rely on the store refusing a rename
          // onto an existing destination (HDFS-like semantics — a HARD
          // requirement documented in ARCHITECTURE.md; stores whose
          // rename replaces need an AbstractFileSystem binding or an
          // external commit coordinator)
          !f.exists(dst) && f.rename(tmp, dst)
      }
    }
  }

  /** Streamed commits written through [[writeCommitStreamed]] — the
    * listing-counter-style marker specs assert the O(files) renders
    * actually take the streaming path. */
  private[graft] val streamedRenders =
    new java.util.concurrent.atomic.AtomicLong

  /** Driver-streaming row iterator for the O(files) renders:
    * `toLocalIterator` launches ONE JOB PER PARTITION, so a
    * many-partition metadata DF would pay a job-scheduling storm for a
    * handful of rows — coalesce (narrow, no shuffle) to
    * ceil(n/rowsPerBatch) partitions first, so small manifests stream
    * in a single job (the collect they replaced) while a 10⁷-file
    * manifest batches ~100k rows per fetch: bounded driver memory AND
    * bounded job count. */
  private def localRowIterator(df: DataFrame,
      rowsPerBatch: Long = 100000L): Iterator[org.apache.spark.sql.Row] =
    localRowIterator(df, df.count(), rowsPerBatch)

  /** The known-count overload: callers that already ran an aggregate
    * over the manifest pass `n` and skip the extra count job. */
  private def localRowIterator(df: DataFrame, n: Long,
      rowsPerBatch: Long): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    val target = math.max(1L, (n + rowsPerBatch - 1) / rowsPerBatch)
    df.coalesce(math.min(target, Int.MaxValue.toLong).toInt)
      .toLocalIterator().asScala
  }

  /** Streamed variant of [[writeCommit]] for the O(files) metadata
    * renders (CLONE, CONVERT TO DELTA, the rowTracking enablement
    * backfill): `body` lines are written to the commit file AS THEY
    * ARRIVE (a `toLocalIterator`-backed iterator hands the driver one
    * manifest partition at a time), so the driver never holds the
    * whole 10⁷-file manifest as rendered strings — at GB-scale
    * manifests that is the difference between streaming IO and driver
    * OOM. No-retry semantics, same as every caller's contract: v0
    * creates (clone/convert, target must not pre-exist) or a
    * DML-pinned readVersion+1 (backfill) — losing the version slot
    * throws [[ConcurrentCommitException]]. Unlike [[writeCommit]]'s
    * millisecond body, a 10⁶-file render drains for seconds to
    * minutes — streaming straight into `<version>.json` would expose a
    * torn commit to every concurrent log reader for that whole window
    * (a replayer would compute a snapshot from half a TRUNCATE, and a
    * concurrent writer would rebase on it). So the render streams into
    * a dot-prefixed temp file in `_delta_log` (commit/checkpoint name
    * regexes never match it) and the version slot is claimed ONLY
    * after the last byte lands, through [[claimVersionSlot]] —
    * genuinely atomic create-if-absent on local paths (hard link, no
    * clobber window at all) and an exists-screened rename on stores
    * that refuse rename-onto-existing natively. A failure anywhere
    * deletes the temp file, so an aborted render never leaves anything
    * for replay to trip on.
    *
    * Caller contract: rowTracking stamping is NOT applied here — body
    * lines must already carry any required
    * baseRowId/defaultRowCommitVersion and the domainMetadata mark
    * (clone preserves the source's ids verbatim; the backfill assigns
    * inline while streaming). */
  private[graft] def writeCommitStreamed(
      spark: SparkSession, table: String, version: Long,
      head: Seq[String], body: Iterator[String],
      operation: String, fixedIct: Option[Long] = None): Long = {
    val f = fs(spark, table)
    val protoNow = requireWritable(spark, table, version - 1)
    val ictEnabled =
      protoNow.exists(_.writerFeats.contains("inCommitTimestamp")) ||
        head.exists(l => l.contains("\"protocol\"") &&
          l.contains("inCommitTimestamp"))
    f.mkdirs(new Path(logDir(table)))
    val p = new Path(f"${logDir(table)}%s/$version%020d.json")
    val now = commitClock()
    val ict =
      if (!ictEnabled) ""
      else s""","inCommitTimestamp":${
        fixedIct.getOrElse(nextIct(spark, table, version, now))}"""
    // streamed commits omit operationMetrics: the body is a
    // one-shot iterator whose count is unknown when commitInfo (the
    // first line) renders, and buffering it would defeat the stream
    val ci = s"""{"commitInfo":{"operation":"$operation",""" +
      s""""version":$version,"timestamp":$now$ict}}"""
    val proto =
      if (version == 0L && !head.exists(_.contains("\"protocol\"")))
        Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
      else Seq.empty
    // lose the slot as early as possible (cheap check); the rename
    // below re-screens after the render for writers that raced in
    if (f.exists(p)) throw new ConcurrentCommitException(table, version)
    val tmp = new Path(
      s"${logDir(table)}/.${java.util.UUID.randomUUID()}.json.tmp")
    val out = f.create(tmp, false)
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, "UTF-8"), 1 << 16)
    var ok = false
    try {
      var first = true
      (Iterator.single(ci) ++ proto.iterator ++ head.iterator ++ body)
        .foreach { l =>
          if (!first) w.write('\n')
          w.write(l); first = false
        }
      w.close()
      // claim the version slot: losing the claim (another writer's
      // <version>.json exists, or appeared mid-claim) means the race
      // is lost — identical to writeCommit's create-if-absent
      if (!claimVersionSlot(f, tmp, p)) {
        f.delete(tmp, false)
        throw new ConcurrentCommitException(table, version)
      }
      ok = true
    } finally if (!ok) {
      try w.close() catch { case _: Exception => () }
      f.delete(tmp, false); ()
    }
    streamedRenders.incrementAndGet()
    checkpointAfterCommit(spark, table, version)
    version
  }

  /** The auto-checkpoint after committing `v`, every
    * [[checkpointEvery]]-th version. A failure is non-fatal: the commit
    * persisted, and a partial checkpoint is never selected (a single
    * file is renamed into place whole, and only complete part sets
    * count, [[checkpointComplete]]), so snapshots replay from the
    * previous checkpoint. */
  private def checkpointAfterCommit(spark: SparkSession, table: String,
                                    v: Long): Unit =
    if ((v + 1) % checkpointEvery(spark, table) == 0)
      try writeCheckpoint(spark, table, v) catch {
        case e: Exception =>
          System.err.println(
            s"[minidelta] checkpoint at v=$v failed (non-fatal): $e")
      }

  private def checkpointPath(table: String, version: Long): String =
    f"${logDir(table)}%s/$version%020d.checkpoint.parquet"

  /** Multi-part checkpoint naming (Delta spec): the manifest of version
    * v splits into `<v>.checkpoint.<i>.<n>.parquet`, i in 1..n, both
    * zero-padded to 10 digits. */
  private def checkpointPartPath(table: String, version: Long,
                                 i: Int, n: Int): String =
    f"${logDir(table)}%s/$version%020d.checkpoint.$i%010d.$n%010d.parquet"

  private val checkpointPartName =
    raw"[0-9]{20}\.checkpoint\.([0-9]{10})\.([0-9]{10})\.parquet".r

  /** V2 checkpoint manifest naming (Delta spec): `<v>.checkpoint.
    * <uuid>.{json|parquet}` — one UUID-suffixed MANIFEST whose rows
    * are protocol/metaData/checkpointMetadata/sidecar actions; the
    * add/remove bulk lives in parquet files under
    * `_delta_log/_sidecars/` that the sidecar actions name. The
    * unique suffix makes the write atomic-by-naming (never a partial
    * multi-part set). Only a UUID suffix names a manifest. */
  private val checkpointV2Name =
    ("[0-9]{20}\\.checkpoint\\.[0-9a-fA-F]{8}(?:-[0-9a-fA-F]{4}){3}" +
      "-[0-9a-fA-F]{12}\\.(json|parquet)").r

  /** The v2 manifest file for `version`, if one exists. One listing,
    * only reached when the classic single file is absent. */
  private def checkpointV2Manifest(spark: SparkSession, table: String,
                                   version: Long): Option[String] = {
    val f = fs(spark, table)
    val dir = new Path(logDir(table))
    if (!f.exists(dir)) return None
    val prefix = f"$version%020d.checkpoint."
    f.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .collect { case nm @ checkpointV2Name(_) => nm }
      .sorted.headOption // deterministic if several writers raced
      .map(nm => s"${logDir(table)}/$nm")
  }

  /** Assemble a v2 checkpoint into one action DataFrame: the manifest's
    * own action rows (protocol, metaData, and any inlined add/remove)
    * unioned with the add/remove rows of every sidecar file it names.
    * Sidecar paths are `_delta_log/_sidecars/`-relative per the spec. */
  private def v2CheckpointActionDF(spark: SparkSession, table: String,
                                   manifest: String): DataFrame = {
    val manifestDF =
      if (manifest.endsWith(".json"))
        spark.read.schema(v2ManifestSchema).json(manifest)
      else spark.read.parquet(manifest)
    val sidecars: Seq[String] =
      if (!manifestDF.columns.contains("sidecar")) Seq.empty
      else manifestDF.where(col("sidecar.path").isNotNull)
        .select("sidecar.path").collect().map(_.getString(0))
        .map(p => if (p.contains("/")) resolvePath(table, p)
                  else s"${logDir(table)}/_sidecars/$p").toSeq
    val actions = manifestDF.drop("sidecar", "checkpointMetadata")
    if (sidecars.isEmpty) actions
    else actions.unionByName(
      spark.read.parquet(sidecars: _*), allowMissingColumns = true)
  }

  /** [[logSchema]] plus the v2-checkpoint-manifest-only actions, for
    * reading JSON manifests under an explicit schema. */
  private[graft] lazy val v2ManifestSchema
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    logSchema
      .add(StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))))
      .add(StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))))
  }

  /** The part files of a multi-part checkpoint at `version`, sorted —
    * ONLY when the part set is complete (all n of the n-part naming
    * present); a crashed multi-part writer's partial set must never be
    * replayed (it would silently drop live files). Empty when `version`
    * has no multi-part checkpoint. One listing, only on the multi-part
    * path — classic single files short-circuit before this. */
  private def checkpointMultiParts(spark: SparkSession, table: String,
                                   version: Long): Seq[String] = {
    val f = fs(spark, table)
    val dir = new Path(logDir(table))
    if (!f.exists(dir)) return Seq.empty
    val prefix = f"$version%020d.checkpoint."
    val parts = f.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .collect { case nm @ checkpointPartName(i, n) =>
        (i.toInt, n.toInt, nm) }
    parts.headOption match {
      case Some((_, n, _))
          if parts.length == n && parts.map(_._1).toSet == (1 to n).toSet &&
            parts.forall(_._2 == n) =>
        parts.sortBy(_._1).map(p => s"${logDir(table)}/${p._3}").toSeq
      case _ => Seq.empty
    }
  }

  /** Checkpoint action rows at `version`, for every shape
    * [[latestCheckpoint]] selects: the classic single FILE, the union
    * of a complete multi-part set, or a v2 manifest with its sidecars.
    * A directory at `<v>.checkpoint.parquet` is not a checkpoint. */
  private[graft] def checkpointActionDF(spark: SparkSession, table: String,
                                        version: Long): DataFrame = {
    val single = checkpointPath(table, version)
    if (isFile(fs(spark, table), single))
      spark.read.schema(checkpointSchema(spark, single)).parquet(single)
    else {
      val parts = checkpointMultiParts(spark, table, version)
      if (parts.nonEmpty)
        spark.read.schema(checkpointSchema(spark, parts.head))
          .parquet(parts: _*)
      else checkpointV2Manifest(spark, table, version)
        .map(v2CheckpointActionDF(spark, table, _))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"$table: no checkpoint at version $version"))
    }
  }

  /** The schema `spark.read.parquet` infers for a checkpoint file (a
    * multi-part set infers from its first part), read from the file's
    * footer on the driver: the reader under it runs no schema-inference
    * job. */
  private[graft] def checkpointSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val p = new Path(path)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
        spark.sessionState.newHadoopConf()))
    val footer = try r.getFooter finally r.close()
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(p, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def isFile(f: org.apache.hadoop.fs.FileSystem, p: String) =
    try f.getFileStatus(new Path(p)).isFile
    catch { case _: java.io.FileNotFoundException => false }

  /** Only COMPLETE checkpoints are ever selected: a crashed multi-part
    * writer leaves a partial part set, and replaying it would silently
    * drop live files from every subsequent snapshot. A classic
    * single-file checkpoint is an atomically-renamed FILE and a v2
    * manifest one UUID-named file, complete by construction. */
  // memo: (table root, version) of checkpoints found COMPLETE (a
  // complete checkpoint is immutable until log cleanup deletes it —
  // cleanupLogs and invalidateSnapshot both clear the table's entries).
  // The absent case is never cached: a checkpoint can appear at any
  // moment.
  private[graft] val cpCompleteMemo = new TtlCache[(String, Long), Unit](
    4096, 0L)

  private def checkpointComplete(spark: SparkSession, table: String,
                                 v: Long): Boolean = {
    val key = (rootOf(spark, table), v)
    cpCompleteMemo.get(key).isDefined || {
      val ok = isFile(fs(spark, table), checkpointPath(table, v)) ||
        checkpointMultiParts(spark, table, v).nonEmpty ||
        checkpointV2Manifest(spark, table, v).isDefined
      if (ok) cpCompleteMemo.getOrElseUpdate(key)(())
      ok
    }
  }

  /** Latest checkpoint at or below `atMost`, if any. Steady state reads
    * the `_last_checkpoint` pointer and probes FORWARD at the known
    * auto-checkpoint stride (the pointer can trail by one if its write
    * crashed) — O(tail/interval) existence checks, no listing. Only
    * pointer-less tables and time travel BELOW the pointer fall back to
    * the full `_delta_log` listing (counted in [[logListings]]). */
  private def latestCheckpoint(spark: SparkSession, table: String,
                               atMost: Long): Option[Long] = {
    val f = fs(spark, table)
    def complete(v: Long) = checkpointComplete(spark, table, v)
    // the forward probe only needs ONE cheap getFileStatus per step:
    // auto-checkpoints (the only thing the probe chases past a stale
    // pointer) are classic single files. Probing the multi-part/v2
    // shapes here would cost two full _delta_log listings per ABSENT
    // version on every snapshot load — and missing a foreign
    // checkpoint ahead of the pointer only lengthens the JSON tail,
    // never wrongs the replay.
    def singleFileAt(v: Long) = isFile(f, checkpointPath(table, v))
    readLastCheckpoint(spark, table) match {
      case Some(p) if p <= atMost && complete(p) =>
        var best = p
        var probe = p + checkpointInterval
        while (probe <= atMost && singleFileAt(probe)) {
          best = probe; probe += checkpointInterval
        }
        Some(best)
      case _ =>
        val dir = new Path(logDir(table))
        if (!f.exists(dir)) return None
        logListings.incrementAndGet()
        val names = f.listStatus(dir).map(_.getPath.getName)
        val vs = (names.filter(_.endsWith(".checkpoint.parquet"))
            .map(_.stripSuffix(".checkpoint.parquet").toLong) ++
          names.collect { // multi-part names carry the version up front
            case nm @ checkpointPartName(_, _) => nm.take(20).toLong } ++
          names.collect { // v2 manifests: UUID-suffixed single files
            case nm @ checkpointV2Name(_) => nm.take(20).toLong })
          .distinct
          .filter(_ <= atMost)
          .filter(complete)
        if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** A resolved `protocol` action. Rendering follows the Delta rule
    * that the feature lists exist only at versions that support them
    * (readerFeatures at minReaderVersion >= 3, writerFeatures at
    * minWriterVersion >= 7). */
  private[graft] case class ProtocolAction(
      minReader: Int, minWriter: Int,
      readerFeats: Seq[String], writerFeats: Seq[String]) {
    /** Union in a reader+writer table-feature requirement WITHOUT
      * discarding the table's existing contract — a real table already
      * at (3, 7) with e.g. timestampNtz must keep that feature, not be
      * downgraded to a single-feature protocol. Crossing FROM a legacy
      * version, the Delta spec requires enumerating every feature that
      * version implied — a (2, 5) table's columnMapping requirement
      * must survive as an explicit feature, or a real reader consulting
      * the new lists would skip the relabeling and mis-read the
      * table. */
    def withFeature(feat: String): ProtocolAction = {
      val impliedReader =
        if (minReader >= 3) Nil // already feature-enumerated
        else if (minReader >= 2) Seq("columnMapping")
        else Nil
      val impliedWriter =
        if (minWriter >= 7) Nil // already feature-enumerated
        else Seq(
          2 -> Seq("appendOnly", "invariants"),
          3 -> Seq("checkConstraints"),
          4 -> Seq("changeDataFeed", "generatedColumns"),
          5 -> Seq("columnMapping"),
          6 -> Seq("identityColumns")
        ).collect { case (v, fs) if minWriter >= v => fs }.flatten
      ProtocolAction(
        math.max(minReader, 3), math.max(minWriter, 7),
        (readerFeats ++ impliedReader :+ feat).distinct,
        (writerFeats ++ impliedWriter :+ feat).distinct)
    }
    def withDeletionVectors: ProtocolAction = withFeature("deletionVectors")
    def withColumnMapping: ProtocolAction = withFeature("columnMapping")
    /** WRITER-only feature union: the reader contract is untouched (a
      * writer-only feature in readerFeatures would make compliant
      * readers refuse the table for no reason). */
    def withWriterFeature(feat: String): ProtocolAction = {
      val impliedWriter =
        if (minWriter >= 7) Nil
        else Seq(
          2 -> Seq("appendOnly", "invariants"),
          3 -> Seq("checkConstraints"),
          4 -> Seq("changeDataFeed", "generatedColumns"),
          5 -> Seq("columnMapping"),
          6 -> Seq("identityColumns")
        ).collect { case (v, fs) if minWriter >= v => fs }.flatten
      ProtocolAction(minReader, math.max(minWriter, 7), readerFeats,
        (writerFeats ++ impliedWriter :+ feat).distinct)
    }
    def render: String = {
      val rf =
        if (minReader >= 3)
          s""","readerFeatures":[${readerFeats.map(jstr).mkString(",")}]"""
        else ""
      val wf =
        if (minWriter >= 7)
          s""","writerFeatures":[${writerFeats.map(jstr).mkString(",")}]"""
        else ""
      s"""{"protocol":{"minReaderVersion":$minReader,""" +
        s""""minWriterVersion":$minWriter$rf$wf}}"""
    }
  }

  private val basicProtocol = ProtocolAction(1, 2, Nil, Nil)

  /** Writer features (protocol minWriterVersion 7) this engine's
    * commits honor: append-only + CDF gating happens in
    * [[writeCommit]], invariants/constraints are enforced on every
    * write, DVs are written natively, columnMapping writes land
    * physical-named parquet with footer field_ids (both modes, through
    * [[toPhysical]]), and v2 checkpoints are written whenever
    * delta.checkpointPolicy=v2 ([[writeCheckpoint]]), and generated
    * columns are computed-or-validated at every row-producing write
    * ([[applyGenerated]]). Anything else — identity columns, row
    * tracking, in-commit timestamps — would make this engine's commits
    * silently violate the table's contract, so writes refuse by name
    * (the Delta writer-version rule). */
  private val supportedWriterFeatures: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "deletionVectors",
    "changeDataFeed", "columnMapping", "timestampNtz", "v2Checkpoint",
    "generatedColumns", "inCommitTimestamp", "identityColumns",
    // upheld by [[applyDefaults]] at every row-producing write
    "allowColumnDefaults",
    // upheld by [[compact]] honoring the delta.clustering domain; the
    // layout is advisory for writes (Delta's rule — appends need not
    // cluster, OPTIMIZE restores the layout)
    "clustering",
    // upheld: [[vacuum]] checks the protocol through this same gate
    // before deleting anything (the feature's whole contract)
    "vacuumProtocolCheck",
    // upheld: widened declared types read old (narrower) files through
    // Spark's parquet upcast, and [[widenColumnType]] is the only
    // writer of type changes (records delta.typeChanges per the spec)
    "typeWidening",
    // upheld natively: Spark 4 reads/writes the variant parquet shape
    "variantType",
    // upheld by the writeCommit funnel: fresh/preserved baseRowId +
    // defaultRowCommitVersion on every add, high-water mark maintained
    // in the delta.rowTracking domain (rowTracking requires
    // domainMetadata per the spec)
    "rowTracking", "domainMetadata")

  /** The Delta writer contract, enforced before any commit: a writer
    * must check minWriterVersion and (at v7) the writerFeatures list,
    * and refuse tables whose features it cannot uphold — committing
    * anyway silently corrupts the contract for every OTHER client of
    * the table (the write-side mirror of [[requireReadable]]). A pure
    * check on the [[tableState]] at `atMost`. */
  private def requireWritable(spark: SparkSession, table: String,
                              atMost: Long): Option[ProtocolAction] = {
    if (atMost < 0) return None // v0: creating the table, no protocol yet
    val proto = stateAt(spark, table, atMost).protocol
    proto.foreach { p =>
      if (p.minWriter > 7)
        throw new UnsupportedTableFeatureException(
          s"$table requires minWriterVersion=${p.minWriter}; this engine " +
            "writes protocol versions <= 7")
      if (p.minWriter == 7) {
        val bad = p.writerFeats.filterNot(supportedWriterFeatures)
        if (bad.nonEmpty)
          throw new UnsupportedTableFeatureException(
            s"$table requires unsupported writer feature(s): " +
              s"${bad.sorted.mkString(", ")} — committing anyway would " +
              "silently break the table's contract for other clients")
      }
    }
    proto
  }

  /** Delta duration-property syntax: "interval N unit" (the prefix is
    * optional here). None on unparseable input — callers keep their
    * default rather than guessing. */
  private[graft] def parseDurationMs(s: String): Option[Long] =
    "(?i)(?:interval\\s+)?([0-9]+)\\s*(\\w+)".r
      .findFirstMatchIn(s.trim).flatMap { g =>
        val n = g.group(1).toLong
        g.group(2).toLowerCase match {
          case u if u.startsWith("milli")  => Some(n)
          case u if u.startsWith("second") => Some(n * 1000)
          case u if u.startsWith("minute") => Some(n * 60000)
          case u if u.startsWith("hour")   => Some(n * 3600000)
          case u if u.startsWith("day")    => Some(n * 86400000)
          case u if u.startsWith("week")   => Some(n * 7 * 86400000)
          case _ => None
        }
      }

  /** `delta.deletedFileRetentionDuration` in ms; Delta default 1 week. */
  private[graft] def retentionMs(cfg: Map[String, String]): Long =
    cfg.get("delta.deletedFileRetentionDuration")
      .flatMap(parseDurationMs).getOrElse(7L * 86400000)

  /** `delta.logRetentionDuration` in ms; Delta default 30 days. */
  private[graft] def logRetentionMs(cfg: Map[String, String]): Long =
    cfg.get("delta.logRetentionDuration")
      .flatMap(parseDurationMs).getOrElse(30L * 86400000)

  /** Materialize the snapshot as of `version` as a parquet checkpoint
    * in the REAL Delta classic shape: atomically-renamed parquet whose
    * rows are actions — the table's RESOLVED protocol row (DV
    * requirement unioned in), a metaData row (schema, partition
    * columns, configuration — no sidecars), one add row per live file
    * (stats, deletionVector descriptors, modificationTime carried,
    * dataChange=false per spec), and one remove row per UNEXPIRED
    * tombstone (so vacuum's retention horizon and a real reader's
    * replay survive [[cleanupLogs]]) — a real Delta reader discovers
    * and replays this engine's checkpoints via `_last_checkpoint`
    * exactly as it would a real writer's. Subsequent snapshot loads
    * replay checkpoint + tail JSON instead of the whole history; the
    * manifest FOLDS the previous checkpoint plus the tail, so each
    * checkpoint costs O(since-last-checkpoint), not O(history).
    *
    * Scale: the manifest is metadata (KBs-to-MBs even for a 100 TB
    * table) and is rendered driver-side like real classic checkpoints;
    * past `maxActionsPerPart` actions it splits into the Delta
    * multi-part naming (`<v>.checkpoint.<i>.<n>.parquet`) — the
    * 10^7-file regime — which [[checkpointActionDF]] reads back as a
    * union. */
  /** Snapshots past this action count render their checkpoint bulk as
    * a DISTRIBUTED job (manifest rows → add-action JSON lines → parquet
    * parts, no driver materialization) instead of the driver-side
    * collect+render — at 10⁷ files the collected manifest alone is
    * multi-GB of driver heap, and delta-spark distributes exactly this
    * write. Below it the driver render is cheaper (no job overhead).
    * Test seam. */
  private[graft] var checkpointRenderThreshold = 5000

  /** One snapshot-manifest row → its checkpoint add-action line.
    * partitionValues carried VERBATIM from the snapshot — a real
    * table's paths need not encode partitions, so re-deriving from
    * the path would silently erase them. dataChange=false: the Delta
    * spec marks every checkpoint action as not-logically-new.
    * rowTracking ids ride the checkpoint VERBATIM — replay from it
    * must preserve every file's identity. Pure, shared by the driver
    * AND distributed renders (via [[CheckpointAddLine]]) so the two
    * paths can never diverge in wire shape. */
  private[graft] def checkpointAddLine(r: org.apache.spark.sql.Row)
      : String = {
    val dvIdx = r.fieldIndex("dv_path")
    val mtIdx = r.fieldIndex("modificationTime")
    val bridIdx = r.fieldIndex("base_row_id")
    addLine(r.getString(r.fieldIndex("path")),
      r.getLong(r.fieldIndex("size")),
      Option(r.getString(r.fieldIndex("stats"))),
      dataChange = false,
      dv = if (r.isNullAt(dvIdx)) None
        else Some((r.getString(dvIdx),
          r.getLong(r.fieldIndex("dv_card")))),
      partitionValues = Some(
        r.getMap[String, String](r.fieldIndex("partitionValues")).toMap),
      modTime = if (r.isNullAt(mtIdx)) None else Some(r.getLong(mtIdx)),
      rowIds = if (r.isNullAt(bridIdx)) None
        else Some((r.getLong(bridIdx),
          r.getLong(r.fieldIndex("default_row_commit")))))
  }

  /** Checkpoints rendered through the distributed path — spec seam. */
  private[graft] val distributedCheckpointRenders =
    new java.util.concurrent.atomic.AtomicLong

  /** Every `table@version` winner commit the conflict resolver
    * driver-read for screening — spec seam: a `table@version` appearing
    * TWICE means a rebase attempt re-read a winner an earlier attempt
    * already screened (the O(intervening)-per-attempt regression the
    * advancing `base` exists to prevent). */
  private[graft] val winnerCommitsScreened =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())

  /** Bounded recording (r17): the list exists only as a spec seam —
    * in a long-lived writer under contention it must not grow without
    * bound, so it keeps the most recent window (far wider than any
    * spec's contention run) and evicts from the head. */
  private def recordWinnerScreened(s: String): Unit =
    winnerCommitsScreened.synchronized {
      winnerCommitsScreened.add(s)
      if (winnerCommitsScreened.size > 4096)
        winnerCommitsScreened.remove(0)
      ()
    }

  def writeCheckpoint(spark: SparkSession, table: String,
                      version: Long,
                      nowMs: () => Long = () => System.currentTimeMillis(),
                      maxActionsPerPart: Int = 1000000)
      : Unit = {
    val f = fs(spark, table)
    // resolved below the checkpoint being written, so an idempotent
    // re-run never reads the file it replaces
    val st = stateAt(spark, table, version, cpAtMost = version - 1)
    val snapDF0 = replaySnapshot(spark, table, version,
      cpAtMost = version - 1)
    // count + DV probe in ONE pass; the count decides whether the bulk
    // collects onto the driver at all
    val mustCacheCp =
      snapDF0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val snapDF = if (mustCacheCp) snapDF0.persist() else snapDF0
    try {
      writeCheckpointInner(spark, table, version, nowMs,
        maxActionsPerPart, f, st, snapDF)
    } finally if (mustCacheCp) { snapDF.unpersist(); () }
  }

  private def writeCheckpointInner(spark: SparkSession, table: String,
      version: Long, nowMs: () => Long, maxActionsPerPart: Int,
      f: org.apache.hadoop.fs.FileSystem, st: TableState,
      snapDF: DataFrame): Unit = {
    val cfg = st.config
    val aggRow = snapDF.agg(count(lit(1)),
      max(col("dv_path").isNotNull)).collect()(0)
    val snapCount = aggRow.getLong(0)
    val hasDvProbe = !aggRow.isNullAt(1) && aggRow.getBoolean(1)
    val distributed = snapCount > checkpointRenderThreshold
    // driver mode holds the full manifest (spec-scale tables, cheaper
    // than job overhead); distributed mode holds NO manifest rows at
    // all — the layout derivation below is its own cluster aggregate
    val snapRows =
      if (distributed) Array.empty[org.apache.spark.sql.Row]
      else snapDF.collect()
    // the protocol row is the table's ACTUAL resolved contract (latest
    // protocol action, checkpoint + tail) — synthesizing one from DV
    // state alone would let 10 engine commits downgrade a real table's
    // (3, timestampNtz) declaration to (1, 2). The DV requirement is
    // UNIONED in, not substituted: a snapshot still carrying DV
    // descriptors after the property was turned off must keep the DV
    // reader gate, or a reader trusting (1, 2) would resurrect the
    // masked rows.
    val proto =
      (if (hasDvProbe || cfg.get("delta.enableDeletionVectors").contains("true"))
         st.proto.withDeletionVectors
       else st.proto).render
    // partition columns: derived from the WHOLE manifest, never from
    // one sampled row — a mixed-layout snapshot (post-CONVERT debris,
    // Hive-encoded files beside pathless action-carried ones) must not
    // be described by whichever row a limit(1) probe returns. One
    // distinct-aggregate over the (path-layout signature, pv-key set)
    // pair runs as a cluster job; its collect is #distinct-layouts
    // rows (1 for every healthy table), metadata-scale at any file
    // count. A non-uniform partition-KEY set fails LOUDLY: rendering
    // a checkpoint that mis-declares the layout poisons every replay
    // that trusts it. Column ORDER prefers the Hive path order
    // (pathless rows defer), then the log's declared
    // `metaData.partitionColumns`, then sorted keys (deterministic
    // where the old single-row probe was map-iteration-order).
    val layoutRows = snapDF.select(
        expr("array_join(transform(filter(slice(split(path, '/'), 1, " +
          "greatest(size(split(path, '/')) - 1, 0)), " +
          "s -> instr(s, '=') > 0), s -> substring_index(s, '=', 1)), " +
          "'/')").as("sig"),
        expr("array_join(array_sort(map_keys(coalesce(" +
          "partitionValues, map()))), '/')").as("ks"))
      .distinct().collect()
    val pathSigs = layoutRows.map(_.getString(0)).distinct.filter(_.nonEmpty)
    val keySets = layoutRows.map(_.getString(1)).distinct
    require(keySets.length <= 1,
      s"checkpoint render: snapshot of $table carries " +
        s"${keySets.length} distinct partition-key sets " +
        s"(${keySets.mkString(" | ")}) — refusing to render a " +
        "checkpoint that would mis-declare the layout")
    require(pathSigs.length <= 1,
      s"checkpoint render: snapshot of $table mixes Hive path layouts " +
        s"(${pathSigs.mkString(" | ")}) — refusing to render a " +
        "checkpoint that would mis-declare the layout")
    val aggKeys = keySets.headOption.filter(_.nonEmpty)
      .map(_.split("/").toSeq).getOrElse(Seq.empty)
    require(pathSigs.isEmpty ||
        pathSigs.head.split("/").toSeq.sorted == aggKeys.sorted,
      s"checkpoint render: $table's Hive path layout " +
        s"(${pathSigs.mkString}) disagrees with the action-carried " +
        s"partitionValues keys (${aggKeys.mkString(",")})")
    val parts: Seq[String] =
      if (layoutRows.isEmpty)
        // EMPTY snapshot (all rows deleted): the layout still governs
        // future writes — carry the log's declared partitionColumns
        // instead of silently flipping the table to unpartitioned
        st.partitionColumns.getOrElse(Seq.empty)
      else pathSigs.headOption.map(_.split("/").toSeq).getOrElse {
        if (aggKeys.isEmpty) Seq.empty
        else st.partitionColumns.filter(_.sorted == aggKeys.sorted)
          .getOrElse(aggKeys.sorted)
      }
    val metaLines = st.schema
      .map(s => metaDataLine(table, s, parts, cfg)).toSeq
    val addLines: Seq[String] =
      if (distributed) Seq.empty[String]
      else snapRows.map(checkpointAddLine).toSeq
    // live domain metadata is snapshot state (the Delta rule): the
    // rowTracking high-water mark, the clustering layout and any other
    // writer's domain must survive log cleanup
    val domainLines = st.domains.toSeq.sorted.map { case (d, c) =>
      domainMetadataLine(d, c) }
    // unexpired remove tombstones ride the checkpoint (Delta classic
    // shape): without them, deleting pre-checkpoint JSON history
    // ([[cleanupLogs]]) would silently erase the horizon data vacuum
    // measures against, and a real reader replaying from this
    // checkpoint would see a tombstone-free history. Reconciliation:
    // newest remove per path, dropped when a later add revived the
    // path (it rides as a live add instead) or when the tombstone aged
    // past delta.deletedFileRetentionDuration. A null
    // deletionTimestamp cannot be aged — carried forever (fail-safe).
    val horizon = nowMs() - retentionMs(cfg)
    val cpPrev = latestCheckpoint(spark, table, version - 1)
    // ONE pass each over the previous checkpoint and the JSON tail,
    // projecting removes AND txn watermarks together — these were
    // separate Spark jobs per source (r7 priced that as the s10/s19-s25
    // write-lifecycle creep), and at metadata scale the job launch, not
    // the rows, is the cost.
    // ((path, deletionTimestamp), (txnAppId, txnVersion)) per action
    def actionsOf(df: DataFrame)
        : Seq[(Option[(String, Option[Long])], Option[(String, Long)])] = {
      val cols = df.columns.toSet
      val rm = cols.contains("remove")
      val tx = cols.contains("txn")
      if (!rm && !tx) return Seq.empty
      val rmPath = if (rm) col("remove.path") else lit(null).cast("string")
      val rmTs = if (rm) col("remove.deletionTimestamp").cast("long")
        else lit(null).cast("long")
      val txApp = if (tx) col("txn.appId") else lit(null).cast("string")
      val txVer = if (tx) col("txn.version").cast("long")
        else lit(null).cast("long")
      df.where(rmPath.isNotNull || txApp.isNotNull)
        .select(rmPath, rmTs, txApp, txVer)
        .collect().map { r =>
          val rem = if (r.isNullAt(0)) None
            else Some((r.getString(0),
              if (r.isNullAt(1)) None else Some(r.getLong(1))))
          val txn = if (r.isNullAt(2)) None
            else Some((r.getString(2), r.getLong(3)))
          (rem, txn)
        }.toSeq
    }
    val prevActions = cpPrev.toSeq.flatMap(v =>
      actionsOf(checkpointActionDF(spark, table, v)))
    val prevRemoves: Seq[(String, Option[Long])] = prevActions.flatMap(_._1)
    val tailVP = logJsonVersions(spark, table,
      cpPrev.getOrElse(-1L) + 1, version)
    // the tail's actions in commit order, on either log-scan arm
    val tailActions = logScan(spark, table, tailVP) { (_, nodes) =>
      nodes.flatMap { node =>
        val rem = jnode(node, "remove").flatMap(r =>
          jnode(r, "path").map(_.asText()).map(p =>
            (p, jnode(r, "deletionTimestamp").map(_.asLong()))))
        val txn = jnode(node, "txn").flatMap(t =>
          jnode(t, "appId").map(_.asText()).map(a =>
            (a, jnode(t, "version").map(_.asLong()).getOrElse(0L))))
        if (rem.isEmpty && txn.isEmpty) None else Some((rem, txn))
      }
    }
    val tailRemoves: Seq[(String, Option[Long])] = tailActions.flatMap(_._1)
    val reconciled = (prevRemoves ++ tailRemoves)
      .groupBy(_._1).view
      .mapValues { vs =>
        if (vs.exists(_._2.isEmpty)) None else Some(vs.flatMap(_._2).max) }
      .toSeq
      .filter { case (_, ts) => ts.forall(_ > horizon) }
    // liveness screen (a revived path rides as a live add instead):
    // driver set at spec scale; a distributed anti-join past the
    // threshold — the live set IS the full manifest, and collecting it
    // just for this screen would defeat the distributed render
    val deadRemoves: Seq[(String, Option[Long])] =
      if (!distributed) {
        val livePaths = snapRows.map(_.getString(0)).toSet
        reconciled.filterNot { case (p, _) => livePaths.contains(p) }
      } else if (reconciled.isEmpty) Seq.empty
      else {
        val dead = spark.createDataset(reconciled.map(_._1))(
            org.apache.spark.sql.Encoders.STRING).toDF("path")
          .join(snapDF.select("path"), Seq("path"), "left_anti")
          .collect().map(_.getString(0)).toSet
        reconciled.filter { case (p, _) => dead.contains(p) }
      }
    val removeLines = deadRemoves.map { case (p, ts) =>
        val tsField = ts.fold("")(t => s""","deletionTimestamp":$t""")
        s"""{"remove":{"path":${jstr(p)},"dataChange":false$tsField}}"""
      }.sorted
    // per-app transaction watermarks ride the checkpoint too (Delta
    // classic shape) — without them a streaming sink would lose its
    // exactly-once position once log cleanup removes the JSON tail.
    // Delta replay rule: the txn action from the LATEST commit wins
    // per appId (its version may legitimately be LOWER — a writer can
    // reset its sequence), so the tail's last entry per appId (it is
    // in commit order) overrides the previous checkpoint's.
    val tailTxns: Map[String, Long] = tailActions.flatMap(_._2).toMap
    val prevLatest: Map[String, Long] = prevActions.flatMap(_._2)
      .groupMapReduce(_._1)(_._2)(math.max)
    val txnLines = (prevLatest ++ tailTxns).toSeq.sortBy(_._1)
      .map { case (a, v) =>
        s"""{"txn":{"appId":${jstr(a)},"version":$v}}""" }
    // render as JSON lines, read under the action schema, land as
    // parquet, then rename into place — a crashed job leaves only
    // temps (or an INCOMPLETE multi-part set) that discovery never
    // selects. The manifest splits into the Delta multi-part naming
    // once it exceeds `maxActionsPerPart` rows — the 10^7-file regime
    // where one driver-rendered file stops being reasonable.
    val allLines = (proto +: metaLines) ++ addLines ++ removeLines ++
      txnLines ++ domainLines
    val size = allLines.length
    val n = math.max(1L,
      (size + maxActionsPerPart - 1L) / maxActionsPerPart).toInt
    val tmpBase = s"${logDir(table)}/.cp-tmp-" +
      java.util.UUID.randomUUID().toString
    val cpSchema = org.apache.spark.sql.types.StructType(
      logSchema.fields.filter(fd =>
        Set("add", "metaData", "protocol", "remove", "txn",
          "domainMetadata").contains(fd.name)))
    // render split from placement so callers control how long the
    // delete-old/rename-new window stays open (the v2 branch must not
    // destroy a good manifest before its replacement is fully rendered)
    def renderTmp(lines: Seq[String], idx: Int,
                  schema: org.apache.spark.sql.types.StructType): Path = {
      val tmpJson = new Path(s"$tmpBase/actions-$idx.json")
      val out = f.create(tmpJson, true)
      try out.write(lines.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      spark.read.schema(schema).json(s"$tmpBase/actions-$idx.json")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmpBase/out-$idx")
      f.listStatus(new Path(s"$tmpBase/out-$idx")).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
    }
    def place(part: Path, target: Path): Unit = {
      if (f.exists(target)) f.delete(target, true) // idempotent re-write
      if (!f.rename(part, target))
        throw new java.io.IOException(
          s"checkpoint rename $part -> $target failed")
    }
    def renderFile(lines: Seq[String], idx: Int, target: Path,
                   schema: org.apache.spark.sql.types.StructType): Unit =
      place(renderTmp(lines, idx, schema), target)
    // v2 policy (delta.checkpointPolicy=v2): one UUID-named MANIFEST
    // (protocol, metaData, txn, checkpointMetadata, sidecar rows) plus
    // the add/remove bulk in a parquet sidecar under
    // `_delta_log/_sidecars/` — the shape [[v2CheckpointActionDF]]
    // already consumes. The UUID naming is atomic by construction
    // (never a partial multi-part set); the parent dir of the sidecar
    // is created by rename's implicit mkdirs.
    if (cfg.get("delta.checkpointPolicy").contains("v2")) {
      // the sidecar lands first (a UUID name under _sidecars never
      // collides; a crash here leaves only an orphan the retention
      // cleanup ages out)
      // one sidecar per maxActionsPerPart chunk — the same multi-part
      // splitting the classic path has (the spec allows any number of
      // sidecar files); a 10⁷-action table renders bounded files
      // instead of one driver-built giant
      val fileLines = addLines ++ removeLines
      val sidecarSchema = org.apache.spark.sql.types.StructType(
        logSchema.fields.filter(fd =>
          fd.name == "add" || fd.name == "remove"))
      def sidecarRowOf(part: Path): String = {
        val sidecarName = java.util.UUID.randomUUID().toString + ".parquet"
        val target = new Path(s"${logDir(table)}/_sidecars/$sidecarName")
        f.mkdirs(target.getParent)
        place(part, target)
        val stSc = f.getFileStatus(target)
        s"""{"sidecar":{"path":${jstr(sidecarName)},""" +
          s""""sizeInBytes":${stSc.getLen},""" +
          s""""modificationTime":${stSc.getModificationTime}}}"""
      }
      val sidecarRows =
        if (distributed) {
          // DISTRIBUTED sidecar bulk (the classic path's job shape):
          // adds render on the cluster, the metadata-scale tombstones
          // ride one driver-written file in the same lines dir
          val linesDir = s"$tmpBase/lines"
          snapDF.map(CheckpointAddLine.of _)(
              org.apache.spark.sql.Encoders.STRING)
            .write.mode("overwrite").text(linesDir)
          if (removeLines.nonEmpty) {
            val ro = f.create(new Path(s"$linesDir/removes.json"), true)
            try ro.write(removeLines.mkString("\n").getBytes("UTF-8"))
            finally ro.close()
          }
          val nParts = math.max(1L, (snapCount + removeLines.length +
            maxActionsPerPart - 1L) / maxActionsPerPart).toInt
          val outDir = s"$tmpBase/scrender"
          val bulkDF = spark.read.schema(sidecarSchema).json(linesDir)
          (if (nParts == 1) bulkDF.coalesce(1)
           else bulkDF.repartition(nParts))
            .write.mode("overwrite").parquet(outDir)
          distributedCheckpointRenders.incrementAndGet()
          f.listStatus(new Path(outDir)).map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            .toSeq.map(sidecarRowOf)
        } else fileLines.grouped(maxActionsPerPart).zipWithIndex
          .map { case (chunk, idx) =>
            val tmpPart = renderTmp(chunk, idx, sidecarSchema)
            sidecarRowOf(tmpPart)
          }.toSeq
      val manifestLines = (proto +: metaLines) ++ txnLines ++
        domainLines ++
        Seq(s"""{"checkpointMetadata":{"version":$version}}""") ++
        sidecarRows
      // render the manifest FULLY before touching any existing one: a
      // re-run over an already-good checkpoint (idempotent retry after
      // a crash) must never leave the version checkpoint-less — after
      // log cleanup that would make the table unreplayable
      val manifestPart = renderTmp(manifestLines, 1, v2ManifestSchema)
      cpCompleteMemo.invalidate((rootOf(spark, table), version))
      // a crashed prior attempt may have left a same-version manifest
      // under a DIFFERENT uuid; discovery picks the lexicographic head,
      // so stale ones go right before the new one lands (the only
      // remaining crash window is the same delete+rename the classic
      // single-file path has)
      val stalePrefix = f"$version%020d.checkpoint."
      val dir0 = new Path(logDir(table))
      if (f.exists(dir0))
        f.listStatus(dir0).map(_.getPath).foreach { pp =>
          pp.getName match {
            case nm @ checkpointV2Name(_) if nm.startsWith(stalePrefix) =>
              f.delete(pp, false); ()
            case _ => ()
          }
        }
      val uuid = java.util.UUID.randomUUID().toString
      place(manifestPart,
        new Path(s"${logDir(table)}/" +
          f"$version%020d.checkpoint.$uuid.parquet"))
      f.delete(new Path(tmpBase), true)
      if (readLastCheckpoint(spark, table).forall(_ < version)) {
        // distributed mode never materialized addLines — count from
        // the snapshot instead of the (empty) rendered seq
        val v2Size =
          if (distributed) snapCount + removeLines.length +
            1 + metaLines.length + txnLines.length + domainLines.length
          else size
        val pOut = f.create(new Path(lastCheckpointPath(table)), true)
        try pOut.write(s"""{"version":$version,"size":$v2Size}"""
          .getBytes("UTF-8"))
        finally pOut.close()
      }
      return
    }
    // a failed rename must NOT advance the pointer below — the pointer
    // would name a checkpoint that does not exist and log discovery
    // would fall back to full listings until the next checkpoint lands
    def renderPart(lines: Seq[String], idx: Int, target: Path): Unit =
      renderFile(lines, idx, target, cpSchema)
    // clear EVERY stale same-version part first, by NAME pattern — a
    // crashed prior attempt may have left a PARTIAL set with a
    // different part count (checkpointMultiParts would return empty
    // for it), and mixing counts would make the new complete set
    // undiscoverable forever; runs for the single-file retry too, or
    // the orphans would linger as permanent _delta_log garbage. The
    // completeness memo clears FIRST: a crash between the deletes and
    // the new renames must not leave a memo entry claiming a
    // checkpoint that no longer exists on disk.
    cpCompleteMemo.invalidate((rootOf(spark, table), version))
    val stalePrefix = f"$version%020d.checkpoint."
    val dir0 = new Path(logDir(table))
    if (f.exists(dir0))
      f.listStatus(dir0).map(_.getPath).foreach { pp =>
        pp.getName match {
          case nm @ checkpointPartName(_, _)
              if nm.startsWith(stalePrefix) => f.delete(pp, false); ()
          case _ => ()
        }
      }
    if (distributed) {
      // DISTRIBUTED bulk render: manifest rows → add-action JSON lines
      // (text parts, one cluster job) → parquet under the checkpoint
      // action schema (a second job) — the driver holds the
      // metadata-scale lines and a probe row, never the manifest. The
      // per-row mapping is the SAME rowToAddLine the driver path uses,
      // so the two renders cannot diverge in wire shape. Part naming
      // uses the ACTUAL produced part count (the spec requires a
      // complete 1..n set, not any particular row split).
      val linesDir = s"$tmpBase/lines"
      snapDF.map(CheckpointAddLine.of _)(
          org.apache.spark.sql.Encoders.STRING)
        .write.mode("overwrite").text(linesDir)
      val smallLines = (proto +: metaLines) ++ removeLines ++
        txnLines ++ domainLines
      val smallOut = f.create(new Path(s"$linesDir/small-actions.json"),
        true)
      try smallOut.write(smallLines.mkString("\n").getBytes("UTF-8"))
      finally smallOut.close()
      val size2 = snapCount + smallLines.length
      val nParts = math.max(1L,
        (size2 + maxActionsPerPart - 1L) / maxActionsPerPart).toInt
      val outDir = s"$tmpBase/out"
      val bulkDF = spark.read.schema(cpSchema).json(linesDir)
      (if (nParts == 1) bulkDF.coalesce(1)
       else bulkDF.repartition(nParts))
        .write.mode("overwrite").parquet(outDir)
      val partFiles = f.listStatus(new Path(outDir)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val m = partFiles.length
      if (m == 1)
        place(partFiles.head, new Path(checkpointPath(table, version)))
      else partFiles.zipWithIndex.foreach { case (pp, i) =>
        place(pp, new Path(checkpointPartPath(table, version, i + 1, m)))
      }
      distributedCheckpointRenders.incrementAndGet()
      f.delete(new Path(tmpBase), true)
      if (readLastCheckpoint(spark, table).forall(_ < version)) {
        val partsField = if (m > 1) s""","parts":$m""" else ""
        val pOut = f.create(new Path(lastCheckpointPath(table)), true)
        try pOut.write(
          s"""{"version":$version,"size":$size2$partsField}"""
            .getBytes("UTF-8"))
        finally pOut.close()
      }
      return
    }
    if (n == 1)
      renderPart(allLines, 0, new Path(checkpointPath(table, version)))
    else
      allLines.grouped(maxActionsPerPart).zipWithIndex.foreach {
        case (chunk, i) => renderPart(chunk, i + 1,
          new Path(checkpointPartPath(table, version, i + 1, n)))
      }
    f.delete(new Path(tmpBase), true)
    // pointer last: it only ever names a checkpoint that already
    // exists, and only moves forward. "size" (total action count) is
    // REQUIRED by the Delta spec's _last_checkpoint shape; "parts"
    // marks the multi-part naming.
    if (readLastCheckpoint(spark, table).forall(_ < version)) {
      val partsField = if (n > 1) s""","parts":$n""" else ""
      val pOut = f.create(new Path(lastCheckpointPath(table)), true)
      try pOut.write(s"""{"version":$version,"size":$size$partsField}"""
        .getBytes("UTF-8"))
      finally pOut.close()
    }
  }

  /** `dataChange = false` marks a pure rewrite (OPTIMIZE): the rows are
    * not logically new, and incremental readers ([[readChanges]]) must
    * skip them — exactly the Delta protocol's dataChange bit. */
  /** The contiguous `k=v` SUFFIX of a path's directory segments — the
    * only segments that are partition structure. An absolute
    * clone-source path under a root containing '=' (e.g.
    * /data/run=5/src/part.parquet) must not leak spurious partition
    * values. Expressed THROUGH [[dvKeyDepth]] (trailing k=v count + the
    * file itself) so the DV row-identity walk and partition-value
    * rendering can never diverge. */
  private def partitionSegments(rel: String): Array[String] =
    rel.split("/").takeRight(dvKeyDepth(rel)).dropRight(1)

  /** The partition values a Hive-layout path encodes, UNESCAPED the way
    * Spark escaped them into the directory name (`a/b` lands as
    * `k=a%2Fb`): the log records the value itself — the Delta protocol's
    * partitionValues, and what [[LogFileIndex]] types the scan's
    * partition columns from. A null value keeps Spark's
    * `__HIVE_DEFAULT_PARTITION__` marker, which the index reads as
    * null. */
  private def pathPartitionValues(rel: String): Seq[(String, String)] =
    partitionSegments(rel).toSeq.map { seg =>
      val Array(k, v) = seg.split("=", 2)
      (k, org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(v))
    }

  /** A snapshot row's carried modificationTime (None on legacy adds). */
  private def mtOf(r: org.apache.spark.sql.Row): Option[Long] = {
    val i = r.fieldIndex("modificationTime")
    if (r.isNullAt(i)) None else Some(r.getLong(i))
  }

  private def addLine(rel: String, size: Long,
                      stats: Option[String] = None,
                      dataChange: Boolean = true,
                      dv: Option[(String, Long)] = None,
                      partitionValues: Option[Map[String, String]] = None,
                      // Delta protocol modificationTime: commit sites
                      // stamp the file's just-written wall-clock moment
                      // by default; checkpoint folding passes the
                      // action-carried value VERBATIM (None when a
                      // legacy add never recorded one)
                      modTime: Option[Long] = Some(System.currentTimeMillis()),
                      // rowTracking: (baseRowId, defaultRowCommitVersion)
                      // carried VERBATIM by checkpoint folding and
                      // RESTORE/CLONE (preservation); None lets the
                      // writeCommit funnel assign fresh ids
                      rowIds: Option[(Long, Long)] = None)
      : String = {
    // explicit partitionValues (checkpoint folding carries the
    // action-recorded map verbatim — paths need not encode partitions)
    // win over the Hive-layout path derivation
    val parts = partitionValues match {
      case Some(pv) => pv.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")
      case None => pathPartitionValues(rel)
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")
    }
    val statsField = stats.fold("") { s =>
      // protocol shape: the stats JSON is carried as an escaped string
      s""","stats":${jstr(s)}"""
    }
    val dvField = dv.fold("") { case (p, card) =>
      // an "rdv" marker renders as the protocol's descriptor
      val Array(_, st, pod, off, size) = p.split("\u0000", -1)
      val offField = if (off == "-1") "" else s""""offset":$off,"""
      s""","deletionVector":{"storageType":${jstr(st)},""" +
        s""""pathOrInlineDv":${jstr(pod)},$offField""" +
        s""""sizeInBytes":$size,"cardinality":$card}"""
    }
    val mtField = modTime.fold("")(m => s""","modificationTime":$m""")
    val ridField = rowIds.fold("") { case (b, d) =>
      s""","baseRowId":$b,"defaultRowCommitVersion":$d""" }
    s"""{"add":{"path":${jstr(rel)},"partitionValues":{$parts},"size":$size$mtField,"dataChange":$dataChange$statsField$dvField$ridField}}"""
  }

  /** Remove action with the Delta protocol's `deletionTimestamp` — the
    * wall-clock moment the file was de-referenced, which is what
    * [[vacuum]]'s retention horizon is measured against. */
  private def removeLine(rel: String, dataChange: Boolean,
                         tombstonedAt: Long): String =
    s"""{"remove":{"path":${jstr(rel)},"dataChange":$dataChange,""" +
      s""""deletionTimestamp":$tombstonedAt}}"""

  /** Compaction (OPTIMIZE-style): rewrite the current snapshot into one
    * file per partition directory, committing removes for the old files
    * and adds for the rewritten ones. Old files stay on disk (vacuum is
    * out of scope); the snapshot no longer references them.
    *
    * Scale: the rewrite is `repartition(partitionCols)` — each partition
    * value hashes to exactly one task, so every partition directory is
    * compacted independently and in parallel (how OPTIMIZE binpacks),
    * never funneled through a single task. A giant single partition can
    * additionally be split by `maxRecordsPerFile`. The log commit is
    * metadata-only, and does NOT retry on a concurrent-writer conflict:
    * the removes were computed from the pre-rewrite snapshot, so the
    * caller must re-run against the fresh snapshot (Delta conflict rule). */
  def compact(spark: SparkSession, table: String,
              partitionBy: Seq[String], readOnly: Boolean = false,
              maxRecordsPerFile: Long = 0L,
              statsCols: Seq[String] = Nil,
              clusterBy: Seq[String] = Nil,
              zOrderBy: Seq[String] = Nil,
              where: PartitionAcl.Filters = Seq.empty,
              maxInputFileSize: Long = Long.MaxValue): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy (1-D) and zOrderBy (multi-D) are exclusive")
    requireMappingWritable(latestSchema(spark, table), table, spark)
    // read-set version pin, captured BEFORE the snapshot replay: the
    // commit below lands at exactly readVersion + 1 or conflicts
    val readVersion = latestVersion(spark, table)
    // OPTIMIZE ... WHERE: `where` scopes the rewrite to the matching
    // partition directories (metadata-only file selection, same filter
    // algebra as reads) — at 100 TB you compact yesterday's partition,
    // not the table; unselected partitions are never read or removed.
    // `maxInputFileSize` (Delta's optimize input screen, and what
    // autoCompact rides): files already at-or-past the target size are
    // neither read nor rewritten — re-binpacking a 1 GB file buys
    // nothing and costs its full IO.
    val inScope = filesForFilters(snapshotFiles(spark, table), where)
    val current = (if (maxInputFileSize == Long.MaxValue) inScope
      else inScope.where(col("size") < maxInputFileSize))
      .collect()
    if (current.isEmpty) return readVersion // nothing in scope: no commit
    val oldPaths = current.map(_.getString(0)).toSet
    // declared-schema read: the rewrite materializes columns appended
    // after a file was written (as nulls), so post-compaction files all
    // carry the full current schema — Delta's OPTIMIZE does the same.
    // DV-aware: masked rows never enter the rewrite, and the rewritten
    // adds carry no DV — OPTIMIZE is how deletion vectors MATERIALIZE
    val read = readFilesWithDv(spark, table,
      LogFile.of(current.toIndexedSeq), stateAt(spark, table, Long.MaxValue))
    // clustered table (delta.clustering domain, late r13): a bare
    // OPTIMIZE honors the DECLARED layout — multi-column layouts
    // z-order, single-column layouts range-cluster — so `CALL
    // graft.optimize` on a clustered table does what Delta's OPTIMIZE
    // does without the caller restating the columns.
    val (clusterBy1, zOrderBy1) =
      if (clusterBy.nonEmpty || zOrderBy.nonEmpty) (clusterBy, zOrderBy)
      else clusteringColumns(spark, table) match {
        case Seq() => (Nil, Nil)
        case Seq(one) => (Seq(one), Nil)
        case many => (Nil, many)
      }
    // OPTIMIZE ZORDER: sort within each rewrite task by the Morton code
    // of the z-order columns so maxRecordsPerFile splits yield files
    // covering small hyper-rectangles — min/max stats discriminate on
    // every z-ordered column (graft.operators.ZOrder)
    val (data, sortCols) =
      if (zOrderBy1.isEmpty) (read, clusterBy1)
      else (graft.operators.ZOrder.withZValue(read, zOrderBy1), Seq("__z"))
    // explicit partition count: a column-only repartition is eligible for
    // AQE partition coalescing, which at low volume re-creates the exact
    // single-task funnel this rewrite removes; with the count pinned each
    // partition value compacts in its own task unconditionally
    val n = spark.sessionState.conf.numShufflePartitions
    // unpartitioned bin-pack parallelism scales to the INPUT volume:
    // n tasks at table scale, but a small input (autoCompact's usual
    // case) packs into ceil(bytes / target) files — a bare
    // repartition(n) would round-robin a handful of small files
    // across n tasks and EMIT MORE files than it consumed
    lazy val nPacked = {
      val totalBytes = current.iterator.map(_.getAs[Long]("size")).sum
      val target =
        if (maxInputFileSize != Long.MaxValue) maxInputFileSize
        else 1024L * 1024 * 1024
      math.max(1L, math.min(n.toLong,
        (totalBytes + target - 1) / target)).toInt
    }
    val binpacked =
      if (partitionBy.nonEmpty) data.repartition(n, partitionBy.map(col): _*)
      else if (sortCols.nonEmpty)
        // unpartitioned clustered/z-ordered rewrite: RANGE partition on
        // the sort key so the whole-table sort parallelizes across n
        // tasks while each task still holds a CONTIGUOUS key (or
        // z-curve) range — per-file min/max stay as tight as the old
        // single-task sort, without the single task (the round-4
        // scale-killer: one task z-sorting the entire table)
        data.repartitionByRange(n, sortCols.map(col): _*)
      else data.repartition(nPacked)
    // clusterBy: sort within each rewrite task so maxRecordsPerFile
    // splits yield files covering CONTIGUOUS clusterBy ranges — tight,
    // disjoint min/max stats that make filesForRange discriminate
    // (OPTIMIZE ZORDER's goal, 1-D form; at 100 TB this is what turns
    // stats skipping from "conservative" into "most files skipped").
    // The partition columns lead the sort: the partitioned write
    // requires ordering by them, and presenting input already in that
    // order keeps the writer from re-sorting (which would shred the
    // clusterBy order).
    val clustered =
      if (sortCols.isEmpty) binpacked
      else binpacked.sortWithinPartitions(
        (partitionBy ++ sortCols).map(col): _*)
    // the z-value is a clustering key, not table data: project it away
    // AFTER the sort (a projection preserves ordering)
    val toWrite =
      if (zOrderBy1.isEmpty) clustered else clustered.drop("__z")
    val added = writeAndCapture(spark, toWrite, table, partitionBy,
      maxRecordsPerFile)
    // OPTIMIZE inherits the table's stats discipline: with no explicit
    // statsCols the rewrite keeps the stat columns the replaced files
    // already carried (minValues keys of the first stats-bearing add) —
    // a compaction must never silently degrade data skipping, and
    // Delta's own OPTIMIZE recomputes stats on its rewrites the same
    // way. Z-order adds its clustering columns: tight per-file
    // hyper-rectangles are the entire point of the rewrite.
    val inheritedStatsCols =
      if (statsCols.nonEmpty) statsCols
      else {
        val fromFiles = current.iterator
          .map(_.getAs[String]("stats")).find(_ != null).map { s =>
            val mv = new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(s).get("minValues")
            if (mv == null) Seq.empty[String]
            else {
              val it = mv.fieldNames()
              val b = Seq.newBuilder[String]
              while (it.hasNext) b += it.next()
              b.result()
            }
          }.getOrElse(Seq.empty)
        (fromFiles ++
          (zOrderBy1 ++ clusterBy1).filterNot(fromFiles.contains))
      }
    val stats = fileStats(spark, table, added.map(_._1), inheritedStatsCols)
    val now = System.currentTimeMillis()
    val removes = oldPaths.toSeq.sorted.map(p => removeLine(p,
      dataChange = false, now))
    // pinned version with conflict RESOLUTION: the removes were
    // computed from the snapshot read above, so a concurrent commit
    // removing any of THEM (a DELETE that beat us) still conflicts —
    // but a pure rewrite's outcome cannot depend on files it never
    // read, so concurrent dataChange APPENDS rebase past
    // (readCond = lit(false): no add ever matches). This is what lets
    // periodic OPTIMIZE land under continuous ingest instead of losing
    // every race (Delta's compaction conflict rule).
    beforeDmlCommitHook()
    writeCommitResolving(spark, table, readVersion + 1,
      removes ++ added.map { case (p, s, m) => // pure rewrite
        addLine(p, s, stats.get(p), dataChange = false, modTime = Some(m)) },
      "OPTIMIZE", readCond = Some(lit(false)))
  }

  /** Relative paths of snapshot files that contain at least one row
    * matching `hit` — the copy-on-write blast radius. One filter scan
    * with the predicate pushed to parquet (row groups whose min/max
    * exclude the predicate never decompress), projecting only the file
    * name; the collect is metadata-scale (file paths, not rows). */
  private def matchingFiles(spark: SparkSession, table: String,
                            pairs: Seq[LogFile], state: TableState,
                            hit: DataFrame => DataFrame)
      : Seq[LogFile] = {
    if (pairs.isEmpty) return Nil
    if (pairs.exists(_.dv.isDefined)) {
      // DV-bearing snapshot: discover over the MASKED view — a masked
      // row must neither mark its file touched nor survive the rewrite
      // (the old refuse-and-compact-first behavior is gone; the rewrite
      // read applies the mask, Delta's own CoW-over-DV rule)
      val fnames = hit(withRowIdentity(spark, table, pairs, state.schema))
        .select("__fname").distinct().collect().map(_.getString(0)).toSet
      pairs.filter(p => fnames.contains(dvKeyOf(p.path)))
    } else {
      val base = readFilesAs(spark, table, pairs, state)
      require(!base.columns.contains("__file"),
        "table has a '__file' column, which collides with the " +
          "copy-on-write file-discovery temp column")
      // keyed exactly on the qualified path the scan read: a relative
      // path that is a suffix of another file's must not match it
      val touched = hit(base.withColumn("__file", input_file_name()))
        .select("__file").distinct().collect()
        .map(r => new Path(new java.net.URI(r.getString(0)))).toSet
      val conf = spark.sparkContext.hadoopConfiguration
      pairs.filter { p =>
        val raw = new Path(resolvePath(table, p.path))
        touched.contains(raw.getFileSystem(conf).makeQualified(raw))
      }
    }
  }

  /** Test seam: runs just before a DML commit lands — specs inject a
    * concurrent writer here to exercise the read-set conflict check. */
  private[graft] var beforeDmlCommitHook: () => Unit = () => ()

  /** Fires after a conflict resolver's screen PASSES, before the next
    * commit attempt — a test seam so CommitRaceSpec can land a SECOND
    * winner mid-rebase and pin that attempt N+1 reads only the commits
    * attempt N has not screened. */
  private[graft] var onRebaseScreenHook: () => Unit = () => ()

  /** Commit wall-clock source (Delta's commitInfo timestamp) — a test
    * seam so TIMESTAMP AS OF specs can script history. */
  private[graft] var commitClock: () => Long = () => System.currentTimeMillis()

  /** The Delta rowTracking feature's domainMetadata domain. */
  private[graft] val RowTrackingDomain = "delta.rowTracking"

  /** The clustered-table feature's domainMetadata domain (Delta writer
    * feature `clustering`): configuration carries the clustering
    * layout as `{"clusteringColumns":[["a"],["b"]]}` — one path array
    * per column, PHYSICAL names on mapped tables. */
  private[graft] val ClusteringDomain = "delta.clustering"

  private def clusteringConfig(cols: Seq[String]): String =
    s"""{"clusteringColumns":[${
      cols.map(c => s"[${jstr(c)}]").mkString(",")}]}"""

  private def jsonTree(json: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)

  /** The declared clustering layout in `st` (PHYSICAL column names,
    * possibly empty = CLUSTER BY NONE): the live delta.clustering
    * domain. None when the table never declared clustering or the
    * domain was removed. */
  private def clusteringPhysicalCols(st: TableState): Option[Seq[String]] =
    st.domains.get(ClusteringDomain).map(jsonTree).map { cfg =>
      import scala.jdk.CollectionConverters._
      jnode(cfg, "clusteringColumns").toSeq
        .flatMap(_.elements().asScala).flatMap(_.elements().asScala)
        .map(_.asText())
    }

  /** The clustering columns under their LOGICAL names (Nil when not
    * clustered or CLUSTER BY NONE) — physical names relabel back
    * through the current schema; unmapped tables are identity. */
  def clusteringColumns(spark: SparkSession, table: String): Seq[String] = {
    val st = stateAt(spark, table, Long.MaxValue)
    clusteringPhysicalCols(st).getOrElse(Nil).map(pn =>
      st.schema.flatMap(_.fields.find(fld =>
      physicalNameOf(fld) == pn)).fold(pn)(_.name))
  }

  /** ALTER TABLE ... CLUSTER BY (cols) / CLUSTER BY NONE: one commit
    * re-stating the delta.clustering domain (empty list = NONE —
    * domains never retract, Delta's own shape) and declaring the
    * clustering writer feature when the protocol lacks it. Metadata
    * only: no file moves; the layout governs FUTURE OPTIMIZE runs. */
  def setClusterBy(spark: SparkSession, table: String,
                   cols: Seq[String], readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    val readVersion = latestVersion(spark, table)
    val declared = latestSchema(spark, table, readVersion)
    requireMappingWritable(declared, table, spark)
    cols.foreach(c => require(declared.exists(
      _.fieldNames.exists(_.equalsIgnoreCase(c))),
      s"CLUSTER BY column $c is not in the schema of $table"))
    require(partitionColumns(spark, table).isEmpty,
      s"$table is Hive-partitioned — CLUSTER BY and PARTITIONED BY " +
        "are mutually exclusive (Delta's rule)")
    val phys = cols.map(c => declared.flatMap(_.fields
      .find(_.name.equalsIgnoreCase(c))).fold(c)(physicalNameOf))
    val cur = tableState(spark, table, readVersion).proto
    val up = cur.withWriterFeature("clustering")
      .withWriterFeature("domainMetadata")
    val protoLines = if (up == cur) Seq.empty else Seq(up.render)
    writeCommit(spark, table, readVersion + 1,
      protoLines :+ domainMetadataLine(ClusteringDomain,
        clusteringConfig(phys)),
      "CLUSTER BY")
  }

  /** The row-id high-water mark as of committed `atMost`: the live
    * delta.rowTracking domain ([[tableState]]). -1 before any
    * assignment (the spec's initial mark; the first fresh base row id
    * is 0). */
  private def rowIdHighWaterMark(spark: SparkSession, table: String,
                                 atMost: Long): Long =
    tableState(spark, table, atMost).domains.get(RowTrackingDomain)
      .flatMap(c => hwmOf(jsonTree(c))).getOrElse(-1L)

  private def hwmOf(cfg: com.fasterxml.jackson.databind.JsonNode)
      : Option[Long] =
    jnode(cfg, "rowIdHighWaterMark").map(_.asLong())

  private def domainMetadataLine(domain: String, cfgJson: String): String =
    s"""{"domainMetadata":{"domain":${jstr(domain)},""" +
      s""""configuration":${jstr(cfgJson)},"removed":false}}"""

  /** Uphold the rowTracking writer feature on one commit ATTEMPT:
    * every add action gains `baseRowId` + `defaultRowCommitVersion`,
    * and the commit appends a domainMetadata action advancing the
    * delta.rowTracking high-water mark. Resolved per attempt so a
    * rebased retry re-reads the mark a concurrent commit advanced.
    *
    * Rules (the Delta spec's writer requirements):
    *  - adds already carrying `baseRowId` pass verbatim (RESTORE/CLONE
    *    render preserved ids themselves; foreign callers too);
    *  - a re-added path (a DV swap's remove+re-add) PRESERVES the ids
    *    the pre-commit snapshot records for it — row ids are stable
    *    under masking;
    *  - new files take fresh ids hwm+1.., each advancing the mark by
    *    its numRecords (from the add's stats; stats-less files are
    *    counted with one bounded scan of JUST those files).
    * Driver work is O(commit blast radius); the preservation lookup
    * runs only when the commit carries removes (the only way this
    * engine re-adds an existing path). */
  private def injectRowTracking(spark: SparkSession, table: String,
                                v: Long, lines: Seq[String]): Seq[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val adds = lines.zipWithIndex.flatMap { case (l, i) =>
      if (!l.startsWith("{\"add\":") || l.contains("\"baseRowId\""))
        None
      else {
        val node = om.readTree(l).get("add")
        val recs = Option(node.get("stats")).filterNot(_.isNull)
          .map(_.asText())
          .flatMap(s => """"numRecords"\s*:\s*(\d+)""".r
            .findFirstMatchIn(s).map(_.group(1).toLong))
        Some((i, node.get("path").asText(), recs))
      }
    }
    if (adds.isEmpty) return lines
    val addPaths = adds.map(_._2)
    // preserved ids for re-added paths (only possible alongside removes)
    val preserved: Map[String, (Long, Long)] =
      if (!lines.exists(_.startsWith("{\"remove\":"))) Map.empty
      else {
        val snap = snapshotFilesAt(spark, table, v - 1)
        if (!snap.columns.contains("base_row_id")) Map.empty
        else snap.where(col("path").isin(addPaths: _*) &&
            col("base_row_id").isNotNull)
          .select("path", "base_row_id", "default_row_commit")
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      }
    // stats-less NEW files need a count — one scan of just those files
    val uncounted = adds.collect {
      case (_, p, None) if !preserved.contains(p) => p }
    // exact resolved-path keying (suffix matching would let 'f.parquet'
    // steal 'sub/f.parquet''s count when both ride one commit); a
    // scanned file yielding no groupBy row is a legal EMPTY parquet
    // file → numRecords 0, not an error
    val byAbs: Map[String, String] =
      uncounted.map(p => decodeFileUri(resolvePath(table, p)) -> p).toMap
    val counted: Map[String, Long] =
      if (uncounted.isEmpty) Map.empty
      else {
        val scanned = spark.read.option("basePath", table)
          .parquet(uncounted.map(p => resolvePath(table, p)): _*)
          .groupBy(input_file_name().as("f")).count().collect()
          .map { r =>
            val abs = decodeFileUri(r.getString(0))
            byAbs.getOrElse(abs, sys.error(
              s"counted file $abs matches no added path")) -> r.getLong(1)
          }.toMap
        uncounted.map(p => p -> scanned.getOrElse(p, 0L)).toMap
      }
    // the mark: latest log-recorded, floored by any rowTracking domain
    // line the commit itself carries (a CLONE's v0 ships the source's
    // mark alongside id-carrying adds)
    val carried = lines.filter(l =>
      l.startsWith("{\"domainMetadata\"") && l.contains(RowTrackingDomain))
    var hwm = (rowIdHighWaterMark(spark, table, v - 1) +:
      carried.flatMap(l => jnode(om.readTree(l), "domainMetadata")
        .flatMap(jnode(_, "configuration"))
        .flatMap(c => hwmOf(jsonTree(c.asText()))))).max
    val patched = lines.toArray
    adds.foreach { case (i, p, recs) =>
      val (base, dcv) = preserved.get(p) match {
        case Some((b, d)) => (b, d)
        case None =>
          val n = recs.orElse(counted.get(p)).getOrElse(sys.error(
            s"rowTracking: no record count resolvable for $p"))
          val b = hwm + 1
          hwm += n
          (b, v)
      }
      patched(i) = patched(i).replaceFirst(
        """^\{"add":\{""",
        s"""{"add":{"baseRowId":$base,"defaultRowCommitVersion":$dcv,""")
    }
    // one domain action per commit: the appended mark supersedes (and
    // replaces) any carried line
    patched.toSeq.filterNot(carried.contains) :+
      domainMetadataLine(RowTrackingDomain,
        s"""{"rowIdHighWaterMark":$hwm}""")
  }

  /** The next monotonic in-commit timestamp: strictly greater than the
    * previous commit's (ICT-or-wall) clock, at least the current wall
    * clock — Delta's ICT rule. Commit `v - 1` is read every time, so a
    * commit another writer landed counts (a memo hit once any reader
    * parsed it). */
  private def nextIct(spark: SparkSession, table: String, v: Long,
                      now: Long): Long = {
    val prev =
      if (v <= 0) 0L
      else commitTimestamps(spark, table, v - 1, v - 1).values
        .headOption.getOrElse(0L)
    math.max(prev + 1, now)
  }

  /** TIMESTAMP AS OF resolution: the latest version whose commit
    * timestamp is <= `tsMs` (Delta's rule). Reads commitInfo rows from
    * the log — O(history) but a rare user-facing operation, and commit
    * timestamps are bytes per commit. Legacy commits without a
    * timestamp are skipped. Throws when the timestamp predates the
    * table. */
  def versionAtTimestamp(spark: SparkSession, table: String,
                         tsMs: Long): Long = {
    val vps = logJsonVersions(spark, table)
    require(vps.nonEmpty, s"$table has no commits")
    // inCommitTimestamp (when a real writer recorded one) is the
    // commit's authoritative clock; the plain timestamp is the fallback.
    val hit = logScan(spark, table, vps) { (v, nodes) =>
      nodes.flatMap(commitTimestampOf).filter(_ <= tsMs)
        .map(_ => v)
    }.maxOption
    hit.getOrElse(throw new IllegalArgumentException(
      s"no commit at or before timestamp $tsMs in $table"))
  }

  /** [[readFiltered]] pinned at the snapshot as of a wall-clock time. */
  def readAtTimestamp(spark: SparkSession, table: String, tsMs: Long,
                      filters: PartitionAcl.Filters = Seq.empty): DataFrame =
    readFiltered(spark, table, filters,
      versionAsOf = Some(versionAtTimestamp(spark, table, tsMs)))

  /** Commit timestamps (ms) of the versions in `[fromV, toV]`, from
    * commitInfo — inCommitTimestamp preferred, like
    * [[versionAtTimestamp]]. Versions without a timestamped commitInfo
    * are absent from the map. One O(window) [[logScan]],
    * metadata-scale (the `table_changes` SQL surface joins this against
    * the change feed). */
  def commitTimestamps(spark: SparkSession, table: String, fromV: Long,
                       toV: Long): Map[Long, Long] = {
    val vps = logJsonVersions(spark, table, fromV, toV)
    if (vps.isEmpty) return Map.empty
    logScan(spark, table, vps) { (v, nodes) =>
      nodes.flatMap(commitTimestampOf).map(v -> _)
    }.toMap
  }

  /** A commitInfo action's timestamp: inCommitTimestamp, else the plain
    * timestamp. */
  private def commitTimestampOf(
      node: com.fasterxml.jackson.databind.JsonNode): Option[Long] =
    jnode(node, "commitInfo").flatMap(ci =>
      jnode(ci, "inCommitTimestamp").orElse(jnode(ci, "timestamp")))
      .map(_.asLong())

  /** Rewrite `touched` files as `rewrite(their contents)` and commit
    * removes for the old files + adds for the new ones — the shared
    * copy-on-write tail of DELETE/UPDATE/MERGE. Files outside `touched`
    * are never read or written. The commit targets EXACTLY
    * `readVersion + 1` — the version after the snapshot the touched set
    * was computed from — and does NOT retry: ANY commit that landed in
    * between (not just a same-version filename collision) throws
    * [[ConcurrentCommitException]], because committing a touched set
    * from a stale snapshot would silently resurrect concurrently deleted
    * rows or drop concurrent updates (the Delta read-set conflict rule).
    * The caller re-runs against the fresh snapshot. */
  private def copyOnWrite(spark: SparkSession, table: String,
                          readVersion: Long,
                          touched: Seq[LogFile], state: TableState,
                          rewrite: DataFrame => DataFrame,
                          partitionBy: Seq[String], operation: String,
                          statsCols: Seq[String],
                          extraLines: Seq[String] = Nil,
                          dataChange: Boolean = true,
                          // the commit's COMPLETE row-level change set
                          // (data columns + _change_type), present iff
                          // the table serves a change feed — lands as
                          // real cdc files in the same commit
                          cdc: Option[DataFrame] = None,
                          // the not-yet-committed schema of an evolving
                          // mapped write: the data/cdc writers and the
                          // stats pass relabel under IT, not the probe
                          schemaOverride: Option[
                            org.apache.spark.sql.types.StructType] = None,
                          // predicate DML opts into Delta-style conflict
                          // RESOLUTION ([[writeCommitResolving]]):
                          // readCond is the discovery's own file-level
                          // may-match condition, the add-conflict screen
                          resolveConflicts: Boolean = false,
                          readCond: Option[
                            org.apache.spark.sql.Column] = None)
      : Long = {
    // the rewrite reads UNDER the files' deletion vectors: masked rows
    // are already deleted and must not be resurrected into the
    // rewritten files (the new adds carry no DV — CoW materializes it)
    val declared = state.schema
    val newData0 = rewrite(readFilesWithDv(spark, table, touched, state))
    // Delta enforces invariants on EVERY write: an UPDATE/MERGE whose
    // new values violate a CHECK constraint must fail before commit.
    // The enforcement aggregate + the write would otherwise evaluate
    // the rewrite twice (and a nondeterministic rewrite could validate
    // different rows than it writes) — persist across the pair.
    val cfg = tableConfig(spark, table, readVersion)
    val constrained = constraintsOf(cfg).nonEmpty ||
      invariantEntries(declared).nonEmpty
    val newData = if (constrained) newData0.persist() else newData0
    val added =
      try {
        if (constrained) enforceConstraints(newData, cfg, declared)
        writeAndCapture(spark, newData, table, partitionBy,
          schemaOverride = schemaOverride)
      } finally if (constrained) { newData.unpersist(); () }
    val stats = fileStats(spark, table, added.map(_._1), statsCols,
      schemaOverride = schemaOverride)
    val cdcLines =
      cdc.fold(Seq.empty[String])(writeCdcFiles(spark, table, _,
        partitionBy, schemaOverride))
    val now = System.currentTimeMillis()
    beforeDmlCommitHook()
    val allLines = cdcLines ++ extraLines ++
      touched.map(_.path).sorted.map(p =>
        removeLine(p, dataChange = dataChange, now)) ++
      added.map { case (p, s, m) =>
        addLine(p, s, stats.get(p), modTime = Some(m),
          dataChange = dataChange) }
    if (resolveConflicts)
      writeCommitResolving(spark, table, readVersion + 1, allLines,
        operation, readCond)
    else writeCommit(spark, table, readVersion + 1, allLines, operation)
  }

  /** REORG TABLE ... APPLY (PURGE) — Delta's targeted deletion-vector
    * materialization: rewrite ONLY the files carrying DV masks
    * (survivor rows land in fresh mask-free files), leaving every
    * mask-free file untouched. dataChange=false throughout — the
    * rewrite is physical, not logical, so CDF and streaming readers
    * see nothing (OPTIMIZE's rule), and it stays legal on appendOnly
    * and CDF-enabled tables. At 100 TB this touches exactly the
    * DV-bearing blast radius, not the table. */
  def reorgPurge(spark: SparkSession, table: String,
                 partitionBy: Seq[String] = Nil,
                 readOnly: Boolean = false,
                 statsCols: Seq[String] = Nil): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    requireMappingWritable(latestSchema(spark, table), table, spark)
    val readVersion = latestVersion(spark, table)
    val state = stateAt(spark, table, readVersion)
    // DV-bearing files only (the op's blast radius by definition);
    // counted in dmlManifestRows like every other DML discovery so the
    // driver-memory audit stays uniform
    val touched = LogFile.of(collected(
      snapshotFilesAt(spark, table, readVersion)
        .where(col("dv_path").isNotNull)
        .select(LogFile.columns: _*).collect().toIndexedSeq))
    if (touched.isEmpty) return readVersion // nothing masked: no commit
    // same resolution posture as OPTIMIZE: a physical rewrite never
    // depends on concurrently-appended files, so only removes of its
    // own inputs (and metadata/protocol changes) conflict
    copyOnWrite(spark, table, readVersion, touched, state,
      identity, partitionBy, "REORG", statsCols, dataChange = false,
      resolveConflicts = true, readCond = Some(lit(false)))
  }

  /** Sum of add-action data bytes in ONE commit — the budget unit for
    * the streaming source's `maxBytesPerTrigger`; 0 when the commit
    * does not exist. Read through [[logActions]], so a torn line
    * refuses by name. */
  private[graft] def commitAddBytes(spark: SparkSession, table: String,
                                    v: Long): Long =
    logActions(spark, table, v, v).flatMap { case (_, n) =>
      jnode(n, "add").flatMap(jnode(_, "size")).map(_.asLong())
    }.sum

  /** Diagnostic: manifest rows collected onto the driver by DML
    * blast-radius discovery. Specs assert a partition-scoped DELETE
    * collects the matching partition's files, not the table's — the
    * difference between KBs and GBs of driver heap at 10⁷ files. */
  private[graft] val dmlManifestRows = new java.util.concurrent.atomic.AtomicLong

  private def collected(rows: Seq[org.apache.spark.sql.Row])
      : Seq[org.apache.spark.sql.Row] = {
    dmlManifestRows.addAndGet(rows.size)
    rows
  }

  /** A file-level may-contain-a-match condition over the snapshot
    * metadata for one column reference: partition columns evaluate their
    * Hive path value EXACTLY (every row of the file shares it); data
    * columns check the per-file min/max stats range conservatively
    * (missing or uncastable stats keep the file). `lo`/`hi` bound the
    * sought values; for equality both are the same literal. */
  private def fileRangeCond(name: String, partitionCols: Seq[String],
                            t: org.apache.spark.sql.types.DataType,
                            lo: Any, hi: Any): org.apache.spark.sql.Column = {
    val pk = partitionCols.find(_.equalsIgnoreCase(name))
    pk match {
      case Some(k) =>
        val raw = element_at(col("partitionValues"), k)
        val v = when(raw === "__HIVE_DEFAULT_PARTITION__",
          lit(null).cast("string")).otherwise(raw).cast(t)
        v >= lit(lo) && v <= lit(hi)
      case None =>
        val mn = get_json_object(col("stats"), s"$$.minValues.$name").cast(t)
        val mx = get_json_object(col("stats"), s"$$.maxValues.$name").cast(t)
        col("stats").isNull || mn.isNull || mx.isNull ||
          (mx >= lit(lo) && mn <= lit(hi))
    }
  }

  /** Scope a DML operation's manifest to the files that MAY contain a
    * row where `predicate` is TRUE, from log metadata alone — the
    * distributed blast-radius pruning that runs BEFORE any driver
    * collect. Partition-column comparisons resolve exactly against the
    * file's Hive partition value; data-column comparisons resolve
    * conservatively against per-file min/max stats; anything the
    * translator cannot prove (UDFs, string functions, OR with an
    * opaque side) keeps the file. Sound by construction: a pruned file
    * provably contains no TRUE row, so `DELETE WHERE year='2023'` on a
    * 10⁷-file table collects one partition's manifest rows, never the
    * table's. */
  private[graft] def dmlCandidates(snap: DataFrame,
                                   predicate: org.apache.spark.sql.Column,
                                   partitionCols: Seq[String],
                                   declared: Option[org.apache.spark.sql
                                     .types.StructType] = None): DataFrame =
    dmlFileCondition(snap.sparkSession, predicate, partitionCols, declared)
      // null-valued conditions only arise from exact partition
      // subtrees, where null means "no row's predicate is TRUE" —
      // excluding the file is sound (see Not/And soundness above)
      .fold(snap)(c => snap.where(coalesce(c, lit(false))))

  /** The file-level may-match condition [[dmlCandidates]] applies,
    * exposed on its own: a Column over (partitionValues, stats) action
    * metadata that is FALSE only for files provably holding no row
    * where `predicate` is TRUE. None when the predicate has no
    * translatable structure (whole-table read). Shared by discovery
    * AND the conflict checker ([[writeCommitResolving]]) — a
    * concurrently ADDED file failing this condition provably cannot
    * change the DML's outcome. */
  private[graft] def dmlFileCondition(spark: SparkSession,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String],
      declared: Option[org.apache.spark.sql.types.StructType])
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    val simpleName = "[A-Za-z0-9_]+".r
    def nameOf(e: Expression): Option[String] = e match {
      // single-part only: `t.f` is a NESTED field whose stats/partition
      // metadata do not exist under "f" — treating it as top-level
      // would prune on the wrong column's stats
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case _ => None
    } // only plain JSON-path-safe names translate; others stay opaque
    def ok(n: String) = simpleName.pattern.matcher(n).matches()
    def pvCol(k: String): org.apache.spark.sql.Column = {
      val raw = element_at(col("partitionValues"), k)
      when(raw === "__HIVE_DEFAULT_PARTITION__",
        lit(null).cast("string")).otherwise(raw)
    }
    // generated-column derivation ([[graft.plans.GeneratedPruning]]): a
    // bound on a BASE column implies a bound on its generated PARTITION
    // column, so `DELETE WHERE ts < X` on a `day = CAST(ts AS DATE)`-
    // partitioned table probes the day directories exactly like a
    // direct partition predicate would — without it the blast radius
    // of every timestamp-scoped DML is the whole table. Derived
    // conditions are conservative (many base values share a partition),
    // so they conjoin with the stats range and never claim exactness.
    val genDerivs = declared.map(st =>
        graft.plans.GeneratedPruning.derivationsOf(st, partitionCols))
      .getOrElse(Seq.empty)
    def genPvKey(d: graft.plans.GeneratedPruning.Derivation): String =
      physicalColOf(declared, d.genCol) // mapped tables key pv physically
    def derivedConds(n: String, v: Literal, cmp: String)
        : Seq[org.apache.spark.sql.Column] =
      genDerivs.filter(_.baseCol.equalsIgnoreCase(n)).flatMap { d =>
        d.bound(v).flatMap { b =>
          val pv = pvCol(genPvKey(d)).cast(d.genType)
          val bl = org.apache.spark.sql.graft.ColumnBridge.column(b)
          cmp match {
            case "=" => Some(pv === bl)
            case ">" | ">=" if d.monotonic => Some(pv >= bl)
            case "<" | "<=" if d.monotonic => Some(pv <= bl)
            case _ => None
          }
        }
      }
    // returns (file-level condition, exact): exact means the condition
    // decides the row predicate for EVERY row of the file (pure
    // partition-column expression) — the only form Not() may negate
    // a literal may be losslessly widened into the DECLARED partition
    // type (int bound on a long/double-partitioned column); anything
    // lossy or unrelated refuses the leaf — comparing under the
    // literal's own type would cast the stored partition STRING to it,
    // which throws under ANSI ("2.0" → INT) or, worse, silently nulls
    // and excludes a file whose rows DO match under row-level coercion
    def widensLossless(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      (from, to) match {
        case (a, b) if a == b => true
        case (ByteType, ShortType | IntegerType | LongType | DoubleType) =>
          true
        case (ShortType, IntegerType | LongType | DoubleType) => true
        case (IntegerType, LongType | DoubleType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
    }
    def leaf(a: Expression, v: Literal, cmp: String)
        : Option[(org.apache.spark.sql.Column, Boolean)] =
      nameOf(a).filter(ok).flatMap { n =>
        partitionCols.find(_.equalsIgnoreCase(n)) match {
          case Some(k) =>
            val declType = declared.flatMap(_.fields
              .find(_.name.equalsIgnoreCase(n)).map(_.dataType))
            val t = declType.getOrElse(v.dataType)
            if (!widensLossless(v.dataType, t)) None
            else {
              val pv = pvCol(k).cast(t)
              // wrap the catalyst literal EXACTLY typed (ColumnBridge):
              // lit(v.value) would reinterpret internal encodings — a
              // TimestampType literal's value is Long MICROSECONDS,
              // which lit(long).cast(timestamp) reads as seconds
              val l = org.apache.spark.sql.graft.ColumnBridge.column(v)
                .cast(t)
              Some((cmp match {
                case "=" => pv === l
                case ">" => pv > l
                case ">=" => pv >= l
                case "<" => pv < l
                case "<=" => pv <= l
              }, true))
            }
          case None =>
            // stats compare under the DECLARED column type for the
            // same reason as the partition branch: the JSON strings
            // render the COLUMN's type ("2.0" for a double), and
            // casting them to an int literal's type throws under ANSI
            val declType = declared.flatMap(_.fields
              .find(_.name.equalsIgnoreCase(n)).map(_.dataType))
            val t = declType.getOrElse(v.dataType)
            if (!widensLossless(v.dataType, t)) None
            else Some {
              val lo = if (cmp == "=" || cmp == ">" || cmp == ">=") Some(v) else None
              val hi = if (cmp == "=" || cmp == "<" || cmp == "<=") Some(v) else None
              val mn = get_json_object(col("stats"), s"$$.minValues.$n")
                .cast(t)
              val mx = get_json_object(col("stats"), s"$$.maxValues.$n")
                .cast(t)
              // exact-typed literal wrap, same reason as the
              // partition branch (micros-as-seconds reinterpretation)
              def l(x: Literal) =
                org.apache.spark.sql.graft.ColumnBridge.column(x).cast(t)
              val range = (lo.map(x => mx >= l(x) || mx.isNull) ++
                hi.map(x => mn <= l(x) || mn.isNull))
                .reduceOption(_ && _).getOrElse(lit(true))
              // conjoin any implied generated-partition bound: a file
              // whose partition value fails it provably holds no match
              (derivedConds(n, v, cmp)
                .foldLeft(col("stats").isNull || range)(_ && _), false)
            }
        }
      }
    type T = Option[(org.apache.spark.sql.Column, Boolean)]
    def tAnd(x: Expression, y: Expression)(implicit
        trans: Expression => T): T = (trans(x), trans(y)) match {
      case (Some((a, ea)), Some((b, eb))) => Some((a && b, ea && eb))
      case (Some((a, _)), None) => Some((a, false))
      case (None, Some((b, _))) => Some((b, false))
      case _ => None
    }
    def tOr(x: Expression, y: Expression)(implicit
        trans: Expression => T): T =
      for ((a, ea) <- trans(x); (b, eb) <- trans(y))
        yield (a || b, ea && eb)
    // a conservative upper bound cannot be negated soundly — only an
    // exact (pure-partition) subtree may pass through Not
    def tNot(x: Expression)(implicit trans: Expression => T): T =
      trans(x).collect { case (c, true) => (!c, true) }
    def tIn(a: Expression, vs: Seq[Expression]): T =
      if (vs.isEmpty || !vs.forall(_.isInstanceOf[Literal])) None
      else vs.map(v => leaf(a, v.asInstanceOf[Literal], "="))
        .reduce((x, y) => for ((a1, e1) <- x; (b1, e2) <- y)
          yield (a1 || b1, e1 && e2))
    def tNull(a: Expression, positive: Boolean): T =
      nameOf(a).flatMap { n =>
        partitionCols.find(_.equalsIgnoreCase(n)).map(k =>
          (if (positive) pvCol(k).isNull else pvCol(k).isNotNull,
            true)) // data-col nulls: stats can't see them…
          .orElse { // …but a NULL-FAITHFUL generated partition can:
            // g(c) IS NULL ⇔ c IS NULL (probed at recognition), so the
            // file's partition value decides null-ness conservatively
            val ds = genDerivs.filter(_.baseCol.equalsIgnoreCase(n))
            if (ds.isEmpty) None
            else Some((ds.map { d =>
              val pv = pvCol(genPvKey(d))
              if (positive) pv.isNull else pv.isNotNull
            }.reduce(_ && _), false))
          }
      }
    // predicates arrive in TWO shapes: resolved/parsed catalyst nodes
    // (SQL DML via the parser: And/EqualTo/...) and the DataFrame API's
    // ColumnNode conversion, where every operator is an
    // UnresolvedFunction named "=", "and", "!", ... — translate both
    implicit def trans(e: Expression): T = e match {
      case And(x, y) => tAnd(x, y)
      case Or(x, y) => tOr(x, y)
      case Not(x) => tNot(x)
      case EqualTo(a, v: Literal) => leaf(a, v, "=")
      case EqualTo(v: Literal, a) => leaf(a, v, "=")
      case EqualNullSafe(a, v: Literal) if v.value != null => leaf(a, v, "=")
      case EqualNullSafe(v: Literal, a) if v.value != null => leaf(a, v, "=")
      case GreaterThan(a, v: Literal) => leaf(a, v, ">")
      case GreaterThan(v: Literal, a) => leaf(a, v, "<")
      case GreaterThanOrEqual(a, v: Literal) => leaf(a, v, ">=")
      case GreaterThanOrEqual(v: Literal, a) => leaf(a, v, "<=")
      case LessThan(a, v: Literal) => leaf(a, v, "<")
      case LessThan(v: Literal, a) => leaf(a, v, ">")
      case LessThanOrEqual(a, v: Literal) => leaf(a, v, "<=")
      case LessThanOrEqual(v: Literal, a) => leaf(a, v, ">=")
      case In(a, vs) => tIn(a, vs)
      case IsNull(a) => tNull(a, positive = true)
      case IsNotNull(a) => tNull(a, positive = false)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        (f.nameParts.last.toLowerCase, f.arguments) match {
          case ("and", Seq(x, y)) => tAnd(x, y)
          case ("or", Seq(x, y)) => tOr(x, y)
          case ("!" | "not", Seq(x)) => tNot(x)
          case ("=" | "==", Seq(a, v: Literal)) => leaf(a, v, "=")
          case ("=" | "==", Seq(v: Literal, a)) => leaf(a, v, "=")
          case ("<=>", Seq(a, v: Literal)) if v.value != null =>
            leaf(a, v, "=")
          case ("<=>", Seq(v: Literal, a)) if v.value != null =>
            leaf(a, v, "=")
          case (">", Seq(a, v: Literal)) => leaf(a, v, ">")
          case (">", Seq(v: Literal, a)) => leaf(a, v, "<")
          case (">=", Seq(a, v: Literal)) => leaf(a, v, ">=")
          case (">=", Seq(v: Literal, a)) => leaf(a, v, "<=")
          case ("<", Seq(a, v: Literal)) => leaf(a, v, "<")
          case ("<", Seq(v: Literal, a)) => leaf(a, v, ">")
          case ("<=", Seq(a, v: Literal)) => leaf(a, v, "<=")
          case ("<=", Seq(v: Literal, a)) => leaf(a, v, ">=")
          case ("in", a +: vs) => tIn(a, vs)
          case ("isnull", Seq(a)) => tNull(a, positive = true)
          case ("isnotnull", Seq(a)) => tNull(a, positive = false)
          case _ => None
        }
      case _ => None
    }
    // constant-expression bounds (`ts <= timestamp_seconds(...)`,
    // `d >= current_date() - 7`) arrive as unresolved FUNCTION trees,
    // not Literals — without folding, the whole comparison is opaque
    // and discovery keeps every file. Replace each maximal
    // attribute-free subtree with its folded literal: one
    // analysis-only pass per constant subtree (Spark's own
    // ConstantFolding does the evaluation and refuses nondeterministic
    // expressions, so rand() stays opaque — sound).
    val session = spark
    def hasAttr(e: Expression): Boolean = e.exists {
      case _: UnresolvedAttribute | _: AttributeReference => true
      case _ => false
    }
    def foldToLiteral(e: Expression): Option[Expression] =
      scala.util.Try {
        session.range(1)
          .select(org.apache.spark.sql.graft.ColumnBridge.column(e))
          .queryExecution.optimizedPlan.expressions.collectFirst {
            case org.apache.spark.sql.catalyst.expressions.Alias(
              l: Literal, _) => l
            case l: Literal => l
          }
      }.toOption.flatten
    def foldConstants(e: Expression): Expression = e match {
      case l: Literal => l
      case _ if !hasAttr(e) => foldToLiteral(e).getOrElse(e)
      case _ => e.mapChildren(foldConstants)
    }
    trans(foldConstants(
        org.apache.spark.sql.graft.ColumnBridge.catalyst(predicate)))
      .map(_._1)
  }

  /** DELETE WHERE (Delta semantics): remove rows where `predicate` is
    * TRUE (null-predicate rows are kept). Copy-on-write: only files that
    * actually contain a matching row are rewritten; the rest of the
    * table is untouched metadata — at 100 TB a selective delete rewrites
    * a handful of files, not the table. A delete that matches nothing
    * commits nothing. Returns the committed version (or the current
    * latest on a no-op). */
  def delete(spark: SparkSession, table: String, predicate: org.apache.spark.sql.Column,
             partitionBy: Seq[String], readOnly: Boolean = false,
             statsCols: Seq[String] = Nil): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    if (!tableExists(spark, table)) return -1L // nothing to delete from
    requireMappingWritable(latestSchema(spark, table), table, spark)
    val readVersion = latestVersion(spark, table)
    // delta.enableDeletionVectors routes DELETE through the DV path:
    // deleted rows are MASKED by a deletion vector instead of
    // rewriting every touched file — the Delta DV trade (tiny writes
    // now, a mask probe per read until OPTIMIZE materializes)
    val cfg0 = tableConfig(spark, table, readVersion)
    if (cfg0.get("delta.enableDeletionVectors").contains("true"))
      return deleteWithDv(spark, table, predicate, readVersion, partitionBy)
    val state = stateAt(spark, table, Long.MaxValue)
    val declared = state.schema
    val snap = collected(dmlCandidates(
        snapshotFilesAt(spark, table, readVersion), predicate, partitionBy,
        declared)
      .select(LogFile.columns: _*).collect().toIndexedSeq)
    val touched = matchingFiles(spark, table, LogFile.of(snap), state,
      _.where(predicate))
    if (touched.isEmpty) return readVersion
    // CDF: the commit's feed = exactly the deleted rows (the touched
    // files' survivors are NOT changes — the reason cdc files exist)
    val cdc =
      if (!cfg0.get("delta.enableChangeDataFeed").contains("true")) None
      else Some(readFilesWithDv(spark, table, touched, state)
        .where(coalesce(predicate, lit(false)))
        .withColumn("_change_type", lit("delete")))
    copyOnWrite(spark, table, readVersion, touched, state,
      _.where(not(coalesce(predicate, lit(false)))),
      partitionBy, "DELETE", statsCols, cdc = cdc,
      resolveConflicts = true,
      readCond = dmlFileCondition(spark, predicate, partitionBy, declared))
  }

  /** DELETE via deletion vectors: one narrow predicate scan over the
    * live rows feeds one mask aggregation ([[dvMaskActions]]).
    * Each surviving touched file's mask (old mask ∪ new rows) is
    * encoded as a portable roaring bitmap and packed into one
    * `deletion_vector_<uuid>.bin` file under the table root; the file
    * is RE-ADDED with a real Delta `deletionVector` descriptor
    * (storageType `u`, offset, size, cardinality) and its path, size
    * and stats unchanged — min/max stay valid bounds, numRecords
    * becomes an upper bound, the Delta DV contract. Files whose every
    * live row matched are plainly removed. No data file is rewritten:
    * the commit is the bin plus metadata, so a selective delete on a
    * 100 TB table writes KBs. Read-set pinned at `readVersion + 1`
    * like all DML. */
  private def deleteWithDv(spark: SparkSession, table: String,
                           predicate: org.apache.spark.sql.Column,
                           readVersion: Long,
                           partitionBy: Seq[String]): Long = {
    val declared = latestSchema(spark, table, readVersion)
    val snap = collected(dmlCandidates(
        snapshotFilesAt(spark, table, readVersion), predicate, partitionBy,
        declared)
      .collect().toIndexedSeq)
    if (snap.isEmpty) return readVersion
    val pairs = LogFile.of(snap)
    val matched = withRowIdentity(spark, table, pairs, declared)
      .where(coalesce(predicate, lit(false)))
      .persist() // consumed twice: the mask pass + the cdc write
    try {
      dvMaskActions(spark, table, declared, snap, matched)
        .fold(readVersion) { lines =>
          // CDF: the masked rows ARE the commit's complete change set
          val cdcLines =
            if (!tableConfig(spark, table, readVersion)
                .get("delta.enableChangeDataFeed").contains("true"))
              Seq.empty[String]
            else {
              val dataCols = matched.columns.filterNot(
                c => c == "__fname" || c == "__ri")
              writeCdcFiles(spark, table,
                matched.select(dataCols.map(col).toIndexedSeq: _*)
                  .withColumn("_change_type", lit("delete")), partitionBy)
            }
          beforeDmlCommitHook()
          writeCommitResolving(spark, table, readVersion + 1,
            cdcLines ++ lines, "DELETE",
            dmlFileCondition(spark, predicate, partitionBy, declared))
        }
    } finally { matched.unpersist(); () }
  }

  /** UPDATE via deletion vectors: matched rows are MASKED exactly like
    * [[deleteWithDv]] and their updated images are APPENDED as new
    * files in the same commit — Delta's DV UPDATE. Untouched files'
    * bytes are never rewritten; [[readCdf]] diffs the commit to
    * update_preimage/update_postimage pairs naturally (masked rows are
    * the pre side, the appended files the post side). */
  private def updateWithDv(spark: SparkSession, table: String,
                           predicate: org.apache.spark.sql.Column,
                           set: Map[String, org.apache.spark.sql.Column],
                           partitionBy: Seq[String], statsCols: Seq[String],
                           readVersion: Long): Long = {
    val declared = latestSchema(spark, table, readVersion)
    val snap = collected(dmlCandidates(
        snapshotFilesAt(spark, table, readVersion), predicate, partitionBy,
        declared)
      .collect().toIndexedSeq)
    if (snap.isEmpty) return readVersion
    val pairs = LogFile.of(snap)
    val matched = withRowIdentity(spark, table, pairs, declared)
      .where(coalesce(predicate, lit(false)))
      .persist() // the mask pass + the updated-image write
    try {
      dvMaskActions(spark, table, declared, snap, matched)
        .fold(readVersion) { maskLines =>
          // updated images: every matched row with SET applied (RHS
          // sees the PRE-update row, SQL UPDATE semantics)
          val dataCols = matched.columns.filterNot(
            c => c == "__fname" || c == "__ri")
          val updated = recomputeGenerated(
            matched.select(dataCols.map(c =>
              set.get(c).fold(col(c))(_.as(c))).toIndexedSeq: _*),
            declared)
          enforceConstraints(updated,
            tableConfig(spark, table, readVersion), declared)
          val added = writeAndCapture(spark, updated, table, partitionBy)
          val stats = fileStats(spark, table, added.map(_._1), statsCols)
          // CDF: masked rows are the preimages, the appended images the
          // postimages — the same pairing readCdf would reconstruct,
          // now carried as real cdc files
          val cdcLines =
            if (!tableConfig(spark, table, readVersion)
                .get("delta.enableChangeDataFeed").contains("true"))
              Seq.empty[String]
            else writeCdcFiles(spark, table,
              matched.select(dataCols.map(col).toIndexedSeq: _*)
                .withColumn("_change_type", lit("update_preimage"))
                .unionByName(updated
                  .withColumn("_change_type", lit("update_postimage"))),
              partitionBy)
          beforeDmlCommitHook()
          writeCommitResolving(spark, table, readVersion + 1,
            cdcLines ++ maskLines ++
              added.map { case (pp, sz, m) =>
                addLine(pp, sz, stats.get(pp), modTime = Some(m)) },
            "UPDATE",
            dmlFileCondition(spark, predicate, partitionBy, declared))
        }
    } finally { matched.unpersist(); () }
  }

  /** The mask step shared by every DV DML (DELETE, UPDATE and the
    * MERGE forms): given the matched LIVE rows (with `__fname`/`__ri`
    * identity), write the new masks and return the remove + re-add
    * action lines; files whose every live row matched are plainly
    * removed. None when nothing matched.
    *
    * ONE grouped pass over the matched (`__fname`, `__ri`) rows yields,
    * per touched file, the count of newly matched rows, the encoded new
    * mask (old mask ∪ new rows) and that mask's cardinality. Bitmaps
    * are built per file in executors (`collect_list` bounded by one
    * file's mask — the per-file memory a real writer holds); a file's
    * old mask is fetched inside its own encode, from the descriptor its
    * candidate row carries, so only touched files' masks are read; and
    * only compressed bytes reach the driver. The driver then removes a
    * file outright when its new-row count equals its live rows
    * ([[liveRows]]).
    *
    * Masks are written in the REAL Delta DV format: per-file roaring
    * bitmaps packed into one `deletion_vector_<uuid>.bin` under the
    * table root (fresh UUID — two writers racing on the same
    * readVersion cannot clobber each other; the loser's bin is an
    * orphan for vacuum), referenced from each re-add as an add-action
    * `deletionVector` descriptor — tables this engine masks are
    * consumable by real Delta readers. */
  private def dvMaskActions(spark: SparkSession, table: String,
                            declared: Option[org.apache.spark.sql.types.StructType],
                            snap: Seq[org.apache.spark.sql.Row],
                            matchedRows: DataFrame): Option[Seq[String]] = {
    val pairs = LogFile.of(snap)
    val byFname = snap.map(r => dvKeyOf(r.getString(0)) -> r).toMap
    val oldMasks = pairs.flatMap(f => f.dv.map(dvKeyOf(f.path) -> _)).toMap
    val h = org.apache.spark.sql.graft.HadoopConfBridge.handle(
      spark.sparkContext.hadoopConfiguration)
    val encode = udf { (fname: String, ris: Seq[Long]) =>
      val fresh = ris.distinct
      val mask = oldMasks.get(fname).fold(fresh)(m =>
        (RoaringDv.decode(fetchMask(new Path(table).getFileSystem(h.conf),
          table, fname, m)).toSeq ++ fresh).distinct)
      (fresh.size.toLong, RoaringDv.encode(mask), mask.size.toLong)
    }
    val perFile = matchedRows.groupBy(col("__fname"))
      .agg(collect_list(col("__ri")).as("ris"))
      .select(col("__fname"), encode(col("__fname"), col("ris")).as("m"))
      .collect()
      .map { r =>
        val m = r.getStruct(1)
        r.getString(0) ->
          ((m.getLong(0), m.getAs[Array[Byte]](1), m.getLong(2)))
      }.toMap
    if (perFile.isEmpty) return None
    val touchedPairs = pairs.filter(p => perFile.contains(dvKeyOf(p.path)))
    val live = liveRows(spark, table, declared, touchedPairs, byFname)
    val surviving = touchedPairs.filter { p =>
      val k = dvKeyOf(p.path)
      perFile(k)._1 != live(k)
    }
    // every-row-matched deletes leave no surviving masks: commit plain
    // removes without creating an empty orphan bin
    val (dvId, frames) =
      if (surviving.isEmpty) ("", Map.empty[String, (Int, Int)])
      else RoaringDv.writePackedDvFile(fs(spark, table), table,
        surviving.map(p => dvKeyOf(p.path)).sorted.map(k => k -> perFile(k)._2))
    val now = System.currentTimeMillis()
    Some(touchedPairs.map(p => removeLine(p.path, dataChange = true, now)) ++
      surviving.map { p =>
        val k = dvKeyOf(p.path)
        val r = byFname(k)
        val (off, sz) = frames(k)
        val marker = RealDvPrefix + s"u\u0000$dvId\u0000$off\u0000$sz"
        addLine(p.path, r.getLong(r.fieldIndex("size")),
          Option(r.getString(r.fieldIndex("stats"))),
          dv = Some((marker, perFile(k)._3)), modTime = mtOf(r))
      })
  }

  /** Live rows per touched file, keyed by [[dvKeyOf]]. The manifest
    * already knows them: `stats.numRecords` minus the current mask's
    * cardinality — driver arithmetic over the candidate rows, no re-read
    * of the file. A file missing either piece (rows without a `stats` or
    * `dv_card` column, a stats-less add from another writer, stats that
    * do not parse or carry no top-level numRecords, a descriptor without
    * cardinality) is counted instead, by one scan of just those
    * files. */
  private def liveRows(spark: SparkSession, table: String,
                       declared: Option[org.apache.spark.sql.types.StructType],
                       touched: Seq[LogFile],
                       byFname: Map[String, org.apache.spark.sql.Row])
      : Map[String, Long] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // TOP-LEVEL $.numRecords only (a data column literally named
    // numRecords must not satisfy this — the statsPresent rule)
    def numRecords(stats: String): Option[Long] =
      try {
        val node = om.readTree(stats).get("numRecords")
        if (node == null || !node.canConvertToLong) None
        else Some(node.asLong())
      } catch {
        case _: com.fasterxml.jackson.core.JsonParseException => None
      }
    val manifest = byFname.values.headOption.map(_.schema).exists(st =>
      st != null && st.fieldNames.contains("stats") &&
        st.fieldNames.contains("dv_card"))
    def fromStats(f: LogFile): Option[Long] =
      if (!manifest) None
      else {
        val r = byFname(dvKeyOf(f.path))
        val si = r.fieldIndex("stats")
        val ci = r.fieldIndex("dv_card")
        val card =
          if (f.dv.isEmpty) Some(0L)
          else if (r.isNullAt(ci)) None
          else Some(r.getLong(ci))
        for (n <- Option(r.getString(si)).flatMap(numRecords); c <- card)
          yield n - c
      }
    val known = touched.map(f => dvKeyOf(f.path) -> fromStats(f)).toMap
    val uncounted = touched.filter(f => known(dvKeyOf(f.path)).isEmpty)
    val counted =
      if (uncounted.isEmpty) Map.empty[String, Long]
      else withRowIdentity(spark, table, uncounted, declared)
        .groupBy(col("__fname")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    known.map { case (k, n) => k -> n.getOrElse(counted.getOrElse(k, 0L)) }
  }

  /** DV-masked read that KEEPS each row's (filename, row index)
    * identity — the discovery scan of [[deleteWithDv]]. */
  private def withRowIdentity(spark: SparkSession, table: String,
                              files: Seq[LogFile],
                              declared: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        declared.getOrElse(org.apache.spark.sql.types.StructType(Nil))
          .add("__fname", org.apache.spark.sql.types.StringType)
          .add("__ri", org.apache.spark.sql.types.LongType))
    // unmapped scan, field ids sanitized as in readFilesAs
    val raw = scanWithIdentity(spark, table, files, declared.map(dropFieldIds))
    val masked = files.flatMap(f => f.dv.map(f.path -> _))
    if (masked.isEmpty) raw
    else {
      val dv = maskDF(spark, table, masked)
      raw.join(dv, raw("__fname") === dv("__dv_fname") &&
        raw("__ri") === dv("__dv_ri"), "left_anti")
    }
  }

  /** UPDATE ... SET WHERE (Delta semantics): for rows where `predicate`
    * is TRUE, replace each column in `set`; all other rows and columns
    * pass through. Copy-on-write with the same file blast radius as
    * [[delete]]. Updating a partition column moves rows to their new
    * directory naturally (the rewrite re-partitions). */
  def update(spark: SparkSession, table: String, predicate: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column],
             partitionBy: Seq[String], readOnly: Boolean = false,
             statsCols: Seq[String] = Nil): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    if (!tableExists(spark, table)) return -1L // nothing to update
    val readVersion = latestVersion(spark, table)
    val state = stateAt(spark, table, Long.MaxValue)
    val declared = state.schema
    requireMappingWritable(declared, table, spark)
    // an unknown assignment target is an ERROR (Delta raises an analysis
    // error) — silently dropping it would turn the update into a no-op
    declared.foreach { s =>
      val unknown = set.keySet.diff(s.fieldNames.toSet)
      require(unknown.isEmpty,
        s"UPDATE SET references unknown column(s): ${unknown.mkString(", ")}" +
          s" (table columns: ${s.fieldNames.mkString(", ")})")
      // generated columns are never assigned directly (Delta's rule) —
      // they recompute from their expressions after the SET applies
      val genTargets = set.keySet.filter(k => s.fields.exists(f =>
        f.name.equalsIgnoreCase(k) && f.metadata.contains(GenExprKey)))
      require(genTargets.isEmpty,
        s"UPDATE cannot SET generated column(s) " +
          s"${genTargets.mkString(", ")} — they are always computed " +
          "from their expressions")
      val idTargets = set.keySet.filter(k => s.fields.exists(f =>
        f.name.equalsIgnoreCase(k) &&
          f.metadata.contains(IdentityStartKey)))
      require(idTargets.isEmpty,
        s"UPDATE cannot SET identity column(s) ${idTargets.mkString(", ")}")
    }
    // DV tables: mask the old rows, append the updated images
    if (tableConfig(spark, table, readVersion)
        .get("delta.enableDeletionVectors").contains("true"))
      return updateWithDv(spark, table, predicate, set, partitionBy,
        statsCols, readVersion)
    val snap = collected(dmlCandidates(
        snapshotFilesAt(spark, table, readVersion), predicate, partitionBy,
        declared)
      .select(LogFile.columns: _*).collect().toIndexedSeq)
    val touched = matchingFiles(spark, table, LogFile.of(snap), state,
      _.where(predicate))
    if (touched.isEmpty) return readVersion
    // CDF: pre/post images of exactly the matched rows (the SET applied
    // unconditionally — these ARE the matches), never the survivors
    val cdc =
      if (!tableConfig(spark, table, readVersion)
          .get("delta.enableChangeDataFeed").contains("true")) None
      else {
        val matched = readFilesWithDv(spark, table, touched, state)
          .where(coalesce(predicate, lit(false)))
        val post = recomputeGenerated(
          matched.select(matched.columns.map(c =>
            set.get(c).fold(col(c))(_.as(c))).toIndexedSeq: _*), declared)
        Some(matched.withColumn("_change_type", lit("update_preimage"))
          .unionByName(
            post.withColumn("_change_type", lit("update_postimage"))))
      }
    copyOnWrite(spark, table, readVersion, touched, state,
      // ONE projection: every SET expression and the predicate resolve
      // against the PRE-update row (SQL UPDATE semantics) — a sequential
      // withColumn chain would let later SETs see earlier SETs' results
      df => {
        // backstop for pre-metaData tables (declared = None above): the
        // unknown-column error must fire against the files' real schema
        val unknown = set.keySet.diff(df.columns.toSet)
        require(unknown.isEmpty,
          s"UPDATE SET references unknown column(s): ${unknown.mkString(", ")}")
        // second projection AFTER the SET: generated columns recompute
        // from the POST-update base values (their whole contract);
        // non-updated rows recompute to their stored values exactly
        // (deterministic expression over unchanged inputs)
        recomputeGenerated(df.select(df.columns.map { c =>
          set.get(c).fold(col(c))(v =>
            when(coalesce(predicate, lit(false)), v)
              .otherwise(col(c)).as(c))
        }.toIndexedSeq: _*), declared)
      },
      partitionBy, "UPDATE", statsCols, cdc = cdc,
      resolveConflicts = true,
      readCond = dmlFileCondition(spark, predicate, partitionBy, declared))
  }

  /** Re-evaluate every generated column from its expression — the
    * post-SET projection of UPDATE (see [[applyGenerated]] for the
    * write-side compute/validate form). */
  private def recomputeGenerated(df: DataFrame,
      declared: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    declared.filter(_.fields.exists(_.metadata.contains(GenExprKey)))
      .fold(df) { st =>
        df.select(df.columns.map { c =>
          st.fields.find(f => f.name.equalsIgnoreCase(c) &&
              f.metadata.contains(GenExprKey))
            .fold(col(s"`$c`"))(f =>
              expr(f.metadata.getString(GenExprKey)).cast(f.dataType).as(c))
        }.toIndexedSeq: _*)
      }

  /** MERGE (upsert, Delta's whenMatched-update-all / whenNotMatched-
    * insert-all): rows of `source` whose `keys` match an existing row
    * replace it; the rest are inserted. `source` must be key-unique
    * (checked — multiple matches for one target row is an error, as in
    * the Delta MERGE protocol).
    *
    * Scale: the touched-file discovery is a semi join of the table
    * against the source keys — a narrow projection that AQE
    * broadcasts when the source is small (the common upsert shape), so
    * the table-side scan stays shuffle-free; only files containing a
    * matched key are rewritten, plus one new file set for the source
    * rows. Untouched files — at 100 TB, nearly all of them — are pure
    * log metadata. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
            keys: Seq[String], partitionBy: Seq[String],
            readOnly: Boolean = false,
            statsCols: Seq[String] = Nil): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(keys.nonEmpty, "merge requires at least one key column")
    // merging into a not-yet-created table = create it from the source
    // (every source row is whenNotMatched, i.e. a plain append)
    if (!tableExists(spark, table))
      return append(spark, source, table, partitionBy, readOnly, statsCols)
    val readVersion = latestVersion(spark, table)
    val state = stateAt(spark, table, Long.MaxValue)
    val declared = state.schema
    requireMappingWritable(declared, table, spark)
    // schema evolution, same rule as append: source-only columns are
    // APPENDED to the declared schema (committed as a metaData action);
    // retyping an existing column is rejected inside mergedSchema
    val merged0 = mergedSchema(declared, source.schema)
    // mapped evolution composes (late r13, the append rule): the
    // source-only fields get fresh mapping metadata — new physical
    // names, ids ratcheted past maxColumnId — and every write below
    // (rewrites, DV appends, cdc files, stats) relabels under the
    // EXTENDED schema via schemaOverride. The copyOnWrite/mergeWithDv
    // pin at readVersion + 1 is the same no-overlap protection the
    // evolving append relies on.
    val (merged, evolvedCfg) =
      if (declared.exists(isColumnMapped) &&
          merged0.json != declared.get.json) {
        val (m2, cfg2) = assignMappingMetaDeep(merged0,
          tableConfig(spark, table, readVersion))
        (m2, Some(cfg2))
      } else (merged0, None)
    val schemaOverride = evolvedCfg.map(_ => merged)
    // identity tables (Delta identityColumns) COMPOSE with merge since
    // late r13 (the pre-r13 refusal is gone): matched rows keep the
    // TARGET's identity value, inserts get fresh chain values — see
    // [[mergeIdentityResolve]]. Since r16 evolution composes TOO
    // (delta-spark evolves inline): the identity commit's metaData
    // line carries the advanced high-water mark AND the evolved
    // schema in ONE action — [[mergeIdentityResolve]] builds it over
    // the merged schema, and the generic evolution line below is
    // suppressed for identity tables so a commit never carries two
    // metaData actions.
    val idFields = declared.toSeq.flatMap(_.fields.toSeq)
      .filter(_.metadata.contains(IdentityStartKey))
    require(idFields.length <= 1,
      s"$table declares ${idFields.length} identity columns; at most " +
        "one is supported")
    val schemaChanged = declared.exists(_.json != merged.json)
    val metaLines =
      if (schemaChanged && idFields.isEmpty)
        // carry the config forward (same rule as append's evolution);
        // an evolving mapped merge carries the RATCHETED maxColumnId
        Seq(metaDataLine(table, merged, partitionBy,
          evolvedCfg.getOrElse(tableConfig(spark, table))))
      else Nil
    // generated-column contract on the rows the merge will WRITE:
    // source-omitted generated columns compute, provided ones validate
    // (survivor rows carry their already-valid stored values)
    val source1 = applyGenerated(applyDefaults(source, declared),
      declared, table)
    // align BOTH sides to the evolved schema: survivors null-fill
    // source-only columns (and WIDEN nested-evolved structs — a
    // pre-evolution read carries the narrow struct type), the source
    // null-fills declared columns it lacks (Delta's insertAll
    // semantics after evolution)
    // column match is CASE-INSENSITIVE (Spark's resolution): a source
    // spelling `N` for declared `n` supplies its values, never a
    // silent null-fill
    def align(df: DataFrame): DataFrame =
      df.select(merged.fields.map { fld =>
        df.columns.find(_.equalsIgnoreCase(fld.name)) match {
          case Some(actual) =>
            widenTo(col(s"`$actual`"), df.schema(actual).dataType,
              fld.dataType).as(fld.name)
          case None => lit(null).cast(fld.dataType).as(fld.name)
        }
      }.toIndexedSeq: _*)
    // the key frame feeds only semi/anti joins, where duplicate keys
    // cannot change the answer: a free projection, no distinct()
    val srcKeys = source.select(keys.map(col): _*)
    // ONE source screen: the duplicate-source-key refusal (Delta's
    // multiple-matches error) and the key-range file condition that
    // scopes discovery AND screens concurrent adds in the conflict
    // resolver below
    val fileKeyCond = mergeKeyScreen(source, keys, partitionBy, declared)
    val snapDF = fileKeyCond.fold(
      snapshotFilesAt(spark, table, readVersion))(
      snapshotFilesAt(spark, table, readVersion).where(_))
    // identity resolution happens BEFORE the DV/CoW branch so both
    // write the same resolved frame; the commit stays pinned at
    // readVersion + 1 (the DML rule both branches already follow),
    // which is exactly the concurrent-overlap protection
    // appendWithIdentity relies on — two racing identity merges cannot
    // both land against the same high-water mark.
    val (source2, idMetaLines, idTouched) = idFields.headOption match {
      case None => (source1, Seq.empty[String], None)
      case Some(f) => mergeIdentityResolve(spark, table, source1, f,
        keys, partitionBy, readVersion, state, snapDF, srcKeys,
        metaSchema = merged,
        metaCfg = evolvedCfg.getOrElse(
          tableConfig(spark, table, readVersion)),
        forceMeta = schemaChanged)
    }
    // DV tables: MASK the matched target rows and append ALL source
    // rows (matched rows' replacements and unmatched inserts are both
    // just source rows) — upsert without rewriting a single target file
    if (tableConfig(spark, table, readVersion)
        .get("delta.enableDeletionVectors").contains("true"))
      return mergeWithDv(spark, table, source2, keys, partitionBy,
        statsCols, readVersion, declared, align,
        metaLines ++ idMetaLines, srcKeys,
        collected(snapDF.collect().toIndexedSeq), schemaOverride,
        resolveConflicts = idFields.isEmpty, readCond = fileKeyCond)
    val snap = collected(snapDF
      .select(LogFile.columns: _*).collect().toIndexedSeq)
    // identity merges already discovered the touched set inside the
    // fused candidate read (same semi join, same DV-masked view) —
    // re-running matchingFiles would re-read every candidate file
    val touched = idTouched.getOrElse(
      matchingFiles(spark, table, LogFile.of(snap), state,
        _.join(srcKeys, keys, "left_semi")))
    // CDF: the upsert's feed = matched target rows (update_preimage),
    // their source replacements (update_postimage), and the unmatched
    // source rows (insert). Matched pairs are complete because touched
    // covers every file holding a source key.
    val cdc =
      if (!tableConfig(spark, table, readVersion)
          .get("delta.enableChangeDataFeed").contains("true")) None
      else {
        val srcAligned = align(source2)
        val tgt = readFilesWithDv(spark, table, touched, state)
        if (tgt.columns.isEmpty)
          Some(srcAligned.withColumn("_change_type", lit("insert")))
        else {
          val tgtKeys = tgt.select(keys.map(col): _*)
          Some(align(tgt.join(srcKeys, keys, "left_semi"))
            .withColumn("_change_type", lit("update_preimage"))
            .unionByName(srcAligned.join(tgtKeys, keys, "left_semi")
              .withColumn("_change_type", lit("update_postimage")))
            .unionByName(srcAligned.join(tgtKeys, keys, "left_anti")
              .withColumn("_change_type", lit("insert"))))
        }
      }
    // keyed-MERGE conflict RESOLUTION (the predicate-DML rule): a
    // concurrent dataChange add provably holding no source-key row
    // cannot change which rows matched NOR collide with the inserts —
    // the rebase is merge-before-winner, WriteSerializable-legal. A
    // may-match add, any remove of our inputs, and any
    // metaData/protocol still conflict. Identity tables stay PINNED:
    // their commit carries a high-water mark read at readVersion, and
    // a winner could have assigned overlapping chain values without
    // tripping any of the resolver's screens.
    copyOnWrite(spark, table, readVersion, touched, state,
      df => if (df.columns.isEmpty) align(source2) // schema-less empty
            else align(df.join(srcKeys, keys, "left_anti"))
              .unionByName(align(source2)),
      partitionBy, "MERGE", statsCols,
      extraLines = metaLines ++ idMetaLines, cdc = cdc,
      schemaOverride = schemaOverride,
      resolveConflicts = idFields.isEmpty, readCond = fileKeyCond)
  }

  /** Distributed blast-radius pruning for the keyed MERGE forms: a
    * target file can hold a matched key only if, for every orderable
    * key column, its partition value / per-file stats range intersects
    * the source's [min, max] — one tiny agg over the (usually small)
    * source scopes the manifest BEFORE anything reaches the driver, so
    * merging one day's keys into a 10⁷-file table collects that day's
    * manifest rows, not the table's. A null bound (zero non-null
    * source keys for a column) prunes every file. */
  private def pruneByKeyRanges(snapDF: DataFrame, srcKeys: DataFrame,
      keys: Seq[String], partitionBy: Seq[String],
      declared: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    keyRangeFileCond(srcKeys, keys, partitionBy, declared)
      .fold(snapDF)(c => snapDF.where(c))

  /** The file-level may-hold-a-source-key condition
    * [[pruneByKeyRanges]] applies, exposed on its own (the
    * [[dmlFileCondition]] shape): a Column over (partitionValues,
    * stats) action metadata that is FALSE/null only for files provably
    * holding no row whose `keys` match a source row. None when no key
    * column is range-orderable. Shared by discovery AND the
    * keyed-MERGE conflict screen ([[writeCommitResolving]]) — a
    * concurrently ADDED file failing it provably holds no row that
    * could be matched by, or collide with an insert of, this merge's
    * source. */
  private def keyRangeFileCond(srcKeys: DataFrame, keys: Seq[String],
      partitionBy: Seq[String],
      declared: Option[org.apache.spark.sql.types.StructType])
      : Option[org.apache.spark.sql.Column] = {
    val prunableKeys = prunableKeysOf(srcKeys.schema, keys)
    if (prunableKeys.isEmpty) None
    else {
      val aggs = prunableKeys.flatMap(k =>
        Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")))
      val b = srcKeys.agg(aggs.head, aggs.tail: _*).collect()(0)
      Some(keyRangeCondFromBounds(srcKeys.schema, prunableKeys, b, 0,
        partitionBy, declared))
    }
  }

  /** Key columns whose type supports min/max range pruning. */
  private def prunableKeysOf(
      schema: org.apache.spark.sql.types.StructType,
      keys: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types._
    keys.filter { k =>
      schema(k).dataType match {
        case _: NumericType | StringType | DateType | TimestampType |
             BooleanType | TimestampNTZType => true
        case _ => false
      }
    }
  }

  /** ONE pass over the merge source that both rejects duplicate source
    * keys (Delta's multiple-matches error — ambiguous upserts) and
    * computes the per-key [min, max] bounds feeding the file-level
    * may-match condition ([[mergeKeyBounds]]). Returns the same
    * condition [[keyRangeFileCond]] would. */
  private def mergeKeyScreen(source: DataFrame, keys: Seq[String],
      partitionBy: Seq[String],
      declared: Option[org.apache.spark.sql.types.StructType])
      : Option[org.apache.spark.sql.Column] = {
    val (prunableKeys, b) = mergeKeyBounds(source, keys)
    if (!b.isNullAt(0) && b.getLong(0) > 1)
      throw new IllegalArgumentException(
        s"merge source has duplicate keys on (${keys.mkString(", ")}): " +
          "multiple source matches per target row are ambiguous")
    if (prunableKeys.isEmpty) None
    else Some(keyRangeCondFromBounds(source.schema, prunableKeys, b, 1,
      partitionBy, declared))
  }

  /** The key screen's answer for `source`: its range-prunable key
    * columns, and one row holding the largest source-key group's size
    * (null for an empty source) followed by a [min, max] pair per
    * prunable key (null when the column has no non-null key). Min/max
    * over the grouped keys equal min/max over the raw source, so one
    * pass answers both.
    *
    * A source whose key rows already sit in the driver
    * ([[DriverRows.of]]) with every key type comparable there
    * ([[DriverRows.comparable]]) is answered on the driver: Spark's
    * `groupBy` semantics (null keys form one group), Catalyst's
    * ordering, values converted as a collect converts them — no Spark
    * job. Every other source runs the one aggregation. */
  private[graft] def mergeKeyBounds(source: DataFrame, keys: Seq[String])
      : (Seq[String], org.apache.spark.sql.Row) = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.util.TypeUtils
    val prunableKeys = prunableKeysOf(source.schema, keys)
    val local = DriverRows.of(source.select(keys.map(col): _*))
      .filter(_.output.forall(a => DriverRows.comparable(a.dataType)))
    val b = local match {
      case Some(l) =>
        val types = l.output.map(_.dataType)
        def value(r: org.apache.spark.sql.catalyst.InternalRow, i: Int) =
          if (r.isNullAt(i)) null else r.get(i, types(i))
        val groups = l.data.groupBy(r => types.indices.map(value(r, _)))
        val dup =
          if (groups.isEmpty) null else groups.values.map(_.size.toLong).max
        val bounds = prunableKeys.flatMap { k =>
          val i = keys.indexOf(k)
          val vs = l.data.map(value(_, i)).filter(_ != null)
          val ord = TypeUtils.getInterpretedOrdering(types(i))
          val toScala = CatalystTypeConverters.createToScalaConverter(types(i))
          if (vs.isEmpty) Seq(null, null)
          else Seq(toScala(vs.min(ord)), toScala(vs.max(ord)))
        }
        org.apache.spark.sql.Row.fromSeq(dup +: bounds)
      case None =>
        val grouped = source.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__n"))
        val aggs = max(col("__n")).as("__dup") +: prunableKeys.flatMap(k =>
          Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")))
        grouped.agg(aggs.head, aggs.tail: _*).collect()(0)
    }
    (prunableKeys, b)
  }

  /** The file-level condition built from already-collected per-key
    * bounds (`b` holds lo/hi pairs starting at column `off`) — shared
    * by [[keyRangeFileCond]] and [[mergeKeyScreen]]. */
  private def keyRangeCondFromBounds(
      srcSchema: org.apache.spark.sql.types.StructType,
      prunableKeys: Seq[String], b: org.apache.spark.sql.Row, off: Int,
      partitionBy: Seq[String],
      declared: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.Column = {
    {
      val cond = prunableKeys.zipWithIndex.map { case (k, i) =>
        coalesce(fileRangeCond(k, partitionBy, srcSchema(k).dataType,
          b.get(off + 2 * i), b.get(off + 2 * i + 1)), lit(false))
      }.reduce(_ && _)
      // generated-column derivation ([[graft.plans.GeneratedPruning]]):
      // when a key column is the BASE of a generated PARTITION column
      // (merging ts-keyed changes into a day = CAST(ts AS DATE)
      // layout), the source's [min, max] implies a partition range —
      // the file check the plain key range cannot make when the key
      // itself carries no stats. A pv-null file holds only null keys,
      // which never equal a source key, so the null-excluding
      // comparison stays sound.
      val genDerivs = declared.map(st =>
          graft.plans.GeneratedPruning.derivationsOf(st, partitionBy))
        .getOrElse(Seq.empty)
      def pvColOf(k: String): org.apache.spark.sql.Column = {
        val raw = element_at(col("partitionValues"), k)
        when(raw === "__HIVE_DEFAULT_PARTITION__",
          lit(null).cast("string")).otherwise(raw)
      }
      val derived = prunableKeys.zipWithIndex.flatMap { case (k, i) =>
        genDerivs.filter(_.baseCol.equalsIgnoreCase(k)).flatMap { d =>
          import org.apache.spark.sql.catalyst.expressions.Literal
          val dt = srcSchema(k).dataType
          val p = pvColOf(physicalColOf(declared, d.genCol))
            .cast(d.genType)
          def bnd(v: Any): Option[org.apache.spark.sql.Column] =
            Option(v).flatMap(x => d.bound(Literal.create(x, dt)))
              .map(org.apache.spark.sql.graft.ColumnBridge.column)
          val (lo, hi) = (b.get(off + 2 * i), b.get(off + 2 * i + 1))
          if (d.monotonic)
            for (l <- bnd(lo); h <- bnd(hi)) yield p >= l && p <= h
          else if (lo != null && lo == hi) bnd(lo).map(p === _)
          else None
        }
      }
      derived.foldLeft(cond)(_ && _)
    }
  }

  /** MERGE's delete-only forms (no insert clause):
    *  - `WHEN MATCHED [AND cond] THEN DELETE` (`bySource = false`):
    *    delete the target rows whose `keys` match a source row AND
    *    satisfy `cond` — the keyed anti-delete;
    *  - `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE`
    *    (`bySource = true`): Delta's sync-delete — target rows whose
    *    keys appear in NO source row go (the staleness sweep of a
    *    full-sync pipeline). Discovery is inherently complement-shaped,
    *    so the range pruning that scopes the matched form cannot apply
    *    (every file may hold an unmatched row — Delta pays the same).
    * Unlike the upsert the source need not be key-unique: duplicate
    * source keys cannot make a delete ambiguous. Both storage forms
    * compose — copy-on-write rewrites only the files holding doomed
    * rows, the DV form masks them without rewriting anything — and CDF
    * feeds carry exactly the deleted rows. */
  def mergeDelete(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], partitionBy: Seq[String],
      cond: Option[org.apache.spark.sql.Column] = None,
      readOnly: Boolean = false, statsCols: Seq[String] = Nil,
      bySource: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(keys.nonEmpty, "merge requires at least one key column")
    if (!tableExists(spark, table)) return -1L // nothing to delete from
    val readVersion = latestVersion(spark, table)
    val state = stateAt(spark, table, readVersion)
    val declared = state.schema
    requireMappingWritable(declared, table, spark)
    val condC = cond.getOrElse(lit(true))
    // semi/anti joins and min/max only: duplicates change no answer
    val srcKeys = source.select(keys.map(col): _*)
    // keyed form: the key-range condition scopes discovery and screens
    // concurrent adds in the resolver. By-source is complement-shaped:
    // EVERY concurrent add may hold a row the sync should have swept
    // (readCond None = every dataChange add conflicts; disjoint
    // removes still rebase).
    val fileKeyCond =
      if (bySource) None
      else keyRangeFileCond(srcKeys, keys, partitionBy, declared)
    val snapDF = fileKeyCond.fold(
      snapshotFilesAt(spark, table, readVersion))(
      snapshotFilesAt(spark, table, readVersion).where(_))
    val cfg = tableConfig(spark, table, readVersion)
    val joinType = if (bySource) "left_anti" else "left_semi"
    val surviveJoin = if (bySource) "left_semi" else "left_anti"
    def hit(df: DataFrame): DataFrame =
      df.join(srcKeys, keys, joinType)
        .where(coalesce(condC, lit(false)))
    if (cfg.get("delta.enableDeletionVectors").contains("true")) {
      val snap = collected(snapDF.collect().toIndexedSeq)
      if (snap.isEmpty) return readVersion
      val matched = hit(withRowIdentity(spark, table, LogFile.of(snap),
        declared)).persist()
      try {
        dvMaskActions(spark, table, declared, snap, matched)
          .fold(readVersion) { lines =>
            val cdcLines =
              if (!cfg.get("delta.enableChangeDataFeed").contains("true"))
                Seq.empty[String]
              else {
                val dataCols = matched.columns.filterNot(
                  c => c == "__fname" || c == "__ri")
                writeCdcFiles(spark, table,
                  matched.select(dataCols.map(col).toIndexedSeq: _*)
                    .withColumn("_change_type", lit("delete")),
                  partitionBy)
              }
            beforeDmlCommitHook()
            // the CoW branch's resolution rule, DV form (mask swaps
            // emit remove+re-add pairs, so remove-overlap covers a
            // winner racing on the same file); fileKeyCond is already
            // None for by-source sweeps, making every add conflict
            writeCommitResolving(spark, table, readVersion + 1,
              cdcLines ++ lines, "MERGE", readCond = fileKeyCond)
          }
      } finally { matched.unpersist(); () }
    } else {
      val snap = collected(
        snapDF.select(LogFile.columns: _*).collect().toIndexedSeq)
      val touched = matchingFiles(spark, table, LogFile.of(snap), state,
        hit)
      if (touched.isEmpty) return readVersion
      val cdc =
        if (!cfg.get("delta.enableChangeDataFeed").contains("true")) None
        else Some(hit(readFilesWithDv(spark, table, touched, state))
          .withColumn("_change_type", lit("delete")))
      copyOnWrite(spark, table, readVersion, touched, state,
        // survivors = rows on the other side of the join ∪ doomed-side
        // rows failing the condition (null cond = row survives, SQL
        // delete semantics)
        df => df.join(srcKeys, keys, surviveJoin).unionByName(
          df.join(srcKeys, keys, joinType)
            .where(!coalesce(condC, lit(false)))),
        partitionBy, "MERGE", statsCols, cdc = cdc,
        // deletes assign nothing, so identity tables rebase too
        resolveConflicts = true, readCond = fileKeyCond)
    }
  }

  /** [[merge]]'s identity resolution (Delta `identityColumns`): returns
    * the replacement frame with the identity column resolved, plus the
    * metaData line advancing `delta.identity.highWaterMark` when it
    * moved. Matched source rows take the TARGET's identity value —
    * identity columns never update, Delta's own rule, so any
    * source-provided value for a matched key is discarded — resolved by
    * an equi-join against the (key → identity) projection of the
    * pruned manifest's rows (complete: every file holding a source key
    * survives the range pruning). Unmatched rows are ASSIGNED fresh
    * chain values strictly past the high-water mark (one
    * [[assignIdentity]] pass — GENERATED ALWAYS), or keep their
    * provided values under GENERATED BY DEFAULT with the mark syncing
    * over them, exactly the [[appendWithIdentity]] contract. Duplicate
    * target keys collapse to ONE replacement row (the merge's
    * wholesale-replace semantics); min() keeps the surviving identity
    * deterministic. Scale: the projection read is blast-radius-bounded
    * by the same stats pruning as the rewrite itself, and the manifest
    * collect reuses the rows [[merge]] already counts — no second
    * dmlManifestRows increment. */
  private def mergeIdentityResolve(spark: SparkSession, table: String,
      source: DataFrame, f: org.apache.spark.sql.types.StructField,
      keys: Seq[String], partitionBy: Seq[String], readVersion: Long,
      state: TableState, snapDF: DataFrame, srcKeys: DataFrame,
      // the schema/config the commit's metaData line must declare —
      // the EVOLVED schema when the merge grows the table (one line
      // carries both the evolution and the advanced mark), the
      // declared one otherwise. `forceMeta` emits the line even when
      // the mark did not move (evolution with zero inserts).
      metaSchema: org.apache.spark.sql.types.StructType,
      metaCfg: Map[String, String],
      forceMeta: Boolean)
      // third element: the copy-on-write touched-file set when the
      // fused candidate read computed it (Some), None when the caller
      // must run its own [[matchingFiles]] discovery (mapped/id-mode
      // tables, empty-schema edge)
      : (DataFrame, Seq[String], Option[Seq[LogFile]]) = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val start = f.metadata.getLong(IdentityStartKey)
    val step =
      if (f.metadata.contains(IdentityStepKey))
        f.metadata.getLong(IdentityStepKey)
      else 1L
    require(step != 0L, s"identity step of ${f.name} must be non-zero")
    val hwm: Option[Long] =
      if (f.metadata.contains(IdentityHwmKey))
        Some(f.metadata.getLong(IdentityHwmKey))
      else None
    val allowExplicit = f.metadata.contains(IdentityAllowExplicitKey) &&
      f.metadata.getBoolean(IdentityAllowExplicitKey)
    val provided = source.columns.exists(_.equalsIgnoreCase(f.name))
    if (provided) require(allowExplicit,
      s"${f.name} is GENERATED ALWAYS AS IDENTITY — explicit merge " +
        "values refuse (declare it GENERATED BY DEFAULT to allow them)")
    require(!source.columns.contains("__tgt_id"),
      "merge source has a '__tgt_id' column, which collides with the " +
        "identity-resolution temp column")
    val pairs = LogFile.ofFrame(snapDF)
    def emptyIds = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(srcKeys.schema.fields :+
        StructField("__tgt_id", LongType)))
    // fused path (r20, guide §1.2/§2.4): ONE masked read of the
    // candidate files — carrying the DV-key file name — serves BOTH
    // the per-key identity lookup AND the copy-on-write blast-radius
    // discovery ([[matchingFiles]] re-read the same candidates with
    // the same semi join otherwise). The semi-join result is
    // materialized once (matched rows only — the blast-radius scale
    // [[mergeWithDv]] already persists); its consumers — tgtIds'
    // aggregate (traversed by the matched-part write and the insert
    // anti join) and the touched-file set — never re-read a file.
    // Column-mapped / id-resolved tables keep the verbatim
    // readFilesWithDv shape ([[withRowIdentity]] reads the LOGICAL
    // schema) and let the caller run its own discovery.
    val declared = state.schema
    val fused = declared.isDefined && !declared.exists(isColumnMapped) &&
      !idReadMode(table, state)
    val (tgtIds, touched): (DataFrame,
        Option[Seq[LogFile]]) =
      if (pairs.isEmpty) (emptyIds, Some(Nil))
      else if (fused) {
        val semiRows = withRowIdentity(spark, table, pairs, declared)
          .join(srcKeys, keys, "left_semi")
          .localCheckpoint()
        val fnames = semiRows.select("__fname").distinct()
          .collect().map(_.getString(0)).toSet
        val ids = semiRows.groupBy(keys.map(col): _*)
          .agg(min(col(s"`${f.name}`")).cast(LongType).as("__tgt_id"))
        (ids, Some(pairs.filter(p => fnames.contains(dvKeyOf(p.path)))))
      } else {
        val tgt0 = readFilesWithDv(spark, table, pairs, state)
        if (tgt0.columns.isEmpty) // empty table: every row inserts
          (emptyIds, None)
        else (tgt0.join(srcKeys, keys, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(min(col(s"`${f.name}`")).cast(LongType).as("__tgt_id"))
          // materialized ONCE: both consumers — matchedPart's inner
          // join (traversed by the data write) and insertSrc's anti
          // join (traversed by the identity count pass) — would each
          // re-run the target-file read + semi join + aggregate
          .localCheckpoint(), None)
      }
    val srcNoId = source.drop(
      source.columns.filter(_.equalsIgnoreCase(f.name)).toIndexedSeq: _*)
    val matchedPart = srcNoId.join(tgtIds, keys, "inner")
      .withColumnRenamed("__tgt_id", f.name)
    val insertSrc = source.join(
      tgtIds.select(keys.map(col): _*), keys, "left_anti")
    def further(a: Long, b: Long): Long =
      if (step > 0) math.max(a, b) else math.min(a, b)
    val (insertPart, newHwm) =
      if (provided) {
        // BY DEFAULT with provided values: inserts keep them verbatim,
        // the mark syncs over THEM (matched rows' provided values were
        // discarded above and never sync — they are not written)
        val mx = insertSrc.agg(
          (if (step > 0) max(col(s"`${f.name}`"))
           else min(col(s"`${f.name}`"))).cast("long")).collect().head
        val sync =
          if (mx.isNullAt(0)) hwm
          else Some(hwm.fold(mx.getLong(0))(further(_, mx.getLong(0))))
        (insertSrc, sync)
      } else assignIdentity(insertSrc, f.name, start, step, hwm)
    val metaLine =
      if (newHwm == hwm && !forceMeta) Nil
      else {
        val f2 =
          if (newHwm == hwm) f
          else f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong(IdentityHwmKey, newHwm.get).build())
        val schema2 = StructType(metaSchema.fields.map(fd =>
          if (fd.name == f.name) f2 else fd))
        Seq(metaDataLine(table, schema2, partitionBy, metaCfg))
      }
    (matchedPart.unionByName(insertPart), metaLine, touched)
  }

  /** [[merge]]'s deletion-vector form: matched target rows are masked
    * (shared [[dvMaskActions]]) and the whole aligned source appends as
    * new files in the same pinned commit. [[readCdf]] labels the masked
    * rows update_preimage and the appended rows update_postimage —
    * inserts surface as unpaired postimages, the same documented
    * approximation as the copy-on-write form. */
  private def mergeWithDv(spark: SparkSession, table: String,
                          source: DataFrame, keys: Seq[String],
                          partitionBy: Seq[String], statsCols: Seq[String],
                          readVersion: Long,
                          declared: Option[org.apache.spark.sql.types.StructType],
                          align: DataFrame => DataFrame,
                          metaLines: Seq[String],
                          srcKeys: DataFrame,
                          snap: Seq[org.apache.spark.sql.Row],
                          schemaOverride: Option[
                            org.apache.spark.sql.types.StructType] = None,
                          // the keyed-merge conflict screen (CoW rule):
                          // DV swaps emit remove+re-add pairs, so the
                          // resolver's remove-overlap check covers a
                          // winner racing on the same file's mask
                          resolveConflicts: Boolean = false,
                          readCond: Option[
                            org.apache.spark.sql.Column] = None)
      : Long = {
    val matched = withRowIdentity(spark, table, LogFile.of(snap), declared)
      .join(srcKeys, keys, "left_semi")
      .persist() // the mask pass + the cdc split
    val cfg = tableConfig(spark, table, readVersion)
    val incoming = align(source)
    // constraint check + parquet write = two evaluations of the
    // user-supplied source; persist across the pair so a
    // nondeterministic source validates the SAME rows it commits
    // (mirrors append/copyOnWrite)
    val mustCache = constraintsOf(cfg).nonEmpty &&
      incoming.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (mustCache) incoming.persist()
    try {
      val maskLines = dvMaskActions(spark, table, declared, snap, matched)
        .getOrElse(Seq.empty)
      enforceConstraints(incoming, cfg, declared)
      val added = writeAndCapture(spark, incoming, table, partitionBy,
        schemaOverride = schemaOverride)
      val stats = fileStats(spark, table, added.map(_._1), statsCols,
        schemaOverride = schemaOverride)
      // CDF: masked targets = update_preimage, matching source rows =
      // update_postimage, the rest of the source = insert — the exact
      // split the copy-on-write form computes
      val cdcLines =
        if (!cfg.get("delta.enableChangeDataFeed").contains("true"))
          Seq.empty[String]
        else {
          val dataCols = matched.columns.filterNot(
            c => c == "__fname" || c == "__ri")
          val tgtKeys = matched.select(keys.map(col): _*)
          writeCdcFiles(spark, table,
            align(matched.select(dataCols.map(col).toIndexedSeq: _*))
              .withColumn("_change_type", lit("update_preimage"))
              .unionByName(incoming.join(tgtKeys, keys, "left_semi")
                .withColumn("_change_type", lit("update_postimage")))
              .unionByName(incoming.join(tgtKeys, keys, "left_anti")
                .withColumn("_change_type", lit("insert"))),
            partitionBy, schemaOverride)
        }
      beforeDmlCommitHook()
      val lines = cdcLines ++ metaLines ++ maskLines ++
        added.map { case (p, sz, m) =>
          addLine(p, sz, stats.get(p), modTime = Some(m)) }
      if (resolveConflicts)
        writeCommitResolving(spark, table, readVersion + 1, lines,
          "MERGE", readCond)
      else writeCommit(spark, table, readVersion + 1, lines, "MERGE")
    } finally {
      matched.unpersist()
      if (mustCache) incoming.unpersist()
      ()
    }
  }

  /** Column-name namespace of the general [[mergeClauses]] form: inside
    * matched-clause conditions and UPDATE assignments, target columns
    * ride under their plain names and source columns under
    * `__src_<name>` (the caller rewrites `s.x` references accordingly;
    * [[plans.GraftMergeClausesCommand]] does it for SQL). */
  val MergeSrcPrefix = "__src_"
  private val MergeMatchedMarker = "__merge_matched"

  /** One `WHEN MATCHED [AND cond]` clause: `set = Some(assignments)`
    * for UPDATE (target column → expression over the combined
    * namespace), `None` for DELETE. */
  case class MergeMatchedClause(
      cond: Option[org.apache.spark.sql.Column],
      set: Option[Map[String, org.apache.spark.sql.Column]])

  /** One `WHEN NOT MATCHED [AND cond] THEN INSERT` clause: conditions
    * and values reference SOURCE columns by plain name (Delta's rule —
    * there is no target row to reference). */
  case class MergeInsertClause(
      cond: Option[org.apache.spark.sql.Column],
      values: Map[String, org.apache.spark.sql.Column])

  /** One `WHEN NOT MATCHED BY SOURCE [AND cond]` clause: conditions
    * and assignments reference TARGET columns only (Delta's rule —
    * there is no source row to reference). */
  case class MergeBySourceClause(
      cond: Option[org.apache.spark.sql.Column],
      set: Option[Map[String, org.apache.spark.sql.Column]])

  /** The GENERAL MERGE (Delta's full clause matrix): any combination
    * of conditional `WHEN MATCHED THEN UPDATE SET .../DELETE`,
    * `WHEN NOT MATCHED THEN INSERT ...`, and `WHEN NOT MATCHED BY
    * SOURCE THEN UPDATE SET .../DELETE` clauses, evaluated per the SQL
    * standard: for each target row, the FIRST applicable clause of its
    * population (matched / not-matched-by-source) decides its fate —
    * update (assignments evaluate against the PRE-update pair, like
    * UPDATE), delete, or pass-through when no clause applies; each
    * unmatched source row inserts under its first applicable
    * not-matched clause or is dropped. The canonical star upsert and
    * the delete-only forms keep their dedicated paths ([[merge]] /
    * [[mergeDelete]] — they additionally do schema evolution); this
    * form never evolves the schema. Identity columns assign on INSERT
    * clauses through the high-water-mark chain
    * ([[resolveMergeInsertsIdentity]] — explicit values require
    * GENERATED BY DEFAULT) and refuse in UPDATE SETs.
    *
    * Scale: the same discipline as the specialized forms — matched
    * discovery is range-pruned by the distinct source keys before
    * anything reaches the driver, only files where a clause actually
    * FIRES are rewritten, and a by-source clause (complement-shaped,
    * like [[mergeDelete]]'s sync form) is what forces a full-manifest
    * scan, never the clause set itself. Generated columns recompute
    * post-SET on updated rows and compute/validate on inserts;
    * DEFAULTs fill omitted insert columns; CHECK constraints enforce
    * on every written row; both storage forms compose (copy-on-write
    * rewrites firing files, the DV form masks updated/deleted rows and
    * appends the new images); CDF feeds carry the exact
    * update-pre/post, delete, and insert split. */
  def mergeClauses(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeMatchedClause],
      notMatched: Seq[MergeInsertClause],
      bySource: Seq[MergeBySourceClause],
      partitionBy: Seq[String], readOnly: Boolean = false,
      statsCols: Seq[String] = Nil,
      // Delta's `WITH SCHEMA EVOLUTION` (r16): SET/INSERT targets
      // naming columns the table has not declared APPEND them —
      // types inferred from the assignment expressions, one metaData
      // action in the merge's own commit (carrying the mapped
      // physicalName/id ratchet and/or the identity high-water mark
      // when those features compose). Without the flag an unknown
      // target refuses by name, exactly as before.
      evolveSchema: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(keys.nonEmpty, "merge requires at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    // missing table: every source row is not-matched — the canonical
    // merge's create-on-first-merge rule, scoped to the insert clauses
    if (!tableExists(spark, table)) {
      if (notMatched.isEmpty) return -1L
      return append(spark,
        resolveMergeInserts(source, None, table, notMatched),
        table, partitionBy, readOnly, statsCols)
    }
    val readVersion = latestVersion(spark, table)
    val state = stateAt(spark, table, readVersion)
    val declared = state.schema
    requireMappingWritable(declared, table, spark)
    val decl = declared.getOrElse(throw new IllegalArgumentException(
      s"general MERGE needs a declared schema; $table has none"))
    require(!decl.fieldNames.exists(c => c.startsWith(MergeSrcPrefix) ||
        c == MergeMatchedMarker),
      s"table has a column colliding with the merge namespace " +
        s"($MergeSrcPrefix*/$MergeMatchedMarker)")
    val idFields = decl.fields.filter(_.metadata.contains(IdentityStartKey))
    require(idFields.length <= 1,
      s"$table declares ${idFields.length} identity columns; at most " +
        "one is supported")
    def checkSet(set: Map[String, org.apache.spark.sql.Column],
                 clause: String): Unit = set.keys.foreach { k =>
      decl.fields.find(_.name.equalsIgnoreCase(k)) match {
        case Some(f) =>
          require(!f.metadata.contains(GenExprKey),
            s"MERGE cannot SET generated column ${f.name} — it is " +
              "always computed from its expression")
          require(!f.metadata.contains(IdentityStartKey),
            s"MERGE cannot SET identity column ${f.name}")
        case None => require(evolveSchema,
          s"MERGE $clause references unknown column $k (table columns: " +
            s"${decl.fieldNames.mkString(", ")}); WITH SCHEMA " +
            "EVOLUTION appends it")
      }
    }
    matched.foreach(_.set.foreach(checkSet(_, "UPDATE")))
    bySource.foreach(_.set.foreach(checkSet(_, "UPDATE")))
    notMatched.foreach { c =>
      require(c.values.nonEmpty, "MERGE INSERT needs at least one column")
      c.values.keys.foreach { k =>
        require(evolveSchema ||
            decl.fieldNames.exists(_.equalsIgnoreCase(k)),
          s"MERGE INSERT references unknown column $k (table columns: " +
            s"${decl.fieldNames.mkString(", ")}); WITH SCHEMA " +
            "EVOLUTION appends it")
      }
    }
    val srcKeys = source.select(keys.map(col): _*).distinct()
    // combined namespace: the source side rides prefixed. Without
    // matched clauses only MATCHEDNESS is consulted — join the distinct
    // keys instead, so duplicate source keys never duplicate target rows
    val srcSide = if (matched.nonEmpty) source else srcKeys
    val srcP = srcSide.select(srcSide.columns.map(c =>
        col(s"`$c`").as(MergeSrcPrefix + c)).toIndexedSeq: _*)
      .withColumn(MergeMatchedMarker, lit(true))
    // ---- schema evolution (`evolveSchema`) ----------------------------
    // Unknown SET/INSERT targets across the clause set become APPENDED
    // columns. Types are inferred from the assignment expressions —
    // schema-only select over an EMPTY frame in the right namespace
    // (the combined target+prefixed-source view for SET, the plain
    // source for INSERT values), zero Spark jobs — and must agree
    // across clauses. The evolved commit carries ONE metaData action;
    // on a mapped table the fresh fields ratchet maxColumnId exactly
    // like the keyed merge's evolution.
    val assignedNames: Seq[String] =
      if (!evolveSchema) Seq.empty
      else (matched.flatMap(_.set.toSeq.flatMap(_.keys)) ++
          bySource.flatMap(_.set.toSeq.flatMap(_.keys)) ++
          notMatched.flatMap(_.values.keys))
        .foldLeft(Vector.empty[String])((acc, k) =>
          if (acc.exists(_.equalsIgnoreCase(k))) acc else acc :+ k)
    val cfg = tableConfig(spark, table, readVersion)
    val merged0: org.apache.spark.sql.types.StructType =
      if (assignedNames.isEmpty) decl
      else {
        import org.apache.spark.sql.types.{DataType, StructField, StructType}
        val dummyNs = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(decl.fields.toIndexedSeq ++ srcP.schema.fields))
        def typeOf(v: org.apache.spark.sql.Column,
                   overNs: Boolean): DataType =
          (if (overNs) dummyNs else source.limit(0))
            .select(v.as("__t")).schema.head.dataType
        // an assignment EVOLVES the schema when it targets an unknown
        // column (appended) or nested-widens an existing STRUCT-bearing
        // column ([[mergeStructTypes]]); scalar type mismatches keep
        // their cast-at-write semantics untouched
        val evolveEntries = assignedNames.flatMap { k =>
          def of(set: Option[Map[String, org.apache.spark.sql.Column]],
                 ns: Boolean) =
            set.toSeq.flatMap(_.find(_._1.equalsIgnoreCase(k)))
              .map(e => typeOf(e._2, ns))
          val cands = matched.flatMap(c => of(c.set, ns = true)) ++
            bySource.flatMap(c => of(c.set, ns = true)) ++
            notMatched.flatMap(c => of(Some(c.values), ns = false))
          val t0 = cands.head
          decl.fields.find(_.name.equalsIgnoreCase(k)) match {
            case None =>
              require(cands.forall(
                  DataType.equalsIgnoreNullability(_, t0)),
                s"MERGE schema evolution infers conflicting types for " +
                  s"$k: " +
                  cands.map(_.simpleString).distinct.mkString(", "))
              require(!containsVariant(t0),
                "schema evolution cannot introduce a VARIANT column " +
                  "(the variantType table feature must join the " +
                  "protocol); add it with ALTER TABLE ... ADD COLUMNS")
              require(!k.startsWith(MergeSrcPrefix) &&
                  k != MergeMatchedMarker,
                s"evolved column $k collides with the merge namespace")
              Some(StructField(k, t0, nullable = true))
            case Some(of0) =>
              // nested-widening an EXISTING struct-bearing column: the
              // evolved type composes across ALL clauses assigning it
              // (a fold of mergeStructTypes), never cands.head alone —
              // two clauses growing DIFFERENT nested fields union, and
              // a clause whose type cannot compose refuses HERE with
              // the named column, not later as an opaque positional
              // struct-cast failure. TOP-LEVEL scalar mismatches keep
              // their cast-at-write semantics untouched (the guard
              // below): widening a plain column has its own explicit
              // verb (ALTER COLUMN TYPE) — an evolving merge must not
              // silently retype it and attach the reader-blocking
              // typeWidening feature as a side effect.
              val structBearing = of0.dataType match {
                case _: org.apache.spark.sql.types.StructType |
                     _: org.apache.spark.sql.types.ArrayType |
                     _: org.apache.spark.sql.types.MapType => true
                case _ => false
              }
              val widens = structBearing && cands.exists(t =>
                mergeStructTypes(of0.dataType, t, widenLeaves = true)
                  .exists(_ != of0.dataType))
              if (!widens) None
              else {
                val mergedT = cands.foldLeft(
                  Option(of0.dataType): Option[DataType])((acc, t) =>
                  acc.flatMap(a =>
                    mergeStructTypes(a, t, widenLeaves = true)))
                require(mergedT.isDefined,
                  s"MERGE schema evolution infers conflicting types " +
                    s"for $k: ${of0.dataType.simpleString} vs " +
                    cands.map(_.simpleString).distinct.mkString(", "))
                if (mergedT.get == of0.dataType) None
                else Some(StructField(of0.name, mergedT.get,
                  nullable = true))
              }
          }
        }
        if (evolveEntries.isEmpty) decl
        else mergedSchema(Some(decl), StructType(evolveEntries),
          widenLeaves = true)
      }
    val (outSchema1, evolvedCfg) =
      if (merged0.json == decl.json) (merged0, None)
      else if (isColumnMapped(decl)) {
        val (m2, cfg2) = assignMappingMetaDeep(merged0, cfg)
        (m2, Some(cfg2))
      } else (merged0, None)
    // a widened nested leaf is a TYPE CHANGE the spec records: stamp
    // delta.typeChanges on the owning field and declare the
    // typeWidening feature in the SAME commit (what ALTER COLUMN TYPE
    // does, fused into the evolving merge) — r18, the last
    // evolution-matrix seam
    val (outSchema, typeChanged) =
      if (outSchema1.json == decl.json) (outSchema1, false)
      else stampTypeChanges(decl, outSchema1)
    val widenProto: Seq[String] =
      if (!typeChanged) Seq.empty
      else {
        val cur = tableState(spark, table, readVersion).proto
        val up = cur.withFeature("typeWidening")
        if (up == cur) Seq.empty else Seq(up.render)
      }
    val evolutionNeeded = outSchema.json != decl.json
    val evolveOverride = evolvedCfg.map(_ => outSchema)
    // target reads predate the evolution — null-fill the new columns
    // and WIDEN the nested-evolved ones ADDITIVELY (the frames carry
    // internal __fname/__ri/__file columns a strict select would drop)
    def alignTgt(df: DataFrame): DataFrame =
      if (!evolutionNeeded || df.columns.isEmpty) df
      else outSchema.fields.foldLeft(df) { (d, f) =>
        if (!d.columns.contains(f.name)) {
          if (decl.fieldNames.contains(f.name)) d
          else d.withColumn(f.name, lit(null).cast(f.dataType))
        } else if (!org.apache.spark.sql.types.DataType
            .equalsIgnoreNullability(d.schema(f.name).dataType,
              f.dataType))
          d.withColumn(f.name, widenTo(col(s"`${f.name}`"),
            d.schema(f.name).dataType, f.dataType))
        else d
      }
    // -------------------------------------------------------------------
    val keyCond = keys.map(k =>
      col(s"`$k`") === col(s"`$MergeSrcPrefix$k`")).reduce(_ && _)
    val isMatched = coalesce(col(MergeMatchedMarker), lit(false))
    def firstIdx(conds: Seq[Option[org.apache.spark.sql.Column]])
        : org.apache.spark.sql.Column =
      conds.zipWithIndex.foldRight(lit(-1)) { case ((c, i), e) =>
        when(coalesce(c.getOrElse(lit(true)), lit(false)), lit(i))
          .otherwise(e) }
    val mIdx = firstIdx(matched.map(_.cond))
    val bIdx = firstIdx(bySource.map(_.cond))
    def isinIdx(idx: org.apache.spark.sql.Column, ids: Seq[Int]) =
      if (ids.isEmpty) lit(false) else idx.isin(ids.map(Int.box): _*)
    val mUpd = matched.zipWithIndex.collect {
      case (c, i) if c.set.isDefined => i }
    val mDel = matched.zipWithIndex.collect {
      case (c, i) if c.set.isEmpty => i }
    val bUpd = bySource.zipWithIndex.collect {
      case (c, i) if c.set.isDefined => i }
    val bDel = bySource.zipWithIndex.collect {
      case (c, i) if c.set.isEmpty => i }
    val updateApplied =
      when(isMatched, isinIdx(mIdx, mUpd)).otherwise(isinIdx(bIdx, bUpd))
    val deleteApplied =
      when(isMatched, isinIdx(mIdx, mDel)).otherwise(isinIdx(bIdx, bDel))
    val affected = updateApplied || deleteApplied
    // per-column output: the first applicable UPDATE clause's
    // assignment, else the stored value — ONE projection, every
    // expression evaluating against the PRE-update pair (SQL UPDATE
    // semantics, shared with [[update]])
    // static type of an UPDATE assignment over the joined namespace —
    // schema-only select, zero Spark jobs; evolving merges only
    lazy val updNs = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(
        outSchema.fields.toIndexedSeq ++ srcP.schema.fields))
    def valueFor(f: org.apache.spark.sql.types.StructField,
                 set: Map[String, org.apache.spark.sql.Column]) =
      set.find(_._1.equalsIgnoreCase(f.name)).map { case (_, v) =>
        if (!evolutionNeeded) v.cast(f.dataType)
        else {
          // an assignment writing a nested-widened column WIDENS to
          // the evolved type (its own clause may carry only a subset
          // of the union another clause contributed) — the positional
          // cast would refuse the arity; scalars keep cast-at-write
          val vt = updNs.select(v.as("__t")).schema.head.dataType
          if (org.apache.spark.sql.types.DataType
              .equalsIgnoreNullability(vt, f.dataType)) v.cast(f.dataType)
          else widenTo(v, vt, f.dataType)
        }
      }.getOrElse(col(s"`${f.name}`"))
    val outCols = outSchema.fields.toIndexedSeq.map { f =>
      val branches =
        matched.zipWithIndex.collect { case (cl, i) if cl.set.isDefined =>
          (isMatched && mIdx === i, valueFor(f, cl.set.get)) } ++
        bySource.zipWithIndex.collect { case (cl, i) if cl.set.isDefined =>
          (!isMatched && bIdx === i, valueFor(f, cl.set.get)) }
      branches.foldRight(col(s"`${f.name}`")) { case ((c0, v), e) =>
        when(c0, v).otherwise(e) }.as(f.name)
    }
    def joined(df: DataFrame) = alignTgt(df).join(srcP, keyCond,
      "left_outer")
    def hit(df: DataFrame) = joined(df).where(affected)
    val cdfOn = cfg.get("delta.enableChangeDataFeed").contains("true")
    val snapAll = snapshotFilesAt(spark, table, readVersion)
    // a by-source clause is complement-shaped — every file may hold an
    // unmatched row (mergeDelete's sync rule); otherwise the source
    // key ranges scope discovery AND screen concurrent adds in the
    // conflict resolver (the keyed-merge rule)
    // a target row updated/deleted by TWO source rows is ambiguous
    // (Delta's runtime multiple-matches error; the keyed ON makes the
    // static check exact) — insert/by-source-only clause sets are
    // immune (duplicates cannot make a delete or an insert ambiguous).
    // The dup refusal and the range bounds come out of ONE source
    // screen ([[mergeKeyScreen]]); with a by-source clause the
    // condition is discarded (complement-shaped discovery) but the dup
    // screen still applies.
    val fileKeyCond = (matched.nonEmpty, bySource.isEmpty) match {
      case (true, true) =>
        mergeKeyScreen(source, keys, partitionBy, declared)
      case (true, false) =>
        mergeKeyScreen(source, keys, partitionBy, declared); None
      case (false, true) =>
        keyRangeFileCond(srcKeys, keys, partitionBy, declared)
      case (false, false) => None
    }
    val snapDF = fileKeyCond.fold(snapAll)(snapAll.where(_))
    val declCols = outSchema.fieldNames.toIndexedSeq
    if (cfg.get("delta.enableDeletionVectors").contains("true")) {
      // DV form: mask every updated/deleted row, append the new images.
      // Persist only the AFFECTED rows (they feed the mask, the new
      // images, and the CDF splits) — with a by-source clause the join
      // covers the full table, and persisting that would cache the
      // table instead of the blast radius
      val snap = collected(snapDF.collect().toIndexedSeq)
      val tgt = withRowIdentity(spark, table, LogFile.of(snap), declared)
      val j = joined(tgt).where(affected).persist()
      try {
        val doomed = j
        val updatedOut = recomputeGenerated(
          j.where(updateApplied).select(outCols: _*), declared)
        val (insertsOpt, idMeta) =
          if (notMatched.isEmpty) (None, Seq.empty[String])
          else {
            val tgtKeys = tgt.select(keys.map(col): _*)
            val (ins, ml) = resolveMergeInsertsIdentity(spark, table,
              source.join(tgtKeys, keys, "left_anti"), outSchema,
              notMatched, partitionBy, readVersion,
              metaCfgOpt = evolvedCfg, forceMeta = evolutionNeeded)
            (Some(ins), ml)
          }
        // evolution without an identity metaData line (non-identity
        // table, or an identity merge whose resolver emitted nothing):
        // declare the evolved schema ourselves — never both
        val evoLines =
          if (!evolutionNeeded || idMeta.nonEmpty) Seq.empty[String]
          else Seq(metaDataLine(table, outSchema, partitionBy,
            evolvedCfg.getOrElse(cfg)))
        val maskLines = dvMaskActions(spark, table, declared, snap, doomed)
          .getOrElse(Seq.empty)
        val newData0 = insertsOpt.fold(updatedOut)(updatedOut.unionByName(_))
        val writesRows = mUpd.nonEmpty || bUpd.nonEmpty || notMatched.nonEmpty
        if (maskLines.isEmpty && (!writesRows || newData0.isEmpty))
          return readVersion // nothing fired: no commit
        // constraint check + parquet write = two evaluations; persist
        // across the pair so a nondeterministic source validates the
        // SAME rows it commits (the copyOnWrite discipline)
        val constrained = constraintsOf(cfg).nonEmpty ||
          invariantEntries(declared).nonEmpty
        val newData = if (constrained) newData0.persist() else newData0
        val added =
          try {
            if (constrained)
              enforceConstraints(newData, cfg, Some(outSchema))
            writeAndCapture(spark, newData, table, partitionBy,
              schemaOverride = evolveOverride)
          } finally if (constrained) { newData.unpersist(); () }
        val stats = fileStats(spark, table, added.map(_._1), statsCols,
          schemaOverride = evolveOverride)
        val cdcLines =
          if (!cdfOn) Seq.empty[String]
          else {
            val upd = j.where(updateApplied)
            val pre = upd.select(declCols.map(col): _*)
              .withColumn("_change_type", lit("update_preimage"))
            val post = recomputeGenerated(upd.select(outCols: _*), declared)
              .withColumn("_change_type", lit("update_postimage"))
            val del = j.where(deleteApplied).select(declCols.map(col): _*)
              .withColumn("_change_type", lit("delete"))
            val feed = insertsOpt.fold(pre.unionByName(post).unionByName(del))(
              i => pre.unionByName(post).unionByName(del).unionByName(
                i.withColumn("_change_type", lit("insert"))))
            writeCdcFiles(spark, table, feed, partitionBy,
              schemaOverride = evolveOverride)
          }
        beforeDmlCommitHook()
        val allLines = widenProto ++ cdcLines ++ evoLines ++ idMeta ++
          maskLines ++
          added.map { case (p, sz, m) =>
            addLine(p, sz, stats.get(p), modTime = Some(m)) }
        // the CoW branch's resolution rule, DV form; identity tables
        // stay pinned (mark-overlap), by-source scopes already carry
        // fileKeyCond = None (every add conflicts)
        if (decl.fields.exists(_.metadata.contains(IdentityStartKey)))
          writeCommit(spark, table, readVersion + 1, allLines, "MERGE")
        else writeCommitResolving(spark, table, readVersion + 1,
          allLines, "MERGE", readCond = fileKeyCond)
      } finally { j.unpersist(); () }
    } else {
      // copy-on-write form: rewrite exactly the files where a clause
      // FIRES; pass-through rows ride along, inserts land in the same
      // commit
      val snap = collected(
        snapDF.select(LogFile.columns: _*).collect().toIndexedSeq)
      val touched = matchingFiles(spark, table, LogFile.of(snap), state,
        hit)
      val (insertsOpt, idMeta) =
        if (notMatched.isEmpty) (None, Seq.empty[String])
        else {
          // matchedness is decided against ALL rows holding a source
          // key — the range-pruned candidate files, NOT just the
          // touched set (a key can match a row no clause fires on)
          val candPairs =
            if (bySource.isEmpty) LogFile.of(snap)
            else LogFile.of(collected(
              pruneByKeyRanges(snapAll, srcKeys, keys, partitionBy,
                declared)
                .select(LogFile.columns: _*).collect().toIndexedSeq))
          val unmatchedSrc =
            if (candPairs.isEmpty) source
            else source.join(
              readFilesWithDv(spark, table, candPairs, state)
                .select(keys.map(col): _*).distinct(),
              keys, "left_anti")
          val (ins, ml) = resolveMergeInsertsIdentity(spark, table,
            unmatchedSrc, outSchema, notMatched, partitionBy,
            readVersion, metaCfgOpt = evolvedCfg,
            forceMeta = evolutionNeeded)
          (Some(ins), ml)
        }
      val evoLines =
        if (!evolutionNeeded || idMeta.nonEmpty) Seq.empty[String]
        else Seq(metaDataLine(table, outSchema, partitionBy,
          evolvedCfg.getOrElse(cfg)))
      if (touched.isEmpty &&
          insertsOpt.forall(_.isEmpty)) return readVersion
      val cdc =
        if (!cdfOn) None
        else {
          val jt = joined(readFilesWithDv(spark, table, touched, state))
          val upd =
            if (jt.columns.isEmpty) None else Some(jt.where(updateApplied))
          val parts =
            upd.toSeq.flatMap(u => Seq(
              u.select(declCols.map(col): _*)
                .withColumn("_change_type", lit("update_preimage")),
              recomputeGenerated(u.select(outCols: _*), declared)
                .withColumn("_change_type", lit("update_postimage")),
              jt.where(deleteApplied).select(declCols.map(col): _*)
                .withColumn("_change_type", lit("delete")))) ++
            insertsOpt.map(_.withColumn("_change_type", lit("insert")))
          parts.reduceOption(_.unionByName(_))
        }
      copyOnWrite(spark, table, readVersion, touched, state,
        df => {
          val base =
            if (df.columns.isEmpty) None // touched empty: inserts only
            else Some(recomputeGenerated(
              joined(df).where(!deleteApplied).select(outCols: _*),
              declared))
          (base, insertsOpt) match {
            case (Some(b), Some(i)) => b.unionByName(i)
            case (Some(b), None) => b
            case (None, Some(i)) => i
            case (None, None) => df // unreachable (guarded above)
          }
        },
        partitionBy, "MERGE", statsCols,
        extraLines = widenProto ++ evoLines ++ idMeta, cdc = cdc,
        schemaOverride = evolveOverride,
        // identity tables stay pinned (the merge rule: a winner may
        // have assigned overlapping chain values without tripping any
        // resolver screen); everything else rebases past provably
        // disjoint winners
        resolveConflicts = !decl.fields.exists(
          _.metadata.contains(IdentityStartKey)),
        readCond = fileKeyCond)
    }
  }

  /** [[mergeClauses]]'s insert resolution: each unmatched source row
    * inserts under its FIRST applicable not-matched clause (or is
    * dropped when none applies); per-clause frames get the full write
    * contract — DEFAULTs fill omitted columns, generated columns
    * compute-or-validate — then align to the declared schema
    * (unassigned columns null, Delta's INSERT rule). */
  private def resolveMergeInserts(source: DataFrame,
      declared: Option[org.apache.spark.sql.types.StructType],
      table: String, notMatched: Seq[MergeInsertClause],
      // identity plumbing ([[resolveMergeInsertsIdentity]]): (identity
      // column name, per-clause provides-it flags) — each clause frame
      // gets a `__id_omitted` marker so the caller can split the union
      idMarker: Option[(String, Seq[Boolean])] = None): DataFrame = {
    val iIdx = notMatched.zipWithIndex.foldRight(lit(-1)) {
      case ((c, i), e) =>
        when(coalesce(c.cond.getOrElse(lit(true)), lit(false)), lit(i))
          .otherwise(e) }
    val idxd = source.withColumn("__mc_i", iIdx)
    def canonical(k: String): String =
      declared.flatMap(_.fields.find(_.name.equalsIgnoreCase(k)))
        .map(_.name).getOrElse(k)
    val frames = notMatched.zipWithIndex.map { case (cl, i) =>
      val rows = idxd.where(col("__mc_i") === i)
      val proj = rows.select(cl.values.toSeq.map { case (k, v) =>
        v.as(canonical(k)) }: _*)
      val filled = applyGenerated(applyDefaults(proj, declared),
        declared, table)
      val aligned = declared.fold(filled)(d =>
        filled.select(d.fields.toIndexedSeq.map { f =>
          if (filled.columns.exists(_.equalsIgnoreCase(f.name))) {
            // widenTo = cast for scalars; for struct-bearing columns it
            // null-fills evolved nested fields a clause may omit
            val actual = filled.schema.fields
              .find(_.name.equalsIgnoreCase(f.name)).get.dataType
            widenTo(col(s"`${f.name}`"), actual, f.dataType).as(f.name)
          } else lit(null).cast(f.dataType).as(f.name)
        }: _*))
      idMarker.fold(aligned) { case (_, assigns) =>
        aligned.withColumn("__id_omitted", lit(!assigns(i))) }
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = declared.isEmpty))
  }

  /** [[resolveMergeInserts]] for identity-column tables: clauses that
    * OMIT the identity column get fresh chain values (one
    * [[assignIdentity]] pass over their union, strictly past the
    * high-water mark), clauses that PROVIDE it require GENERATED BY
    * DEFAULT (`delta.identity.allowExplicitInsert`) and keep their
    * values with the mark syncing over them — the
    * [[appendWithIdentity]] / [[mergeIdentityResolve]] contract
    * restated for the general clause matrix. Returns the resolved
    * frame + the metaData line advancing the mark (empty when it did
    * not move), which MUST join the same pinned commit. */
  private def resolveMergeInsertsIdentity(spark: SparkSession,
      table: String, source: DataFrame,
      // the schema the inserts align to AND the metaData line renders —
      // the EVOLVED schema when the merge grows the table (one line
      // then carries both the evolution and the advanced mark)
      decl: org.apache.spark.sql.types.StructType,
      notMatched: Seq[MergeInsertClause], partitionBy: Seq[String],
      readVersion: Long,
      // evolving merges: the ratcheted mapped config to re-state, and
      // `forceMeta` emits the line even when the mark did not move
      metaCfgOpt: Option[Map[String, String]] = None,
      forceMeta: Boolean = false): (DataFrame, Seq[String]) = {
    val idf = decl.fields.find(_.metadata.contains(IdentityStartKey))
    if (idf.isEmpty)
      return (resolveMergeInserts(source, Some(decl), table, notMatched),
        Seq.empty)
    val f = idf.get
    val start = f.metadata.getLong(IdentityStartKey)
    val step =
      if (f.metadata.contains(IdentityStepKey))
        f.metadata.getLong(IdentityStepKey)
      else 1L
    require(step != 0L, s"identity step of ${f.name} must be non-zero")
    val hwm0: Option[Long] =
      if (f.metadata.contains(IdentityHwmKey))
        Some(f.metadata.getLong(IdentityHwmKey))
      else None
    val allowExplicit = f.metadata.contains(IdentityAllowExplicitKey) &&
      f.metadata.getBoolean(IdentityAllowExplicitKey)
    val assigns = notMatched.map(
      _.values.keys.exists(_.equalsIgnoreCase(f.name)))
    require(!assigns.contains(true) || allowExplicit,
      s"${f.name} is GENERATED ALWAYS AS IDENTITY — explicit INSERT " +
        "values refuse (declare it GENERATED BY DEFAULT to allow them)")
    require(!source.columns.contains("__id_omitted"),
      "merge source has a '__id_omitted' column, which collides with " +
        "the identity-resolution marker")
    val resolved = resolveMergeInserts(source, Some(decl), table,
      notMatched, idMarker = Some((f.name, assigns)))
    val declOrder = decl.fields.toIndexedSeq.map(fd => col(s"`${fd.name}`"))
    val omitted = resolved.where(col("__id_omitted"))
      .drop("__id_omitted", f.name)
    val provided = resolved.where(!col("__id_omitted"))
      .drop("__id_omitted")
    def further(a: Long, b: Long): Long =
      if (step > 0) math.max(a, b) else math.min(a, b)
    val (assignedPart, hwm1) =
      if (!assigns.contains(false)) // every clause provides: no pass
        (None, hwm0)
      else {
        val (a0, h) = assignIdentity(omitted, f.name, start, step, hwm0)
        (Some(a0.select(declOrder: _*)), h)
      }
    val (providedPart, hwm2) =
      if (!assigns.contains(true)) (None, hwm1)
      else {
        val mx = provided.agg(
          (if (step > 0) max(col(s"`${f.name}`"))
           else min(col(s"`${f.name}`"))).cast("long")).collect().head
        val sync =
          if (mx.isNullAt(0)) hwm1
          else Some(hwm1.fold(mx.getLong(0))(further(_, mx.getLong(0))))
        (Some(provided.select(declOrder: _*)), sync)
      }
    val out = (assignedPart.toSeq ++ providedPart.toSeq)
      .reduce(_.unionByName(_))
    val metaLines =
      if (hwm2 == hwm0 && !forceMeta) Seq.empty[String]
      else {
        val f2 =
          if (hwm2 == hwm0) f
          else f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong(IdentityHwmKey, hwm2.get).build())
        val schema2 = org.apache.spark.sql.types.StructType(
          decl.fields.map(fd => if (fd.name == f.name) f2 else fd))
        Seq(metaDataLine(table, schema2, partitionBy,
          metaCfgOpt.getOrElse(tableConfig(spark, table, readVersion))))
      }
    (out, metaLines)
  }

  /** VACUUM: physically delete data files no longer referenced by the
    * current snapshot (files removed by compaction/DML), but ONLY those
    * outside the retention horizon — a file stays on disk for at least
    * `retainMs` after it was de-referenced, so concurrent readers of a
    * recent snapshot and time travel within the window keep resolving
    * (delta-rs enforces the same horizon). Age is measured against the
    * remove action's `deletionTimestamp`; files with no tombstone in
    * the log (uncommitted write debris, legacy commits) fall back to
    * their filesystem modification time. Returns the deleted relative
    * paths. `retainMs = 0` reproduces the reference environment's
    * immediate vacuum. `nowMs` is injectable for horizon tests.
    *
    * `lite = true` is Delta 3.3's `VACUUM ... LITE`: candidates come
    * from the LOG's remove tombstones alone — zero directory listing,
    * so discovery is O(retained removes) instead of O(table files),
    * the shape that matters on a 10⁷-object table where even the
    * distributed listing pays one RPC per object. The trade is the
    * Delta-documented one: untracked debris (uncommitted write
    * leftovers that never got a remove action) is invisible to LITE
    * and waits for a FULL vacuum, and a tombstone whose file an
    * earlier vacuum already deleted is screened by the delete's own
    * return value (full runs never see one — their candidates come
    * from the listing, which only yields files that exist). */
  def vacuum(spark: SparkSession, table: String,
             retainMs: Long = 0L,
             readOnly: Boolean = false,
             nowMs: () => Long = () => System.currentTimeMillis(),
             dryRun: Boolean = false,
             lite: Boolean = false): Seq[String] = {
    // DRY RUN (Delta's form) reports the would-be deletions without
    // touching storage — the same candidate discovery, no delete calls
    if (readOnly && !dryRun) throw new ReadOnlyTableException(table)
    // vacuumProtocolCheck's contract: verify the table's protocol is
    // one this engine upholds BEFORE deleting anything — vacuuming a
    // table whose features you don't understand can delete files a
    // feature still references
    if (!dryRun)
      requireWritable(spark, table, latestVersion(spark, table))
    val snapRows = snapshotFiles(spark, table)
      .select("path", "dv_path").collect().toIndexedSeq
    val live = snapRows.map(_.getString(0)).toSet
    // newest tombstone per path: a file removed, re-added, and removed
    // again is aged from its LATEST de-reference. The checkpoint's
    // remove rows are unioned in — after log-retention cleanup
    // ([[cleanupLogs]]) they are the ONLY record of pre-checkpoint
    // tombstones, and without them vacuum would fall back to file
    // mtime and delete inside the retention horizon.
    val cpRemoves: Option[DataFrame] =
      latestCheckpoint(spark, table, Long.MaxValue)
        .map(checkpointActionDF(spark, table, _))
        .filter(_.columns.contains("remove"))
        .map(_.select(col("remove.path").as("path"),
          col("remove.deletionTimestamp").cast("long").as("ts")))
    // ONE log scan serves both vacuum passes below, merged per path
    // (map-side on the executor arm): the path's newest tombstone
    // (Long.MinValue = none) and the 'u' DV bins its adds named.
    // Checkpoint remove rows stay a (single) parquet aggregate.
    val byPath: Map[String, (Long, Set[String])] =
      logScanMerged(spark, table, logJsonVersions(spark, table)) {
        (_, nodes) => nodes.flatMap { node =>
          val tombstone = jnode(node, "remove").flatMap(rem => for {
            p <- jnode(rem, "path").map(_.asText())
            t <- jnode(rem, "deletionTimestamp").map(_.asLong())
          } yield p -> (t, Set.empty[String]))
          val bin = jnode(node, "add").flatMap { add =>
            val rdv = jnode(add, "deletionVector")
            if (!rdv.exists(r => jnode(r, "storageType")
                .exists(_.asText() == "u"))) None
            else for {
              d <- rdv.flatMap(jnode(_, "pathOrInlineDv")).map(_.asText())
              p <- jnode(add, "path").map(_.asText())
            } yield p -> (Long.MinValue, Set(d))
          }
          tombstone.iterator ++ bin.iterator
        }
      }((a, b) => (math.max(a._1, b._1), a._2 ++ b._2))
    val jsonRemovePairs: Seq[(String, Long)] = byPath.toSeq.collect {
      case (p, (ts, _)) if ts != Long.MinValue => (p, ts) }
    val cpRemovePairs: Seq[(String, Long)] = cpRemoves.fold(
        Seq.empty[(String, Long)])(
      _.where(col("path").isNotNull && col("ts").isNotNull)
        .groupBy("path").agg(max(col("ts")).as("ts"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    val tombstones: Map[String, Long] =
      (jsonRemovePairs ++ cpRemovePairs).groupBy(_._1)
        .view.mapValues(_.map(_._2).max).toMap
    val cutoff = nowMs() - retainMs
    val f = fs(spark, table)
    // LITE aging uses the tombstone timestamp ONLY (there is no mtime
    // without a listing); a path with no tombstone is simply not a
    // LITE candidate. FULL keeps the mtime fallback for debris.
    // External (absolute) tombstones are screened out: a shallow
    // clone's COW DML removes reference the SOURCE table's absolute
    // paths, and LITE's log-derived candidates would otherwise reach
    // outside this root — the invariant full vacuum gets for free
    // from listing only its own directory.
    val dead =
      if (lite) tombstones.collect {
        case (p, ts) if !live.contains(p) && ts <= cutoff &&
          !p.startsWith("/") && !p.contains("://") => p
      }.toSeq.sorted
      else listDataFiles(spark, table).collect {
        case (p, _, mtime) if !live.contains(p) &&
          tombstones.getOrElse(p, mtime) <= cutoff => p
      }
    // deliberately NOT resolvePath: dead candidates come from listing
    // THIS table's directory (or, LITE, from its own log), so vacuum
    // can never touch an external (shallow-cloned) file living under
    // the source table's root
    val deadDeleted =
      if (dryRun) existingDataFiles(spark, table, dead,
        screenNeeded = lite)
      else deleteDataFiles(spark, table, dead)
    // deletion-vector bins (this engine's DV writes pack per-file
    // roaring bitmaps into deletion_vector_<uuid>.bin at the root) no
    // live add references are dead weight, keyed by the bin name the
    // 'u' descriptor resolves to. A bin's de-reference moment: when a
    // DV'd add is superseded (OPTIMIZE, DV swap, delete), the path's
    // remove tombstone is written — the NEWEST tombstone across the
    // files that ever referenced the bin is when the mask stopped
    // mattering (aging on bin mtime, its creation, would kill masks
    // still inside the retention window). Fallback: mtime, for bins
    // whose referencing adds never got a tombstone. Clone-produced 'p'
    // markers point at the SOURCE's root and are never candidates
    // (only THIS root is listed).
    def binOf(marker: String): Option[String] =
      marker.split("\u0000", -1) match {
        case Array(_, "u", pod, _, _) => Some(RoaringDv
          .dvFileOf(table, "u", pod).stripPrefix(s"$table/"))
        case _ => None
      }
    val liveBins = snapRows.collect {
      case r if !r.isNullAt(1) => binOf(r.getString(1))
    }.flatten.toSet
    val binAddPairs: Seq[(String, String)] = byPath.toSeq.flatMap {
      case (p, (_, bins)) => bins.map(_ -> p) }
    val binDeref: Map[String, Long] = binAddPairs
      .groupBy(r => RoaringDv.dvFileOf(table, "u", r._1)
        .stripPrefix(s"$table/"))
      .view.mapValues(_.flatMap(r => tombstones.get(r._2)))
      .collect { case (d, ts) if ts.nonEmpty => d -> ts.max }.toMap
    // LITE bins: log-derived (the root listing is O(first-level
    // entries), which for an unpartitioned table IS O(table files)); a
    // bin with no de-reference tombstone is retained (fail-safe), and
    // the existence screen is mask-count-scale, never table-scale
    val deadBins =
      if (lite) binDeref.collect {
        case (n, ts) if !liveBins.contains(n) && ts <= cutoff &&
          f.exists(new Path(s"$table/$n")) => n
      }.toSeq.sorted
      else f.listStatus(new Path(table)).toSeq.collect {
        case st if {
          val n = st.getPath.getName
          n.startsWith("deletion_vector_") && n.endsWith(".bin") &&
            !liveBins.contains(n) &&
            binDeref.getOrElse(n, st.getModificationTime) <= cutoff
        } => st.getPath.getName
      }
    if (!dryRun) deadBins.foreach(p => f.delete(new Path(s"$table/$p"), false))
    deadDeleted ++ deadBins
  }

  /** Vacuum deletes past this count fan out over the cluster instead
    * of issuing sequential driver-side RPCs (a 10⁷-file vacuum would
    * otherwise take hours; the deletes are embarrassingly parallel and
    * Delta's own vacuum distributes exactly this step). Test seam. */
  private[graft] var vacuumParallelThreshold = 1024

  /** Files deleted through the distributed vacuum path — bumped on the
    * DRIVER after the fan-out job completes (task closures are
    * serialized even in local mode, so an executor-side increment
    * would hit a deserialized copy). Specs assert big file sets
    * actually take the fan-out. */
  private[graft] val distributedDeletes =
    new java.util.concurrent.atomic.AtomicLong

  /** Physically delete `rels` (data-file paths relative to `table`),
    * returning the subset that EXISTED (a LITE candidate can already
    * be gone — delete's own boolean is the screen, no extra RPC).
    * Small sets delete driver-side; larger ones parallelize with one
    * FileSystem per executor partition, the driver conf shipped
    * through [[org.apache.spark.sql.graft.HadoopConfBridge]]. The DV
    * bin sets stay driver-side — they are mask-count-scale, never
    * table-scale. */
  private def deleteDataFiles(spark: SparkSession, table: String,
                              rels: Seq[String]): Seq[String] = {
    if (rels.isEmpty) return Seq.empty
    if (rels.size <= vacuumParallelThreshold) {
      val f = fs(spark, table)
      rels.filter(p => f.delete(new Path(s"$table/$p"), false))
    } else {
      val h = org.apache.spark.sql.graft.HadoopConfBridge.handle(
        spark.sparkContext.hadoopConfiguration)
      // ~4k deletes per task: enough to amortize task overhead, small
      // enough that stragglers re-balance across the cluster
      val slices = math.max(1, math.min(
        spark.sparkContext.defaultParallelism * 4,
        rels.size / 4096 + 1))
      val deleted = spark.sparkContext.parallelize(rels, slices)
        .mapPartitions { it =>
          val f2 = new Path(table).getFileSystem(h.conf)
          it.filter(p => f2.delete(new Path(s"$table/$p"), false))
        }.collect().toSeq
      distributedDeletes.addAndGet(deleted.size)
      deleted
    }
  }

  /** Subset of `rels` that exist under `table` — the LITE dry-run's
    * report screen (log-derived candidates may already be gone; a
    * dry run must not claim them). `screenNeeded = false` (FULL dry
    * runs, whose candidates come from a listing and exist by
    * construction) returns `rels` untouched. Distributes past the
    * vacuum threshold like the deletes. */
  private def existingDataFiles(spark: SparkSession, table: String,
      rels: Seq[String], screenNeeded: Boolean): Seq[String] = {
    if (!screenNeeded || rels.isEmpty) return rels
    if (rels.size <= vacuumParallelThreshold) {
      val f = fs(spark, table)
      rels.filter(p => f.exists(new Path(s"$table/$p")))
    } else {
      val h = org.apache.spark.sql.graft.HadoopConfBridge.handle(
        spark.sparkContext.hadoopConfiguration)
      val slices = math.max(1, math.min(
        spark.sparkContext.defaultParallelism * 4,
        rels.size / 4096 + 1))
      spark.sparkContext.parallelize(rels, slices)
        .mapPartitions { it =>
          val f2 = new Path(table).getFileSystem(h.conf)
          it.filter(p => f2.exists(new Path(s"$table/$p")))
        }.collect().toSeq
    }
  }

  /** Log-retention cleanup (Delta's metadata cleanup): delete JSON
    * commits and superseded checkpoints STRICTLY BELOW the newest
    * checkpoint once they age past `delta.logRetentionDuration`
    * (default 30 days; mtime-aged like real Delta). Safe only because
    * checkpoints now carry unexpired remove tombstones — vacuum's
    * horizon survives the JSON deletion ([[writeCheckpoint]]); the one
    * degradation is DV-bin aging for files tombstoned before the
    * horizon, which falls back to mtime (fail-safe, may RETAIN longer).
    * Time travel below the horizon throws [[HistoryCleanedException]]
    * instead of replaying a partial tail. Returns the deleted
    * `_delta_log`-relative names. */
  def cleanupLogs(spark: SparkSession, table: String,
                  retainMs: Option[Long] = None,
                  readOnly: Boolean = false,
                  nowMs: () => Long = () => System.currentTimeMillis())
      : Seq[String] = {
    if (readOnly) throw new ReadOnlyTableException(table)
    val f = fs(spark, table)
    val cpOpt = latestCheckpoint(spark, table, Long.MaxValue)
    if (cpOpt.isEmpty) return Seq.empty // nothing covers the JSON yet
    val cp = cpOpt.get
    val cutoff = nowMs() -
      retainMs.getOrElse(logRetentionMs(tableConfig(spark, table)))
    def aged(p: Path): Boolean =
      try f.getFileStatus(p).getModificationTime <= cutoff
      catch { case _: java.io.FileNotFoundException => false }
    val deadJson = logJsonVersions(spark, table, 0L, cp - 1)
      .collect { case (v, p) if aged(new Path(p)) =>
        f.delete(new Path(p), false); f"$v%020d.json" }
    // superseded checkpoints (single-file, complete multi-part sets —
    // all-or-none, so a partial deletion can never masquerade as a
    // complete set — and any other entry under a checkpoint name) age
    // out under the same horizon; the NEWEST checkpoint always survives
    // ONE listing serves every checkpoint-shape lookup — the
    // per-version helpers would re-list _delta_log O(cp) times.
    // Iteration runs over checkpoint names actually present, so the
    // loop is O(#checkpoints), not O(history). Multi-part sets delete
    // per-file when aged (a superseded set, partial or complete, is
    // garbage either way — only the NEWEST checkpoint is load-bearing
    // and it is excluded by v < cp). Aged v2 MANIFESTS age out too;
    // the action files under _delta_log/_sidecars stay — the spec
    // lets manifests SHARE sidecar files, so deleting them safely
    // needs reference counting across every surviving manifest.
    val cpNames = f.listStatus(new Path(logDir(table)))
      .map(_.getPath.getName)
      .filter(_.contains(".checkpoint."))
    def versionOfName(nm: String): Option[Long] =
      if (nm.length >= 20 && nm.take(20).forall(_.isDigit))
        Some(nm.take(20).toLong)
      else None
    val deadCp = cpNames.toSeq.flatMap { nm =>
      versionOfName(nm) match {
        case Some(v) if v < cp =>
          val p = new Path(s"${logDir(table)}/$nm")
          if (aged(p)) { f.delete(p, true); Seq(nm) } else Seq.empty
        case _ => Seq.empty
      }
    }
    // deleted checkpoints must not linger in the completeness memo
    val root = rootOf(spark, table)
    cpCompleteMemo.invalidateIf(_._1 == root)
    deadJson ++ deadCp
  }

  /** INSERT OVERWRITE: replace the table's contents (or, with
    * `replaceWhere`, exactly the matching partitions — Delta's
    * idempotent partition-reload pattern) with `df` in one pinned
    * commit. With `replaceWhere` set, every incoming row must fall
    * inside the replaced scope (Delta's replaceWhere constraint —
    * silently writing rows outside the scope would corrupt partitions
    * the caller believes untouched). `overwriteSchema` swaps the
    * declared schema outright (full overwrites only); otherwise the
    * incoming frame must merge-fit the declared schema like an append.
    *
    * Scale: the commit is removes (metadata) + the new files; with
    * `replaceWhere` the removed set is resolved metadata-only through
    * the same filter algebra reads use — reloading one day of a 100 TB
    * table touches that day's files and nothing else. */
  def overwrite(spark: SparkSession, df: DataFrame, table: String,
                partitionBy: Seq[String],
                replaceWhere: PartitionAcl.Filters = Seq.empty,
                overwriteSchema: Boolean = false,
                readOnly: Boolean = false,
                statsCols: Seq[String] = Nil,
                // Delta 1.1's ARBITRARY-predicate replaceWhere: rows
                // matching the condition are replaced by `df` in one
                // commit — whole files inside the scope are removed,
                // partially-matching files rewrite keeping only their
                // non-matching rows (a DELETE fused with the insert).
                // Mutually exclusive with the partition-map form.
                replaceWhereCond: Option[org.apache.spark.sql.Column] =
                  None): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    require(replaceWhere.isEmpty || replaceWhereCond.isEmpty,
      "replaceWhere takes the partition-map form OR the predicate " +
        "form, not both")
    require(!(overwriteSchema &&
        (replaceWhere.nonEmpty || replaceWhereCond.nonEmpty)),
      "overwriteSchema applies to FULL overwrites only (partial scopes " +
        "would leave files under two schemas)")
    val exists = tableExists(spark, table)
    val readVersion = if (exists) latestVersion(spark, table) else -1L
    val cfg =
      if (exists) tableConfig(spark, table, readVersion)
      else Map.empty[String, String]
    if (exists)
      requireMappingWritable(latestSchema(spark, table, readVersion), table, spark)
    // the scope guard, constraint check, and parquet write each
    // evaluate df — persist across the whole sequence so a
    // nondeterministic source validates the SAME rows it commits
    // (mirrors append/copyOnWrite)
    val mustCache = (replaceWhere.nonEmpty || replaceWhereCond.nonEmpty ||
        constraintsOf(cfg).nonEmpty) &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (mustCache) df.persist()
    try {
      // replaceWhere guard: every incoming row must sit inside the
      // scope — on the FIRST write too (Delta rejects out-of-scope rows
      // even when the overwrite creates the table), so this runs BEFORE
      // the not-yet-created early return
      if (replaceWhere.nonEmpty || replaceWhereCond.nonEmpty) {
        val conj = replaceWhere.filter(_.nonEmpty).map(_.map { case (k, v) =>
          col(k) === lit(v) }.reduce(_ && _))
        val inScope = replaceWhereCond.getOrElse(
          if (conj.isEmpty) lit(true) else conj.reduce(_ || _))
        val outside = df.where(!coalesce(inScope, lit(false))).limit(1).collect()
        require(outside.isEmpty,
          s"replaceWhere: incoming rows fall outside the replaced scope " +
            s"(first: ${outside.headOption.getOrElse("")})")
      }
      if (!exists)
        return append(spark, df, table, partitionBy, readOnly, statsCols)
      val state = stateAt(spark, table, readVersion)
      val declared = state.schema
      val newSchema0 =
        if (overwriteSchema) df.schema
        else mergedSchema(declared, df.schema)
      // an overwriteSchema swap introducing VARIANT would declare the
      // type without its variantType feature — REPLACE TABLE declares
      // both in one commit
      require(!overwriteSchema ||
          !newSchema0.fields.exists(f => containsVariant(f.dataType)) ||
          declared.exists(_.fields.exists(f => containsVariant(f.dataType))),
        s"overwriteSchema cannot introduce a VARIANT column to $table " +
          "(the variantType feature must join the protocol); use " +
          "REPLACE TABLE, which declares it")
      // mapped tables compose with BOTH overwrite forms (late r13, the
      // append/merge rule): fields the table already declares KEEP
      // their established physicalName/id (same-name resolution across
      // the swap — the REPLACE TABLE carry-over would instead reassign,
      // but overwrite's contract is data replacement, not table
      // replacement), genuinely new fields get fresh physical names
      // with ids ratcheted past maxColumnId, and the writes below
      // relabel under the extended schema via schemaOverride.
      val (newSchemaM, cfgOv) = declared.filter(isColumnMapped) match {
        case None => (newSchema0, cfg)
        case Some(d) =>
          // same-name fields KEEP their established physicalName/id —
          // at DEPTH too (r17: the nested fields of a surviving struct
          // resolve across the swap); genuinely new fields, top-level
          // or nested, get fresh names with ids ratcheted past
          // maxColumnId
          val carried = org.apache.spark.sql.types.StructType(
            newSchema0.fields.map { f =>
              d.fields.find(_.name.equalsIgnoreCase(f.name)) match {
                case Some(old) => carryMappingMeta(old, f)
                case None => f
              }
            }.toIndexedSeq)
          assignMappingMetaDeep(carried, cfg)
      }
      // identity tables compose with OVERWRITE (late r13, closing the
      // by-name refusal): the omitted column is ASSIGNED past the
      // high-water mark — the mark is NOT reset by the data swap
      // (identity uniqueness spans the table's lifetime, not one era,
      // so time-traveled/restored rows can never collide with
      // post-overwrite ones) — and provided values need GENERATED BY
      // DEFAULT, syncing the mark. Since r16 merge-EVOLUTION composes
      // too; since r17 the overwriteSchema SWAP composes as well
      // (delta-spark's rule): a swap that KEEPS the identity column
      // carries its metadata onto the swapped field — start/step/
      // allowExplicitInsert verbatim, or the incoming field's own
      // re-declared spec (re-seed), with the high-water mark NEVER
      // regressing (carried unless the incoming spec declares one) —
      // and only a swap that would silently DROP the column's
      // identity metadata still refuses.
      val idFieldsDecl = declared.toSeq.flatMap(_.fields.toSeq)
        .filter(_.metadata.contains(IdentityStartKey))
      require(idFieldsDecl.length <= 1,
        s"$table declares ${idFieldsDecl.length} identity columns; at " +
          "most one is supported")
      val newSchema =
        if (!overwriteSchema || idFieldsDecl.isEmpty) newSchemaM
        else {
          val f = idFieldsDecl.head
          val kept = newSchemaM.fields
            .find(_.name.equalsIgnoreCase(f.name))
          require(kept.isDefined,
            s"overwriteSchema cannot swap away identity column " +
              s"${f.name} of $table — the swap would drop the " +
              "identity metadata; keep the column (its identity spec " +
              "carries over) or re-declare it with identity metadata")
          require(kept.get.dataType ==
              org.apache.spark.sql.types.LongType,
            s"overwriteSchema must keep identity column ${f.name} of " +
              s"$table as BIGINT, got " +
              kept.get.dataType.simpleString)
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(kept.get.metadata)
          if (!kept.get.metadata.contains(IdentityStartKey)) {
            mb.putLong(IdentityStartKey,
              f.metadata.getLong(IdentityStartKey))
            if (f.metadata.contains(IdentityStepKey))
              mb.putLong(IdentityStepKey,
                f.metadata.getLong(IdentityStepKey))
            if (f.metadata.contains(IdentityAllowExplicitKey))
              mb.putBoolean(IdentityAllowExplicitKey,
                f.metadata.getBoolean(IdentityAllowExplicitKey))
          }
          // the mark spans the table's LIFETIME: carried even across a
          // re-seed unless the incoming spec declares its own
          if (!kept.get.metadata.contains(IdentityHwmKey) &&
              f.metadata.contains(IdentityHwmKey))
            mb.putLong(IdentityHwmKey, f.metadata.getLong(IdentityHwmKey))
          val stamped = kept.get.copy(metadata = mb.build())
          org.apache.spark.sql.types.StructType(newSchemaM.fields.map(
            fd => if (fd.name.equalsIgnoreCase(f.name)) stamped else fd)
            .toIndexedSeq)
        }
      val schemaOverride =
        declared.filter(isColumnMapped).map(_ => newSchema)
      // resolution reads the FINAL schema's identity field — after an
      // overwriteSchema swap that is the stamped (or re-seeded) spec
      val idFieldsOv = newSchema.fields
        .filter(_.metadata.contains(IdentityStartKey)).toSeq
      val df0 = applyGenerated(applyDefaults(df, declared), declared,
        table)
      val (df1, idMetaOv) = idFieldsOv.headOption match {
        case None => (df0, Seq.empty[String])
        case Some(f) =>
          val start = f.metadata.getLong(IdentityStartKey)
          val step =
            if (f.metadata.contains(IdentityStepKey))
              f.metadata.getLong(IdentityStepKey)
            else 1L
          require(step != 0L,
            s"identity step of ${f.name} must be non-zero")
          val hwm: Option[Long] =
            if (f.metadata.contains(IdentityHwmKey))
              Some(f.metadata.getLong(IdentityHwmKey))
            else None
          val (out, newHwm) = resolveIdentityFrame(df0, f, start, step, hwm)
          val lines =
            if (newHwm == hwm) Nil
            else {
              val f2 = f.copy(metadata =
                new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putLong(IdentityHwmKey, newHwm.get).build())
              // the line renders the NEW schema (identical to declared
              // unless this overwrite evolves) so an evolving identity
              // overwrite commits ONE metaData action carrying both
              val schema2 = org.apache.spark.sql.types.StructType(
                newSchema.fields.map(fd =>
                  if (fd.name == f.name) f2 else fd))
              Seq(metaDataLine(table, schema2, partitionBy, cfgOv))
            }
          (out, lines)
      }
      enforceConstraints(alignForCheck(df1, Some(newSchema)), cfg,
        Some(newSchema))
      val metaLines =
        if (declared.exists(_.json == newSchema.json) || idMetaOv.nonEmpty)
          Nil
        else Seq(metaDataLine(table, newSchema, partitionBy, cfgOv))
      replaceWhereCond match {
        case Some(c) =>
          // predicate form: a DELETE WHERE c fused with the insert —
          // blast-radius discovery scopes to the files that MAY hold a
          // matching row (partition values exact, stats conservative),
          // only files actually HOLDING one rewrite (survivors keep
          // their non-matching rows), and the whole thing rides the
          // copyOnWrite funnel: constraints, stats, CDF delete+insert
          // images, and conflict RESOLUTION (a concurrent add provably
          // outside the scope rebases — Delta's replaceWhere rule)
          val fileCond = dmlFileCondition(spark, c, partitionBy, declared)
          val snapRW = collected(dmlCandidates(
            snapshotFilesAt(spark, table, readVersion), c, partitionBy,
            declared).select(LogFile.columns: _*).collect().toIndexedSeq)
          val touched = matchingFiles(spark, table, LogFile.of(snapRW),
            state, _.where(coalesce(c, lit(false))))
          def alignNew(d2: DataFrame): DataFrame =
            d2.select(newSchema.fields.map { f =>
              d2.columns.find(_.equalsIgnoreCase(f.name)) match {
                case Some(actual) =>
                  widenTo(col(s"`$actual`"), d2.schema(actual).dataType,
                    f.dataType).as(f.name)
                case None => lit(null).cast(f.dataType).as(f.name)
              }
            }.toIndexedSeq: _*)
          val cdc =
            if (!cfg.get("delta.enableChangeDataFeed").contains("true"))
              None
            else {
              val doomed = readFilesWithDv(spark, table, touched, state)
              val ins = alignNew(df1)
                .withColumn("_change_type", lit("insert"))
              if (doomed.columns.isEmpty) Some(ins)
              else Some(alignNew(doomed.where(coalesce(c, lit(false))))
                .withColumn("_change_type", lit("delete"))
                .unionByName(ins))
            }
          copyOnWrite(spark, table, readVersion, touched, state,
            rw => if (rw.columns.isEmpty) alignNew(df1)
                  else alignNew(rw.where(!coalesce(c, lit(false))))
                    .unionByName(alignNew(df1)),
            partitionBy, "OVERWRITE", statsCols,
            extraLines = metaLines ++ idMetaOv, cdc = cdc,
            schemaOverride = schemaOverride,
            resolveConflicts = idFieldsOv.isEmpty, readCond = fileCond)
        case None =>
          val removed = filesForFilters(
            snapshotFilesAt(spark, table, readVersion), replaceWhere)
            .select("path").collect().map(_.getString(0)).toIndexedSeq
          val added = writeAndCapture(spark, df1, table, partitionBy,
            schemaOverride = schemaOverride)
          val stats = fileStats(spark, table, added.map(_._1), statsCols,
            schemaOverride = schemaOverride)
          val now = System.currentTimeMillis()
          writeCommit(spark, table, readVersion + 1,
            metaLines ++ idMetaOv ++
              removed.sorted.map(removeLine(_, dataChange = true, now)) ++
              added.map { case (p, sz, m) =>
                addLine(p, sz, stats.get(p), modTime = Some(m)) },
            "OVERWRITE")
      }
    } finally if (mustCache) { df.unpersist(); () }
  }

  /** RESTORE TABLE ... TO VERSION AS OF: one metadata-only commit that
    * flips the live file set (and, if it changed since, the declared
    * schema) back to the snapshot at `toVersion` — Delta's RESTORE
    * (delta-rs RestoreBuilder). Data files are never copied: the commit
    * re-adds the old files (with their original stats, so skipping
    * still works) and removes the ones added since. Fails loudly when a
    * file to re-add was vacuumed away, exactly like Delta.
    *
    * Scale: both snapshots are log metadata (O(files) driver work, zero
    * data IO), and the commit is read-set-pinned at `readVersion + 1` —
    * a concurrent writer throws [[ConcurrentCommitException]] instead
    * of being silently undone. Returns the committed version, or
    * `readVersion` when the restore is a no-op. */
  def restore(spark: SparkSession, table: String, toVersion: Long,
              readOnly: Boolean = false): Long = {
    if (readOnly) throw new ReadOnlyTableException(table)
    val readVersion = latestVersion(spark, table)
    require(toVersion >= 0 && toVersion <= readVersion,
      s"RESTORE target version $toVersion outside [0, $readVersion]")
    val now = System.currentTimeMillis()
    // distributed snapshot diff: only paths whose LIVENESS or deletion
    // vector differs between the two snapshots reach the driver — the
    // commit is O(diff) action lines anyway, so the driver never holds
    // more rows than it is about to write (the full-manifest collect
    // this replaces held the entire 10⁷-file table twice)
    val tgtDF = snapshotFilesAt(spark, table, toVersion)
      .withColumn("__in_tgt", lit(true))
    val curDF = snapshotFilesAt(spark, table, readVersion)
      .select(col("path"), lit(true).as("__in_cur"),
        col("dv_path").as("__c_dv"), col("dv_card").as("__c_card"))
    val dvDiff = !(col("dv_path") <=> col("__c_dv") &&
      col("dv_card") <=> col("__c_card"))
    val diff = collected(tgtDF.join(curDF, Seq("path"), "full_outer")
      .where(col("__in_tgt").isNull || col("__in_cur").isNull || dvDiff)
      .collect().toIndexedSeq)
    val f = fs(spark, table)
    def dvOf(r: org.apache.spark.sql.Row): Option[(String, Long)] = {
      val i = r.fieldIndex("dv_path")
      if (r.isNullAt(i)) None
      else Some((r.getString(i), r.getLong(r.fieldIndex("dv_card"))))
    }
    def in(r: org.apache.spark.sql.Row, side: String) =
      !r.isNullAt(r.fieldIndex(side))
    // a path present in BOTH snapshots still needs re-adding when its
    // deletion vector differs (a DV delete changes content, not paths);
    // re-adding with the target's dv (or none) overrides on replay
    val addRows = diff.filter(in(_, "__in_tgt"))
      .sortBy(_.getString(0))
    // vacuumed data files AND vacuumed DV bins both make the target
    // state unreconstructable — fail before committing anything
    val missing = addRows.filterNot(in(_, "__in_cur")).map(_.getString(0))
      .filterNot(p => f.exists(new Path(resolvePath(table, p)))) ++
      addRows.flatMap(dvOf(_).map(_._1))
        .filterNot(d => dvRefExists(f, table, d))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"RESTORE to $toVersion needs ${missing.size} file(s) that were " +
          s"vacuumed (first: ${missing.head}); restore past the " +
          "retention horizon is unrecoverable")
    val addLines = addRows.map { r =>
      val bridIdx = r.fieldIndex("base_row_id")
      addLine(r.getString(0), r.getLong(r.fieldIndex("size")),
        Option(r.getString(r.fieldIndex("stats"))), dv = dvOf(r),
        modTime = mtOf(r),
        // restore re-adds PRESERVE the target snapshot's row ids —
        // the spec's re-add rule (row identity survives restore)
        rowIds = if (r.isNullAt(bridIdx)) None
          else Some((r.getLong(bridIdx),
            r.getLong(r.fieldIndex("default_row_commit")))))
    }
    // dv-differing paths get a remove+re-add PAIR (within-commit add
    // wins on replay): readCdf then diffs old-mask vs new-mask contents
    // to exactly the changed rows instead of mislabeling every visible
    // row of a bare re-add as an insert
    val removeLines = diff.filter(in(_, "__in_cur")).map(_.getString(0))
      .sorted.map(removeLine(_, dataChange = true, now))
    val curSchema = latestSchema(spark, table, readVersion)
    val tgtSchema = latestSchema(spark, table, toVersion)
    // RESTORE rolls back table properties (constraints) with the schema
    val curCfg = tableConfig(spark, table, readVersion)
    val tgtCfg = tableConfig(spark, table, toVersion)
    val metaLines =
      if (tgtSchema.isDefined &&
          (tgtSchema.map(_.json) != curSchema.map(_.json) || tgtCfg != curCfg))
        Seq(metaDataLine(table, tgtSchema.get,
          partitionColsOf(tgtDF.select("path").limit(1).collect()
            .map(_.getString(0))), tgtCfg))
      else Nil
    if (addLines.isEmpty && removeLines.isEmpty && metaLines.isEmpty)
      return readVersion // already at the target state
    writeCommit(spark, table, readVersion + 1,
      metaLines ++ removeLines ++ addLines, "RESTORE")
  }

  /** DESCRIBE HISTORY: one row per commit — version, operation, and the
    * commit's add/remove file counts (Delta's operationMetrics, the
    * subset this log carries). Pure log metadata, newest first. */
  def history(spark: SparkSession, table: String): DataFrame = {
    val historySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("operation",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_added",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_removed",
        org.apache.spark.sql.types.LongType)))
    // one row per commitInfo-bearing action (operation may be null when
    // a third-party writer omitted it); a commit with NO commitInfo
    // yields no row
    val rows = logScan(spark, table, logJsonVersions(spark, table)) {
      (v, nodes) =>
        // one pass over the commit: its operations and its add and
        // remove counts
        val (ops, nAdd, nRem) = nodes.foldLeft((List.empty[String], 0L, 0L)) {
          case ((ops, a, r), n) =>
            (jnode(n, "commitInfo").fold(ops)(ci =>
              jnode(ci, "operation").map(_.asText()).orNull :: ops),
              a + jnode(n, "add").size, r + jnode(n, "remove").size)
        }
        ops.reverseIterator.map(op => org.apache.spark.sql.Row(
          java.lang.Long.valueOf(v), op, java.lang.Long.valueOf(nAdd),
          java.lang.Long.valueOf(nRem)))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.sortBy(-_.getLong(0)).asJava, historySchema)
  }

  /** DESCRIBE DETAIL (Delta's table-introspection verb): one row
    * describing the current snapshot — format, location, partition
    * layout, file count and total bytes, row count folded from per-file
    * `numRecords` stats (null when any live file lacks stats — a
    * partial sum would read as exact), the table properties, and the
    * protocol floor with its feature list. Pure log metadata for a
    * governed table: one cached snapshot replay plus the log's
    * metadata, no data IO — O(snapshot), never O(data), exactly the
    * introspection cost profile Delta documents. A raw parquet
    * directory (an alias serving passthrough reads before
    * convertToDelta) reports format `parquet` with listing-derived
    * counts and no properties/protocol — an explicit, user-invoked
    * O(files) listing, not a hot-path one. */
  /** [[detail]]'s output shape, shared with the DESCRIBE DETAIL SQL
    * verb. */
  val detailSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("location", StringType, nullable = false),
      StructField("partitionColumns", ArrayType(StringType), nullable = false),
      StructField("clusteringColumns", ArrayType(StringType),
        nullable = false),
      StructField("numFiles", LongType, nullable = false),
      StructField("sizeInBytes", LongType, nullable = false),
      StructField("numRows", LongType, nullable = true),
      StructField("properties", MapType(StringType, StringType),
        nullable = false),
      StructField("minReaderVersion", IntegerType, nullable = true),
      StructField("minWriterVersion", IntegerType, nullable = true),
      StructField("tableFeatures", ArrayType(StringType), nullable = true)))
  }

  def detail(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.Row
    val schema = detailSchema
    val row: Row =
      if (!tableExists(spark, table)) {
        val files = listDataFiles(spark, table)
        Row("parquet", table, Seq.empty[String], Seq.empty[String],
          files.size.toLong, files.map(_._2).sum, null,
          Map.empty[String, String], null, null, null)
      } else {
        val snap = snapshotFilesCached(spark, table)
        val recs = get_json_object(col("stats"), "$.numRecords")
          .cast("long")
        // every sum coalesces to 0: on an EMPTY snapshot (a freshly
        // created table with zero add files) sum(...) is NULL and
        // Row.getLong would NPE — DESCRIBE DETAIL right after CREATE
        // TABLE must report zeros, not crash
        val agg = snap.agg(
          count(lit(1)).as("nf"),
          coalesce(sum(col("size")), lit(0L)).as("bytes"),
          coalesce(sum(recs), lit(0L)).as("rows"),
          coalesce(sum(when(recs.isNull, 1L).otherwise(0L)), lit(0L))
            .as("noStats"),
          coalesce(sum(col("dv_card")), lit(0L)).as("dvDeleted"))
          .collect().head
        // numRows is LIVE rows: stats count physical rows per file, DV
        // cardinality subtracts the soft-deleted ones
        val rows: Any =
          if (agg.getLong(3) > 0 && agg.getLong(0) > 0) null
          else agg.getLong(2) - agg.getLong(4)
        val st = stateAt(spark, table, Long.MaxValue)
        val proto = st.proto
        Row("graft-delta", table, partitionColumns(spark, table),
          clusteringColumns(spark, table),
          agg.getLong(0), agg.getLong(1), rows,
          st.config, proto.minReader, proto.minWriter,
          (proto.readerFeats ++ proto.writerFeats).distinct.sorted)
      }
    spark.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** SHOW PARTITIONS: the distinct partition tuples present in the
    * current snapshot, rendered in Spark's own wire shape — one string
    * row `k1=v1/k2=v2` in layout order, sorted. Refuses an
    * unpartitioned table by name (Spark's contract). Pure log metadata:
    * a distinct over the cached snapshot's `partitionValues`, never a
    * directory listing — at 10⁷ files this is a metadata-frame
    * aggregate, not an object-store walk. */
  def showPartitions(spark: SparkSession, table: String): DataFrame = {
    require(tableExists(spark, table),
      s"SHOW PARTITIONS needs a governed table; $table has no _delta_log")
    val parts = partitionColumns(spark, table)
    require(parts.nonEmpty,
      s"SHOW PARTITIONS is not allowed on a table that is not " +
        s"partitioned: $table")
    val rendered = concat_ws("/", parts.map(p =>
      concat(lit(s"$p="), element_at(col("partitionValues"), p))): _*)
    snapshotFilesCached(spark, table)
      .select(rendered.as("partition")).distinct().orderBy("partition")
  }

  /** Partition columns implied by a file set's `k=v` path segments, in
    * directory order (all files of a table share one layout). Only the
    * contiguous k=v suffix counts — see [[partitionSegments]]. */
  private def partitionColsOf(paths: Iterable[String]): Seq[String] =
    paths.headOption.fold(Seq.empty[String]) {
      partitionSegments(_).map(_.split("=", 2)(0)).toSeq
    }

  // memo: (table root, version) -> partition layout — the layout is
  // version-deterministic, and the one-file path probe below is a
  // Spark job (limit(1).collect()) that used to run once or more per
  // SQL statement; cleared via [[invalidateSnapshot]] like its
  // schema/config siblings (r18)
  private[graft] val partitionColsMemo =
    new TtlCache[(String, Long), Seq[String]](4096, 0L)

  /** Declared partition layout, path-derived like every other layout
    * probe ([[partitionColsOf]]): one file path of the current snapshot
    * suffices because all files of a table share one layout. When the
    * snapshot is momentarily EMPTY (all rows deleted) the layout still
    * governs future writes, so fall back to the log's latest
    * `metaData.partitionColumns` — otherwise the next write would
    * silently flip the table to unpartitioned and degrade pruning for
    * all later data. No table yet -> unpartitioned. */
  def partitionColumns(spark: SparkSession, table: String): Seq[String] =
    if (!tableExists(spark, table)) Seq.empty
    else {
      val eff = latestVersion(spark, table)
      if (eff < 0) Seq.empty
      else partitionColsMemo.getOrElseUpdate((rootOf(spark, table), eff)) {
        val fromFiles = partitionColsOf(snapshotFilesCached(spark, table)
          .select("path").limit(1).collect().map(_.getString(0)))
        if (fromFiles.nonEmpty) fromFiles
        else tableState(spark, table, eff).partitionColumns
          .getOrElse(Seq.empty)
      }
    }

  /** Delta's `CONVERT TO DELTA`: promote a directory of raw parquet to a
    * governed table by committing a v0 whose add actions reference the
    * EXISTING files in place — zero data copied. Partition layout (and
    * per-file partitionValues) derive from the Hive `k=v` path segments;
    * the declared schema is Spark's parquet + partition-discovery read
    * of the directory. This is the sanctioned path from "alias backed by
    * a raw parquet dir" (passthrough reads) to "governed table" (SQL
    * INSERT, time travel, ACLs) without orphaning existing rows.
    *
    * Scale: one recursive listing + one footer-schema read — O(files)
    * metadata, no data pass unless `statsCols` opts into the stats
    * aggregate (one scan of the named columns, same as [[append]]). */
  def convertToDelta(spark: SparkSession, table: String,
                     statsCols: Seq[String] = Nil): Long = {
    require(!tableExists(spark, table),
      s"convertToDelta: $table already has a _delta_log")
    val files = listDataFiles(spark, table)
    require(files.nonEmpty,
      s"convertToDelta: no parquet files under $table")
    val parts = partitionColsOf(files.map(_._1))
    val schema = spark.read.parquet(table).schema
    // CONVERT stays stat-less unless `statsCols` opts in (Delta's
    // convert does the same): the per-write stats DEFAULT would run a
    // footer/aggregate pass over the ENTIRE foreign directory — a full
    // min/max data scan when any column defeats the footer path (INT96
    // timestamps, the historical Spark default) — and materialize an
    // O(table files) stats map on the driver, breaking this function's
    // streamed-render bound at 10⁷ files.
    val stats =
      if (statsCols.isEmpty) Map.empty[String, String]
      else fileStats(spark, table, files.map(_._1), statsCols)
    // the discovery listing is a driver iterator by nature (paths +
    // two longs — strings, not rendered actions); the RENDER streams,
    // so the add lines (stats JSON and all) never sit in driver memory
    // as a whole
    writeCommitStreamed(spark, table, 0L,
      Seq(metaDataLine(table, schema, parts, Map.empty)),
      files.iterator.map { case (p, s, m) =>
        addLine(p, s, stats.get(p), modTime = Some(m)) },
      "CONVERT")
  }

  /** Shallow clone (Delta `CLONE ... SHALLOW`): a brand-new table whose
    * v0 commit references the SOURCE table's data files by absolute
    * path — zero data copied, stats carried over so skipping works on
    * the clone immediately. The clone then evolves independently:
    * copy-on-write DML rewrites land under the clone's own root, and
    * [[vacuum]] on either table never deletes the other's files (the
    * clone's vacuum lists only its own directory; the source's vacuum
    * consults only its own log). Cloning a clone re-resolves to the
    * ORIGINAL absolute paths, so chains never stack indirection.
    *
    * Scale: the clone is one O(files) metadata commit — cloning a
    * 100 TB table costs the same as cloning 100 MB, which is the whole
    * point (instant dev/test forks of production tables). */
  def cloneShallow(spark: SparkSession, source: String, target: String,
                   versionAsOf: Option[Long] = None): Long = {
    require(tableExists(spark, source), s"clone source $source has no log")
    require(!tableExists(spark, target),
      s"clone target $target already exists")
    val v = versionAsOf.getOrElse(latestVersion(spark, source))
    // streamed render: the manifest never materializes driver-side as a
    // whole — the three facts the head lines need (any DV descriptor?
    // one path for partition-column derivation) are metadata-scale
    // aggregate jobs, and the add lines stream through
    // [[writeCommitStreamed]] one manifest partition at a time
    val filesDF = snapshotFilesAt(spark, source, v)
    // ONE aggregate job answers every head-line question (count for
    // the stream batching, any DV descriptor, a sample path for the
    // partition layout) — per-question jobs would triple the metadata
    // job count of every clone
    val probe = filesDF.agg(count(lit(1)).as("n"),
      max(when(col("dv_path").isNotNull, 1).otherwise(0)).as("any_dv"),
      first(col("path")).as("p0")).collect().head
    val nFiles = probe.getLong(0)
    val anyDv = nFiles > 0 && probe.getInt(1) == 1
    val firstPaths =
      if (nFiles == 0) Array.empty[String] else Array(probe.getString(2))
    def addLinesIt: Iterator[String] =
      localRowIterator(filesDF, nFiles, 100000L).map { r =>
        val rel = r.getString(0)
        // deletion vectors ride along, absolutized like the data paths;
        // partitionValues carried verbatim (the absolutized path may
        // not encode them)
        val dvIdx = r.fieldIndex("dv_path")
        val dv = if (r.isNullAt(dvIdx)) None
          else Some((dvRefForClone(source, r.getString(dvIdx)),
            r.getLong(r.fieldIndex("dv_card"))))
        val bridIdx = r.fieldIndex("base_row_id")
        addLine(resolvePath(source, rel), r.getLong(r.fieldIndex("size")),
          Option(r.getString(r.fieldIndex("stats"))), dv = dv,
          partitionValues = Some(
            r.getMap[String, String](r.fieldIndex("partitionValues")).toMap),
          modTime = mtOf(r),
          // a clone of a rowTracking source carries the ids verbatim —
          // the cloned protocol keeps the feature, so preserving them
          // is the clone's contract
          rowIds = if (r.isNullAt(bridIdx)) None
            else Some((r.getLong(bridIdx),
              r.getLong(r.fieldIndex("default_row_commit")))))
      }
    val src = stateAt(spark, source, v)
    val srcCfg = src.config
    // the clone's v0 carries the SOURCE's resolved protocol verbatim
    // (a real source at (3, timestampNtz) keeps its contract), with the
    // DV requirement UNIONED in when descriptors or the property ride
    // along — writeCommit's default (1, 2) would let a real reader
    // ignore the cloned descriptors and resurrect masked rows
    val needDv = anyDv ||
      srcCfg.get("delta.enableDeletionVectors").contains("true")
    val protoLines =
      (if (needDv) Some(src.proto.withDeletionVectors)
       else src.protocol.filter(_ != basicProtocol))
        .map(_.render).toSeq
    val metaLines = src.schema
      .map(metaDataLine(target, _, partitionColsOf(firstPaths.toSeq),
        srcCfg))  // clone inherits properties
      .toSeq
    // a rowTracking source's high-water mark rides into the clone's v0
    // (without it the clone's first append would re-assign ids already
    // carried by the cloned files), and a clustered source's layout
    // (the clone's OPTIMIZE must honor the same declared columns)
    val domainLines = Seq(RowTrackingDomain -> "rowTracking",
        ClusteringDomain -> "clustering").collect {
      case (d, feat) if src.proto.writerFeats.contains(feat) &&
          src.domains.contains(d) =>
        domainMetadataLine(d, src.domains(d))
    }
    writeCommitStreamed(spark, target, 0L,
      protoLines ++ metaLines ++ domainLines, addLinesIt, "CLONE")
  }

  /** Time travel: the snapshot as of `version` (inclusive) — replay the
    * latest parquet checkpoint at or below `version` plus the JSON tail
    * after it (O(since-last-checkpoint), not O(history)); set
    * `useCheckpoint = false` to force the full-JSON replay (parity
    * testing / checkpoint-less reads). */
  def snapshotFilesAt(spark: SparkSession, table: String,
                      version: Long,
                      useCheckpoint: Boolean = true): DataFrame =
    replaySnapshot(spark, table, version,
      if (useCheckpoint) version else -1L)

  /** The Delta protocol's client contract, enforced before any replay:
    * a reader must check the table's `protocol` action (reader version
    * + v3 reader features), refuse column-mapped tables it cannot
    * relabel, and refuse files whose rows are masked by a deletion-
    * vector format it cannot decode — silently ignoring any of these
    * returns WRONG data, not degraded data. Tables this engine writes
    * itself never trip the gate.
    *
    * A pure check on the [[tableState]] at `atMost`, so its failures
    * are the fold's: an add carrying the legacy `dv` field, in the tail
    * or in the checkpoint, raises [[legacyDvRefusal]]; a checkpoint
    * without a protocol row raises [[MalformedCheckpointException]]; a
    * protocol action missing a version raises
    * [[MalformedCommitException]]. Pure driver metadata: a memo hit per
    * version already resolved. */
  private def requireReadable(spark: SparkSession, table: String,
                              atMost: Long): Unit = {
    val st = stateAt(spark, table, atMost)
    val ProtocolAction(minReader, _, readerFeats, _) = st.proto
    val cmMode = st.config.get("delta.columnMapping.mode")
    if (minReader > 3)
      throw new UnsupportedTableFeatureException(
        s"$table requires minReaderVersion=$minReader; " +
          "this engine reads protocol versions <= 3")
    if (minReader == 3) {
      val bad = readerFeats.filterNot(supportedReaderFeatures)
      if (bad.nonEmpty)
        throw new UnsupportedTableFeatureException(
          s"$table requires unsupported reader feature(s): " +
            bad.sorted.mkString(", "))
    }
    // `name` mode reads via logical relabeling ([[readFilesAs]]); `id`
    // mode via Spark's native parquet field-id resolution
    // ([[idReadMode]]); anything else is refused by name
    cmMode.filter(m => m != "none" && m != "name" && m != "id").foreach(m =>
      throw new ColumnMappingUnsupportedException(table, m))
    // real DV descriptors in the known storage forms (u/i/p) are READ
    // (roaring decode, [[RoaringDv]]); an unknown storage form cannot
    // be decoded, and ignoring it would silently resurrect deleted rows
    if (st.unreadableDv.nonEmpty)
      throw new UnsupportedTableFeatureException(
        s"$table carries deletion vectors with unsupported storageType " +
          s"${st.unreadableDv.toSeq.sorted.mkString("[", ", ", "]")} — this " +
          "engine decodes u/i/p roaring deletion vectors only")
  }

  /** The snapshot manifest's column shape — [[replaySnapshot]]'s output
    * contract on both arms. */
  private val manifestSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("stats", StringType),
      StructField("dv_path", StringType),
      StructField("dv_card", LongType),
      StructField("base_row_id", LongType),
      StructField("default_row_commit", LongType)))
  }

  /** Size cap for the driver-side replay fast path: a JSON tail whose
    * total bytes exceed this stays on the distributed replay. The
    * default (8 MiB ≈ tens of thousands of actions) bounds driver heap
    * and parse time; production tables with large manifests checkpoint
    * anyway, which routes them to the distributed path regardless. */
  private def localReplayMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.snapshot.localReplayMaxBytes")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse(8L * 1024 * 1024)

  // (table root, version, file length, file mtime) -> parsed action
  // nodes; a miss is one open + parse of the commit file on the driver.
  // Commit JSONs are immutable once named (Delta's naming contract), so
  // hot pollers (versionAtTimestamp, commitTimestamps, the feed-guard
  // loop) and the per-commit snapshot replays stop paying an open +
  // Jackson parse per immutable file per call (one getFileStatus per
  // file stays — it both sizes the fold threshold and fingerprints the
  // key). The (len, mtime) key components detect a commit rewritten out
  // of band (a table wiped and re-created without an invalidation):
  // it fingerprints differently instead of serving the old run's
  // actions. The LRU bound keeps the hot tails of a many-table session
  // resident.
  private[graft] val commitNodesMemo = new TtlCache[(String, Long, Long, Long),
    IndexedSeq[com.fasterxml.jackson.databind.JsonNode]](8192, 0L)

  /** The parsed action nodes of commit `v` (file `p`) of the table at
    * `root`, kept per (root, v, len, mtime) in [[commitNodesMemo]]. */
  private def commitNodes(f: org.apache.hadoop.fs.FileSystem, root: String,
      v: Long, p: String, len: Long, mtime: Long)
      : IndexedSeq[com.fasterxml.jackson.databind.JsonNode] =
    commitNodesMemo.getOrElseUpdate((root, v, len, mtime)) {
      val in = f.open(new Path(p))
      try commitLines(in,
        new com.fasterxml.jackson.databind.ObjectMapper(), p).toIndexedSeq
      finally in.close()
    }

  /** The non-empty lines of commit file `p` read from `in`, each parsed
    * through [[parseAction]] as the iterator reaches it: the one line
    * reader behind both arms of [[scanArm]]. The file is never held
    * whole, so a commit of any size streams through the executor arm in
    * one line's memory (the driver arm materializes it, under the
    * window's byte cap). The caller closes `in`. */
  private[graft] def commitLines(in: java.io.InputStream,
      om: com.fasterxml.jackson.databind.ObjectMapper, p: String)
      : Iterator[com.fasterxml.jackson.databind.JsonNode] = {
    val lines = new java.io.BufferedReader(new java.io.InputStreamReader(
      in, java.nio.charset.StandardCharsets.UTF_8))
    Iterator.continually(lines.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).map(parseAction(om, p, _))
  }

  /** One commit line as a JSON action object, or
    * [[MalformedCommitException]] naming the commit's table and version
    * (both derived from the commit file path). An add carrying the
    * legacy `dv` field raises [[legacyDvRefusal]]. */
  private def parseAction(om: com.fasterxml.jackson.databind.ObjectMapper,
      commitFile: String, line: String)
      : com.fasterxml.jackson.databind.JsonNode = {
    val node = try om.readTree(line) catch {
      case _: com.fasterxml.jackson.core.JsonProcessingException => null
    }
    def table = commitFile.substring(0,
      math.max(0, commitFile.lastIndexOf("/_delta_log/")))
    if (node == null || !node.isObject) {
      val version = new Path(commitFile).getName.stripSuffix(".json")
      throw new MalformedCommitException(table,
        version.toLongOption.getOrElse(-1L), line)
    }
    if (jnode(node, "add").exists(jnode(_, "dv").isDefined))
      throw legacyDvRefusal(table)
    node
  }

  /** (version, path, length, mtime) of the given commit files — one
    * getFileStatus each, taken as the iterator reaches the file; it
    * both sizes the [[scanArm]] cap and fingerprints the
    * [[commitNodes]] key. */
  private def commitStats(f: org.apache.hadoop.fs.FileSystem,
      files: Iterator[(Long, String)]): Iterator[(Long, String, Long, Long)] =
    files.map { case (v, p) =>
      val st = f.getFileStatus(new Path(p))
      (v, p, st.getLen, st.getModificationTime)
    }

  /** `(version, action)` pairs of sized commit files, in the order
    * given; `newestFirst` also reverses each commit's lines. */
  private def actionsIn(f: org.apache.hadoop.fs.FileSystem, root: String,
      sized: Iterator[(Long, String, Long, Long)], newestFirst: Boolean)
      : Iterator[(Long, com.fasterxml.jackson.databind.JsonNode)] =
    sized.flatMap { case (v, p, len, mtime) =>
      val nodes = commitNodes(f, root, v, p, len, mtime)
      (if (newestFirst) nodes.reverseIterator else nodes.iterator)
        .map(v -> _)
    }

  /** The `(version, action)` pairs of the JSON commits in
    * [`fromInclusive`, `toInclusive`]: the driver's one reader of
    * commit files. Every line goes through [[parseAction]] (a torn
    * line or a legacy `dv` add raises by name) and each commit file is
    * opened and parsed once per process ([[commitNodes]]), so every
    * later reader of the same commit is a memo hit. `newestFirst`
    * yields the newest action first (commits newest-first, each
    * commit's lines last-first) and opens a commit only when the
    * iterator reaches it, so a newest-wins reader that stops at its
    * hit never reads older commits. */
  private def logActions(spark: SparkSession, table: String,
      fromInclusive: Long = 0L, toInclusive: Long = Long.MaxValue,
      newestFirst: Boolean = false)
      : Iterator[(Long, com.fasterxml.jackson.databind.JsonNode)] = {
    val f = fs(spark, table)
    val vps = logJsonVersions(spark, table, fromInclusive, toInclusive)
    actionsIn(f, rootOf(spark, table), commitStats(f,
      if (newestFirst) vps.reverseIterator else vps.iterator), newestFirst)
  }

  /** Log scans that ran each arm of [[scanArm]]: on the driver over
    * [[commitNodes]], or on executors. Specs assert the arm through
    * them. */
  private[graft] val driverLogScans =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val distributedLogScans =
    new java.util.concurrent.atomic.AtomicLong

  /** The one scan of a window of JSON commits behind every log
    * consumer. `project` maps one commit (its version and its parsed
    * action lines, in file order) to the consumer's values, and runs on
    * one of two arms:
    *  - the driver (Left, no Spark action) when `driverOk` and the
    *    window's bytes fit under [[localReplayMaxBytes]], over the
    *    [[commitNodes]] memo;
    *  - executors (Right) otherwise ([[executorScan]]): each commit
    *    streamed line by line through the same [[commitLines]], so a
    *    torn line or a legacy `dv` add raises by name on either arm,
    *    and a commit of any size never sits whole in a task.
    * `project` sees each commit's lines once, in order, as an iterator.
    * One getFileStatus per commit ([[commitStats]]) sizes the window. */
  private def scanArm[T: scala.reflect.ClassTag](spark: SparkSession,
      table: String, vps: Seq[(Long, String)], driverOk: Boolean = true)
      (project: (Long, Iterator[com.fasterxml.jackson.databind.JsonNode])
        => Iterator[T]): Either[Seq[T], org.apache.spark.rdd.RDD[T]] = {
    val f = fs(spark, table)
    val sized = commitStats(f, vps.iterator).toIndexedSeq
    if (driverOk && sized.map(_._3).sum <= localReplayMaxBytes(spark)) {
      driverLogScans.incrementAndGet()
      val root = rootOf(spark, table)
      Left(sized.flatMap { case (v, p, len, mtime) =>
        project(v, commitNodes(f, root, v, p, len, mtime).iterator) })
    } else {
      Right(executorScan(spark, sized.map { case (v, p, _, _) => (v, p) })(
        project))
    }
  }

  /** [[scanArm]]'s executor arm: one `parallelize` over the commit
    * files `vps`, each streamed line by line through [[commitLines]]
    * with the driver's Hadoop conf and mapped by `project`. */
  private def executorScan[T: scala.reflect.ClassTag](spark: SparkSession,
      vps: Seq[(Long, String)])
      (project: (Long, Iterator[com.fasterxml.jackson.databind.JsonNode])
        => Iterator[T]): org.apache.spark.rdd.RDD[T] = {
    distributedLogScans.incrementAndGet()
    val h = org.apache.spark.sql.graft.HadoopConfBridge.handle(
      spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(vps.size,
      spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext.parallelize(vps, slices).mapPartitions { it =>
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      // the commit being read: closed when the next one opens (a
      // projection may stop early) and, the last, with the task
      var open: Option[java.io.InputStream] = None
      org.apache.spark.TaskContext.get()
        .addTaskCompletionListener[Unit](_ => open.foreach(_.close()))
      it.flatMap { case (v, p) =>
        open.foreach(_.close())
        val in = new Path(p).getFileSystem(h.conf).open(new Path(p))
        open = Some(in)
        project(v, commitLines(in, om, p))
      }
    }
  }

  /** [[scanArm]]'s values, collected from executors on that arm. */
  private def logScan[T: scala.reflect.ClassTag](spark: SparkSession,
      table: String, vps: Seq[(Long, String)])
      (project: (Long, Iterator[com.fasterxml.jackson.databind.JsonNode])
        => Iterator[T]): Seq[T] =
    scanArm(spark, table, vps)(project) match {
      case Left(ts) => ts
      case Right(rdd) => collectNamed(rdd)
    }

  /** [[logScan]] of keyed values merged per key by the associative
    * `merge`: folded on the driver arm, combined map-side
    * (`reduceByKey`) before the collect on the executor arm, so the
    * driver receives one value per key. */
  private def logScanMerged[K: scala.reflect.ClassTag,
      V: scala.reflect.ClassTag](spark: SparkSession, table: String,
      vps: Seq[(Long, String)])
      (project: (Long, Iterator[com.fasterxml.jackson.databind.JsonNode])
        => Iterator[(K, V)])(merge: (V, V) => V): Map[K, V] =
    scanArm(spark, table, vps)(project) match {
      case Left(kvs) => kvs.groupMapReduce(_._1)(_._2)(merge)
      case Right(rdd) => collectNamed(rdd.reduceByKey(merge)).toMap
    }

  /** `rdd.collect()`, raising a named log refusal
    * ([[MalformedCommitException]], [[UnsupportedTableFeatureException]])
    * that failed a task as itself, as the driver arm raises it. */
  private def collectNamed[T](rdd: org.apache.spark.rdd.RDD[T]): Seq[T] =
    try rdd.collect().toSeq catch {
      case e: org.apache.spark.SparkException =>
        throw Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).collectFirst {
            case n: MalformedCommitException => n
            case n: UnsupportedTableFeatureException => n
          }.getOrElse(e)
    }

  /** Null-safe child access on a parsed action node. */
  private def jnode(n: com.fasterxml.jackson.databind.JsonNode,
      k: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    Option(n.get(k)).filterNot(_.isNull)

  /** The "rdv" marker [[realDvMarker]] renders, computed from a parsed
    * add node (same concat_ws skip-null semantics, offset coalesced to
    * -1). Null when the add carries no real DV descriptor. */
  private def rdvMarkerOfNode(
      add: com.fasterxml.jackson.databind.JsonNode): String =
    jnode(add, "deletionVector") match {
      case Some(rdv) if jnode(rdv, "storageType").isDefined =>
        (Seq(Some("rdv"), jnode(rdv, "storageType").map(_.asText()),
          jnode(rdv, "pathOrInlineDv").map(_.asText()),
          Some(jnode(rdv, "offset").map(_.asLong()).getOrElse(-1L)
            .toString),
          jnode(rdv, "sizeInBytes").map(_.asLong().toString)).flatten)
          .mkString("\u0000")
      case _ => null
    }

  /** Parsed partitionValues object → scala map (JSON null values stay
    * null, like the distributed MapType read). Null when absent. */
  private def pvOfNode(n: com.fasterxml.jackson.databind.JsonNode,
      k: String): scala.collection.Map[String, String] =
    jnode(n, k).map { o =>
      import scala.jdk.CollectionConverters._
      o.properties().asScala.map(e => e.getKey ->
        (if (e.getValue.isNull) null: String else e.getValue.asText()))
        .toMap
    }.orNull

  /** The checkpoint at `v` normalized to the manifest shape (+ a
    * `version` column pinned at `v`) — the folded snapshot base the
    * replay layers its JSON tail onto. */
  private def checkpointBaseDF(spark: SparkSession, table: String,
                               v: Long): DataFrame = {
    val raw = checkpointActionDF(spark, table, v)
    // one row per action, live adds ride as a nullable struct column.
    // A DV descriptor becomes the same "rdv" marker the JSON tail
    // produces.
    val addT = raw.schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // this engine's older checkpoints carry a legacy `dv` column: the
    // state fold proves it all-null or refuses (a time-travel replay
    // may fold a checkpoint older than the one [[requireReadable]] saw)
    if (addT.fieldNames.contains("dv")) tableState(spark, table, v)
    val stats =
      if (addT.fieldNames.contains("stats")) col("add.stats")
      else lit(null).cast("string")
    val (dvPath, dvCard) =
      if (addT.fieldNames.contains("deletionVector"))
        (realDvMarker, col("add.deletionVector.cardinality"))
      else (lit(null).cast("string"), lit(null).cast("long"))
    val mt =
      if (addT.fieldNames.contains("modificationTime"))
        col("add.modificationTime").cast("long")
      else lit(null).cast("long")
    // rowTracking ids ride the snapshot so re-adds (DV swaps,
    // RESTORE) and checkpoint folding PRESERVE them
    val (brid, dcv) =
      if (addT.fieldNames.contains("baseRowId"))
        (col("add.baseRowId").cast("long"),
          col("add.defaultRowCommitVersion").cast("long"))
      else (lit(null).cast("long"), lit(null).cast("long"))
    raw.where(col("add").isNotNull).select(
      col("add.path").as("path"),
      col("add.partitionValues").as("partitionValues"),
      col("add.size").cast("long").as("size"),
      mt.as("modificationTime"),
      stats.as("stats"),
      dvPath.as("dv_path"),
      dvCard.cast("long").as("dv_card"),
      brid.as("base_row_id"),
      dcv.as("default_row_commit"),
      lit(v).as("version"))
  }

  // (table root, checkpoint version, file length, file mtime) -> the
  // checkpoint's manifest rows, collected ONCE (checkpoint files are
  // immutable once named). The length +
  // mtime key components close the out-of-band replacement hole: a
  // table directory wiped and re-created at the same path and version
  // by an external process fingerprints differently and misses the
  // memo. None = over the row cap; the distributed replay stays in
  // charge for that checkpoint. Each entry may hold up to
  // [[localReplayMaxCpRows]] rows, hence the small bound.
  private[graft] val cpRowsMemo = new TtlCache[(String, Long, Long, Long),
    Option[Seq[org.apache.spark.sql.Row]]](64, 0L)

  /** (total length, newest mtime) of the file(s) backing the checkpoint
    * at `v` — the invalidation fingerprint for [[cpRowsMemo]]. Single
    * classic file, complete multi-part set, or v2 manifest; (0, 0) when
    * nothing is found (the [[cpRowsMemo]] entry is then keyed purely
    * on (table root, version), the pre-hardening behavior). */
  private def cpFingerprint(spark: SparkSession, table: String,
      v: Long): (Long, Long) = {
    val f = fs(spark, table)
    def statOf(p: String): Option[(Long, Long)] =
      try {
        val st = f.getFileStatus(new Path(p))
        Some((st.getLen, st.getModificationTime))
      } catch { case _: java.io.FileNotFoundException => None }
    statOf(checkpointPath(table, v))
      .orElse {
        val parts = checkpointMultiParts(spark, table, v)
        val sts = parts.flatMap(statOf)
        if (sts.isEmpty) None
        else Some((sts.map(_._1).sum, sts.map(_._2).max))
      }
      .orElse(checkpointV2Manifest(spark, table, v).flatMap(statOf))
      .getOrElse((0L, 0L))
  }

  /** Row cap for memoizing a checkpoint base on the driver. 100k
    * manifest rows ≈ tens of MB of driver heap; production-scale
    * manifests (10^6+ files) stay on executors. */
  private def localReplayMaxCpRows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.snapshot.localReplayMaxCpRows")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(100000)

  /** The checkpoint base as driver rows (manifest shape + version),
    * kept per immutable (table root, version, length, mtime); None
    * when the checkpoint is too big for the driver fold. The collect
    * runs outside the memo's lock. */
  private def cpBaseRows(spark: SparkSession, table: String,
      v: Long): Option[Seq[org.apache.spark.sql.Row]] = {
    val (len, mtime) = cpFingerprint(spark, table, v)
    cpRowsMemo.getOrElseUpdate((rootOf(spark, table), v, len, mtime)) {
      val cap = localReplayMaxCpRows(spark)
      val rows = checkpointBaseDF(spark, table, v).limit(cap + 1).collect()
      if (rows.length > cap) None else Some(rows.toIndexedSeq)
    }
  }

  /** One path's log state in the snapshot fold: its newest add, ordered
    * by (version, line index), with its manifest row (null while no add
    * is seen), and its newest remove's version (`Long.MinValue` while
    * none is seen). */
  private final case class PathState(addV: Long, addLine: Int,
      row: org.apache.spark.sql.Row, rmV: Long)

  /** The snapshot reconciliation rule (Delta §3.2, the last action per
    * path wins) as one associative per-path merge: the newer add and
    * the newer remove. */
  private def reconcile(a: PathState, b: PathState): PathState = {
    val add = if (b.row == null || a.row != null && (a.addV > b.addV ||
      a.addV == b.addV && a.addLine > b.addLine)) a else b
    PathState(add.addV, add.addLine, add.row, math.max(a.rmV, b.rmV))
  }

  /** The manifest row of a reconciled path that is live: it has an add
    * and no strictly newer remove. `<=`, not `<`: a DV commit removes
    * and RE-ADDS the same path in one version (old mask out, new mask
    * in), and within a commit the add wins, Delta's own reconciliation
    * rule. Operations that kill a file (CoW DML, OPTIMIZE) add
    * different paths, so a same-version remove without a same-version
    * re-add stays dead. */
  private def liveRow(s: PathState): Option[org.apache.spark.sql.Row] =
    if (s.row != null && s.rmV <= s.addV) Some(s.row) else None

  /** A checkpoint base row ([[checkpointBaseDF]]: the manifest shape +
    * the checkpoint's version) as an add at that version. */
  private def cpPathState(r: org.apache.spark.sql.Row): (String, PathState) =
    r.getString(0) -> PathState(r.getLong(9), -1,
      org.apache.spark.sql.Row.fromSeq(r.toSeq.take(9)), Long.MinValue)

  /** One commit's add and remove actions as path states. A DV
    * descriptor rides the manifest as the "rdv" marker
    * ([[rdvMarkerOfNode]]) the mask loader decodes ([[maskDF]]). */
  private def pathStates(v: Long,
      nodes: Iterator[com.fasterxml.jackson.databind.JsonNode])
      : Iterator[(String, PathState)] = {
    def str(n: com.fasterxml.jackson.databind.JsonNode, k: String) =
      jnode(n, k).map(_.asText()).orNull
    def long(n: com.fasterxml.jackson.databind.JsonNode,
             k: String): java.lang.Long =
      jnode(n, k).map(c => java.lang.Long.valueOf(c.asLong())).orNull
    nodes.zipWithIndex.flatMap { case (node, i) =>
      jnode(node, "add").map { add =>
        val path = str(add, "path")
        path -> PathState(v, i, org.apache.spark.sql.Row(
          path, pvOfNode(add, "partitionValues"),
          long(add, "size"), long(add, "modificationTime"),
          str(add, "stats"), rdvMarkerOfNode(add),
          jnode(add, "deletionVector").map(long(_, "cardinality")).orNull,
          long(add, "baseRowId"), long(add, "defaultRowCommitVersion")),
          Long.MinValue)
      }.iterator ++ jnode(node, "remove").map(rem =>
        str(rem, "path") -> PathState(Long.MinValue, 0, null, v)).iterator
    }
  }

  /** Replay with the checkpoint base capped at `cpAtMost` (< 0 = pure
    * JSON replay). [[writeCheckpoint]] caps at `version - 1` so
    * re-checkpointing a version that already has a checkpoint folds from
    * the PREVIOUS one instead of reading the very path it is about to
    * overwrite (Spark rejects overwrite-while-reading).
    *
    * The checkpoint IS the folded snapshot at its version: its manifest
    * rows seed the [[reconcile]] fold as adds at that version, and only
    * the JSON tail after it is read ([[scanArm]], O(since-checkpoint)).
    * The same fold runs on both arms. On the driver (a tail under the
    * byte cap over a checkpoint under the row cap, [[cpBaseRows]]) it
    * folds into a LocalRelation, so downstream manifest filters and
    * collects stay driver-local. Otherwise it runs as one `reduceByKey`
    * over the checkpoint rows and the executor-read tail, and the
    * manifest stays an RDD-backed frame on executors. */
  private def replaySnapshot(spark: SparkSession, table: String,
                             version: Long, cpAtMost: Long): DataFrame = {
    requireReadable(spark, table, version)
    val cp = if (cpAtMost < 0) None
             else latestCheckpoint(spark, table, cpAtMost)
    // a checkpoint-less replay whose v0 commit is GONE means log
    // retention cleaned the history this version needs — a partial
    // tail would silently drop files, so refuse by name
    if (cp.isEmpty && tableExists(spark, table) &&
        !fs(spark, table).exists(new Path(commitPath(table, 0L))) &&
        latestVersion(spark, table) >= 0)
      throw new HistoryCleanedException(table, version)
    val tailVP = logJsonVersions(spark, table, cp.getOrElse(-1L) + 1,
      version)
    val localBase: Option[Seq[org.apache.spark.sql.Row]] =
      cp.fold(Option(Seq.empty[org.apache.spark.sql.Row]))(
        cpBaseRows(spark, table, _))
    scanArm(spark, table, tailVP, driverOk = localBase.isDefined)(
        pathStates) match {
      case Left(tail) =>
        val fold = new java.util.LinkedHashMap[String, PathState]()
        (localBase.get.iterator.map(cpPathState) ++ tail).foreach {
          case (p, st) => fold.merge(p, st,
            (a: PathState, b: PathState) => reconcile(a, b))
        }
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(
          fold.values.asScala.flatMap(liveRow).toSeq.asJava, manifestSchema)
      case Right(tail) =>
        val all = cp.fold(tail)(v =>
          checkpointBaseDF(spark, table, v).rdd.map(cpPathState).union(tail))
        spark.createDataFrame(
          all.reduceByKey(reconcile _).flatMap(kv => liveRow(kv._2)),
          manifestSchema)
    }
  }

  /** S4: current snapshot = add actions replayed in version order, minus
    * files removed later. Pure log metadata. */
  def snapshotFiles(spark: SparkSession, table: String): DataFrame =
    snapshotFilesAt(spark, table, Long.MaxValue)

  // Snapshot cache: 20 entries / 120 s TTL, exactly the reference's moka
  // Delta-snapshot cache (/root/reference/src/main.rs:41,82-85). Like the
  // reference, writes do NOT invalidate — a snapshot may be up to 120 s
  // stale (documented quirk); call invalidateSnapshot for immediacy.
  @volatile private var snapshotCache =
    new graft.util.TtlCache[String, DataFrame](20, 120000L,
      onEvict = df => { df.unpersist(); () })

  /** Rebuild the snapshot cache from the `snapshotCache` config knob
    * ([[graft.catalog.GraftConfig]]) — entries are discarded and their
    * persisted frames released, like a reference restart. */
  def configureSnapshotCache(cfg: graft.catalog.CacheConfig): Unit = {
    val old = snapshotCache
    snapshotCache = new graft.util.TtlCache[String, DataFrame](
      cfg.maxEntries, cfg.ttlMs, onEvict = df => { df.unpersist(); () })
    old.clear()
  }

  /** [[snapshotFiles]] through the TTL cache, persisted — repeated
    * pruning queries replay the log once per 120 s, not per query. */
  def snapshotFilesCached(spark: SparkSession, table: String): DataFrame = {
    val cache = snapshotCache
    val df = cache.getOrElseUpdate(rootOf(spark, table)) {
      val snap = snapshotFiles(spark, table)
      // a manifest of driver rows ([[replaySnapshot]]'s driver arm)
      // stays one: persisting it would wrap it in an InMemoryRelation,
      // hiding the rows the driver arms of pruning read in place (and
      // wasting block-manager copies). Distributed manifests keep the
      // persist — replaying a big log once per TTL window is the
      // cache's whole point.
      if (DriverRows.of(snap).isDefined) snap else snap.persist()
    }
    // configureSnapshotCache may have swapped the cache mid-miss; clear
    // the orphaned instance (again) so the raced persist is released
    if (cache ne snapshotCache) cache.clear()
    df
  }

  /** Drop every memo held for `table`, under any spelling of its root
    * ([[rootOf]]): the TTL'd snapshot AND the per-version memos (table
    * states, parsed commits, checkpoint rows and completeness,
    * partition layouts). The per-version memos are safe for
    * append-only logs (commit files and named checkpoints are
    * immutable), but a table REPLACED at the same path (deleted and
    * re-created by an external process) would otherwise be served the
    * old table's gate verdict and schema — call this after any
    * out-of-band replacement, like the snapshot cache's documented
    * staleness rule. */
  def invalidateSnapshot(table: String): Unit = {
    val root = rootOf(SparkSession.active, table)
    snapshotCache.invalidate(root)
    tableStates.invalidateIf(_._1 == root)
    cpRowsMemo.invalidateIf(_._1 == root)
    commitNodesMemo.invalidateIf(_._1 == root)
    cpCompleteMemo.invalidateIf(_._1 == root)
    partitionColsMemo.invalidateIf(_._1 == root)
  }

  /** Data skipping on per-file min/max stats: keep only files whose
    * `[min, max]` range for `statCol` can intersect `[lo, hi]`. Files
    * WITHOUT stats (older commits, all-null column) are conservatively
    * kept — skipping is an optimization, never a filter, so callers
    * still apply the exact row predicate on top. Pure log metadata, zero
    * data IO: this is the mechanism that turns a range query on a
    * 100 TB range-clustered table into a scan of the few overlapping
    * files (Delta/Iceberg min-max pruning). */
  def filesForRange(snapshot: DataFrame, statCol: String,
                    lo: Double, hi: Double): DataFrame = {
    val mn = get_json_object(col("stats"), s"$$.minValues.$statCol")
      .cast("double")
    val mx = get_json_object(col("stats"), s"$$.maxValues.$statCol")
      .cast("double")
    snapshot.where(col("stats").isNull || mn.isNull || mx.isNull ||
      (mx >= lo && mn <= hi))
  }

  /** Write-side schema gate. Column-mapped tables are writable in BOTH
    * modes: [[writeAndCapture]] lands PHYSICAL-named parquet
    * ([[toPhysical]]) with `parquet.field.id` footer metadata whenever
    * the mapping carries ids (real mapped writers land both too), and
    * [[fileStats]] keys stats by physical name — so a compliant reader
    * of the resulting log sees exactly what a real mapped writer would
    * have produced, resolving by name OR by footer field-id. Mapping
    * metadata under an unknown/unset mode refuses — the writer cannot
    * know which resolution contract the files must uphold. */
  private def requireMappingWritable(
      declared: Option[org.apache.spark.sql.types.StructType],
      table: String, spark: SparkSession): Unit =
    declared.foreach { st =>
      if (isColumnMapped(st) ||
          st.fields.exists(_.metadata.contains(MapIdKey))) {
        val mode = tableConfig(spark, table).get("delta.columnMapping.mode")
        if (!mode.exists(Set("name", "id")))
          throw new ColumnMappingUnsupportedException(table,
            mode.getOrElse("(unset)"), "write")
      }
    }

  /** `delta.columnMapping` (name mode) field-metadata key: each logical
    * field records the PHYSICAL parquet column name it reads from. */
  private val PhysNameKey = "delta.columnMapping.physicalName"

  /** `delta.columnMapping` field-id key: in `id` mode the parquet
    * files' footer field_ids, not the column names, resolve columns. */
  private val MapIdKey = "delta.columnMapping.id"

  /** Spark's parquet field-id resolution metadata key
    * (ParquetUtils.FIELD_ID_METADATA_KEY): a read-schema field carrying
    * it matches the file column BY ID once
    * `spark.sql.parquet.fieldId.read.enabled` is set — exactly the
    * id-mode contract, served by the built-in vectorized reader. */
  private val ParquetFieldIdKey = "parquet.field.id"

  /** First (dotted) field path at ANY nesting depth that lacks a
    * `delta.columnMapping.id` — id mode must refuse it by name: a
    * nested struct field without an id would silently fall back to
    * name-vs-physical-name matching and read nulls. */
  private def missingIdField(
      dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => st.fields.view.flatMap { f =>
        if (!f.metadata.contains(MapIdKey)) Some(f.name)
        else missingIdField(f.dataType).map(n => s"${f.name}.$n")
      }.headOption
      case at: ArrayType => missingIdField(at.elementType)
        .map(n => s"element.$n")
      case mt: MapType => missingIdField(mt.keyType).map(n => s"key.$n")
        .orElse(missingIdField(mt.valueType).map(n => s"value.$n"))
      case _ => None
    }
  }

  /** id-mode read posture of a read resolved at `state`: true when its
    * `delta.columnMapping.mode` is `id`, the same state the read's
    * declared schema comes from. Throws on a malformed id mapping
    * (any TOP-LEVEL OR NESTED field lacking its id — name matching
    * could silently mis-resolve, so refuse by name). Field-id
    * resolution itself is enabled PER-READ by [[readFilesAs]] (a
    * DataFrameReader option), never session-wide — see
    * [[FieldIdReadKey]]. */
  private def idReadMode(table: String, state: TableState): Boolean = {
    val im = state.config.get("delta.columnMapping.mode").contains("id")
    if (im) state.schema match {
      case None => throw new ColumnMappingUnsupportedException(table,
        "id (no declared schema to carry delta.columnMapping.id)")
      case Some(st) => missingIdField(st).foreach(fieldPath =>
        throw new ColumnMappingUnsupportedException(table,
          s"id (field '$fieldPath' carries no delta.columnMapping.id)"))
    }
    im
  }

  /** Spark's field-id-resolution switch. It can only be enabled through
    * a session's SQLConf (measured on Spark 4.1: a per-read
    * DataFrameReader option does NOT reach the parquet scan — the
    * format re-reads this flag from the live SQLConf at execution), so
    * id-mode scans are built through [[idReadSession]] instead of ever
    * touching the caller's conf. Setting it session-wide would leak:
    * after the first id-mode read, unrelated scans of id-less parquet
    * whose read schemas carry `parquet.field.id` metadata start failing
    * (fieldId.read.ignoreMissing defaults to false). */
  private val FieldIdReadKey = "spark.sql.parquet.fieldId.read.enabled"

  // keyed by sessionUUID, NOT the session object — the map itself never
  // pins a caller session. LRU-bounded so a multi-session server's
  // session churn cannot grow it without bound (a clone transitively
  // references its caller via parentSessionState, so an unbounded map
  // would be a session leak); 64 live caller sessions per JVM is far
  // past any realistic concurrent-session count, and an evicted entry
  // just re-clones on next use.
  private[graft] val idReadSessions = new TtlCache[String, SparkSession](
    64, 0L)

  /** The session id-mode scans read through: a CLONE of the caller's
    * session (same SparkContext, shared cache, a copy of the caller's
    * conf and session state) with field-id resolution enabled. The
    * scan's HadoopFsRelation captures this session, so the flag rides
    * exactly the id-mode relations — frames remain freely usable
    * (joins, unions) from the caller's session, whose own conf stays
    * untouched. One clone per caller session, created lazily (racing
    * first uses may both clone; one is kept); each USE
    * re-syncs the clone's conf and function registry from the caller,
    * so session changes made after the clone (timeZone, ANSI mode, new
    * UDFs) apply to id-mode frames exactly as to every other table. */
  private def idReadSession(spark: SparkSession): SparkSession = {
    val c = idReadSessions.getOrElseUpdate(
        org.apache.spark.sql.graft.SessionBridge.sessionUUID(spark)) {
      val s = org.apache.spark.sql.graft.SessionBridge.cloneSession(spark)
      s.conf.set(FieldIdReadKey, "true")
      s
    }
    org.apache.spark.sql.graft.SessionBridge.syncSessionState(
      spark, c, except = Set(FieldIdReadKey))
    c
  }

  /** Spark's field-id-WRITE switch: when enabled (the Spark 4 default),
    * the parquet writer lands any `parquet.field.id` metadata in the
    * write schema as footer field_ids. [[toPhysical]] attaches that
    * metadata for mapped tables, so mapped writes normally need no conf
    * work at all — this guard only matters for a caller session that
    * explicitly DISABLED the flag, which would silently strip the ids
    * an id-mode reader resolves by. */
  private val FieldIdWriteKey = "spark.sql.parquet.fieldId.write.enabled"

  /** Re-home `df` onto a clone with field-id writing enabled IF the
    * caller's session turned it off; the overwhelmingly common
    * default-on path returns `df` untouched (one conf read). Unlike
    * [[idReadSession]] this is not cached: the disabled-flag path is an
    * explicit misconfiguration escape hatch, not a steady state. */
  private def ensureFieldIdWriteSession(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (s.conf.get(FieldIdWriteKey, "true").toBoolean) df
    else {
      val c = org.apache.spark.sql.graft.SessionBridge.cloneSession(s)
      c.conf.set(FieldIdWriteKey, "true")
      org.apache.spark.sql.graft.DatasetShim.ofRows(
        c, df.queryExecution.logical)
    }
  }

  /** Drop a caller session's cached id-read clone (multi-session
    * servers call this when a session closes; otherwise the LRU bound
    * caps retention). Safe no-op when no clone exists. */
  def releaseIdReadSession(spark: SparkSession): Unit = {
    idReadSessions.invalidate(
      org.apache.spark.sql.graft.SessionBridge.sessionUUID(spark))
  }

  /** Strip `parquet.field.id` metadata from every (nested) field: the
    * engine's unmapped reads must match file columns BY NAME even after
    * some id-mode read enabled the session-wide field-id resolution —
    * engine-written parquet carries no footer ids, and a stray id in a
    * user-declared schema would otherwise fail those scans
    * (fieldId.read.ignoreMissing defaults to false). */
  private def dropFieldIds(
      st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def clean(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val meta =
          if (!f.metadata.contains(ParquetFieldIdKey)) f.metadata
          else {
            val b = new MetadataBuilder().withMetadata(f.metadata)
            b.remove(ParquetFieldIdKey).build()
          }
        StructField(f.name, clean(f.dataType), f.nullable, meta)
      })
      case a: ArrayType => a.copy(elementType = clean(a.elementType))
      case m: MapType => m.copy(keyType = clean(m.keyType),
        valueType = clean(m.valueType))
      case other => other
    }
    clean(st).asInstanceOf[StructType]
  }

  private def physicalNameOf(
      fd: org.apache.spark.sql.types.StructField): String =
    if (fd.metadata.contains(PhysNameKey)) fd.metadata.getString(PhysNameKey)
    else fd.name

  /** The physical column name behind a logical top-level name — the
    * identity for unmapped tables/columns. */
  private def physicalColOf(
      declared: Option[org.apache.spark.sql.types.StructType],
      name: String): String =
    declared.flatMap(_.fields.find(_.name.equalsIgnoreCase(name))
      .map(physicalNameOf)).getOrElse(name)

  /** Inverse of [[restoreLogical]]: rename a logical-named frame to the
    * physical schema for WRITING. The top-level select renames columns,
    * the cast renames nested struct fields (same-shape casts are
    * positional). Fields the frame omits stay omitted — a legal subset
    * append, reads null-fill them. With `withIds`, each field
    * additionally carries Spark's `parquet.field.id` metadata (nested
    * fields through the cast's target type, top-level through the alias
    * metadata), which the parquet writer lands as footer field_ids —
    * the id-mode resolution contract a compliant reader matches on.
    * `passthrough` columns are appended verbatim (no rename, no id) —
    * the cdc writer's non-schema `_change_type` rides through here. */
  private def toPhysical(df: DataFrame,
      logical: org.apache.spark.sql.types.StructType,
      withIds: Boolean = false,
      passthrough: Seq[String] = Nil): DataFrame = {
    val present = logical.fields.filter(lf =>
      df.columns.exists(_.equalsIgnoreCase(lf.name)))
    df.select((present.map { lf =>
      // a frame still carrying a PRE-evolution struct shape widens to
      // the full logical type first (new nested fields null-fill) —
      // the physical cast below is positional and needs full arity.
      // Agreeing types pass through widenTo untouched, so the common
      // path pays nothing.
      val actual = df.schema.fields
        .find(_.name.equalsIgnoreCase(lf.name)).get.dataType
      // cast target relaxed to nullable: an aligned frame's struct
      // fields are nullable even where the declared field is NOT NULL
      // (widenTo rebuilds via getField), and Spark refuses a
      // nullable→non-null struct-field cast; nullability here is
      // analysis-only — the written values are the frame's
      val c = widenTo(col(s"`${lf.name}`"), actual, lf.dataType)
        .cast(nullify(physicalType(lf.dataType, withIds)))
      if (withIds && lf.metadata.contains(MapIdKey))
        c.as(physicalNameOf(lf),
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(ParquetFieldIdKey, lf.metadata.getLong(MapIdKey))
            .build())
      else c.as(physicalNameOf(lf))
    } ++ passthrough.map(c => col(s"`$c`"))).toIndexedSeq: _*)
  }

  /** Assign name-mode mapping metadata to a schema: every (nested)
    * field gets `delta.columnMapping.physicalName` and a depth-first
    * `delta.columnMapping.id` starting past `startId`. Upgrade
    * semantics (`physicalName = the current name`) — the files already
    * on disk store exactly these names, so they keep reading without a
    * rewrite; that is why Delta's own upgrade works this way. Returns
    * the mapped schema and the highest id assigned (the new
    * `delta.columnMapping.maxColumnId`). */
  private def assignMapping(st: org.apache.spark.sql.types.StructType,
                            startId: Long)
      : (org.apache.spark.sql.types.StructType, Long) = {
    import org.apache.spark.sql.types._
    var next = startId
    def walk(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        next += 1
        val meta = new MetadataBuilder().withMetadata(f.metadata)
          .putString(PhysNameKey, f.name).putLong(MapIdKey, next).build()
        StructField(f.name, walk(f.dataType), f.nullable, meta)
      })
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType => m.copy(keyType = walk(m.keyType),
        valueType = walk(m.valueType))
      case other => other
    }
    (walk(st).asInstanceOf[StructType], next)
  }

  /** True when the declared schema carries name-mode mapping metadata —
    * the parquet files use physical names and must be read through the
    * relabeling projection. Pure in-memory check, so the unmapped path
    * (every self-written table) pays nothing. */
  private[graft] def isColumnMapped(
      st: org.apache.spark.sql.types.StructType): Boolean =
    st.fields.exists(_.metadata.contains(PhysNameKey))

  /** The schema as the parquet files spell it: every (nested) field
    * renamed to its physical name. Mapping metadata is dropped — the
    * physical schema exists only to drive the scan — except in `id`
    * mode (`withIds`), where each field instead carries the Spark
    * parquet field-id key so the scan matches file columns by footer
    * field_id rather than by name. */
  /** The same type with every level nullable — a CAST target that
    * never trips Spark's nullable→non-null struct-field refusal.
    * Field metadata (parquet field ids) is preserved. */
  private[io] def nullify(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case at: ArrayType =>
        ArrayType(nullify(at.elementType), containsNull = true)
      case mt: MapType => MapType(mt.keyType,
        nullify(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def physicalType(dt: org.apache.spark.sql.types.DataType,
                           withIds: Boolean)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def meta(f: StructField): Metadata =
      if (withIds && f.metadata.contains(MapIdKey))
        new MetadataBuilder()
          .putLong(ParquetFieldIdKey, f.metadata.getLong(MapIdKey)).build()
      else Metadata.empty
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(physicalNameOf(f), physicalType(f.dataType, withIds),
          f.nullable, meta(f))))
      case at: ArrayType =>
        at.copy(elementType = physicalType(at.elementType, withIds))
      case mt: MapType => mt.copy(
        keyType = physicalType(mt.keyType, withIds),
        valueType = physicalType(mt.valueType, withIds))
      case other => other
    }
  }

  private def physicalStruct(st: org.apache.spark.sql.types.StructType,
                             withIds: Boolean = false)
      : org.apache.spark.sql.types.StructType =
    physicalType(st, withIds)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Relabel a physical-named frame back to the logical schema. The
    * top-level select renames the columns; the CAST renames nested
    * struct fields (casts between same-shape structs are positional).
    * Backticks guard the GUID-style physical names real writers emit. */
  private def restoreLogical(df: DataFrame,
      logical: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(logical.fields.map { lf =>
      col(s"`${physicalNameOf(lf)}`").cast(lf.dataType).as(lf.name)
    }.toIndexedSeq: _*)

  /** A table read's read schema, mapped schema and session. Mapped
    * tables scan PHYSICAL columns (`name` mode by name, `id` mode by
    * footer field_id, always applied in id mode); unmapped reads drop
    * stray field ids, which field-id resolution would otherwise match
    * against id-less files. Id mode reads on the flag-enabled CLONED
    * session, so the caller's conf never changes. */
  private def scanShape(spark: SparkSession, table: String,
      state: TableState)
      : (Option[org.apache.spark.sql.types.StructType],
         Option[org.apache.spark.sql.types.StructType], SparkSession) = {
    val declared = state.schema
    val idMode = idReadMode(table, state)
    val mapped = declared.filter(st => isColumnMapped(st) || idMode)
    val readSchema = mapped.map(physicalStruct(_, idMode))
      .orElse(declared.map(dropFieldIds))
    (readSchema, mapped, if (idMode) idReadSession(spark) else spark)
  }

  /** Read `files` of `table` under the table's DECLARED schema: files
    * written before a column was appended read it as null (Delta's
    * schema-evolution read semantics); tables with no metaData in the
    * log fall back to parquet self-description. One relation over a
    * [[LogFileIndex]] — partition values come from the log, and a
    * snapshot mixing roots (shallow clones) is still one scan. Empty
    * file sets keep the declared schema so downstream projections still
    * resolve. */
  private def readFilesAs(spark: SparkSession, table: String,
                          files: Seq[LogFile], state: TableState)
      : DataFrame =
    if (files.isEmpty)
      state.schema.fold(spark.emptyDataFrame)(s =>
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), s))
    else {
      val (readSchema, mapped, session) = scanShape(spark, table, state)
      val out = LogFileIndex.scan(session, table, files, readSchema)
      attachGenMetadata(mapped.fold(out)(restoreLogical(out, _)),
        state.schema)
    }

  /** Re-attach `delta.generationExpression` field metadata to a read
    * frame. The parquet relation STRIPS user-schema field metadata, but
    * the generated-column prune rule
    * ([[graft.plans.GeneratedPartitionPruneRule]]) discovers derivable
    * columns from the attributes' own metadata — without this, `WHERE
    * ts >= X` over a `day = CAST(ts AS DATE)`-partitioned table scans
    * every partition. Only the generation key is attached (delta-spark
    * surfaces the full field metadata; the minimal key keeps this
    * engine's frame schemas otherwise byte-identical to before). */
  private def attachGenMetadata(df: DataFrame,
      declared: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    import org.apache.spark.sql.types.MetadataBuilder
    val gens = declared.map(_.fields.filter(f =>
        f.metadata.contains(GenExprKey) &&
          df.columns.exists(_.equalsIgnoreCase(f.name))))
      .getOrElse(Array.empty)
    if (gens.isEmpty) df
    else df.select(df.columns.map { c =>
      gens.find(_.name.equalsIgnoreCase(c)) match {
        case Some(f) => col(s"`$c`").as(c, new MetadataBuilder()
          .putString(GenExprKey, f.metadata.getString(GenExprKey)).build())
        case None => col(s"`$c`")
      }
    }.toIndexedSeq: _*)
  }

  /** Read the table through min/max data skipping, with the exact range
    * predicate applied on top (pruning is a superset, the filter makes
    * it exact). The scan touches only stats-surviving files. */
  def readRange(spark: SparkSession, table: String, statCol: String,
                lo: Double, hi: Double): DataFrame = {
    val state = stateAt(spark, table, Long.MaxValue)
    val declared = state.schema
    // mapped table: the stats JSON keys are physical — prune under the
    // physical name, filter under the logical one (the relabeled frame)
    val statPhys = physicalColOf(declared.filter(isColumnMapped), statCol)
    val files = LogFile.ofFrame(
      filesForRange(snapshotFiles(spark, table), statPhys, lo, hi))
    val base = readFilesWithDv(spark, table, files, state)
    if (files.isEmpty) base // zero files: the predicate is vacuous (and
    else base.where(col(statCol) >= lo && col(statCol) <= hi) // may not resolve)
  }

  /** P5: resolve OR-of-ANDs string-equality partition filters against the
    * snapshot — predicate to file set with zero data IO, the reference's
    * central query (src/main.rs:402-405). Empty list / all-empty maps =
    * allow all (P7). A map entry matches as `element_at` does: a missing
    * key or a null value matches nothing. A snapshot of driver rows (the
    * driver replay's) is filtered on the driver and the kept rows are
    * again a local frame of the same schema; a distributed or persisted
    * manifest takes the `where`. */
  def filesForFilters(snapshot: DataFrame,
                      filters: PartitionAcl.Filters): DataFrame = {
    val maps = filters.filter(_.nonEmpty)
    if (maps.isEmpty) return snapshot
    val resolver = snapshot.sparkSession.sessionState.conf.resolver
    DriverRows.of(snapshot).flatMap { l =>
      l.output.zipWithIndex.filter(a => resolver(a._1.name, "partitionValues")) match {
        case Seq((a, i)) if a.dataType == MapType(StringType, StringType) =>
          val wanted = maps.map(_.toSeq.map { case (k, v) =>
            (UTF8String.fromString(k), UTF8String.fromString(v)) })
          Some(DriverRows.frame(snapshot.sparkSession, l.output,
            l.data.filter(r => !r.isNullAt(i) &&
              wanted.exists(_.forall { case (k, v) =>
                v != null && v == valueAt(r.getMap(i), k) }))))
        case _ => None
      }
    }.getOrElse(snapshot.where(maps.map(_.map { case (k, v) =>
      element_at(col("partitionValues"), k) === lit(v)
    }.reduce(_ && _)).reduce(_ || _)))
  }

  /** `element_at(m, k)` over a string map's driver form: the value of
    * the first entry keyed `k`, null when there is none. */
  private def valueAt(m: org.apache.spark.sql.catalyst.util.MapData,
                      k: UTF8String): UTF8String = {
    val keys = m.keyArray()
    var j = 0
    while (j < m.numElements() && keys.getUTF8String(j) != k) j += 1
    if (j == m.numElements() || m.valueArray().isNullAt(j)) null
    else m.valueArray().getUTF8String(j)
  }

  /** DV row identity = the PARTITION-RELATIVE tail of a file's path
    * (its `k=v` directories + filename): unique per table — a bare
    * filename is NOT (one task writing several partitions stamps the
    * same part-file name into each directory) — and stable under table
    * relocation. Depth is structural (trailing `k=v` segments + 1), so
    * build and read sides always agree. */
  private def dvKeyDepth(p: String): Int = {
    val segs = p.split("/")
    var j = segs.length - 2
    var n = 1
    while (j >= 0 && segs(j).contains("=")) { n += 1; j -= 1 }
    n
  }

  private def dvKeyOf(p: String): String =
    p.split("/").takeRight(dvKeyDepth(p)).mkString("/")

  /** A parsed add node's size, modificationTime and partitionValues,
    * the trailing columns of [[LogFile.feedSchema]]. */
  private def addScanValues(
      add: Option[com.fasterxml.jackson.databind.JsonNode]): Seq[Any] = Seq(
    add.flatMap(jnode(_, "size"))
      .map(n => java.lang.Long.valueOf(n.asLong())).orNull,
    add.flatMap(jnode(_, "modificationTime"))
      .map(n => java.lang.Long.valueOf(n.asLong())).orNull,
    add.map(pvOfNode(_, "partitionValues")).orNull)

  // a Delta DV descriptor carried through the snapshot's dv_path
  // column: "rdv\0storageType\0pathOrInlineDv\0offset\0sizeInBytes".
  // NUL never appears in descriptor fields, so the marker cannot
  // mis-split.
  private val RealDvPrefix = "rdv\u0000"

  private def realDvMarker: org.apache.spark.sql.Column =
    when(col("add.deletionVector.storageType").isNotNull,
      concat_ws("\u0000", lit("rdv"),
        col("add.deletionVector.storageType"),
        col("add.deletionVector.pathOrInlineDv"),
        coalesce(col("add.deletionVector.offset"), lit(-1)).cast("string"),
        col("add.deletionVector.sizeInBytes").cast("string")))
      .otherwise(lit(null).cast("string"))

  private lazy val decodeDvUdf =
    udf((b: Array[Byte]) => RoaringDv.decode(b))

  /** Does a dv ref ("rdv" marker) still resolve? The vacuum-horizon
    * guards of the change feeds use this — an inline ('i') mask rides
    * in the log itself and never vacuums. */
  private def dvRefExists(f: org.apache.hadoop.fs.FileSystem,
                          table: String, ref: String): Boolean =
    ref.split("\u0000", -1) match {
      case Array(_, "i", _, _, _) => true
      case Array(_, st, pod, _, _) =>
        f.exists(new Path(RoaringDv.dvFileOf(table, st, pod)))
      case _ => false
    }

  /** A dv ref rebased for a shallow CLONE whose data stays under the
    * SOURCE root: 'u' markers become absolute 'p' markers; 'p' and
    * inline 'i' are location-free. */
  private def dvRefForClone(source: String, ref: String): String =
    ref.split("\u0000", -1) match {
      case Array(_, "u", pod, off, sz) =>
        RealDvPrefix +
          Seq("p", RoaringDv.dvFileOf(source, "u", pod), off, sz)
            .mkString("\u0000")
      case _ => ref
    }

  /** The compressed bitmap bytes of the mask a "rdv" `marker`
    * describes on data file `p`. */
  private def fetchMask(f: org.apache.hadoop.fs.FileSystem, table: String,
                        p: String, marker: String): Array[Byte] =
    marker.split("\u0000", -1) match {
      case Array(_, st, pod, off, size) =>
        RoaringDv.fetch(f, table, st, pod, off.toInt, size.toInt)
      case _ => throw new RoaringDv.DvFormatException(
        s"malformed DV marker on $p")
    }

  /** The mask relation (`__dv_fname`, `__dv_ri`) for (data path, "rdv"
    * marker) pairs: each descriptor's compressed bitmap BYTES are
    * fetched driver-side (KBs — a million masked rows is ~100 KB
    * roaring) and exploded to row indexes in executors, so the mask
    * join itself stays distributed. */
  private def maskDF(spark: SparkSession, table: String,
                     pairs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val f = fs(spark, table)
    pairs.distinct.map { case (p, marker) =>
      (dvKeyOf(p), fetchMask(f, table, p, marker))
    }.toDF("__dv_fname", "__b")
      .select(col("__dv_fname"),
        explode(decodeDvUdf(col("__b"))).as("__dv_ri"))
  }

  /** [[readFilesAs]] with deletion vectors applied: each file pairs
    * with the optional DV masking its deleted rows. DV'd files are read
    * with their identity ([[scanWithIdentity]]) and anti-joined against
    * the union of their masks. Plain files take the ordinary scan; a
    * table with no DVs pays nothing. Column-mapped DV'd files scan
    * under the physical schema and relabel AFTER the anti-join (the
    * join keys are the appended __fname/__ri, untouched by the
    * relabel). */
  private def readFilesWithDv(spark: SparkSession, table: String,
                              files: Seq[LogFile], state: TableState)
      : DataFrame = {
    val (plain, dvd) = files.partition(_.dv.isEmpty)
    val base = readFilesAs(spark, table, plain, state)
    if (dvd.isEmpty) return base
    val (readSchema, mapped, session) = scanShape(spark, table, state)
    val dv = maskDF(spark, table, dvd.map(f => (f.path, f.dv.get)))
    val masked = scanWithIdentity(session, table, dvd, readSchema)
    val visible0 = masked.join(dv,
        masked("__fname") === dv("__dv_fname") &&
          masked("__ri") === dv("__dv_ri"), "left_anti")
      .drop("__fname", "__ri")
    val visible = mapped.fold(visible0)(restoreLogical(visible0, _))
    if (plain.isEmpty && state.schema.isEmpty) visible
    else base.unionByName(visible)
  }

  /** The scan of `files` with each row's DV identity appended:
    * `__fname` (the file's [[dvKeyOf]] key, cut from
    * `_metadata.file_path`) and `__ri` (`_metadata.row_index`). The
    * key depth comes from the LOG-RECORDED path — a table root
    * containing '=' must not inflate it (masks key on log paths) — so
    * files of different depths scan as one relation per depth (one for
    * every uniform layout). */
  private def scanWithIdentity(session: SparkSession, table: String,
      files: Seq[LogFile],
      readSchema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    files.groupBy(f => dvKeyDepth(f.path)).toSeq.sortBy(_._1).map {
      case (depth, fs2) => LogFileIndex.scan(session, table, fs2, readSchema,
        Seq(substring_index(col("_metadata.file_path"), "/", -depth)
            .as("__fname"),
          col("_metadata.row_index").as("__ri")))
    }.reduce(_.unionByName(_))

  /** Read the table THROUGH the pruned file set: scan only the files the
    * filters resolve to (the reference's authorize-then-fetch, J2+S6).
    * `versionAsOf` time-travels the snapshot (None = current). */
  def readFiltered(spark: SparkSession, table: String,
                   filters: PartitionAcl.Filters,
                   versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshotFilesAt(spark, table,
      versionAsOf.getOrElse(Long.MaxValue))
    // time travel reads under the schema AS OF that version (a column
    // appended later must not appear), current reads under the latest
    val state = stateAt(spark, table,
      versionAsOf.getOrElse(Long.MaxValue))
    val declared = state.schema
    // name-mode column mapping keys partitionValues by PHYSICAL names
    // — filters arrive in logical names, so probe under the mapping or
    // every file would silently fail the element_at and vanish
    val physFilters = declared.filter(isColumnMapped).fold(filters) { st =>
      val m = st.fields.map(f => f.name -> physicalNameOf(f)).toMap
      filters.map(_.map { case (k, v) => (m.getOrElse(k, k), v) })
    }
    val files = LogFile.ofFrame(filesForFilters(snap, physFilters))
    readFilesWithDv(spark, table, files, state)
  }

  /** Exactly-once micro-batch consumption of the change feed: invokes
    * `handle(batch, version)` once per unprocessed commit, in version
    * order, committing a progress marker under `checkpointDir` AFTER
    * each handler returns (atomic temp+rename). A crash between handler
    * and marker replays that one commit — the same at-least-once-with-
    * idempotent-sink contract as Structured Streaming's foreachBatch,
    * with the commit version as the natural batch id for sink-side
    * dedup. Returns the last processed version (-1 on empty tables).
    *
    * This is the table-as-stream consumption path (Delta's streaming
    * source): offsets ARE commit versions, so no separate offset log is
    * needed and a consumer can be re-pointed at any version by editing
    * one marker file. Batches carry only dataChange=true files —
    * OPTIMIZE rewrites never re-deliver. */
  def processChanges(spark: SparkSession, table: String,
                     checkpointDir: String)
                    (handle: (DataFrame, Long) => Unit): Long =
    processFeed(spark, table, checkpointDir, deliverRemoves = false,
      feed = v => readChanges(spark, table, v - 1, v))(handle)

  /** [[processChanges]] for the ROW-LEVEL change feed: exactly-once
    * micro-batch consumption of [[readCdf]], one batch per commit, with
    * the same marker/resume contract. Unlike the file-level feed, a
    * commit whose only dataChange actions are REMOVES (a pure DELETE)
    * still delivers — its deleted rows are the batch. This is the
    * table-as-CDF-stream path (Delta's `readChangeFeed` streaming
    * source restated): offsets are commit versions, batches are the
    * commit's pre/post images, and a downstream materializer can apply
    * deletes/updates incrementally instead of reprocessing appends
    * only. */
  def processCdf(spark: SparkSession, table: String,
                 checkpointDir: String)
                (handle: (DataFrame, Long) => Unit): Long =
    processFeed(spark, table, checkpointDir, deliverRemoves = true,
      feed = v => readCdf(spark, table, v - 1, v))(handle)

  private def processFeed(spark: SparkSession, table: String,
                          checkpointDir: String,
                          deliverRemoves: Boolean,
                          feed: Long => DataFrame)
                         (handle: (DataFrame, Long) => Unit): Long = {
    val f = fs(spark, checkpointDir)
    val marker = new Path(s"$checkpointDir/last_version")
    def readMarker(): Long =
      if (!f.exists(marker)) -1L
      else {
        val in = f.open(marker)
        try {
          val bytes = new Array[Byte](f.getFileStatus(marker).getLen.toInt)
          in.readFully(bytes)
          new String(bytes, "UTF-8").trim.toLong
        } finally in.close()
      }
    def writeMarker(v: Long): Unit = {
      val tmp = new Path(s"$checkpointDir/last_version.tmp")
      val out = f.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      // atomic overwrite-rename (FileContext, not FileSystem.rename): a
      // delete-then-rename window would lose the marker on a crash and
      // replay the WHOLE feed instead of one commit
      org.apache.hadoop.fs.FileContext
        .getFileContext(marker.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, marker, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    f.mkdirs(new Path(checkpointDir))
    val latest = nextVersion(spark, table) - 1
    var last = readMarker()
    while (last < latest) {
      val v = last + 1
      // a commit with no dataChange actions (OPTIMIZE) delivers
      // nothing: advance the marker without waking the handler — an
      // empty batch would crash typical aggregate-and-index handlers.
      // The CDF feed also wakes on dataChange REMOVES (pure deletes);
      // the file-level feed only on adds.
      val hasChanges = logScan(spark, table,
          logJsonVersions(spark, table, v, v)) { (_, nodes) =>
        nodes.filter(n => changesData(n, "add") ||
          (deliverRemoves && changesData(n, "remove"))).take(1).map(_ => v)
      }.nonEmpty
      if (hasChanges) handle(feed(v), v)
      writeMarker(v)
      last = v
    }
    latest
  }

  /** Whether `node` is a `kind` action with `dataChange` set. */
  private def changesData(node: com.fasterxml.jackson.databind.JsonNode,
                          kind: String): Boolean =
    jnode(node, kind).exists(a => jnode(a, "dataChange").exists(_.asBoolean()))

  /** Row-level change feed (Delta CDF shape): for each commit in
    * (`fromVersion`, `toVersion`], the rows that logically changed,
    * tagged `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} and `_commit_version`.
    *
    * Delta's CDF extension writes separate change files at commit time;
    * this engine RECONSTRUCTS the same information from the commit's own
    * file actions: for a DML commit, the multiset difference between the
    * removed files' rows (pre) and the added files' rows (post) is
    * exactly the changed rows — copy-on-write re-adds survivors
    * untouched, so they cancel. Blind appends are pure inserts; OPTIMIZE
    * rewrites carry `dataChange = false` and yield nothing. A matched
    * row whose SET produced NO value change also cancels (its pre and
    * post images are identical) — Delta's native CDF, writing change
    * files at commit time, emits an image pair even for such no-op
    * updates; reconstruction from file actions cannot distinguish them
    * from rewritten survivors (documented approximation, like the
    * merge-insert labeling below).
    *
    * Labels come from the commit's operation: DELETE tags pre-only rows
    * `delete`; UPDATE/MERGE tag pre-only `update_preimage` and post-only
    * `update_postimage` (a row MERGE inserted surfaces as a postimage
    * with no matching preimage — pairing pre/post images row by row
    * would need the merge keys, which the log does not carry; documented
    * approximation).
    *
    * Scale: per commit it reads ONLY that commit's touched files; the
    * diff is a pair of partial-aggregated groupBys bounded by the DML
    * blast radius, never the table. Requires the touched files to still
    * exist — a window behind the VACUUM horizon fails loudly, like
    * [[readChanges]]. */
  /** Latest committed version (-1 for a missing/empty log) — the
    * offset the streaming source ([[graft.streaming.GraftDeltaSource]])
    * exposes. Driver metadata only. */
  def currentVersion(spark: SparkSession, table: String): Long =
    latestVersion(spark, table)

  /** The recorded transaction watermark for `appId` (-1 when none):
    * the LATEST txn action, folded newest checkpoint + JSON tail — the
    * streaming sink's exactly-once check ([[graft.streaming]]). A
    * retried micro-batch whose version is at or below this watermark
    * already committed and must be a no-op. */
  def lastTxnVersion(spark: SparkSession, table: String,
                     appId: String): Long = {
    if (!tableExists(spark, table)) return -1L
    val cp = latestCheckpoint(spark, table, Long.MaxValue)
    val base: Long = cp.map(checkpointActionDF(spark, table, _))
      .filter(_.columns.contains("txn"))
      .map(df => df.where(col("txn.appId") === appId)
        .agg(max(col("txn.version").cast("long"))).collect()(0))
      .collect { case r if !r.isNullAt(0) => r.getLong(0) }
      .getOrElse(-1L)
    val tailVP = logJsonVersions(spark, table, cp.getOrElse(-1L) + 1,
      Long.MaxValue)
    // latest-commit-wins (a writer may legitimately LOWER its
    // sequence): the newest tail entry (the scan is in commit order)
    // overrides the checkpoint's.
    val tail = logScan(spark, table, tailVP) { (_, nodes) =>
      nodes.flatMap(jnode(_, "txn"))
        .filter(jnode(_, "appId").exists(_.asText() == appId))
        .map(jnode(_, "version").map(_.asLong()).getOrElse(-1L))
    }.lastOption
    tail.getOrElse(base)
  }

  /** Deep physical-key loss screen for feed windows ([[readCdf]] +
    * [[readAppends]]): the (nested) column paths an era schema carries
    * whose PHYSICAL key the end schema lost. A loss means the window
    * crosses a column DROP (DROP COLUMN, REPLACE COLUMNS, a
    * REPLACE-TABLE schema overwrite) — rendering those eras' rows
    * under the end schema would silently omit data they carried, so
    * feed readers refuse (delta-spark blocks batch CDF across
    * column-mapping schema changes for the same reason). What
    * deliberately PASSES: renames (the physical key is stable and
    * every era relabels to the current logical name — this engine's
    * pinned exact-render divergence, NestedAlterSpec), ADD COLUMNS /
    * type widening / reorders / comments / defaults (additive), and a
    * mapping UPGRADE (upgrade semantics set physicalName = the
    * current name, so keys persist). Unmapped fields key by name —
    * the identity physical name. */
  private[graft] def feedLostColumns(
      era: org.apache.spark.sql.types.StructType,
      end: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    def leaves(dt: DataType, prefix: String): Seq[String] = dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => leaves(f.dataType, prefix) match {
          case Seq() => Seq(prefix + f.name)
          case _ => leaves(f.dataType, prefix + f.name + ".")
        })
      case _ => Seq.empty
    }
    def walk(e: StructType, n: StructType, prefix: String): Seq[String] = {
      val byPhys = n.fields.map(f => physicalNameOf(f) -> f).toMap
      e.fields.toSeq.flatMap { ef =>
        val path = prefix + ef.name
        byPhys.get(physicalNameOf(ef)) match {
          case None => Seq(path)
          case Some(nf) => descend(ef.dataType, nf.dataType, path + ".")
        }
      }
    }
    def descend(ed: org.apache.spark.sql.types.DataType,
                nd: org.apache.spark.sql.types.DataType,
                prefix: String): Seq[String] = (ed, nd) match {
      case (es: StructType, ns: StructType) => walk(es, ns, prefix)
      case (es: StructType, _) =>
        // struct flattened to a scalar: every era leaf is gone
        Seq(prefix.stripSuffix(".")) ++ leaves(es, prefix)
      case (ea: ArrayType, na: ArrayType) =>
        descend(ea.elementType, na.elementType, prefix + "element.")
      case (em: MapType, nm: MapType) =>
        descend(em.keyType, nm.keyType, prefix + "key.") ++
          descend(em.valueType, nm.valueType, prefix + "value.")
      case _ => Seq.empty // scalar change: widening, not a loss
    }
    walk(era, end, "")
  }

  /** Refuse a feed window whose era schemas lost physical columns
    * relative to the end schema (see [[feedLostColumns]]). Zero cost
    * when the window carries no metaData action; when it does, the
    * pre-window era (the schema rows at the window's start render
    * under) joins the screen. */
  private def requireFeedSchemaCompatible(spark: SparkSession,
      table: String, fromVersion: Long, toVersion: Long,
      windowSchemas: Seq[String],
      end: Option[org.apache.spark.sql.types.StructType],
      what: String): Unit = {
    if (windowSchemas.isEmpty || end.isEmpty) return
    val startEra =
      if (fromVersion < 0) None
      else latestSchema(spark, table, fromVersion)
    val lost = (startEra.toSeq ++ windowSchemas.map(parseSchema))
      .flatMap(e => feedLostColumns(e, end.get)).distinct
    if (lost.nonEmpty)
      throw new IllegalStateException(
        s"$what at versions ($fromVersion, $toVersion] crosses a " +
          s"schema change that DROPPED column(s) ${lost.mkString(", ")}" +
          " (DROP COLUMN / REPLACE COLUMNS / a schema overwrite): " +
          "rendering under the current schema would silently omit " +
          "data those versions carried — read the eras separately " +
          "(feed up to the boundary version, then from it)")
  }

  /** The append-only change feed for versions in `(fromVersion,
    * toVersion]`: rows of every dataChange ADD, read with its own
    * deletion vector. Matches the real Delta streaming-source
    * contract: a commit that also REMOVES data (UPDATE/DELETE/MERGE)
    * is an error — delivering just its adds would silently misstate
    * the change — unless `skipChangeCommits`, which drops such commits
    * WHOLE (Delta's skipChangeCommits option). dataChange=false
    * commits (OPTIMIZE) never deliver. */
  def readAppends(spark: SparkSession, table: String, fromVersion: Long,
                  toVersion: Long = Long.MaxValue,
                  skipChangeCommits: Boolean = false): DataFrame = {
    val state = stateAt(spark, table,
      if (toVersion == Long.MaxValue) Long.MaxValue else toVersion)
    val declared = state.schema
    def empty = declared.fold(spark.emptyDataFrame)(s =>
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s))
    val tailV = logJsonVersions(spark, table, fromVersion + 1, toVersion)
    requireFeedWindow(spark, table, fromVersion, toVersion, tailV.map(_._1))
    if (tailV.isEmpty) return empty
    // one log scan for both the changed-version screen and the adds
    val schema = LogFile.feedSchema("version BIGINT, path STRING, " +
      "adc BOOLEAN, dv_path STRING, rdc BOOLEAN, ms STRING")
    val acts = logScan(spark, table, tailV) { (v, nodes) =>
      nodes.map { node =>
        val add = jnode(node, "add")
        LogFile.feedRow(schema, Seq(
          java.lang.Long.valueOf(v),
          add.flatMap(jnode(_, "path")).map(_.asText()).orNull,
          add.flatMap(jnode(_, "dataChange"))
            .map(b => java.lang.Boolean.valueOf(b.asBoolean())).orNull,
          add.map(rdvMarkerOfNode).orNull,
          jnode(node, "remove").flatMap(jnode(_, "dataChange"))
            .map(b => java.lang.Boolean.valueOf(b.asBoolean())).orNull,
          jnode(node, "metaData").flatMap(jnode(_, "schemaString"))
            .map(_.asText()).orNull) ++ addScanValues(add))
      }
    }
    // the streaming source rides this feed: a mid-window column DROP
    // (REPLACE COLUMNS / DROP COLUMN / schema overwrite) must refuse
    // loudly, never null-fill — same collect, no extra job
    requireFeedSchemaCompatible(spark, table, fromVersion, toVersion,
      acts.flatMap(r => Option(r.getString(5))).toSeq, declared,
      "append feed")
    val changed = acts.filter(r => !r.isNullAt(4) && r.getBoolean(4))
      .map(_.getLong(0)).toSet
    if (changed.nonEmpty && !skipChangeCommits)
      throw new IllegalStateException(
        s"$table is not append-only in versions ($fromVersion, " +
          s"$toVersion] (data-changing removes at ${changed.toSeq.sorted
            .mkString(", ")}); stream the change feed instead, or set " +
          "skipChangeCommits to drop those commits whole")
    val adds = LogFile.of(acts.filter(r => !r.isNullAt(1) &&
        !r.isNullAt(2) && r.getBoolean(2) && !changed(r.getLong(0)))
      .toIndexedSeq)
    if (adds.isEmpty) empty
    else readFilesWithDv(spark, table, adds, state)
  }

  /** The change-data files of cdc-served version `v`: the data columns
    * plus the writer-computed `_change_type`, as one scan over a
    * [[LogFileIndex]] under the table's read schema (declared types, so
    * cdc files written before a widening upcast and columns a file
    * predates null-fill; physical names on mapped tables, relabelled to
    * logical after). Partition columns live in each cdc action's
    * partitionValues, not in the files: the index types them and reads
    * a null value as null, as for table reads. */
  private def readCdcFiles(spark: SparkSession, table: String, v: Long,
      files: Seq[LogFile],
      shape: (Option[org.apache.spark.sql.types.StructType],
              Option[org.apache.spark.sql.types.StructType], SparkSession))
      : DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val (readSchema, mapped, session) = shape
    // a cdc action of a partitioned table must carry every partition
    // value: the scan null-fills columns the files lack, so a malformed
    // action (missing partitionValues key) would otherwise surface as
    // silent nulls in the feed — refuse loudly instead
    val partCols = partitionColumns(spark, table)
      .map(pc => mapped.fold(pc)(st => physicalColOf(Some(st), pc)))
    files.foreach { f =>
      val missing = partCols.filterNot(f.partitionValues.contains)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"change feed at version $v: cdc action is missing " +
            s"partitionValues for column(s) ${missing.mkString(", ")} — " +
            "malformed log entry (or the feed window spans a " +
            "partition-layout change; read the eras separately)")
    }
    val ct = StructField("_change_type", StringType)
    val df = LogFileIndex.scan(session, table, files,
      Some(StructType(readSchema.fold(Seq(ct))(_.fields.toSeq :+ ct))))
    mapped.fold(df)(st => restoreLogical(df, StructType(st.fields :+ ct)))
  }

  def readCdf(spark: SparkSession, table: String, fromVersion: Long,
              toVersion: Long = Long.MaxValue): DataFrame = {
    val state = stateAt(spark, table,
      if (toVersion == Long.MaxValue) Long.MaxValue else toVersion)
    val declared = state.schema
    val fields = declared.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
    require(!fields.exists(_.startsWith("__cdf_")),
      "table columns collide with the __cdf_ temp namespace")
    // column-mapped table: cdc-bearing commits' change-data files use
    // the physical schema exactly like the data files — resolve the
    // read shape once for every cdc-served version in the window
    lazy val cdcShape = scanShape(spark, table, state)
    def emptyFeed = {
      val base = declared.fold(spark.emptyDataFrame)(s =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), s))
      base.withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_commit_version", lit(null).cast("long"))
    }
    val tailV = logJsonVersions(spark, table, fromVersion + 1, toVersion)
    requireFeedWindow(spark, table, fromVersion, toVersion, tailV.map(_._1))
    if (tailV.isEmpty) return emptyFeed
    // ONE log scan over the window's actions (this used to be five
    // separate jobs: ops, add files, remove files, add DVs, cdc files).
    // Every log line holds one action, so the row count is unchanged.
    val schema = LogFile.feedSchema("version BIGINT, op STRING, " +
      "path STRING, adc BOOLEAN, dv_path STRING, rp STRING, rdc BOOLEAN, " +
      "cp STRING, cpv MAP<STRING, STRING>, ms STRING, csz BIGINT")
    val acts = logScan(spark, table, tailV) { (v, nodes) =>
      nodes.map { node =>
        val add = jnode(node, "add")
        val rem = jnode(node, "remove")
        val cdc = jnode(node, "cdc")
        LogFile.feedRow(schema, Seq(
          java.lang.Long.valueOf(v),
          jnode(node, "commitInfo").flatMap(jnode(_, "operation"))
            .map(_.asText()).orNull,
          add.flatMap(jnode(_, "path")).map(_.asText()).orNull,
          add.flatMap(jnode(_, "dataChange"))
            .map(b => java.lang.Boolean.valueOf(b.asBoolean())).orNull,
          add.map(rdvMarkerOfNode).orNull,
          rem.flatMap(jnode(_, "path")).map(_.asText()).orNull,
          rem.flatMap(jnode(_, "dataChange"))
            .map(b => java.lang.Boolean.valueOf(b.asBoolean())).orNull,
          cdc.flatMap(jnode(_, "path")).map(_.asText()).orNull,
          cdc.map(pvOfNode(_, "partitionValues")).orNull,
          jnode(node, "metaData").flatMap(jnode(_, "schemaString"))
            .map(_.asText()).orNull,
          cdc.flatMap(jnode(_, "size"))
            .map(n => java.lang.Long.valueOf(n.asLong())).orNull) ++
          addScanValues(add))
      }
    }
    // a metaData action inside the window that DROPPED columns makes
    // the end-schema render silently lossy — refuse (same collect, no
    // extra job; renames/adds/widenings pass, see [[feedLostColumns]])
    requireFeedSchemaCompatible(spark, table, fromVersion, toVersion,
      acts.flatMap(r => Option(r.getString(9))).toSeq, declared,
      "change feed")
    val ops = acts.flatMap(r =>
      Option(r.getString(1)).map(r.getLong(0) -> _)).toMap
    val addRows = acts.filter(r =>
      !r.isNullAt(2) && !r.isNullAt(3) && r.getBoolean(3))
    // adds carry their own DV; a removed path's prior content is read
    // under the DV in effect BEFORE the commit (resolved lazily from
    // the v-1 snapshot, metadata-scale)
    val addFiles = addRows.map(r => (r.getLong(0), r.getString(2)))
      .zip(LogFile.of(addRows.toIndexedSeq)).toMap
    val addDv = addFiles.view.mapValues(_.dv).toMap
    val adds: Map[Long, Seq[String]] = addRows.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(2)).toSeq).toMap
    val removes: Map[Long, Seq[String]] = acts.filter(r =>
        !r.isNullAt(5) && !r.isNullAt(6) && r.getBoolean(6))
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(5)).toSeq).toMap
    // Delta CDF rule: a commit that carries cdc actions serves its
    // change feed FROM those files (they hold the authoritative
    // _change_type rows a real writer computed — e.g. MERGE pre/post
    // pairs); the add/remove multiset reconstruction is only the
    // fallback for commits without them
    val cdcFiles: Map[Long, Seq[LogFile]] =
      acts.filter(!_.isNullAt(7)).groupBy(_.getLong(0)).view
        .mapValues(_.map(r => LogFile(r.getString(7), None,
          if (r.isNullAt(10)) None else Some(r.getLong(10)), None,
          if (r.isNullAt(8)) Map.empty[String, String]
          else r.getMap[String, String](8).toMap)).toSeq).toMap
    if (adds.isEmpty && removes.isEmpty && cdcFiles.isEmpty)
      return emptyFeed
    val f = fs(spark, table)
    def requireFeedPaths(ps: Iterable[String], what: String): Unit = {
      val gone = ps.toSeq.distinct
        .filterNot(p => f.exists(new Path(resolvePath(table, p))))
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"change feed at versions ($fromVersion, $toVersion] references " +
            s"${gone.length} vacuumed $what (first: ${gone.head}); the " +
            "consumer checkpoint predates the table's retention — reset it")
    }
    def requireDvRefs(rs: Iterable[String]): Unit = {
      val gone = rs.toSeq.distinct.filterNot(dvRefExists(f, table, _))
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"change feed at versions ($fromVersion, $toVersion] references " +
            s"${gone.length} vacuumed deletion vector(s); the consumer " +
            "checkpoint predates the table's retention — reset it")
    }
    // cdc-served versions read ONLY their cdc files; the add/remove
    // paths of other versions (and the cdc paths themselves) must
    // still exist on disk
    val cdcServed = cdcFiles.keySet
    requireFeedPaths(
      cdcFiles.values.flatten.map(_.path) ++
        (adds.toSeq ++ removes.toSeq).collect {
          case (v, ps) if !cdcServed(v) => ps }.flatten,
      "file(s)")
    // the masks the window's adds name must also still exist
    requireDvRefs(addDv.collect {
      case ((v, _), dv) if !cdcServed(v) => dv }.flatten)
    val parts = (adds.keySet ++ removes.keySet ++ cdcServed)
        .toSeq.sorted.map { v =>
      val a = adds.getOrElse(v, Seq.empty)
      val r = removes.getOrElse(v, Seq.empty)
      lazy val prior: Map[String, LogFile] = LogFile.ofFrame(
        snapshotFilesAt(spark, table, v - 1))
        .map(lf => lf.path -> lf).toMap
      def readAdds(paths: Seq[String]) = readFilesWithDv(spark, table,
        paths.map(p => addFiles((v, p))), state)
      def readRems(paths: Seq[String]) = {
        // a path the prior snapshot lacks has no add to plan from: the
        // index stats it
        val files = paths.map(p =>
          prior.getOrElse(p, LogFile(p, None, None, None, Map.empty)))
        requireDvRefs(files.flatMap(_.dv))
        readFilesWithDv(spark, table, files, state)
      }
      val (preLabel, postLabel) = ops.getOrElse(v, "WRITE") match {
        case "DELETE" => ("delete", "insert")
        case "UPDATE" | "MERGE" => ("update_preimage", "update_postimage")
        case _ => ("delete", "insert")
      }
      val changed =
        if (cdcServed(v))
          readCdcFiles(spark, table, v, cdcFiles(v), cdcShape)
        else if (r.isEmpty)
          readAdds(a).withColumn("_change_type", lit("insert"))
        else {
          val cols = fields.map(col)
          val pre = readRems(r).groupBy(cols: _*)
            .agg((-count(lit(1))).as("__cdf_d"))
          val post = readAdds(a).groupBy(cols: _*)
            .agg(count(lit(1)).as("__cdf_d"))
          pre.unionByName(post)
            .groupBy(cols: _*).agg(sum(col("__cdf_d")).as("__cdf_delta"))
            .where(col("__cdf_delta") =!= 0)
            .withColumn("_change_type",
              when(col("__cdf_delta") < 0, preLabel).otherwise(postLabel))
            // a row changed k times over identical siblings repeats k×
            .withColumn("__cdf_rep",
              explode(sequence(lit(1L), abs(col("__cdf_delta")))))
            .drop("__cdf_delta", "__cdf_rep")
        }
      changed.withColumn("_commit_version", lit(v))
    }
    parts.reduce(_.unionByName(_))
  }

  /** Incremental (change-feed-style) read: rows of files added with
    * `dataChange = true` in versions (`fromVersion`, `toVersion`] —
    * the input of an incremental consumer that has already processed
    * everything up to `fromVersion`. OPTIMIZE rewrites carry
    * `dataChange = false` and are correctly invisible here. Each row is
    * tagged `_commit_version`.
    *
    * For blind appends this IS the exact change feed. DML rewrites
    * (DELETE/UPDATE/MERGE) re-add their surviving rows, so a consumer
    * of those commits sees rewritten survivors too — for row-level
    * before/after images use [[readCdf]], which diffs each commit's
    * removed vs added files down to exactly the changed rows.
    *
    * Scale: the log tail is listed driver-side (O(window), not
    * O(history)); only the window's files are read. */
  def readChanges(spark: SparkSession, table: String, fromVersion: Long,
                  toVersion: Long = Long.MaxValue): DataFrame = {
    val tailV = logJsonVersions(spark, table, fromVersion + 1, toVersion)
    requireFeedWindow(spark, table, fromVersion, toVersion, tailV.map(_._1))
    val state = stateAt(spark, table,
      if (toVersion == Long.MaxValue) Long.MaxValue else toVersion)
    val declared = state.schema
    def empty = {
      val base = declared.fold(spark.emptyDataFrame)(s =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), s))
      base.withColumn("_commit_version", lit(null).cast("long"))
    }
    if (tailV.isEmpty) return empty
    // one log scan serves both the incremental adds and the schema-loss
    // screen (metaData rows pass the relaxed filter, dropped after)
    val schema = LogFile.feedSchema(
      "path STRING, version BIGINT, dv_path STRING, ms STRING")
    val acts = logScan(spark, table, tailV) { (v, nodes) =>
      nodes.flatMap { node =>
        val add = jnode(node, "add").filter(a =>
          jnode(a, "dataChange").exists(_.asBoolean()))
        val ms = jnode(node, "metaData")
          .flatMap(jnode(_, "schemaString")).map(_.asText())
        if (add.isEmpty && ms.isEmpty) None
        else Some(LogFile.feedRow(schema, Seq(
          add.flatMap(jnode(_, "path")).map(_.asText()).orNull,
          java.lang.Long.valueOf(v),
          add.map(rdvMarkerOfNode).orNull,
          ms.orNull) ++ addScanValues(add)))
      }
    }
    // same refusal as readCdf/readAppends: a mid-window column DROP
    // makes the end-schema render silently lossy
    requireFeedSchemaCompatible(spark, table, fromVersion, toVersion,
      acts.flatMap(r => Option(r.getString(3))).toSeq, declared,
      "incremental feed")
    val changed = acts.filter(r => !r.isNullAt(0))
    if (changed.isEmpty) return empty
    // a consumer resuming from before a VACUUM horizon would read files
    // that no longer exist — fail with the actual cause, not a deep
    // FileNotFound, so the operator resets the checkpoint deliberately
    // (Delta guards the same case with a retention window)
    val f = fs(spark, table)
    val gone = (changed.map(_.getString(0))
        .filterNot(p => f.exists(new Path(resolvePath(table, p)))) ++
      changed.collect { case r if !r.isNullAt(2) => r.getString(2) }
        .filterNot(d => dvRefExists(f, table, d)))
      .distinct
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"change feed at versions (${fromVersion}, $toVersion] references " +
          s"${gone.length} vacuumed file/sidecar path(s) (first: " +
          s"${gone.head}); the consumer checkpoint predates the table's " +
          "retention — reset it")
    // DV-bearing adds deliver their SURVIVING rows — the same
    // "rewrites re-deliver survivors" contract documented for CoW DML
    changed.groupBy(_.getLong(1)).toSeq.sortBy(_._1).map { case (v, rows) =>
      readFilesWithDv(spark, table,
        LogFile.of(rows.toIndexedSeq), state)
        .withColumn("_commit_version", lit(v))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}

/** Executor-side add-action rendering for the distributed checkpoint
  * bulk — its own (stateless) Serializable holder so the Spark closure
  * captures THIS object, never the [[MiniDelta]] singleton, whose memo
  * caches are not serializable. The body resolves `MiniDelta`
  * statically at run time on each executor. */
private[graft] object CheckpointAddLine extends Serializable {
  def of(r: org.apache.spark.sql.Row): String =
    MiniDelta.checkpointAddLine(r)
}
