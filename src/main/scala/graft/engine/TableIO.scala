package graft.engine

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** Partition-atomic table commits on plain Parquet (SURVEY §7.1, §7.5 risk
  * 4) — the local strand-in for an Iceberg snapshot commit, so the swap to an
  * Iceberg catalog is config-only at cluster deploy time.
  *
  * Semantics of [[writePartitionsAtomic]]:
  *   1. the frame is written (Hive layout, `partitionCol=value` dirs) into a
  *      hidden `.staging-*` dir on the SAME filesystem as the table;
  *   2. each staged partition directory is swapped into place with renames —
  *      atomic on POSIX and HDFS — so a concurrent reader sees either the
  *      old complete partition or the new complete partition, never a mix
  *      and never partial files;
  *   3. partitions NOT present in the frame are never touched (the write-side
  *      contract ledger resume depends on, reference manager.go:312-354);
  *   4. a crash before step 2 leaves the table untouched (staging is
  *      invisible to readers: Spark ignores dot/underscore dirs); a crash
  *      inside one partition's swap leaves at most that partition's previous
  *      files in its `.trash-*` sibling, restored by [[recoverTrash]].
  *
  * The replace-existing swap is two renames (dest → trash, staged → dest);
  * the window between them is metadata-only. True single-rename atomicity
  * holds for brand-new partitions — the common case of an append-mostly
  * crawl table.
  *
  * **Object stores**: rename is NOT atomic (it is a copy+delete) on
  * S3/GCS/ABFS-style stores, so this commit scheme is only correct on
  * rename-atomic filesystems (POSIX, HDFS, viewfs). [[writePartitionsAtomic]]
  * REFUSES object-store URIs up front with a pointer to the Iceberg backend
  * (whose snapshot commit is the object-store-correct equivalent) — failing
  * fast beats silently losing the atomicity the ledger depends on.
  */
object TableIO {

  /** URI schemes whose rename is copy+delete, not an atomic metadata op.
    * private[graft]: StreamCompact's staged-rename commit shares the same
    * atomicity precondition and must refuse the same schemes.
    */
  private[graft] val ObjectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos")

  private[graft] def requireRenameAtomicFs(p: Path): Unit = {
    val scheme = Option(p.toUri.getScheme).getOrElse("file").toLowerCase
    require(!ObjectStoreSchemes.contains(scheme),
      s"TableIO's rename-swap commit is not atomic on '$scheme://' object " +
        "stores — set spark.graft.tableio.commitMode=manifest (write-once " +
        "versioned manifest commits, readers via TableIO.readTable) or " +
        "deploy the table as an Iceberg catalog table there (snapshot commit)")
  }

  /** Spark conf selecting the commit scheme: `rename` (default — partition
    * dirs swapped in place, plain `spark.read.parquet(table)` readers) or
    * `manifest` (immutable snapshot dirs + one `_manifest.json` pointer
    * written as a single PUT — the atomic primitive object stores do have;
    * readers resolve via [[readTable]]).
    */
  val CommitModeConf = "spark.graft.tableio.commitMode"

  /** Manifest files are VERSIONED AND IMMUTABLE: each commit creates
    * `_manifest-<zero-padded version>.json` under a fresh name and readers
    * resolve the highest-numbered COMPLETE one (a `"complete":true`
    * terminator is the last thing written, so a torn write is structurally
    * distinguishable and skipped). This is the only publication scheme
    * that is crash-safe on BOTH filesystem families: overwrite-rename is
    * delete-then-rename inside Hadoop's own AbstractFileSystem (verified
    * against hadoop-client-api — a crash between the two leaves NO
    * manifest), and overwrite-create truncates before writing (a reader or
    * crash mid-write sees a partial file). Write-once names have neither
    * window; the previous version keeps serving readers until the new one
    * is complete. Commits prune versions older than the previous one (one
    * version of reader grace, same contract as snapshot dirs).
    */
  private val ManifestPrefix = "_manifest-"

  private def manifestFileName(version: Long): String =
    f"$ManifestPrefix$version%020d.json"

  private def manifestVersionOf(name: String): Option[Long] =
    if (!name.startsWith(ManifestPrefix) || !name.endsWith(".json")) None
    else name.substring(ManifestPrefix.length, name.length - 5).toLongOption

  /** Write `df` into `table`, replacing exactly the partitions present in
    * `df` and leaving every other partition byte-untouched. Returns the
    * decoded partition values that were committed.
    *
    * `computed`: when given, the set of partition VALUES this run evaluated.
    * Any computed partition with NO rows in `df` (its result is now empty)
    * has its existing directory deleted — without this, a partition whose
    * violations disappeared between runs would silently keep the previous
    * run's stale rows. Partitions outside `computed` are never touched.
    * Note the empty-partition delete is not staged through trash (there is
    * no new data to swap in); a crash mid-delete can leave a partial stale
    * dir, which the re-run's delete finishes — under the ledger that
    * partition is still `pending`, so no reader trusts it meanwhile.
    */
  def writePartitionsAtomic(
      df: DataFrame,
      table: String,
      partitionCol: String = "partition",
      computed: Option[Seq[String]] = None): Seq[String] =
    committerFor(df.sparkSession).writePartitions(df, table, partitionCol, computed)

  /** Resolve the configured [[TableCommitter]] — the ONE place
    * [[CommitModeConf]] is interpreted. An unknown value fails loudly
    * (it used to silently mean `rename`, which would quietly violate the
    * commit discipline the operator thought they configured).
    */
  def committerFor(spark: org.apache.spark.sql.SparkSession): TableCommitter =
    spark.conf.get(CommitModeConf, "rename") match {
      case "rename"   => RenameCommitter
      case "manifest" => ManifestCommitter
      case "iceberg"  => new IcebergCommitter
      case other => throw new IllegalArgumentException(
        s"unknown $CommitModeConf value '$other' (rename|manifest|iceberg)")
    }

  /** The rename-swap commit (see the object scaladoc). */
  private[engine] def writePartitionsRename(
      df: DataFrame,
      table: String,
      partitionCol: String,
      computed: Option[Seq[String]]): Seq[String] = {
    val spark = df.sparkSession
    val tablePath = new Path(table)
    requireRenameAtomicFs(tablePath)
    val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(tablePath)
    // MODE-SWITCH GUARD (mirror of the manifest-side one): a rename-mode
    // write into a manifest table puts data where manifest readers never
    // look, while readTable keeps serving the stale manifest — both sides
    // silently wrong. Fail loudly instead. Keyed on a COMPLETE manifest —
    // the readers' own notion of "is a manifest table" — so a lone torn
    // file from a crashed first manifest attempt (where readTable already
    // falls back to the plain layout) does not block recovery-by-revert.
    require(!hasCompleteManifest(fs, tablePath),
      s"table $table is manifest-committed (has a complete _manifest " +
        "file) but the commit mode is 'rename' — readers resolving the " +
        "manifest would never see this write. Set " +
        "spark.graft.tableio.commitMode=manifest for this session or " +
        "migrate the table to the rename layout")
    recoverTrash(spark, table, partitionCol)
    // a crash during a previous run's staging write leaves its (invisible)
    // .staging dir behind — reclaim the disk before staging anew. Single
    // writer per table is this scheme's standing assumption (as with the
    // ledger), so any existing staging dir is dead.
    fs.listStatus(tablePath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".staging-"))
      .foreach(s => fs.delete(s.getPath, true))
    val stagingName = s".staging-${java.util.UUID.randomUUID()}"
    val staging = new Path(tablePath, stagingName)
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(staging.toString)
    try {
      val staged = fs.listStatus(staging)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
      val committed = staged.map { st =>
        val name = st.getPath.getName
        val dest = new Path(tablePath, name)
        val trash = new Path(tablePath, s".trash-$stagingName-$name")
        if (fs.exists(dest) && !fs.rename(dest, trash))
          throw new IOException(s"cannot stage out old partition $dest")
        if (!fs.rename(st.getPath, dest)) {
          // roll the old data back before failing — table stays consistent
          if (fs.exists(trash)) fs.rename(trash, dest)
          throw new IOException(s"cannot commit partition $dest")
        }
        fs.delete(trash, true)
        ExternalCatalogUtils.unescapePathName(
          name.substring(partitionCol.length + 1))
      }
      // computed-but-empty partitions: their previous rows are stale — drop
      computed.foreach { all =>
        val committedSet = committed.toSet
        all.filterNot(committedSet).foreach { p =>
          val dir = new Path(tablePath,
            s"$partitionCol=${ExternalCatalogUtils.escapePathName(p)}")
          if (fs.exists(dir)) fs.delete(dir, true)
        }
      }
      committed.toSeq.sorted
    } finally {
      fs.delete(staging, true)
    }
  }

  // ------------------------------------------------------------------
  // Manifest-pointer commit mode (object-store-correct)
  // ------------------------------------------------------------------

  /** The manifest-pointer commit: data lands in IMMUTABLE snapshot dirs
    * (`.snap-<uuid>/partition=X/`), and one small `_manifest.json` maps each
    * live partition value to the snapshot dir holding its current files.
    * A commit = write new snapshot dirs + write ONE new manifest; the
    * manifest write is the only atomic primitive required, and a single-key
    * PUT is exactly what object stores guarantee. Unchanged partitions keep
    * their old pointers (zero data movement, zero renames of data files —
    * rename-free by construction, so copy+delete rename semantics cannot
    * break atomicity); computed-but-empty partitions are dropped from the
    * manifest (the delete semantics of the rename path). A crash before the
    * manifest write leaves readers on the previous manifest — the table
    * never shows a partial commit. Superseded snapshot dirs become garbage
    * collected by [[vacuum]] (run it after in-flight readers drain — the
    * same grace contract as Iceberg's expire_snapshots).
    *
    * Readers use [[readTable]] (plain `spark.read.parquet(table)` sees no
    * data — snapshot dirs are dot-prefixed precisely so half-written ones
    * are invisible). This is the demonstration-grade stand-in for an
    * Iceberg snapshot commit; at production scale prefer Iceberg, which
    * adds file-level manifests and concurrent-writer conflict detection.
    */
  private[engine] def writePartitionsManifest(
      df: DataFrame,
      table: String,
      partitionCol: String,
      computed: Option[Seq[String]]): Seq[String] = {
    val spark = df.sparkSession
    val tablePath = new Path(table)
    val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(tablePath)
    // ONE listing pass feeds everything: the mode-switch guard, prior
    // entries (newest complete manifest), the next version (max over ALL
    // manifest files — torn ones included, so a crashed writer's file can
    // never collide), and the prune threshold (strictly below the newest
    // complete BEFORE this commit, so the previous complete version and
    // anything above survive as reader grace; torn leftovers get pruned
    // one commit later).
    val rootListing = fs.listStatus(tablePath)
    val manifests = manifestsFrom(rootListing)
    val newestComplete = manifests.iterator
      .flatMap { case (v, p) => readIfComplete(fs, v, p).map(v -> _) }
      .nextOption()
    // MODE-SWITCH GUARD: committing a manifest over a rename-mode table
    // would silently hide every pre-switch partition (prior = empty), with
    // the ledger still claiming them done. Fail loudly; migration is a
    // one-off rewrite, not an implicit flag flip. Keyed on a COMPLETE
    // manifest, same as the readers.
    val renameModeDirs = rootListing
      .exists(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
    require(!renameModeDirs || newestComplete.isDefined,
      s"table $table holds rename-mode partition directories but " +
        "commitMode=manifest is set — a manifest commit here would hide " +
        "all existing partitions from readers. Rewrite the table under " +
        "manifest mode (read with spark.read.parquet, write to a fresh " +
        "dir) or unset the commit mode for this table")
    val prior = newestComplete.map(t => parseEntries(t._2)).getOrElse(Map.empty)
    val snapName = s".snap-${java.util.UUID.randomUUID()}"
    val snap = new Path(tablePath, snapName)
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(snap.toString)
    val staged =
      if (!fs.exists(snap)) Array.empty[String]
      else fs.listStatus(snap)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
        .map(_.getPath.getName)
    val committed = staged.map(n =>
      ExternalCatalogUtils.unescapePathName(n.substring(partitionCol.length + 1)))
    val emptyComputed = computed.getOrElse(Seq.empty).toSet -- committed
    val entries = (prior -- emptyComputed) ++ committed.map(_ -> snapName)
    val nextVersion = math.max(manifests.headOption.map(_._1 + 1).getOrElse(0L), 0L)
    writeManifest(fs, tablePath, entries, df.schema, nextVersion,
      pruneBelow = newestComplete.map(_._1).getOrElse(Long.MinValue),
      manifests = manifests)
    committed.toSeq.sorted
  }

  /** Pre-versioned single-file manifest name (first manifest revision).
    * Still READ — as version -1 — so upgraded tables keep their data:
    * without this, the first post-upgrade commit would silently drop every
    * prior partition and a vacuum would delete their snapshots outright.
    * The file is pruned like any superseded version once two versioned
    * commits exist.
    */
  private val LegacyManifestName = "_manifest.json"

  /** Whether readers would resolve this as a manifest table (at least one
    * COMPLETE manifest exists — torn leftovers alone do not count, exactly
    * as readTable's fallback treats them).
    */
  private def hasCompleteManifest(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: Path): Boolean =
    listManifests(fs, tablePath)
      .exists { case (v, p) => readIfComplete(fs, v, p).isDefined }

  /** The manifest files in a directory listing, (version, path), newest
    * first; the legacy unversioned file participates as version -1. The
    * ONE place the manifest-name convention is interpreted.
    */
  private def manifestsFrom(
      listing: Array[org.apache.hadoop.fs.FileStatus]): Seq[(Long, Path)] =
    listing.flatMap { s =>
      val n = s.getPath.getName
      if (n == LegacyManifestName) Some(-1L -> s.getPath)
      else manifestVersionOf(n).map(_ -> s.getPath)
    }.sortBy(-_._1).toSeq

  /** Every manifest file of the table, (version, path), newest first. */
  private def listManifests(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: Path): Seq[(Long, Path)] =
    if (!fs.exists(tablePath)) Seq.empty
    else manifestsFrom(fs.listStatus(tablePath))

  /** The file's JSON when it is a COMPLETE manifest; None for torn writes
    * (missing `"complete":true` terminator; the legacy format is checked
    * structurally — it predates the terminator) and for files deleted
    * between listing and reading (a concurrent writer's prune — skip and
    * fall back to an older version rather than crash the reader).
    *
    * ONLY FileNotFound is swallowed: any other read error (throttling,
    * network, permissions) must PROPAGATE — treating a transiently
    * unreadable complete manifest as "torn" would make vacuum see an empty
    * live set (deleting live snapshots) and make a commit build `prior`
    * from a stale version (silently dropping partitions).
    */
  private def readIfComplete(fs: org.apache.hadoop.fs.FileSystem,
      version: Long, p: Path): Option[String] =
    try {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      val json = new String(buf, "UTF-8")
      val ok =
        if (version < 0) json.trim.endsWith("}")
        else json.trim.endsWith("\"complete\":true}")
      if (ok) Some(json) else None
    } catch { case _: java.io.FileNotFoundException => None }

  /** Newest COMPLETE manifest's (version, JSON); None when the table has
    * none. Torn/incomplete versions (a crashed write) are skipped, falling
    * back to the previous version.
    */
  private def newestManifest(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[(Long, String)] = {
    val tablePath = new Path(table)
    val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A reader can list versions and then lose ALL of them to a concurrent
    // writer's prunes before opening any (each read hits the swallowed
    // FileNotFound). Listed-but-none-readable therefore means STALE
    // LISTING, not "no manifest" — falling through to a plain parquet read
    // would crash on a healthy table. Re-list; newer complete versions
    // exist whenever pruning happened.
    var attempt = 0
    while (attempt < 5) {
      val listed = listManifests(fs, tablePath)
      val resolved = listed.iterator
        .flatMap { case (v, p) => readIfComplete(fs, v, p).map(v -> _) }
        .nextOption()
      if (resolved.isDefined || listed.isEmpty) return resolved
      attempt += 1
    }
    None // persistent torn-only state: genuinely no complete manifest
  }

  /** Raw manifest JSON, None when the table has no manifest. */
  private def manifestJson(
      spark: org.apache.spark.sql.SparkSession, table: String): Option[String] =
    newestManifest(spark, table).map(_._2)

  private def unq(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** The body of a JSON string literal: runs of plain characters and
    * backslash escapes, all quantifiers possessive, so java.util.regex
    * matches it iteratively. The alternation form `(?:[^"\\]|\\.)*`
    * recurses once per character and overflows the stack on a manifest's
    * escaped schema string.
    */
  private val JsonStringBody = """[^"\\]*+(?:\\.[^"\\]*+)*+"""

  private[engine] def parseEntries(json: String): Map[String, String] = {
    val pair = s""""($JsonStringBody)"\\s*:\\s*"($JsonStringBody)"""".r
    pair.findAllMatchIn(json)
      .map(m => (unq(m.group(1)), unq(m.group(2))))
      .filter(_._2.startsWith(".snap-")) // skip header fields (schema etc.)
      .toMap
  }

  private[engine] def parseSchema(json: String): Option[org.apache.spark.sql.types.StructType] = {
    val m = s""""schema"\\s*:\\s*"($JsonStringBody)"""".r.findFirstMatchIn(json)
    m.flatMap { g =>
      try Some(org.apache.spark.sql.types.DataType.fromJson(unq(g.group(1)))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Whether readers resolve this path as a manifest-committed table (a
    * COMPLETE manifest exists — lone torn leftovers do not count, matching
    * readTable's own fallback).
    */
  def isManifestTable(spark: org.apache.spark.sql.SparkSession,
      table: String): Boolean = {
    val tablePath = new Path(table)
    val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(tablePath) && hasCompleteManifest(fs, tablePath)
  }

  /** The partition VALUES a table currently serves, in either commit mode:
    * manifest keys when a complete manifest exists, hive `partitionCol=`
    * directory names otherwise. The table-layer primitive for full-replace
    * semantics (callers need not know how either mode records partitions).
    */
  def livePartitions(spark: org.apache.spark.sql.SparkSession, table: String,
      partitionCol: String = "partition"): Seq[String] =
    committerFor(spark).livePartitions(spark, table, partitionCol)

  /** Path-based partition enumeration (manifest keys, else hive dirs). */
  private[engine] def livePartitionsLocal(
      spark: org.apache.spark.sql.SparkSession, table: String,
      partitionCol: String = "partition"): Seq[String] = {
    val entries = readManifest(spark, table)
    if (entries.nonEmpty) return entries.keys.toSeq.sorted
    hivePartitions(spark, table, partitionCol)
  }

  /** Hive-layout partition values (`partitionCol=` dir names), sorted. */
  private[engine] def hivePartitions(spark: org.apache.spark.sql.SparkSession,
      table: String, partitionCol: String): Seq[String] = {
    val tablePath = new Path(table)
    val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tablePath)) return Seq.empty
    fs.listStatus(tablePath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
      .map(s => ExternalCatalogUtils.unescapePathName(
        s.getPath.getName.substring(partitionCol.length + 1)))
      .toSeq.sorted
  }

  /** Current partition → snapshot-dir mapping; empty when no manifest. */
  private[engine] def readManifest(
      spark: org.apache.spark.sql.SparkSession, table: String): Map[String, String] =
    manifestJson(spark, table).map(parseEntries).getOrElse(Map.empty)

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: Path, entries: Map[String, String],
      schema: org.apache.spark.sql.types.StructType,
      nextVersion: Long, pruneBelow: Long,
      manifests: Seq[(Long, Path)]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = entries.toSeq.sortBy(_._1)
      .map { case (p, d) => s"${q(p)}:${q(d)}" }
      // the schema rides in the manifest so an all-partitions-empty table
      // (healthiest state a violations table can be in) still reads back
      // as an empty frame with the right columns instead of a failed
      // schema inference over dot-hidden dirs. `"complete":true` is the
      // LAST token written — the torn-write detector readers key on.
      .mkString(s"""{"version":1,"schema":${q(schema.json)},"entries":{""",
        ",", """},"complete":true}""")
    // write-once name: no overwrite, no rename, no truncation window — see
    // ManifestPrefix scaladoc. nextVersion is max over ALL manifest files
    // (torn included), so a crashed writer's leftover cannot collide. A
    // create collision here therefore means a CONCURRENT WRITER published
    // since our listing — the one scenario that must FAIL LOUDLY: bumping
    // past it would publish entries built from a stale `prior`, silently
    // dropping the other writer's partitions for the next vacuum to
    // delete. Single writer per table is the standing assumption; its
    // violation surfaces as this error, never as quiet data loss.
    val out = fs.create(new Path(tablePath, manifestFileName(nextVersion)), false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    // prune strictly below the previous complete version: that version
    // stays as reader grace; the legacy -1 file goes once a versioned
    // complete manifest preceded this commit. Filtered off the listing the
    // caller already holds — nothing below pruneBelow can appear after it
    // under the single-writer assumption.
    manifests
      .filter(_._1 < pruneBelow)
      .foreach { case (_, p) => fs.delete(p, false) }
  }

  /** Read a manifest-committed table: resolve `_manifest.json`, load each
    * referenced snapshot once (grouped — one read job per snapshot, not per
    * partition) with only its LIVE partition dirs, and union. Falls back to
    * a plain parquet read when no manifest exists, so the same call reads
    * rename-mode tables too.
    */
  def readTable(spark: org.apache.spark.sql.SparkSession, table: String,
      partitionCol: String = "partition"): DataFrame =
    // commitMode=iceberg: `table` is a catalog identifier, not a path, so
    // the read goes through the configured committer like the write does
    committerFor(spark).readTable(spark, table, partitionCol)

  /** The path-based adaptive read (manifest resolution with plain-parquet
    * fallback) — shared by both local committers, conf-independent.
    */
  private[engine] def readTableLocal(spark: org.apache.spark.sql.SparkSession,
      table: String, partitionCol: String = "partition"): DataFrame = {
    val json = manifestJson(spark, table)
    if (json.isEmpty) return spark.read.parquet(table) // rename-mode table
    val entries = parseEntries(json.get)
    val schema = parseSchema(json.get)
    if (entries.isEmpty) {
      // a manifest table whose every partition is currently empty (e.g. a
      // violations table on a clean corpus): read back as an empty frame
      // with the schema the manifest recorded — a plain parquet read here
      // would fail schema inference over the dot-hidden snapshot dirs.
      // A manifest WITHOUT a parseable schema is corrupt (every writer
      // since the versioned format records one): fail naming the cause,
      // not with a zero-column frame whose UNRESOLVED_COLUMN error would
      // point at the innocent downstream query.
      return schema
        .map(s => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
        .getOrElse(throw new IllegalStateException(
          s"manifest of table $table has no entries and no parseable " +
            "schema — corrupt or pre-versioned manifest; re-commit the " +
            "table or remove its _manifest-* files to fall back to a " +
            "plain parquet read"))
    }
    val bySnap = entries.groupBy(_._2)
    bySnap.toSeq.sortBy(_._1).map { case (snapName, parts) =>
      val base = new Path(new Path(table), snapName).toString
      val dirs = parts.keys.toSeq.sorted.map(p =>
        s"$base/$partitionCol=${ExternalCatalogUtils.escapePathName(p)}")
      // basePath keeps the hive partition column in the schema. The
      // recorded schema types it as written; inferred per snapshot, a
      // snapshot whose live dirs are all dates reads `partition` as DATE
      // and its union with one holding "<global>" fails to cast.
      val reader = spark.read.option("basePath", base)
      schema.fold(reader)(reader.schema).parquet(dirs: _*)
      // allowMissingColumns: snapshots from different commits may span a
      // schema evolution (an upgrade added a column); old snapshots read
      // with nulls there instead of making the whole table unreadable
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Delete snapshot dirs referenced by NO retained manifest version and
    * older than `graceMs`. Two protections beyond "not in the current
    * manifest":
    *   - snapshots referenced by the RETAINED PREVIOUS manifest version
    *     survive (readers that resolved it mid-commit are still scanning);
    *   - an age grace (default 24 h) protects a CONCURRENT WRITER's
    *     freshly-staged snapshot that has not published its manifest yet —
    *     without it, a cron'd vacuum racing a long parquet write would
    *     delete the new data out from under the commit. Pass `graceMs = 0`
    *     only when no writer can be in flight.
    * Run on the operator's schedule once in-flight readers drain — the
    * same contract as Iceberg snapshot expiry.
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession, table: String,
      graceMs: Long = 24L * 3600 * 1000): Seq[String] =
    committerFor(spark).vacuum(spark, table, graceMs)

  /** Path-based snapshot reclamation, shared by both local committers
    * (a no-op on rename tables, which have no snapshot dirs).
    */
  private[engine] def vacuumLocal(spark: org.apache.spark.sql.SparkSession,
      table: String, graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val tablePath = new Path(table)
    val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tablePath)) return Seq.empty
    // every snapshot referenced by ANY retained, complete manifest version
    // — INCLUDING the legacy pre-versioned _manifest.json (an upgraded
    // table's only pointer; missing it here meant vacuum deleted all of
    // the table's data)
    val live: Set[String] = listManifests(fs, tablePath)
      .flatMap { case (v, p) => readIfComplete(fs, v, p) }
      .flatMap(parseEntries(_).values)
      .toSet
    val cutoff = System.currentTimeMillis() - math.max(0L, graceMs)
    fs.listStatus(tablePath)
      .filter { s =>
        // mtime == 0 means the store doesn't report one (object-store
        // prefix-inferred directories): age is UNKNOWABLE, so the grace
        // cannot clear it — treat as too-young unless the caller said
        // graceMs=0 (no writer can be in flight)
        val ageKnownAndPast =
          s.getModificationTime > 0 && s.getModificationTime <= cutoff
        s.isDirectory && s.getPath.getName.startsWith(".snap-") &&
          !live.contains(s.getPath.getName) &&
          (graceMs == 0 || ageKnownAndPast)
      }
      .map { s => fs.delete(s.getPath, true); s.getPath.getName }
      .toSeq.sorted
  }

  /** Restore partitions whose swap crashed between the two renames: a
    * `.trash-…-partition=X` dir with no live `partition=X` sibling is the
    * partition's previous (complete) data — move it back. Complete swaps
    * leave no trash (deleted in-line), so anything restorable is a crash
    * artifact. Called automatically at the start of every atomic write.
    */
  def recoverTrash(spark: org.apache.spark.sql.SparkSession, table: String,
      partitionCol: String = "partition"): Seq[String] = {
    val tablePath = new Path(table)
    val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tablePath)) return Seq.empty
    val marker = s"-$partitionCol="
    fs.listStatus(tablePath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".trash-"))
      .flatMap { st =>
        val name = st.getPath.getName
        val idx = name.indexOf(marker)
        if (idx < 0) None // unexpected layout; leave for the operator
        else {
          val partName = name.substring(idx + 1) // "<partitionCol>=X"
          val dest = new Path(tablePath, partName)
          if (!fs.exists(dest) && fs.rename(st.getPath, dest)) Some(partName)
          else { fs.delete(st.getPath, true); None } // swap completed; stale old
        }
      }
      .toSeq
  }
}

/** The default rename-swap committer (hive-layout parquet; see [[TableIO]]'s
  * object scaladoc for the commit semantics).
  */
object RenameCommitter extends TableCommitter {
  val name = "rename"
  def writePartitions(df: DataFrame, table: String,
      partitionCol: String = "partition",
      computed: Option[Seq[String]] = None): Seq[String] =
    TableIO.writePartitionsRename(df, table, partitionCol, computed)
  // the ADAPTIVE local reads, same as ManifestCommitter: a rename-mode
  // conf pointed at a manifest-layout table must resolve the manifest
  // (the static TableIO.readTable facade has always tolerated this —
  // a bare spark.read.parquet here would walk superseded snapshot dirs
  // and return duplicate/stale rows through the trait surface)
  def readTable(spark: org.apache.spark.sql.SparkSession, table: String,
      partitionCol: String = "partition"): DataFrame =
    TableIO.readTableLocal(spark, table, partitionCol)
  def livePartitions(spark: org.apache.spark.sql.SparkSession, table: String,
      partitionCol: String = "partition"): Seq[String] =
    TableIO.livePartitionsLocal(spark, table, partitionCol)
  /** Rename commits supersede in place and reclaim their crash artifacts
    * (.staging/.trash) inline, so a rename table has nothing to reclaim;
    * like the reads, this stays adaptive and vacuums a manifest-layout
    * table's superseded snapshots.
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession, table: String,
      graceMs: Long): Seq[String] =
    TableIO.vacuumLocal(spark, table, graceMs)
}

/** The object-store-safe manifest-pointer committer (immutable snapshot
  * dirs + write-once versioned manifests; see [[TableIO]] internals).
  */
object ManifestCommitter extends TableCommitter {
  val name = "manifest"
  def writePartitions(df: DataFrame, table: String,
      partitionCol: String = "partition",
      computed: Option[Seq[String]] = None): Seq[String] =
    TableIO.writePartitionsManifest(df, table, partitionCol, computed)
  def readTable(spark: org.apache.spark.sql.SparkSession, table: String,
      partitionCol: String = "partition"): DataFrame =
    TableIO.readTableLocal(spark, table, partitionCol)
  def livePartitions(spark: org.apache.spark.sql.SparkSession, table: String,
      partitionCol: String = "partition"): Seq[String] =
    TableIO.livePartitionsLocal(spark, table, partitionCol)
  def vacuum(spark: org.apache.spark.sql.SparkSession, table: String,
      graceMs: Long): Seq[String] =
    TableIO.vacuumLocal(spark, table, graceMs)
}
