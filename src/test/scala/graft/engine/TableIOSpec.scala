package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Partition-atomic commit semantics (SURVEY §7.1 TableIO / §7.5 risk 4). */
class TableIOSpec extends SparkSpec {

  import spark.implicits._

  private def table() = Files.createTempDirectory("tableio").toString

  private def frame(rows: Seq[(String, String, Long)]) =
    rows.toDF("partition", "k", "v")

  /** File names in a dir, with the Files.list stream CLOSED (it holds a
    * directory fd; leaking one per call risks EMFILE across a large suite).
    */
  private def listNames(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSet
    } finally s.close()
  }

  test("computed-but-empty partitions drop their stale dirs; uncomputed stay") {
    val t = table()
    TableIO.writePartitionsAtomic(
      frame(Seq(("a", "x", 1L), ("b", "y", 2L), ("c", "z", 3L))), t)
    // next run computed a and b, but b's result is now EMPTY (e.g. its
    // violations disappeared after the input was corrected); c not computed
    val committed = TableIO.writePartitionsAtomic(
      frame(Seq(("a", "x2", 10L))), t, computed = Some(Seq("a", "b")))
    assert(committed == Seq("a"))
    val out = spark.read.parquet(t).orderBy("partition")
      .select("partition", "k", "v").as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("a", "x2", 10L), ("c", "z", 3L)),
      s"stale b must be gone, uncomputed c untouched: $out")
  }

  test("object-store URIs are rejected up front (rename-swap is not atomic there)") {
    val e = intercept[IllegalArgumentException] {
      TableIO.writePartitionsAtomic(frame(Seq(("a", "x", 1L))), "s3a://bucket/tbl")
    }
    assert(e.getMessage.contains("Iceberg"), e.getMessage)
  }

  test("swap replaces exactly the written partitions, leaves others untouched") {
    val t = table()
    TableIO.writePartitionsAtomic(
      frame(Seq(("a", "x", 1L), ("b", "y", 2L))), t)
    val bFile = Files.list(Paths.get(t, "partition=b")).iterator().next()
    val bBytes = Files.readAllBytes(bFile)

    // rewrite only partition a with new content
    val committed = TableIO.writePartitionsAtomic(
      frame(Seq(("a", "x2", 10L))), t)
    assert(committed == Seq("a"))
    val out = spark.read.parquet(t).orderBy("partition")
      .select("partition", "k", "v").as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("a", "x2", 10L), ("b", "y", 2L)))
    // partition b byte-identical (same file, same bytes)
    assert(Files.readAllBytes(bFile).sameElements(bBytes))
    // no staging/trash residue visible or hidden
    val leftover = Files.list(Paths.get(t)).iterator()
    val names = Iterator.continually(leftover).takeWhile(_.hasNext).map(_.next().getFileName.toString).toSet
    assert(!names.exists(n => n.startsWith(".staging") || n.startsWith(".trash")), names.toString)
  }

  test("partition values needing escaping round-trip (e.g. <global>)") {
    val t = table()
    val committed = TableIO.writePartitionsAtomic(
      frame(Seq(("<global>", "g", 1L), ("2025-07-01", "d", 2L))), t)
    assert(committed == Seq("2025-07-01", "<global>"))
    val parts = spark.read.parquet(t).select("partition").distinct()
      .as[String].collect().toSet
    assert(parts == Set("<global>", "2025-07-01"))
  }

  /** Run `body` with manifest commits on. */
  private def withManifestMode()(body: => Unit): Unit = {
    spark.conf.set(TableIO.CommitModeConf, "manifest")
    try body
    finally spark.conf.unset(TableIO.CommitModeConf)
  }

  test("manifest mode: atomic swap semantics match rename mode, zero data renames") {
    withManifestMode() { // the commit path is create/list/delete only —
      val t = table() //   write-once manifest names, no rename, no overwrite
      TableIO.writePartitionsAtomic(
        frame(Seq(("a", "x", 1L), ("b", "y", 2L), ("c", "z", 3L))), t)
      // same contract as the rename path: replace a, delete computed-empty b,
      // leave uncomputed c alone
      val committed = TableIO.writePartitionsAtomic(
        frame(Seq(("a", "x2", 10L))), t, computed = Some(Seq("a", "b")))
      assert(committed == Seq("a"))
      val out = TableIO.readTable(spark, t).orderBy("partition")
        .select("partition", "k", "v").as[(String, String, Long)].collect().toSeq
      assert(out == Seq(("a", "x2", 10L), ("c", "z", 3L)), out.toString)
      // plain readers see NOTHING half-written: snapshot dirs are dot-hidden
      // and the only visible state transitions are write-once manifest files
      val visible = Files.list(Paths.get(t)).iterator()
      val names = Iterator.continually(visible).takeWhile(_.hasNext)
        .map(_.next().getFileName.toString).toSet
      assert(names.forall(n => n.startsWith(".snap-") ||
        n.startsWith("_manifest-") ||
        n.endsWith(".crc")), // Hadoop local-FS checksum sidecar, dot-hidden
        names.toString)
    }
  }

  test("RenameCommitter reads are manifest-adaptive, matching the static TableIO facade") {
    // a manifest-layout table read under a rename-mode conf: the static
    // TableIO.readTable has always resolved the manifest in this case; the
    // trait surface must agree — a bare parquet read here would walk
    // SUPERSEDED snapshot dirs and return stale duplicate rows
    val t = table()
    withManifestMode() {
      TableIO.writePartitionsAtomic(frame(Seq(("a", "x", 1L))), t)
      TableIO.writePartitionsAtomic(frame(Seq(("a", "x2", 2L))), t) // supersede
    }
    // conf is now rename (default) — both trait reads must still resolve
    val viaTrait = RenameCommitter.readTable(spark, t)
      .select("partition", "k", "v").as[(String, String, Long)].collect().toSeq
    assert(viaTrait == Seq(("a", "x2", 2L)), viaTrait.toString)
    assert(RenameCommitter.livePartitions(spark, t) == Seq("a"))
    val viaFacade = TableIO.readTable(spark, t)
      .select("partition", "k", "v").as[(String, String, Long)].collect().toSeq
    assert(viaFacade == viaTrait, "trait and facade reads disagree")
  }

  test("manifest mode: a torn manifest at maxComplete+1 is skipped AND never wedges commits") {
    withManifestMode() {
      val t = table()
      TableIO.writePartitionsAtomic(frame(Seq(("a", "v1", 1L))), t) // → version 0
      val before = TableIO.readTable(spark, t)
        .select("k").as[String].collect().toSeq
      // the REAL crash artifact: a writer died mid-write of version 1 —
      // exactly maxComplete+1, where a naive next-version computation off
      // the newest COMPLETE manifest would collide forever
      Files.write(Paths.get(t, "_manifest-00000000000000000001.json"),
        """{"version":1,"schema":"{}","entries":{"a":".snap-tor""".getBytes("UTF-8"))
      // readers skip the torn file and keep serving version 0
      assert(TableIO.readTable(spark, t)
        .select("k").as[String].collect().toSeq == before)
      // the next commit must publish ABOVE the torn file (version 2), not
      // throw FileAlreadyExistsException on it
      TableIO.writePartitionsAtomic(frame(Seq(("a", "v2", 2L))), t)
      assert(TableIO.readTable(spark, t)
        .select("k").as[String].collect().toSeq == Seq("v2"))
      val versions = listNames(Paths.get(t)).filter(_.startsWith("_manifest-"))
      assert(versions.contains("_manifest-00000000000000000002.json"), versions)
      // one more commit prunes everything below the previous complete
      // version — the torn leftover included
      TableIO.writePartitionsAtomic(frame(Seq(("a", "v3", 3L))), t)
      val after = listNames(Paths.get(t)).filter(_.startsWith("_manifest-"))
      assert(!after.contains("_manifest-00000000000000000001.json"), after)
      assert(!after.contains("_manifest-00000000000000000000.json"), after)
    }
  }

  test("manifest mode: legacy _manifest.json tables migrate without data loss") {
    withManifestMode() {
      val t = table()
      // build a table, then rewrite its pointer in the PRE-VERSIONED
      // format (one _manifest.json, no completeness terminator) — the
      // state an upgraded deployment finds on disk
      TableIO.writePartitionsAtomic(
        frame(Seq(("a", "x", 1L), ("b", "y", 2L))), t)
      val versioned = listNames(Paths.get(t)).filter(_.startsWith("_manifest-")).toSeq
      val json = new String(Files.readAllBytes(
        Paths.get(t, versioned.head)), "UTF-8")
        .replace(""","complete":true}""", "}")
      Files.write(Paths.get(t, "_manifest.json"), json.getBytes("UTF-8"))
      versioned.foreach(n => Files.delete(Paths.get(t, n)))
      // readers resolve the legacy pointer
      assert(TableIO.readTable(spark, t).count() == 2)
      // vacuum must NOT treat legacy-referenced snapshots as garbage
      assert(TableIO.vacuum(spark, t, graceMs = 0L).isEmpty,
        "vacuum deleted snapshots still referenced by the legacy manifest")
      // the first post-upgrade commit carries the legacy entries forward
      TableIO.writePartitionsAtomic(frame(Seq(("a", "x2", 10L))), t)
      val out = TableIO.readTable(spark, t).orderBy("partition")
        .select("partition", "k").as[(String, String)].collect().toSeq
      assert(out == Seq(("a", "x2"), ("b", "y")), out.toString)
    }
  }

  test("manifest mode: crash before the manifest write leaves readers on the old snapshot") {
    withManifestMode() {
      val t = table()
      TableIO.writePartitionsAtomic(frame(Seq(("a", "old", 1L))), t)
      val before = TableIO.readTable(spark, t)
        .select("k").as[String].collect().toSeq
      // simulate: a second commit crashed after writing its snapshot dir but
      // BEFORE the manifest PUT — the stray dir must be invisible to readers
      val stray = Paths.get(t, ".snap-crashed/partition=a")
      Files.createDirectories(stray)
      Files.write(stray.resolve("part-0.parquet"), Array[Byte](9, 9, 9))
      assert(TableIO.readTable(spark, t)
        .select("k").as[String].collect().toSeq == before)
      // vacuum reclaims the unreferenced snapshot, keeps the live one
      val removed = TableIO.vacuum(spark, t, graceMs = 0L)
      assert(removed == Seq(".snap-crashed"), removed.toString)
      assert(TableIO.readTable(spark, t)
        .select("k").as[String].collect().toSeq == before)
    }
  }

  test("manifest mode: superseded snapshots serve old readers until vacuum") {
    withManifestMode() {
      val t = table()
      TableIO.writePartitionsAtomic(frame(Seq(("a", "v1", 1L), ("b", "y", 2L))), t)
      val oldManifest = TableIO.readManifest(spark, t)
      TableIO.writePartitionsAtomic(frame(Seq(("a", "v2", 2L))), t)
      // a reader that resolved the OLD manifest still reads consistent v1
      // data: its snapshot dir is untouched by the new commit
      val oldSnapA = Paths.get(t, oldManifest("a"), "partition=a")
      assert(Files.exists(oldSnapA), "old snapshot deleted mid-flight")
      // current readers see v2 + untouched b (pointer carried forward)
      val out = TableIO.readTable(spark, t).orderBy("partition")
        .select("partition", "k").as[(String, String)].collect().toSeq
      assert(out == Seq(("a", "v2"), ("b", "y")))
      // after readers drain: vacuum drops only fully-superseded snapshots;
      // the first snapshot still carries live partition b, so it SURVIVES
      assert(TableIO.vacuum(spark, t, graceMs = 0L).isEmpty)
      assert(TableIO.readTable(spark, t).count() == 2)
    }
  }

  test("manifest mode: escaped partition values round-trip through the manifest") {
    withManifestMode() {
      val t = table()
      TableIO.writePartitionsAtomic(
        frame(Seq(("<global>", "g", 1L), ("2025-07-01", "d", 2L))), t)
      val parts = TableIO.readTable(spark, t).select("partition").distinct()
        .as[String].collect().toSet
      assert(parts == Set("<global>", "2025-07-01"))
    }
  }

  test("manifest mode: hostile partition values survive the JSON+path round-trip") {
    withManifestMode() {
      val t = table()
      // quotes, backslashes, JSON-injection attempts, separators — each
      // must round-trip through q()-escaping in the manifest AND hive path
      // escaping in the snapshot dirs. (Non-ASCII is excluded: this
      // sandbox JVM's sun.jnu.encoding cannot even CREATE such paths —
      // Spark's own parquet writer fails before TableIO is reached, in
      // rename mode just the same.)
      val hostile = Seq(
        """quo"te""", """back\slash""", """inj","x":".snap-evil""",
        "a=b/c:d", " lead-and-trail ", "{json}")
      TableIO.writePartitionsAtomic(
        frame(hostile.zipWithIndex.map { case (p, i) => (p, s"k$i", i.toLong) }), t)
      val got = TableIO.readTable(spark, t)
        .select("partition").as[String].collect().toSet
      assert(got == hostile.toSet, s"lost/garbled: ${hostile.toSet -- got}")
      // no phantom snapshot entries appeared from the injection attempt
      assert(TableIO.readManifest(spark, t).keySet == hostile.toSet)
      // and a partial re-commit still targets exactly one of them
      TableIO.writePartitionsAtomic(
        frame(Seq((hostile.head, "k0b", 100L))), t)
      val after = TableIO.readTable(spark, t)
        .where(col("partition") === hostile.head)
        .select("k").as[String].collect().toSeq
      assert(after == Seq("k0b"))
      assert(TableIO.readTable(spark, t).count() == hostile.size)
    }
  }

  test("manifest mode: an all-empty commit reads back as an empty frame WITH schema") {
    withManifestMode() {
      val t = table()
      TableIO.writePartitionsAtomic(frame(Seq(("a", "x", 1L))), t)
      // the healthiest state a violations table reaches: every computed
      // partition now empty → manifest has zero entries. Pre-fix this fell
      // through to a plain parquet read over dot-hidden dirs and threw.
      TableIO.writePartitionsAtomic(frame(Seq.empty[(String, String, Long)]),
        t, computed = Some(Seq("a")))
      val out = TableIO.readTable(spark, t)
      assert(out.count() == 0)
      assert(out.columns.toSeq == Seq("partition", "k", "v"), out.columns.toSeq)
    }
  }

  test("manifest mode: a 64 KB escaped schema string parses on a 256 KB stack") {
    withManifestMode() {
      val t = table()
      val wide = spark.range(1).select(lit("a").as("partition") +:
        (0 until 700).map(i => lit("x").as(f"a_column_with_a_rather_long_name_$i%04d")): _*)
      TableIO.writePartitionsAtomic(wide, t)
      val manifest = listNames(Paths.get(t)).filter(_.startsWith("_manifest-")).toSeq
      assert(manifest.size == 1, manifest)
      val json = new String(Files.readAllBytes(Paths.get(t, manifest.head)), "UTF-8")
      assert(json.length >= 64 * 1024, json.length)
      // a backtracking regex recurses once per character and overflows
      var parsed: Either[Throwable, (Option[org.apache.spark.sql.types.StructType],
        Map[String, String])] = null
      val small = new Thread(null, () => parsed =
        try Right((TableIO.parseSchema(json), TableIO.parseEntries(json)))
        catch { case e: Throwable => Left(e) }, "small-stack", 256L * 1024)
      small.start()
      small.join()
      val (schema, entries) = parsed.fold(e => fail(s"parse failed: $e"), identity)
      assert(schema.contains(wide.schema))
      assert(entries.keySet == Set("a") && entries("a").startsWith(".snap-"), entries)
    }
  }

  test("mode-switch guards: manifest-over-rename and rename-over-manifest both fail loudly") {
    // manifest commit into a rename-layout table would hide every existing
    // partition (prior = empty) while the ledger still says done
    val t1 = table()
    TableIO.writePartitionsAtomic(frame(Seq(("a", "x", 1L))), t1) // rename mode
    withManifestMode() {
      val e = intercept[IllegalArgumentException] {
        TableIO.writePartitionsAtomic(frame(Seq(("b", "y", 2L))), t1)
      }
      assert(e.getMessage.contains("rename-mode partition directories"), e.getMessage)
    }
    // and the reverse: a rename write into a manifest table lands where
    // manifest readers never look
    val t2 = table()
    withManifestMode() {
      TableIO.writePartitionsAtomic(frame(Seq(("a", "x", 1L))), t2)
    }
    val e2 = intercept[IllegalArgumentException] {
      TableIO.writePartitionsAtomic(frame(Seq(("b", "y", 2L))), t2)
    }
    assert(e2.getMessage.contains("manifest-committed"), e2.getMessage)
    // both tables still read correctly in their own mode
    assert(spark.read.parquet(t1).count() == 1)
    assert(TableIO.readTable(spark, t2).count() == 1)
  }

  test("readTable falls back to a plain parquet read on rename-mode tables") {
    val t = table()
    TableIO.writePartitionsAtomic(frame(Seq(("a", "x", 1L))), t)
    assert(TableIO.readTable(spark, t).count() == 1)
  }

  test("crash between the two swap renames is recovered from trash") {
    val t = table()
    TableIO.writePartitionsAtomic(frame(Seq(("a", "old", 1L))), t)
    // simulate: dest moved to trash, then crash (staged data lost with the job)
    val dir = Paths.get(t)
    Files.move(dir.resolve("partition=a"),
      dir.resolve(".trash-.staging-dead-partition=a"))
    assert(!Files.exists(dir.resolve("partition=a")))
    val restored = TableIO.recoverTrash(spark, t)
    assert(restored == Seq("partition=a"))
    val out = spark.read.parquet(t).select("k").as[String].collect().toSeq
    assert(out == Seq("old"))
  }

  test("recoverTrash honors a non-default partition column") {
    val t = table()
    TableIO.writePartitionsAtomic(
      Seq(("a", "old", 1L)).toDF("part", "k", "v"), t, partitionCol = "part")
    val dir = Paths.get(t)
    Files.move(dir.resolve("part=a"), dir.resolve(".trash-.staging-dead-part=a"))
    val restored = TableIO.recoverTrash(spark, t, partitionCol = "part")
    assert(restored == Seq("part=a"))
    assert(spark.read.parquet(t).count() == 1)
  }

  test("orphaned staging dirs from a crashed write are reclaimed by the next write") {
    val t = table()
    TableIO.writePartitionsAtomic(frame(Seq(("a", "x", 1L))), t)
    val dir = Paths.get(t)
    val orphan = dir.resolve(".staging-deadbeef")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk.parquet"), Array[Byte](9, 9))
    TableIO.writePartitionsAtomic(frame(Seq(("b", "y", 2L))), t)
    assert(!Files.exists(orphan), "dead staging dir not reclaimed")
    assert(spark.read.parquet(t).count() == 2)
  }

  // ---- TableCommitter trait contract: the SAME assertions against both
  // local committers, resolved exactly as production resolves them
  // (committerFor + CommitModeConf) — the swappable surface behind the
  // "config-only" table-layer claim.
  for (mode <- Seq("rename", "manifest"))
    test(s"committer contract [$mode]: replace-exactly, computed-empty delete, enumeration, vacuum") {
      val t = table()
      spark.conf.set(TableIO.CommitModeConf, mode)
      try {
        val c = TableIO.committerFor(spark)
        assert(c.name == mode)
        c.writePartitions(frame(Seq(
          ("a", "x", 1L), ("b", "y", 2L), ("c", "z", 3L), ("<global>", "g", 4L))), t)
        val committed = c.writePartitions(
          frame(Seq(("a", "x2", 10L))), t, computed = Some(Seq("a", "b")))
        assert(committed == Seq("a"))
        val out = c.readTable(spark, t).orderBy("partition")
          .select("partition", "k", "v").as[(String, String, Long)].collect().toSeq
        assert(out == Seq(("<global>", "g", 4L), ("a", "x2", 10L), ("c", "z", 3L)),
          s"[$mode] $out")
        assert(c.livePartitions(spark, t) == Seq("<global>", "a", "c"))
        c.vacuum(spark, t, 0L) // callable in both modes; must not lose data
        assert(c.readTable(spark, t).count() == 3)
      } finally spark.conf.unset(TableIO.CommitModeConf)
    }

  test("iceberg committer is reflection-gated: absent runtime fails precisely, at use") {
    assert(!IcebergCommitter.available,
      "this sandbox has no iceberg runtime jar — the gate must see that")
    spark.conf.set(TableIO.CommitModeConf, "iceberg")
    try {
      val c = TableIO.committerFor(spark) // resolution succeeds; gate is at use
      assert(c.name == "iceberg")
      val e = intercept[IllegalArgumentException] {
        c.writePartitions(frame(Seq(("a", "x", 1L))), "cat.db.t")
      }
      assert(e.getMessage.contains("iceberg-spark-runtime"), e.getMessage)
      // the static facade routes through the same gate
      val e2 = intercept[IllegalArgumentException] {
        TableIO.writePartitionsAtomic(frame(Seq(("a", "x", 1L))), "cat.db.t")
      }
      assert(e2.getMessage.contains("iceberg-spark-runtime"), e2.getMessage)
    } finally spark.conf.unset(TableIO.CommitModeConf)
  }

  test("unknown commit mode fails loudly instead of silently meaning rename") {
    spark.conf.set(TableIO.CommitModeConf, "icebergg")
    try {
      val e = intercept[IllegalArgumentException] {
        TableIO.writePartitionsAtomic(frame(Seq(("a", "x", 1L))), table())
      }
      assert(e.getMessage.contains("unknown"), e.getMessage)
    } finally spark.conf.unset(TableIO.CommitModeConf)
  }

  test("completed swap's stale trash is discarded, not restored") {
    val t = table()
    TableIO.writePartitionsAtomic(frame(Seq(("a", "new", 2L))), t)
    // simulate: crash AFTER the new data landed but before trash delete
    val dir = Paths.get(t)
    Files.createDirectories(dir.resolve(".trash-.staging-dead-partition=a"))
    Files.write(dir.resolve(".trash-.staging-dead-partition=a/part-0.parquet"),
      Array[Byte](1, 2, 3))
    val restored = TableIO.recoverTrash(spark, t)
    assert(restored.isEmpty)
    assert(!Files.exists(dir.resolve(".trash-.staging-dead-partition=a")))
    val out = spark.read.parquet(t).select("k").as[String].collect().toSeq
    assert(out == Seq("new")) // live data untouched
  }
}
