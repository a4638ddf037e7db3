package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.table.SnapshotTable

/** Metadata-only snapshot surgery: `addFiles` (external parquet adoption,
  * Iceberg `add_files`), `cherrypick` (append replay onto a moved head,
  * Iceberg `cherrypick_snapshot`), `rollbackToTimestamp`, and their SQL
  * CALL spellings. Adopted files must be first-class afterwards — stats
  * pruning, positional deletes, compaction, orphan GC safety.
  */
class AdoptionSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("add_files adopts an unpartitioned dir in place: union read, " +
      "absolute .files entries, recorded stats prune, time travel") {
    val base = spark
    import base.implicits._
    val root = tmp("graft-adopt-")
    val t = SnapshotTable.at(root)
    t.createOrReplace((1 to 100).map(i => (i.toLong, s"a$i")).toDF("id", "s"))
    val ext = tmp("graft-adopt-ext-")
    (101 to 160).map(i => (i.toLong, s"b$i")).toDF("id", "s")
      .repartition(3).write.mode("overwrite").parquet(ext)

    val m = t.addFiles(spark, ext)
    assert(m.operation == "append")
    assert(t.read(spark).count() == 160)
    assert(t.read(spark).agg(sum("id")).head.getLong(0) ==
      (1L to 160L).sum)
    // .files: adopted entries surface their absolute path with recorded
    // bytes and rows (no filesystem stat)
    val files = t.files(spark).collect()
    val adopted = files.filter(_.getString(0).startsWith(ext))
    assert(adopted.length == 3, s"adopted rows: ${adopted.length}")
    assert(adopted.forall(r => r.getLong(2) > 0 && r.getLong(3) > 0))
    // footer stats recorded at adoption: a predicate outside the adopted
    // range prunes those files at the manifest
    val (kept, total) = t.pruneCounts(col("id") <= 100L)
    assert(total == kept + 3,
      s"adopted files must prune on their own bounds ($kept of $total)")
    // time travel: the pre-adoption snapshot is intact
    assert(t.readVersion(spark, 1).count() == 100)
    // the changelog reports the adoption as plain inserts
    val cl = t.readChangelog(spark, 1, t.currentVersion)
    assert(cl.count() == 60 &&
      cl.select("_change_type").distinct().head.getString(0) == "insert")
  }

  test("add_files on a partitioned table requires hive layout and " +
      "reconstructs partition values; refusals are loud") {
    val base = spark
    import base.implicits._
    val root = tmp("graft-adopt-p-")
    val t = SnapshotTable.at(root)
    val a = (1 to 90).map(i => (i.toLong, i % 3, s"a$i")).toDF("id", "p", "s")
    t.createOrReplace(a, Seq("p"))
    val ext = tmp("graft-adopt-pext-")
    val b = (91 to 150).map(i => (i.toLong, i % 3, s"b$i")).toDF("id", "p", "s")
    b.write.mode("overwrite").partitionBy("p").parquet(ext)

    t.addFiles(spark, ext)
    val got = t.read(spark)
    assert(got.count() == 150)
    // partition column read from the adopted entries' partition maps
    assert(got.filter(col("p") === 1).count() ==
      (1 to 150).count(_ % 3 == 1))
    // partition-scoped manifest pruning covers adopted entries
    val (kept, total) = t.pruneCounts(col("p") === 2)
    assert(kept < total)
    // SHOW PARTITIONS sees the adopted partitions (map-based filter)
    val parts = spark.sql(s"SHOW PARTITIONS graft.`$root`")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("p=0", "p=1", "p=2"))

    // non-hive source for a partitioned table: refused
    val flat = tmp("graft-adopt-flat-")
    b.write.mode("overwrite").parquet(flat)
    val e1 = intercept[IllegalArgumentException] { t.addFiles(spark, flat) }
    assert(e1.getMessage.contains("k=v"), e1.getMessage)
    // duplicate adoption: refused
    val e2 = intercept[IllegalArgumentException] { t.addFiles(spark, ext) }
    assert(e2.getMessage.contains("already referenced"), e2.getMessage)
    // schema drift: missing and extra columns refused
    val missing = tmp("graft-adopt-miss-")
    b.drop("s").write.mode("overwrite").partitionBy("p").parquet(missing)
    assert(intercept[IllegalArgumentException] {
      t.addFiles(spark, missing)
    }.getMessage.contains("lacks column"))
    val extra = tmp("graft-adopt-extra-")
    b.withColumn("zz", lit(1)).write.mode("overwrite")
      .partitionBy("p").parquet(extra)
    assert(intercept[IllegalArgumentException] {
      t.addFiles(spark, extra)
    }.getMessage.contains("not in the table schema"))
    // type mismatch refused
    val badType = tmp("graft-adopt-type-")
    b.withColumn("id", col("id").cast("int")).write.mode("overwrite")
      .partitionBy("p").parquet(badType)
    assert(intercept[IllegalArgumentException] {
      t.addFiles(spark, badType)
    }.getMessage.contains("in the table"))
    // source inside the table root refused
    assert(intercept[IllegalArgumentException] {
      t.addFiles(spark, s"$root/data")
    }.getMessage.contains("inside the table root"))
  }

  test("add_files refuses transform-derived partition columns") {
    val base = spark
    import base.implicits._
    val root = tmp("graft-adopt-tf-")
    val t = SnapshotTable.at(root)
    val df = (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    t.createOrReplace(df, Nil)
    t.addPartitionField("bucket(4, id)", Some("pb"))
    val ext = tmp("graft-adopt-tfext-")
    df.write.mode("overwrite").parquet(ext)
    val e = intercept[IllegalArgumentException] { t.addFiles(spark, ext) }
    assert(e.getMessage.contains("transform-derived"), e.getMessage)
  }

  test("adopted files take positional deletes, compaction rewrites them " +
      "into the managed layout, orphan GC never touches the originals") {
    val base = spark
    import base.implicits._
    val root = tmp("graft-adopt-mor-")
    val t = SnapshotTable.at(root)
    t.createOrReplace((1 to 40).map(i => (i.toLong, s"a$i")).toDF("id", "s"))
    val ext = tmp("graft-adopt-morext-")
    (41 to 80).map(i => (i.toLong, s"b$i")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(ext)
    t.addFiles(spark, ext)

    // positional delete whose census lands on the ADOPTED file: the
    // absolute-path recovery must round-trip (write census == read
    // anti-join), or these rows would silently survive
    t.deleteWherePositional(spark, col("id") === 50L || col("id") === 60L)
    assert(t.read(spark).count() == 78)
    assert(!t.read(spark).filter(col("id") === 50L).head(1).nonEmpty)

    // compaction folds the tombstones and rewrites adopted data into
    // managed files; the external originals stay on disk untouched
    t.compact(spark, targetFileBytes = 64L * 1024 * 1024)
    assert(t.currentManifest.deleteFiles.isEmpty)
    assert(t.read(spark).count() == 78)
    assert(t.currentManifest.files.forall(f => !f.path.startsWith("/")),
      "compaction must migrate adopted entries into the managed layout")
    val extFiles = Files.list(Paths.get(ext)).toArray.length
    assert(extFiles > 0, "external originals must survive compaction")

    // orphan GC: aggressive expiry + removal must not delete the
    // external files (they are outside the root walk)
    t.expireSnapshots(maxAgeMs = 0, minSnapshotsToKeep = 1,
      nowMs = System.currentTimeMillis() + 1000000)
    t.removeOrphanFiles(olderThanMs = 0,
      nowMs = System.currentTimeMillis() + 2000000)
    assert(Files.list(Paths.get(ext)).toArray.length == extFiles,
      "orphan GC must never walk outside the table root")
    assert(t.read(spark).count() == 78)
  }

  test("cherrypick replays a branch append onto a moved head; " +
      "non-append, ancestor, double-pick and drift are refused") {
    val base = spark
    import base.implicits._
    val root = tmp("graft-pick-")
    val t = SnapshotTable.at(root)
    t.createOrReplace((1 to 50).map(i => (i.toLong, "base")).toDF("id", "s"))
    t.branch("wap")
    val wap = t.atBranch("wap")
    wap.append(spark, (51 to 70).map(i => (i.toLong, "staged")).toDF("id", "s"))
    val staged = t.branches("wap")
    // main advances past the branch point
    t.append(spark, (71 to 90).map(i => (i.toLong, "main")).toDF("id", "s"))
    assert(t.read(spark).count() == 70) // branch rows not on main

    val picked = t.cherrypick(staged)
    assert(picked.operation == "append")
    assert(t.read(spark).count() == 90)
    assert(t.read(spark).filter(col("s") === "staged").count() == 20)
    // the changelog step for the pick is exactly the staged rows
    val cl = t.readChangelog(spark, picked.version - 1, picked.version)
    // (versions are a shared sequence; the step from the pick's parent)
    assert(cl.filter(col("_change_type") === "insert").count() == 20)

    // double-pick refused (property guard)
    assert(intercept[IllegalArgumentException] { t.cherrypick(staged) }
      .getMessage.contains("already cherry-picked"))
    // ancestor refused
    assert(intercept[IllegalArgumentException] { t.cherrypick(1L) }
      .getMessage.contains("ancestor"))
    // non-append refused (branch overwrite)
    val wap2Name = "wap2"
    t.branch(wap2Name)
    val wap2 = t.atBranch(wap2Name)
    wap2.createOrReplace((1 to 5).map(i => (i.toLong, "x")).toDF("id", "s"))
    assert(intercept[IllegalArgumentException] {
      t.cherrypick(t.branches(wap2Name))
    }.getMessage.contains("only append snapshots"))
    // schema drift refused: evolve main AFTER staging another append
    t.branch("wap3")
    val wap3 = t.atBranch("wap3")
    wap3.append(spark, (91 to 95).map(i => (i.toLong, "late")).toDF("id", "s"))
    val staged3 = t.branches("wap3")
    t.addColumns(Seq(org.apache.spark.sql.types.StructField("extra",
      org.apache.spark.sql.types.IntegerType)))
    assert(intercept[IllegalArgumentException] { t.cherrypick(staged3) }
      .getMessage.contains("schema changed"))
  }

  test("rollback_to_timestamp walks the main lineage; SQL CALL surface " +
      "for the snapshot-management procedures") {
    val base = spark
    import base.implicits._
    val root = tmp("graft-rbts-")
    val t = SnapshotTable.at(root)
    t.createOrReplace((1 to 10).map(i => (i.toLong, "v1")).toDF("id", "s"),
      nowMs = 1000L)
    t.append(spark, (11 to 20).map(i => (i.toLong, "v2")).toDF("id", "s"),
      nowMs = 2000L)
    t.append(spark, (21 to 30).map(i => (i.toLong, "v3")).toDF("id", "s"),
      nowMs = 3000L)

    assert(t.rollbackToTimestamp(2500L) == 2L)
    assert(t.read(spark).count() == 20)
    // before the first commit: loud
    assert(intercept[IllegalArgumentException] {
      t.rollbackToTimestamp(500L)
    }.getMessage.contains("no retained snapshot"))
    // set_current_snapshot moves FORWARD too (SQL spelling)
    spark.sql(s"CALL graft.system.set_current_snapshot('$root', 3)")
    assert(t.read(spark).count() == 30)
    // rollback_to_timestamp SQL spelling with a TIMESTAMP literal
    spark.sql(s"CALL graft.system.rollback_to_timestamp('$root', " +
      "TIMESTAMP '1970-01-01 00:00:02.500')")
    assert(t.read(spark).count() == 20)
    spark.sql(s"CALL graft.system.set_current_snapshot(" +
      s"table => '$root', snapshot_id => 3)")

    // add_files + cherrypick SQL spellings (Iceberg arg names)
    val ext = tmp("graft-rbts-ext-")
    (31 to 40).map(i => (i.toLong, "ext")).toDF("id", "s")
      .write.mode("overwrite").parquet(ext)
    spark.sql(s"CALL graft.system.add_files(table => '$root', " +
      s"source_table => 'parquet.`$ext`')")
    assert(t.read(spark).count() == 40)
    t.branch("sqlwap")
    t.atBranch("sqlwap").append(spark,
      (41 to 45).map(i => (i.toLong, "wap")).toDF("id", "s"))
    spark.sql(s"CALL graft.system.cherrypick_snapshot('$root', " +
      s"${t.branches("sqlwap")})")
    assert(t.read(spark).count() == 45)
  }

  test("snapshot procedure creates a table by reference with an " +
      "inferred partition spec; existing tables are refused") {
    val base = spark
    import base.implicits._
    val ext = tmp("graft-snapext-")
    (1 to 120).map(i => (i.toLong, i % 3, s"r$i")).toDF("id", "p", "s")
      .write.mode("overwrite").partitionBy("p").parquet(ext)
    val root = tmp("graft-snap-") + "/tbl"
    val m = SnapshotTable.at(root).snapshotFrom(spark, ext)
    val t = SnapshotTable.at(root)
    assert(m.partitionColumns == Seq("p"))
    assert(t.read(spark).count() == 120)
    assert(t.currentManifest.files.forall(_.path.startsWith(ext)),
      "snapshot must adopt by reference")
    val (kept, total) = t.pruneCounts(col("p") === 1)
    assert(kept < total)
    // snapshot never appends to an existing table
    assert(intercept[IllegalArgumentException] {
      t.snapshotFrom(spark, ext)
    }.getMessage.contains("already exists"))
    // SQL spelling creates a second table from the same source
    val root2 = tmp("graft-snap2-") + "/tbl"
    spark.sql(s"CALL graft.system.snapshot(" +
      s"source_table => 'parquet.`$ext`', table => '$root2')")
    assert(SnapshotTable.at(root2).read(spark).count() == 120)
  }

  test("migrate converts a parquet dir into a table IN PLACE: files " +
      "adopted by reference, spec inferred, DML works afterwards") {
    val base = spark
    import base.implicits._
    val dir = tmp("graft-migrate-") + "/sales"
    (1 to 240).map(i => (i.toLong, i % 4, s"m$i")).toDF("id", "p", "s")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val out = spark.sql(s"CALL graft.system.migrate(table => '$dir')")
      .collect()
    assert(out.length == 1 &&
      out.head.getAs[Long]("migrated_files_count") >= 4L)
    val t = SnapshotTable.at(dir)
    assert(t.exists && t.read(spark).count() == 240)
    assert(t.currentManifest.partitionColumns == Seq("p"))
    // in place AND root-relative: the adopted entries must travel with
    // a later directory move (an absolute record would keep naming the
    // old location and brick reads after RENAME TO)
    assert(t.currentManifest.files.forall(f =>
        !f.path.startsWith("/") &&
          Files.exists(Paths.get(dir).resolve(f.path))),
      "migrate must adopt by reference, root-relative, in place")
    // adopted files are first-class: partition prune + DML
    val (kept, total) = t.pruneCounts(col("p") === 1)
    assert(kept < total)
    spark.sql(s"DELETE FROM graft.`$dir` WHERE p = 0")
    assert(t.read(spark).count() == 180)
    // a second migrate refuses (the table exists now)
    assert(intercept[Exception] {
      spark.sql(s"CALL graft.system.migrate(table => '$dir')").collect()
    }.getMessage.contains("already exists"))
    // RENAME TO moves the directory; relative adopted entries travel
    val dir2 = dir + "_moved"
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME TO graft.`$dir2`")
    val t2 = SnapshotTable.at(dir2)
    assert(t2.read(spark).count() == 180,
      "adopted files must survive the directory move")
    // GC owns the whole location. The DELETE dropped partition 0's
    // ORIGINAL adopted files from the head manifest; expiry's own
    // cleanup (same live-census deletion as data/ files — relative
    // paths route through it) reclaims them when the referencing
    // manifests retire:
    t2.expireSnapshots(0L, 1)
    val p0 = Paths.get(dir2, "p=0")
    val p0Left =
      if (!Files.exists(p0)) Nil
      else scala.util.Using.resource(Files.list(p0))(st =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator())
          .asScala.filter(_.toString.endsWith(".parquet")).toList)
    assert(p0Left.isEmpty, s"expiry reclaims dead adopted originals: $p0Left")
    // ... and the ORPHAN SWEEP walks the whole location too (the
    // crash-leak backstop): an aged unreferenced parquet parked at the
    // root — outside data/ — is reclaimed
    val livedIn = scala.util.Using.resource(
        Files.list(Paths.get(dir2, "p=1")))(st =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator())
        .asScala.find(_.toString.endsWith(".parquet")).get)
    val stray = Paths.get(dir2, "p=1", "stray-leak.parquet")
    Files.copy(livedIn, stray)
    val reclaimed = t2.removeOrphanFiles(0L)
    assert(reclaimed.contains("p=1/stray-leak.parquet"),
      s"root-level strays must be reclaimable, got $reclaimed")
    assert(t2.read(spark).count() == 180, "live data untouched by the sweep")
    // a 'k=v' segment in an unrelated ANCESTOR never blocks migration
    // (only the root's own final segment is hive-ambiguous — r12 ADVICE)
    val under = tmp("graft-migrate-anc-") + "/run=5/export"
    (1 to 20).map(i => (i.toLong, s"a$i")).toDF("id", "s")
      .write.mode("overwrite").parquet(under)
    spark.sql(s"CALL graft.system.migrate(table => '$under')").collect()
    assert(SnapshotTable.at(under).read(spark).count() == 20)
    // ... while a root that IS a k=v segment still refuses
    val amb = tmp("graft-migrate-amb-") + "/p=3"
    (1 to 5).map(i => (i.toLong, s"b$i")).toDF("id", "s")
      .write.mode("overwrite").parquet(amb)
    assert(intercept[Exception] {
      spark.sql(s"CALL graft.system.migrate(table => '$amb')").collect()
    }.getMessage.contains("k=v"))
  }

  test("register_table exposes an existing table under a catalog name " +
      "by symlink: reads, DML, metadata and drop all work through it") {
    val base = spark
    import base.implicits._
    val src = tmp("graft-reg-src-") + "/tbl"
    val t = SnapshotTable.at(src)
    t.createOrReplace((1 to 200).map(i => (i.toLong, i % 3, s"r$i"))
      .toDF("id", "p", "s"), Seq("p"))
    // named-catalog destination
    val wh = tmp("graft-reg-wh-")
    spark.conf.set("spark.sql.catalog.regcat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.regcat.warehouse", wh)
    try {
      val out = spark.sql("CALL regcat.system.register_table(" +
        s"table => 'db.reg', source_path => '$src')").collect()
      assert(out.length == 1 &&
        out.head.getAs[Long]("current_version") == 1L)
      // the identifier serves reads, metadata relations and DML
      assert(spark.sql("SELECT count(*) AS n FROM regcat.db.reg")
        .head.getLong(0) == 200L)
      spark.sql("DELETE FROM regcat.db.reg WHERE p = 0")
      assert(spark.sql("SELECT count(*) AS n FROM regcat.db.reg")
        .head.getLong(0) < 200L)
      // ... and the SOURCE path sees the same table (one inode)
      assert(t.currentVersion == 2L)
      // Iceberg metadata_file spelling resolves to the same root
      val metaFile = s"$src/meta/v1.json"
      val dup = tmp("graft-reg-dup-") + "/alias"
      spark.sql(s"CALL graft.system.register_table(table => '$dup', " +
        s"metadata_file => '$metaFile')").collect()
      assert(SnapshotTable.at(dup).read(spark).count() ==
        t.read(spark).count())
      // a v<N>.json whose parent is NOT 'meta' never strips segments
      // (a /a/b/v5.json must not silently resolve root /a — r12 ADVICE)
      assert(intercept[Exception] {
        spark.sql(s"CALL graft.system.register_table(table => " +
          s"'${tmp("graft-reg-nm-")}/x', " +
          s"metadata_file => '$src/nota/v1.json')").collect()
      }.getMessage.contains("no committed graft table"))
      // destination exclusivity: re-register and register-onto-self fail
      assert(intercept[Exception] {
        spark.sql("CALL regcat.system.register_table(" +
          s"table => 'db.reg', source_path => '$src')").collect()
      }.getMessage.contains("already exists"))
      assert(intercept[Exception] {
        spark.sql(s"CALL graft.system.register_table(table => '$src', " +
          s"source_path => '$src')").collect()
      }.getMessage.contains("onto itself"))
      // a non-table source refuses
      assert(intercept[Exception] {
        spark.sql("CALL regcat.system.register_table(" +
          s"table => 'db.other', source_path => '$wh')").collect()
      }.getMessage.contains("no committed graft table"))
      // concurrent same-JVM commits through BOTH identities serialize
      // (lockFor keys on toRealPath — a normalize-only key gave the
      // alias a different monitor and the second FileChannel.lock on
      // the shared inode threw OverlappingFileLockException)
      val aliasT = SnapshotTable.at(s"$wh/db/reg")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val v0 = t.currentVersion
      val threads = Seq(t, aliasT).zipWithIndex.map { case (tt, i) =>
        new Thread(() => {
          try (1 to 4).foreach { j =>
            tt.append(spark, Seq((1000L + i * 10 + j, 9, s"c$i$j"))
              .toDF("id", "p", "s"))
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"cross-identity commits crashed: ${errs.peek}")
      assert(t.currentVersion == v0 + 8,
        "all eight commits landed through the shared monitor")
      // DROP through the registered name purges the underlying table
      spark.sql("DROP TABLE regcat.db.reg")
      assert(!t.exists, "drop through the registration purges the table")
      assert(!Files.exists(Paths.get(wh, "db", "reg"),
        java.nio.file.LinkOption.NOFOLLOW_LINKS), "the link goes too")
      // the SOURCE tree is gone, not just the link + manifests: a walk
      // from a symlink root yields only the link, so the old purge
      // leaked the entire data tree at the source, silently
      // re-adoptable by a later migrate (r12 ADVICE medium)
      assert(!Files.exists(Paths.get(src)),
        "drop through the alias must purge the source data tree")
    } finally {
      spark.conf.unset("spark.sql.catalog.regcat")
      spark.conf.unset("spark.sql.catalog.regcat.warehouse")
    }
  }

  test("driver orphan sweep sees the tree through a register_table " +
      "alias (walk resolves the symlink root — driver/distributed " +
      "parity)") {
    val base = spark
    import base.implicits._
    val src = tmp("graft-aliasgc-src-") + "/tbl"
    val t = SnapshotTable.at(src)
    t.createOrReplace((1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    // plant an unreferenced stray next to a live data file — exactly
    // the crash-leak debris the sweep exists to reclaim
    val live = scala.util.Using.resource(
        Files.walk(Paths.get(src, "data")))(st =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator())
        .asScala.find(_.toString.endsWith(".parquet")).get)
    Files.copy(live, live.resolveSibling("stray-leak.parquet"))
    val alias = tmp("graft-aliasgc-dst-") + "/alias"
    SnapshotTable.register(src, alias)
    val at = SnapshotTable.at(alias)
    val dry = at.removeOrphanFiles(0L, System.currentTimeMillis() + 1000,
      dryRun = true)
    assert(dry.exists(_.endsWith("stray-leak.parquet")),
      s"alias-identity dry run must SEE the orphaned data file, got $dry")
    val swept = at.removeOrphanFiles(0L, System.currentTimeMillis() + 1000)
    assert(swept.exists(_.endsWith("stray-leak.parquet")),
      "alias-identity sweep must reclaim (it was a silent no-op pre-fix)")
    assert(at.read(spark).count() == 50, "live data intact after sweep")
    assert(SnapshotTable.at(src).read(spark).count() == 50)
    // drop through the alias purges the source tree AND the link
    assert(at.drop())
    assert(!Files.exists(Paths.get(src)), "source tree purged via alias")
    assert(!Files.exists(Paths.get(alias),
      java.nio.file.LinkOption.NOFOLLOW_LINKS), "alias link removed")
    // DANGLING-alias cleanup: drop via the SOURCE first — the alias
    // link dangles (exists() follows and reads false) but must still
    // be removable through drop(), or the dead link squats on the
    // identifier forever (review r13)
    val src2 = tmp("graft-aliasgc-src2-") + "/tbl"
    val t2 = SnapshotTable.at(src2)
    t2.createOrReplace((1 to 5).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    val alias2 = tmp("graft-aliasgc-dst2-") + "/alias"
    SnapshotTable.register(src2, alias2)
    assert(t2.drop())
    assert(Files.isSymbolicLink(Paths.get(alias2)), "link dangles")
    assert(SnapshotTable.at(alias2).drop(),
      "dangling-alias drop must clean the link and report done")
    assert(!Files.exists(Paths.get(alias2),
      java.nio.file.LinkOption.NOFOLLOW_LINKS))
  }

  test("wap.id session mode: DML stages invisibly, publish_changes " +
      "fast-forwards or cherry-picks, the id is single-use") {
    val base = spark
    import base.implicits._
    val root = tmp("graft-wapid-")
    val t = SnapshotTable.at(root)
    t.createOrReplace((1 to 30).map(i => (i.toLong, "base")).toDF("id", "s"))
    (31 to 40).map(i => (i.toLong, "staged")).toDF("id", "s")
      .createOrReplaceTempView("wapid_staged")
    // both confs set: contradictory, refused
    spark.conf.set("graft.wap.branch", "x")
    spark.conf.set("graft.wap.id", "a1")
    val both = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM wapid_staged")
    }
    assert(both.getMessage.contains("mutually exclusive"), both.getMessage)
    spark.conf.unset("graft.wap.branch")
    try {
      spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM wapid_staged")
      // staged on the auto-branch; READS serve main (the wap.id contract)
      assert(t.read(spark).count() == 30)
      assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
        .head.getLong(0) == 30)
      assert(t.branches.contains("wap_a1"))
    } finally spark.conf.unset("graft.wap.id")
    // main never moved → fast-forward publish; branch retired
    assert(t.publishChanges("a1") == t.currentVersion)
    assert(t.read(spark).count() == 40)
    assert(!t.branches.contains("wap_a1"))
    // single-use: republishing the id is loud
    assert(intercept[IllegalArgumentException] { t.publishChanges("a1") }
      .getMessage.contains("no staged changes"))

    // cherrypick path: stage, advance main, publish via SQL
    spark.conf.set("graft.wap.id", "a2")
    try {
      (41 to 50).map(i => (i.toLong, "staged2")).toDF("id", "s")
        .createOrReplaceTempView("wapid_staged2")
      spark.sql(s"INSERT INTO graft.`$root` SELECT * FROM wapid_staged2")
    } finally spark.conf.unset("graft.wap.id")
    t.append(spark, (51 to 60).map(i => (i.toLong, "main")).toDF("id", "s"))
    assert(t.read(spark).count() == 50)
    spark.sql(s"CALL graft.system.publish_changes('$root', 'a2')")
    assert(t.read(spark).count() == 60)
    assert(t.read(spark).filter(col("s") === "staged2").count() == 10)
    // a bad id never creates state
    assert(intercept[IllegalArgumentException] { t.publishChanges("nope") }
      .getMessage.contains("no staged changes"))
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.wapBranchName("has space")
    }.getMessage.contains("must match"))
  }
}
