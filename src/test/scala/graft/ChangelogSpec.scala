package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.table.SnapshotTable

/** Row-level changelog between snapshots (Iceberg create_changelog_view /
  * Delta CDF analog): net inserts/deletes per commit step, update images
  * under identifier keys, replace-step skipping, schema-evolution
  * null-fill, and the recorded per-snapshot `operation`.
  */
class ChangelogSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String) = {
    val root = Files.createTempDirectory(prefix).toString
    (root, SnapshotTable.at(root))
  }

  private def rows(r: Range) =
    r.map(i => (i.toLong, i.toLong % 4, s"s$i")).toDF("id", "p", "s")

  test("appends are inserts; CoW rewrite emits only net row changes") {
    val (_, t) = fresh("graft-cdc-")
    t.createOrReplace(rows(1 to 400), Seq("p"), nowMs = 1000L) // v1
    t.append(spark, rows(401 to 500), nowMs = 2000L)           // v2

    val cl12 = t.readChangelog(spark, 0L, 2L)
    assert(cl12.columns.toSeq ==
      Seq("id", "p", "s", "_change_type", "_commit_version",
        "_commit_timestamp_ms"))
    assert(cl12.count() == 500)
    assert(cl12.filter(col("_change_type") =!= "insert").count() == 0)
    assert(cl12.filter(col("_commit_version") === 1).count() == 400)
    assert(cl12.filter(col("_commit_version") === 2).count() == 100)

    // CoW UPDATE rewrites whole touched partitions — the changelog must
    // net that down to the rows that actually changed
    t.updateWhere(spark, Seq("s" -> lit("changed")),
      col("id") <= 10, nowMs = 3000L)                           // v3
    val cl23 = t.readChangelog(spark, 2L, 3L)
    assert(cl23.filter(col("_change_type") === "insert").count() == 10)
    assert(cl23.filter(col("_change_type") === "delete").count() == 10)
    assert(cl23.filter(col("_change_type") === "insert" &&
      col("s") === "changed").count() == 10)
    assert(cl23.filter(col("_change_type") === "delete" &&
      col("s") === "changed").count() == 0)

    // identifier keys pair them into update images
    val upd = t.readChangelog(spark, 2L, 3L, keys = Seq("id"))
    assert(upd.filter(col("_change_type") === "update_preimage").count() == 10)
    assert(upd.filter(col("_change_type") === "update_postimage").count() == 10)
    assert(upd.filter(col("_change_type").isin("insert", "delete")).count() == 0)

    // full-span: 500 inserts net of the 10 pre-update values
    val cl03 = t.readChangelog(spark, 0L, 3L)
    assert(cl03.filter(col("_change_type") === "insert").count() == 510)
    assert(cl03.filter(col("_change_type") === "delete").count() == 10)
  }

  test("MoR deletes emit the masked rows; compaction steps emit nothing") {
    val (_, t) = fresh("graft-cdc-mor-")
    t.createOrReplace(rows(1 to 400), Seq("p"), nowMs = 1000L)  // v1
    t.deleteWherePositional(spark, col("id") <= 20, nowMs = 2000L) // v2
    val cl12 = t.readChangelog(spark, 1L, 2L)
    assert(cl12.filter(col("_change_type") === "delete").count() == 20)
    assert(cl12.filter(col("_change_type") === "insert").count() == 0)
    assert(cl12.agg(max("id")).head.getLong(0) == 20L)

    val vBefore = t.currentVersion
    t.compact(spark, nowMs = 3000L)                              // v3: replace
    assert(t.currentVersion == vBefore + 1)
    assert(t.currentManifest.operation == "replace")
    assert(t.readChangelog(spark, vBefore, t.currentVersion).count() == 0,
      "a data-preserving compaction step must not appear in the changelog")

    // and the full span still nets correctly ACROSS the replace step
    val cl = t.readChangelog(spark, 0L, t.currentVersion)
    assert(cl.filter(col("_change_type") === "insert").count() == 400)
    assert(cl.filter(col("_change_type") === "delete").count() == 20)
  }

  test("MoR merge and positional UPDATE steps net to row-level changes") {
    val (_, t) = fresh("graft-cdc-mormerge-")
    t.createOrReplace(rows(1 to 200), Seq("p"), nowMs = 1000L)   // v1
    // storage-optimized MERGE: replacement appends + equality deletes
    t.mergeMoR(spark,
      Seq((5L, 1L, "u5", "U"), (300L, 0L, "i300", "I"), (8L, 0L, "x", "D"))
        .toDF("id", "p", "s", "op"),
      Seq("id"), keepDeletes = false, nowMs = 2000L)             // v2
    val cl = t.readChangelog(spark, 1L, 2L, keys = Seq("id"))
    val byType = cl.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("insert", 0L) == 1L)       // 300
    assert(byType.getOrElse("delete", 0L) == 1L)       // 8
    assert(byType.getOrElse("update_preimage", 0L) == 1L)  // 5 old
    assert(byType.getOrElse("update_postimage", 0L) == 1L) // 5 new
    assert(cl.filter(col("_change_type") === "update_postimage")
      .head.getAs[String]("s") == "u5")

    // positional UPDATE: tombstones + replacement in ONE commit
    t.updateWherePositional(spark, Seq("s" -> lit("pos")),
      col("id") === 9L, nowMs = 3000L)                            // v3
    val cl3 = t.readChangelog(spark, 2L, 3L, keys = Seq("id"))
    assert(cl3.count() == 2)
    assert(cl3.filter(col("_change_type") === "update_postimage" &&
      col("s") === "pos").count() == 1)
  }

  test("keyless apply onto an existing table: fp-bounded subtraction exact") {
    // r15: (table ∪ ins) ∖ del now routes the TABLE side through the
    // fingerprint pass-through (NetDiff.subtractAll) via the identity
    // (A⊎B)∖C = A∖(C∖B) ⊎ (B∖C). Multiset semantics must equal the old
    // plain exceptAll exactly — duplicates cancel one copy per delete,
    // unmatched deletes subtract nothing, insert-then-delete within the
    // feed folds away.
    val (_, t) = fresh("graft-apply-keyless-")
    t.createOrReplace(Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "s"), Nil, nowMs = 1000L)
    def cl(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "s", "_change_type")
        .withColumn("_commit_version", lit(2L))
        .withColumn("_commit_timestamp_ms", lit(2000L))
    val feed = cl(Seq(
      (1L, "a", "delete"),          // cancels ONE of the two (1,a) copies
      (2L, "b", "update_preimage"), // with its postimage = an update
      (2L, "B", "update_postimage"),
      (9L, "x", "delete"),          // matches nothing — subtracts nothing
      (5L, "e", "insert"),
      (6L, "f", "insert"),          // insert-then-delete inside the feed
      (6L, "f", "delete")))         // must never land
    t.applyChangelog(spark, feed, nowMs = 2000L)
    val got = t.read(spark).as[(Long, String)].collect().toSeq.sorted
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c"), (5L, "e")),
      s"keyless apply diverged: $got")
  }

  test("keyed pairing: NULL keys classify insert/delete, one window pass") {
    // The r15 keyed classifier replaced the 4 key joins per step with one
    // key window over the ±1 net. Joins never match NULL keys; a window
    // GROUPS them — so a null-key delete and a null-key insert in one
    // step must still classify insert/delete, never update images.
    val (_, t) = fresh("graft-cdc-nullkey-")
    t.createOrReplace(Seq((Some(1L), "a"), (None, "x"))
      .toDF("id", "s"), Nil, nowMs = 1000L)                      // v1
    t.updateWhere(spark, Seq("s" -> concat(col("s"), lit("!"))),
      col("s").isin("a", "x"), nowMs = 2000L)                    // v2
    val cl = t.readChangelog(spark, 1L, 2L, keys = Seq("id"))
    val byType = cl.collect().groupBy(_.getAs[String]("_change_type"))
      .view.mapValues(_.map(r => (Option(r.get(0)), r.getString(1))).toSet)
      .toMap
    assert(byType("update_preimage") == Set((Some(1L), "a")))
    assert(byType("update_postimage") == Set((Some(1L), "a!")))
    assert(byType("insert") == Set((None, "x!")),
      "null-key rows must never pair into updates (join semantics)")
    assert(byType("delete") == Set((None, "x")))
    // structural pin: the keyed step classifies via a Window over the
    // netted rows — no anti/semi join on the identifier keys remains
    val plan = cl.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "keyed pairing must be a window pass")
    assert(!plan.contains("LeftAnti"),
      "no key anti-join may survive the netted keyed classifier")
  }

  test("schema evolution: old steps null-fill; operations are recorded") {
    val (_, t) = fresh("graft-cdc-evo-")
    t.createOrReplace(rows(1 to 50), Nil, nowMs = 1000L)         // v1
    t.addColumns(Seq(StructField("extra", LongType)), nowMs = 2000L) // v2
    t.append(spark, (51 to 60).map(i =>
      (i.toLong, i.toLong % 4, s"s$i", i.toLong * 10))
      .toDF("id", "p", "s", "extra"), nowMs = 3000L)             // v3

    val cl = t.readChangelog(spark, 0L, 3L)
    assert(cl.count() == 60)
    assert(cl.filter(col("_commit_version") === 1 &&
      col("extra").isNull).count() == 50,
      "rows from pre-evolution steps must null-fill the added column")
    assert(cl.filter(col("_commit_version") === 3 &&
      col("extra").isNotNull).count() == 10)

    val ops = t.snapshots(spark).orderBy("version")
      .select("operation").as[String].collect().toSeq
    assert(ops == Seq("append", "evolve-schema", "append"))
  }

  test("changelog spans a rename/widen: old steps carry values, not nulls") {
    val (_, t) = fresh("graft-cdc-ren-")
    t.createOrReplace((1 to 40).map(i => (i.toLong, i))
      .toDF("id", "n"), Nil, nowMs = 1000L)                     // v1 (n: int)
    t.renameColumn("n", "cnt", nowMs = 2000L)                   // v2
    t.widenColumn("cnt", org.apache.spark.sql.types.LongType,
      nowMs = 3000L)                                            // v3
    t.append(spark, Seq((41L, 9000000000L)).toDF("id", "cnt"),
      nowMs = 4000L)                                            // v4

    val cl = t.readChangelog(spark, 0L, 4L)
    assert(cl.columns.take(2).toSeq == Seq("id", "cnt"))
    assert(cl.schema("cnt").dataType ==
      org.apache.spark.sql.types.LongType)
    // v1's inserts surface their values under the NEW name and type
    assert(cl.filter(col("_commit_version") === 1 &&
      col("cnt").isNotNull).count() == 40)
    assert(cl.filter(col("_commit_version") === 1)
      .agg(sum("cnt")).head.getLong(0) == (1 to 40).map(_.toLong).sum)
    assert(cl.filter(col("_commit_version") === 4)
      .head.getAs[Long]("cnt") == 9000000000L)
  }

  test("changelog and @snapshots follow the lineage, not the version sequence") {
    val (_, t) = fresh("graft-cdc-branch-")
    t.createOrReplace(rows(1 to 100), Nil, nowMs = 1000L)       // v1
    t.branch("b")
    t.atBranch("b").append(spark, rows(101 to 120), nowMs = 2000L) // v2 (branch)
    t.append(spark, rows(201 to 210), nowMs = 3000L)            // v3 (main, parent v1)

    // main's changelog must NOT see the branch commit — neither its
    // rows as inserts nor phantom deletes when v3 diffs across it
    val cl = t.readChangelog(spark, 0L, t.currentVersion)
    assert(cl.count() == 110)
    assert(cl.filter(col("id").between(101, 120)).count() == 0,
      "branch rows must not appear on main's lineage")
    assert(cl.filter(col("_change_type") === "delete").count() == 0)

    // the branch's own changelog sees exactly its append
    val bt = t.atBranch("b")
    val bcl = bt.readChangelog(spark, 1L, bt.currentVersion)
    assert(bcl.count() == 20)

    // @snapshots parent wiring follows the recorded lineage
    val snaps = t.snapshots(spark).collect()
      .map(r => r.getAs[Long]("version") ->
        (r.getAs[Long]("parent_version"), r.getAs[Long]("added_files"))).toMap
    assert(snaps(3L)._1 == 1L, "main v3's parent is v1, not the branch v2")
    assert(snaps(2L)._1 == 1L)
  }

  test("changelog across a cherrypick reports the picked rows as " +
      "inserts exactly once") {
    val (_, t) = fresh("graft-cdc-pick-")
    t.createOrReplace(rows(1 to 100), nowMs = 1000L)       // v1
    t.branch("wap")
    t.atBranch("wap").append(spark, rows(101 to 150), nowMs = 2000L) // v2 (branch)
    val staged = t.branches("wap")
    t.append(spark, rows(151 to 200), nowMs = 3000L)       // v3 (main)
    val head = t.currentVersion
    t.cherrypick(staged, nowMs = 4000L)                    // v4 = pick of v2
    val picked = t.readChangelog(spark, head, t.currentVersion)
    assert(picked.count() == 50 &&
      picked.filter(col("_change_type") =!= "insert").count() == 0,
      "the pick step is exactly the staged rows, as inserts")
    // and the full-history walk counts every row ONCE (no double-report
    // of the picked rows through the branch's own commit)
    val full = t.readChangelog(spark, 0L, t.currentVersion)
    assert(full.count() == 200)
    assert(full.groupBy("id").count().filter(col("count") > 1).count() == 0,
      "no row may appear twice across the lineage walk")
  }

  test("changelog after rollback + new commits follows the NEW lineage; " +
      "abandoned snapshots neither report nor serve as FROM boundaries") {
    val (_, t) = fresh("graft-cdc-rb-")
    t.createOrReplace(rows(1 to 100), nowMs = 1000L)   // v1
    t.append(spark, rows(101 to 160), nowMs = 2000L)   // v2 (to abandon)
    t.rollbackTo(1L)
    t.append(spark, rows(201 to 250), nowMs = 3000L)   // v3, parent = v1
    val full = t.readChangelog(spark, 0L, t.currentVersion)
    assert(full.count() == 150,
      "rolled-over rows must not appear on the new lineage")
    assert(full.filter(col("id").between(101, 160)).count() == 0)
    // v2 still exists (retained for time travel) but is NOT an ancestor:
    // using it as a FROM boundary must refuse, not silently diff
    val e = intercept[IllegalArgumentException] {
      t.readChangelog(spark, 2L, t.currentVersion).count()
    }
    assert(e.getMessage.contains("not an ancestor"))
    // pointer moves themselves commit nothing: set_current_snapshot
    // (rollbackTo moves either direction) and the changelog still
    // reports each step exactly once afterwards
    t.rollbackTo(2L)
    assert(t.read(spark).count() == 160)
    t.rollbackTo(3L)
    val again = t.readChangelog(spark, 1L, 3L)
    assert(again.count() == 50 &&
      again.filter(col("_change_type") =!= "insert").count() == 0)
  }

  test("a rebasing commit preserves properties committed concurrently") {
    val (_, t) = fresh("graft-cdc-props-")
    t.createOrReplace(rows(1 to 50), Nil, nowMs = 1000L)        // v1
    val base = t.currentManifest
    // a concurrent producer lands its replay marker at v2
    t.append(spark, rows(51 to 55), nowMs = 2000L,
      extraProps = Map("stream.batch" -> "8"))
    // a commit PLANNED against v1 rebases over it — the sink's marker
    // (and any concurrent SET TBLPROPERTIES) must survive, plus this
    // commit's own property delta
    val m2 = t.commitData(rows(56 to 60).toDF("id", "p", "s"),
      Some(base), Nil, base.properties + ("mine" -> "1"), 3000L,
      carryForward = base.files, rebaseTouched = Some(Set.empty),
      operation = "append")
    assert(m2.properties.get("stream.batch").contains("8"),
      "rebase must not clobber the concurrent marker")
    assert(m2.properties.get("mine").contains("1"))
    assert(t.read(spark).count() == 60)
  }

  test("net_changes folds in-range churn to the boundary diff; " +
      "keyed mode refuses; from=0 is the full state") {
    val (root, t) = fresh("graft-netcl-")
    val rows = (1 to 100).map(i => (i.toLong, s"s$i")).toDF("id", "s")
    t.createOrReplace(rows.filter($"id" <= 60))                       // v1
    t.append(spark, rows.filter($"id" > 60))                          // v2
    t.deleteWhere(spark, col("id") > 80 || col("id") <= 10)           // v3
    // rows 81-100 were inserted at v2 AND deleted at v3 — in-range
    // churn the net view must not show; 1-10 are real net deletes,
    // 61-80 real net inserts
    spark.sql(s"CALL graft.system.create_changelog_view(" +
      s"table => '$root', view => 'ncl', from_version => 1, " +
      s"net_changes => true)")
    val net = spark.sql("SELECT id, _change_type, _commit_version " +
      "FROM ncl").collect()
    val ins = net.filter(_.getString(1) == "insert").map(_.getLong(0)).sorted
    val del = net.filter(_.getString(1) == "delete").map(_.getLong(0)).sorted
    assert(ins.toSeq == (61L to 80L), s"net inserts wrong: ${ins.toSeq}")
    assert(del.toSeq == (1L to 10L), s"net deletes wrong: ${del.toSeq}")
    assert(net.forall(_.getLong(2) == 3L),
      "net rows are stamped with the TO boundary")
    // the per-step view DOES show the churn — the two views answer
    // different questions
    val stepped = t.readChangelog(spark, 1L, 3L)
    assert(stepped.filter(col("id") === 95L).count() == 2,
      "step view reports insert+delete for churned rows")
    // from=0: the net view is the full final state as inserts
    spark.sql(s"CALL graft.system.create_changelog_view(" +
      s"table => '$root', view => 'ncl0', net_changes => true)")
    val all0 = spark.sql("SELECT _change_type, count(*) AS n FROM ncl0 " +
      "GROUP BY 1").collect()
    assert(all0.length == 1 && all0.head.getString(0) == "insert" &&
      all0.head.getLong(1) == t.read(spark).count())
    // net + identifier keys refuse (Iceberg's own restriction)
    assert(intercept[Exception] {
      spark.sql(s"CALL graft.system.create_changelog_view(" +
        s"table => '$root', view => 'x', net_changes => true, " +
        s"identifier_columns => 'id')")
    }.getMessage.contains("mutually exclusive"))
    // from == to: empty with the changelog schema
    assert(t.readChangelogNet(spark, 3L, 3L).count() == 0)
  }

  test("net changelog refuses a non-ancestor FROM, like the step view") {
    val (_, t) = fresh("graft-netanc-")
    val rows = (1 to 50).map(i => (i.toLong, s"s$i")).toDF("id", "s")
    t.createOrReplace(rows.filter($"id" <= 30))                       // v1
    t.append(spark, rows.filter($"id" > 30))                         // v2
    t.rollbackTo(1L)
    t.append(spark, rows.filter($"id" > 40))                         // new head
    // v2 is retained but ABANDONED — diffing it against the new head
    // would report rows that never changed on this lineage. The net
    // view must refuse exactly like the per-step view does.
    val head = t.currentVersion
    assert(intercept[IllegalArgumentException] {
      t.readChangelogNet(spark, 2L, head)
    }.getMessage.contains("not an ancestor"))
    assert(intercept[IllegalArgumentException] {
      t.readChangelog(spark, 2L, head)
    }.getMessage.contains("not an ancestor"))
  }

  test("applyChangelog replicates a table and folds onto a non-empty base") {
    val (_, src) = fresh("graft-cdc-src-")
    src.createOrReplace(rows(1 to 300), Seq("p"), nowMs = 1000L)     // v1
    src.updateWhere(spark, Seq("s" -> lit("u")), col("id") <= 20,
      nowMs = 2000L)                                                 // v2
    src.deleteWherePositional(spark, col("id") > 290, nowMs = 3000L) // v3

    // full-history feed onto an EMPTY target reconstructs the source
    val (_, dst) = fresh("graft-cdc-dst-")
    dst.applyChangelog(spark, src.readChangelog(spark, 0L, 3L))
    assert(dst.read(spark).exceptAll(src.read(spark)).isEmpty &&
      src.read(spark).exceptAll(dst.read(spark)).isEmpty,
      "replica content must equal the source exactly")

    // an incremental feed folds onto the replica (base v3 -> v4) —
    // WITH identifier keys it routes through the partition-scoped merge
    // (the 100 TB path), landing on the identical content
    src.append(spark, rows(301 to 310), nowMs = 4000L)               // v4
    src.updateWhere(spark, Seq("s" -> lit("u2")), col("id") === 30,
      nowMs = 5000L)                                                 // v5
    dst.applyChangelog(spark,
      src.readChangelog(spark, 3L, 5L, keys = Seq("id")), keys = Seq("id"))
    assert(dst.read(spark).count() == src.read(spark).count())
    assert(dst.read(spark).filter(col("id") === 305).count() == 1)
    assert(dst.read(spark).filter(col("id") === 30).select("s")
      .head.getString(0) == "u2")
    assert(dst.read(spark).exceptAll(src.read(spark)).isEmpty)

    // a key that appears AND vanishes within one feed must not
    // materialize (merge's unconditional not-matched insert would
    // otherwise resurrect the deleted row), and a multi-commit
    // update→delete of an existing key must end deleted — the keyed
    // path collapses to each key's LATEST state first
    src.append(spark, rows(500 to 500), nowMs = 6000L)               // v6
    src.deleteWhere(spark, col("id") === 500L, nowMs = 7000L)        // v7
    src.updateWhere(spark, Seq("s" -> lit("tmp")), col("id") === 40L,
      nowMs = 8000L)                                                 // v8
    src.deleteWhere(spark, col("id") === 40L, nowMs = 9000L)         // v9
    dst.applyChangelog(spark,
      src.readChangelog(spark, 5L, 9L, keys = Seq("id")), keys = Seq("id"))
    assert(dst.read(spark).filter(col("id").isin(40L, 500L)).count() == 0,
      "insert-then-delete and update-then-delete must both end absent")
    assert(dst.read(spark).exceptAll(src.read(spark)).isEmpty &&
      src.read(spark).exceptAll(dst.read(spark)).isEmpty)

    // delete-then-REINSERT of a key the synced target still holds:
    // the collapse lands on latest='insert', which must reach the
    // target as 'U' — merge's matched-'I' is a reference-semantics
    // no-op and would silently keep the stale pre-delete row
    src.deleteWhere(spark, col("id") === 50L, nowMs = 10000L)        // v10
    src.append(spark, rows(50 to 50)
      .withColumn("s", lit("reborn")), nowMs = 11000L)               // v11
    dst.applyChangelog(spark,
      src.readChangelog(spark, 9L, 11L, keys = Seq("id")), keys = Seq("id"))
    assert(dst.read(spark).filter(col("id") === 50L).select("s")
      .head.getString(0) == "reborn",
      "delete-then-reinsert must land the re-inserted values, not the stale row")
    assert(dst.read(spark).exceptAll(src.read(spark)).isEmpty &&
      src.read(spark).exceptAll(dst.read(spark)).isEmpty)

    // a non-changelog frame is refused loudly
    val e = intercept[IllegalArgumentException] {
      dst.applyChangelog(spark, rows(1 to 3))
    }
    assert(e.getMessage.contains("changelog"))
  }

  test("insert-only changelog feed applies as a fast-append, not a rewrite") {
    val (_, src) = fresh("graft-cdc-ins-src-")
    src.createOrReplace(rows(1 to 100), Seq("p"), nowMs = 1000L) // v1
    src.append(spark, rows(101 to 150), nowMs = 2000L)           // v2

    val (_, dst) = fresh("graft-cdc-ins-dst-")
    dst.applyChangelog(spark, src.readChangelog(spark, 0L, 1L))  // bootstrap
    val beforePaths = dst.currentManifest.files.map(_.path).toSet
    assert(beforePaths.nonEmpty)

    // the increment carries no deletes/preimages: every live file must
    // carry BY REFERENCE (operation "append"), never a full-table
    // rewrite — the 100 TB replication-bootstrap shape
    val m = dst.applyChangelog(spark, src.readChangelog(spark, 1L, 2L))
    assert(m.operation == "append",
      s"insert-only feed must fast-append (got '${m.operation}')")
    assert(beforePaths.subsetOf(m.files.map(_.path).toSet),
      "live files must carry by reference through the insert-only apply")
    assert(dst.read(spark).exceptAll(src.read(spark)).isEmpty &&
      src.read(spark).exceptAll(dst.read(spark)).isEmpty)

    // a feed WITH deletes still takes the general multiset fold
    src.deleteWhere(spark, col("id") <= 10, nowMs = 3000L)       // v3
    dst.applyChangelog(spark, src.readChangelog(spark, 2L, 3L))
    assert(dst.read(spark).exceptAll(src.read(spark)).isEmpty &&
      src.read(spark).exceptAll(dst.read(spark)).isEmpty)
  }

  test("dropping a declared identifier column is refused") {
    val (root, t) = fresh("graft-idguard-")
    t.createOrReplace(rows(1 to 50), nowMs = 1000L)
    spark.sql(s"ALTER TABLE graft.`$root` SET IDENTIFIER FIELDS id")
    // a dropped identifier would leave graft.identifier-fields dangling:
    // changelog/CDC defaulting would fail on an unresolvable column
    val e = intercept[IllegalArgumentException] {
      t.dropColumns(Seq("id"))
    }
    assert(e.getMessage.contains("IDENTIFIER FIELD"))
    spark.sql(s"ALTER TABLE graft.`$root` DROP IDENTIFIER FIELDS id")
    t.dropColumns(Seq("id")) // released, the drop proceeds
    assert(!t.read(spark).columns.contains("id"))
  }

  test("declared sort order tightens per-file bounds on the append path") {
    val (_, t) = fresh("graft-sort-")
    val data = rows(1 to 4000).orderBy(org.apache.spark.sql.functions.rand(7))
      .repartition(8) // shuffled: every file spans the whole key range
    t.createOrReplace(data, Nil, nowMs = 1000L,
      properties = Map("write.graft.sort-order" -> "id"))
    val (kept0, total0) = t.pruneCounts(col("id") <= 100)
    // createOrReplace writes df partitions as files; the in-task sort
    // cannot narrow ranges of hash-shuffled tasks — compaction range-
    // clusters and the scan prunes
    t.setProperties(Map("write.graft.sort-order" -> "id"))
    val bytes = t.currentManifest.files.map(f =>
      Files.size(java.nio.file.Paths.get(t.root.toString).resolve(f.path))).sum
    t.compact(spark, targetFileBytes = math.max(1L, bytes / 4))
    val (kept, total) = t.pruneCounts(col("id") <= 100)
    assert(total >= 3 && kept * 2 <= total,
      s"range-clustered rewrite must prune ($kept/$total vs $kept0/$total0)")
    // appends AFTER the rewrite sort in-task: a single-task append
    // yields one file whose bounds are exact
    t.append(spark, rows(4001 to 4100).coalesce(1), nowMs = 2000L)
    val newFile = t.currentManifest.files.maxBy(_.seq)
    assert(newFile.stats.get("id").exists(b =>
      b.min.toLong == 4001L && b.max.toLong == 4100L))
  }

  test("SET IDENTIFIER FIELDS keys the changelog by default") {
    val (root, t) = fresh("graft-idfields-")
    t.createOrReplace(rows(1 to 200), nowMs = 1000L)            // v1
    spark.sql(s"ALTER TABLE graft.`$root` SET IDENTIFIER FIELDS id")
    assert(t.identifierFields == Seq("id"))
    // an UPDATE under declared identity: the view shows pre/post images
    // WITHOUT an identifier_columns argument
    spark.sql(s"UPDATE graft.`$root` SET s = 'u' WHERE id = 7")
    spark.sql(s"CALL graft.system.create_changelog_view(" +
      s"table => '$root', view => 'idf_cdc')")
    val types = spark.sql(
      "SELECT DISTINCT _change_type FROM idf_cdc ORDER BY 1")
      .collect().map(_.getString(0)).toSet
    assert(types.contains("update_preimage") &&
      types.contains("update_postimage"),
      s"declared identity must key the collapse: $types")
    // an explicit argument still wins; dropping the identity reverts
    // the default to raw delete/insert rows
    spark.sql(s"ALTER TABLE graft.`$root` DROP IDENTIFIER FIELDS id")
    assert(t.identifierFields.isEmpty)
    spark.sql(s"CALL graft.system.create_changelog_view(" +
      s"table => '$root', view => 'idf_cdc2')")
    val types2 = spark.sql(
      "SELECT DISTINCT _change_type FROM idf_cdc2").collect()
      .map(_.getString(0)).toSet
    assert(!types2.exists(_.startsWith("update_")),
      s"without identity the changelog stays delete/insert: $types2")
    // guard rails: unknown column, non-identifier drop, fenced
    // property spelling, rename of a live identifier field
    intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$root` SET IDENTIFIER FIELDS ghost"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$root` DROP IDENTIFIER FIELDS id"))
    intercept[Exception](t.setProperties(
      Map("graft.identifier-fields" -> "id")))
    spark.sql(s"ALTER TABLE graft.`$root` SET IDENTIFIER FIELDS id, s")
    assert(t.identifierFields == Seq("id", "s"))
    intercept[Exception](t.renameColumn("s", "s2"))
    spark.sql(s"ALTER TABLE graft.`$root` DROP IDENTIFIER FIELDS s")
    assert(t.identifierFields == Seq("id"))
    t.renameColumn("s", "s2") // released from the identity set
  }
}
