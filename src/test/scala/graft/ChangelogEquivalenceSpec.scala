package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.table.SnapshotTable

/** The per-step changelog against a reference built from the boundary
  * snapshots alone: `readVersion(cur).exceptAll(readVersion(prev))` and
  * the reverse are the step's inserts and deletes, and a key join pairs
  * them into update images (NULL keys never pair). Random sequences of
  * merge-on-read operations — upserts, deletes, a delete then an
  * identical re-insert, duplicate rows, NULL keys, a non-key rename, a
  * key widen and a compaction — must agree on every single step, keyed
  * and keyless, and a multi-step range must equal the union of its
  * steps. Positional deletes ride along so the general path is covered
  * by the same property.
  */
class ChangelogEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Op
  /** Upsert these ids (-1 = a NULL key); `tag` varies values/partitions. */
  private final case class Upsert(ids: Seq[Int], tag: Int) extends Op
  /** Delete the live keyed rows at these (modular) indices. */
  private final case class Delete(picks: Seq[Int]) extends Op
  /** Delete one live keyed row, then re-insert the identical row. */
  private final case class DeleteReinsert(pick: Int) extends Op
  /** Append exact copies of live rows. */
  private final case class AppendDup(picks: Seq[Int]) extends Op
  private final case class PositionalDelete(residue: Int) extends Op
  private case object RenameValue extends Op
  private case object WidenKey extends Op
  private case object Compact extends Op

  private val genBasic: Gen[Op] = Gen.frequency(
    4 -> (for {
      n <- Gen.choose(1, 4)
      ids <- Gen.listOfN(n, Gen.choose(-1, 30))
      tag <- Gen.choose(0, 999)
    } yield Upsert(ids.distinct, tag)),
    3 -> Gen.listOfN(2, Gen.choose(0, 999)).map(Delete(_)),
    1 -> Gen.listOfN(2, Gen.choose(0, 999)).map(AppendDup(_)),
    1 -> Gen.choose(0, 6).map(PositionalDelete(_)))

  /** Six random operations with the four edge cases each placed once at
    * a random position.
    */
  private val genOps: Gen[List[Op]] = for {
    base <- Gen.listOfN(6, genBasic)
    pick <- Gen.choose(0, 999)
    forced = List(DeleteReinsert(pick), RenameValue, WidenKey, Compact)
    positions <- Gen.sequence[List[Int], Int](
      forced.indices.map(i => Gen.choose(0, base.size + i)))
  } yield forced.zip(positions).foldLeft(base) { case (acc, (op, at)) =>
    acc.take(at) ::: op :: acc.drop(at)
  }

  /** A changelog row as (change type, data values by position). */
  private type Change = (String, Seq[String])

  private def values(r: Row, n: Int): Seq[String] =
    (0 until n).map(i => String.valueOf(r.get(i)))

  /** Boundary-diff reference of one step, aligned to `cur`'s schema by
    * position (renames keep positions, widens cast up).
    */
  private def reference(t: SnapshotTable, prev: Long, cur: Long,
                        keyed: Boolean): Seq[Change] = {
    val after = t.readVersion(spark, cur)
    val before =
      if (prev == 0L) after.limit(0)
      else {
        val p = t.readVersion(spark, prev)
        p.select(after.schema.fields.toSeq.zip(p.columns).map {
          case (f, c) => col(c).cast(f.dataType).as(f.name) }: _*)
      }
    val n = after.columns.length
    val ins = after.exceptAll(before).collect().toSeq.map(values(_, n))
    val del = before.exceptAll(after).collect().toSeq.map(values(_, n))
    if (!keyed) ins.map(("insert", _)) ++ del.map(("delete", _))
    else {
      // key column 0; a NULL key never equi-joins
      def keysOf(rs: Seq[Seq[String]]) = rs.map(_.head).filter(_ != "null").toSet
      val (insKeys, delKeys) = (keysOf(ins), keysOf(del))
      ins.map(r => (if (delKeys(r.head)) "update_postimage" else "insert", r)) ++
        del.map(r => (if (insKeys(r.head)) "update_preimage" else "delete", r))
    }
  }

  private def changes(cl: DataFrame): Seq[(String, Long, Seq[String])] = {
    val n = cl.columns.length - 3
    cl.collect().toSeq.map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"),
        values(r, n)))
  }

  /** Multiset view: element → multiplicity. */
  private def bag[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  /** Run `ops` on a fresh merge-on-read table; the committed versions. */
  private def run(t: SnapshotTable, ops: Seq[Op]): Seq[Long] = {
    var valueCol = "s"
    var keyType: DataType = IntegerType
    def df(rows: Seq[(Option[Long], Int, String)]): DataFrame =
      rows.toDF("id", "p", valueCol).withColumn("id", col("id").cast(keyType))
    def merge(rows: Seq[(Option[Long], Int, String)], op: String): Unit =
      t.mergeMoR(spark, df(rows).withColumn("op", lit(op)), Seq("id"),
        keepDeletes = false)
    def live(): IndexedSeq[(Option[Long], Int, String)] =
      t.read(spark).collect().toIndexedSeq.map(r =>
        (Option(r.get(0)).map(_.toString.toLong), r.getInt(1), r.getString(2)))
        .sortBy(_.toString)
    def keyedLive() = live().filter(_._1.isDefined)
    t.createOrReplace(df((0 until 24).map(i =>
        (Some(i.toLong), i % 3, s"s$i")) :+ ((None, 0, "null-key"))),
      Seq("p"))
    val versions = scala.collection.mutable.LinkedHashSet(t.currentVersion)
    ops.foreach { op =>
      op match {
        case Upsert(ids, tag) =>
          merge(ids.map(i =>
            (if (i < 0) None else Some(i.toLong), (i.abs + tag) % 3,
              s"u$tag-$i")), "U")
        case Delete(picks) =>
          val ls = keyedLive()
          if (ls.nonEmpty) merge(picks.map(i => ls(i % ls.size)).distinct, "D")
        case DeleteReinsert(pick) =>
          val ls = keyedLive()
          if (ls.nonEmpty) {
            val row = ls(pick % ls.size)
            merge(Seq(row), "D")
            versions += t.currentVersion
            merge(Seq(row), "I")
          }
        case AppendDup(picks) =>
          val ls = live()
          t.append(spark, df(picks.map(i => ls(i % ls.size))))
        case PositionalDelete(r) =>
          t.deleteWherePositional(spark, pmod(col("id"), lit(7)) === r)
        case RenameValue =>
          t.renameColumn(valueCol, valueCol + "x")
          valueCol += "x"
        case WidenKey =>
          t.widenColumn("id", LongType)
          keyType = LongType
        case Compact =>
          t.compact(spark)
      }
      versions += t.currentVersion
    }
    versions.toSeq
  }

  test("every changelog step equals the boundary-diff reference; a range " +
      "equals the union of its steps") {
    val prop = Prop.forAllNoShrink(genOps) { ops =>
      val t = SnapshotTable.at(
        Files.createTempDirectory("graft-cl-equiv-").toString)
      val vs = run(t, ops)
      val steps = (0L +: vs).zip(vs)
      val stepRows = for (keyed <- Seq(true, false)) yield {
        val keys = if (keyed) Seq("id") else Nil
        val perStep = steps.flatMap { case (prev, cur) =>
          val got = changes(t.readChangelog(spark, prev, cur, keys))
          assert(got.forall(_._2 == cur))
          assert(bag(got.map(c => (c._1, c._3))) ==
            bag(reference(t, prev, cur, keyed)),
            s"step v$prev→v$cur (keyed=$keyed) diverged; ops=$ops")
          got
        }
        val range = changes(t.readChangelog(spark, 0L, vs.last, keys))
        assert(bag(range) == bag(perStep),
          s"range v0→v${vs.last} (keyed=$keyed) is not the union of its " +
            s"steps; ops=$ops")
        perStep
      }
      stepRows.forall(_.nonEmpty)
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(3).withWorkers(1)
        .withInitialSeed(Seed(20261017L)),
      prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("a net-collapsed MoR step with several key schemas, and a key " +
      "renamed after its deletes folded, match the reference") {
    def df(rows: Seq[(Long, Int, String)], op: String, idType: DataType) =
      rows.toDF("id", "p", "s").withColumn("id", col("id").cast(idType))
        .withColumn("op", lit(op))
    /** v1 tagged, int-key and (after a widen) bigint-key merges on `id`,
      * optionally a merge on (id, s); the in-between snapshots expire,
      * so v1 → last is ONE step over all their deletes.
      */
    def collapsed(pairKeys: Boolean): (SnapshotTable, Long) = {
      val t = SnapshotTable.at(
        Files.createTempDirectory("graft-cl-keyschemas-").toString)
      t.createOrReplace((0 until 20).map(i => (i, i % 2, s"s$i"))
        .toDF("id", "p", "s"), Seq("p"))                          // v1
      t.tag("base", 1L)
      t.mergeMoR(spark, df(Seq((1L, 1, "u1"), (40L, 0, "i40")), "U",
        IntegerType), Seq("id"), keepDeletes = false)             // v2: int keys
      t.widenColumn("id", LongType)                               // v3
      t.mergeMoR(spark, df(Seq((3L, 0, "u3"), (2L, 0, "s2")), "D",
        LongType), Seq("id"), keepDeletes = false)                // v4: bigint
      if (pairKeys)
        t.mergeMoR(spark, df(Seq((5L, 1, "s5"), (7L, 1, "x")), "D",
          LongType), Seq("id", "s"), keepDeletes = false)         // v5: (id, s)
      val last = t.currentVersion
      t.expireSnapshots(maxAgeMs = 0L, minSnapshotsToKeep = 1,
        nowMs = System.currentTimeMillis() + 60000L)
      assert(t.manifestVersions.sorted == Seq(1L, last))
      val deletes = t.manifest(last).deleteFiles
      assert(deletes.map(_.version).distinct.size == (if (pairKeys) 3 else 2) &&
        deletes.forall(!_.positional))
      (t, last)
    }
    // one key set whose deletes span a widen: the change-sized path
    val (w, wLast) = collapsed(pairKeys = false)
    for (keyed <- Seq(true, false)) {
      val cl = w.readChangelog(spark, 1L, wLast, if (keyed) Seq("id") else Nil)
      assert(cl.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "int and bigint deletes on `id` share one key set")
      assert(bag(changes(cl).map(c => (c._1, c._3))) ==
        bag(reference(w, 1L, wLast, keyed)), s"keyed=$keyed")
    }
    // two key sets: the general path
    val (t, last) = collapsed(pairKeys = true)
    for (keyed <- Seq(true, false)) {
      val cl = t.readChangelog(spark, 1L, last, if (keyed) Seq("id") else Nil)
      assert(!cl.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        "deletes on two key sets keep the general path")
      val got = changes(cl)
      assert(bag(got.map(c => (c._1, c._3))) ==
        bag(reference(t, 1L, last, keyed)), s"keyed=$keyed")
      // (7, "x") names no live row: merge inserts it, (7, "s7") stays
      assert(got.map(_._3).toSet.filter(_.head == "7") ==
        Set(Seq("7", "1", "x")))
      assert(got.map(_._3.head).toSet == Set("1", "40", "3", "2", "5", "7"))
    }
    // fold the deletes, rename the key, then read the whole range under
    // the new name: the delete files' `id` maps to `key` by version
    t.compact(spark)
    t.renameColumn("id", "key")
    t.mergeMoR(spark, Seq((9L, 1, "u9", "U")).toDF("key", "p", "s", "op"),
      Seq("key"), keepDeletes = false)
    val end = t.currentVersion
    val vs = t.manifestVersions.sorted
    for (keyed <- Seq(true, false)) {
      val keys = if (keyed) Seq("key") else Nil
      val range = changes(t.readChangelog(spark, 1L, end, keys))
      // a single step keys by ITS target's name for the key column
      val steps = vs.zip(vs.tail).flatMap { case (a, b) =>
        changes(t.readChangelog(spark, a, b,
          keys.map(_ => t.readVersion(spark, b).columns.head))) }
      assert(bag(range) == bag(steps), s"keyed=$keyed")
      assert(range.exists(c => c._1 == (if (keyed) "update_postimage"
        else "insert") && c._3 == Seq("9", "1", "u9")))
      val lastStep = changes(t.readChangelog(spark, vs(vs.size - 2), end,
        keys))
      assert(bag(lastStep.map(c => (c._1, c._3))) ==
        bag(reference(t, vs(vs.size - 2), end, keyed)))
    }
  }
}
